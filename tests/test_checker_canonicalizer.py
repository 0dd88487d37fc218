"""The local oracle checker must be a FAITHFUL replica of the driver's
canonicalizer — two rounds in a row it was the blind spot (r1: silent
int/float coercion hid the HUGEINT mismatch; r2: `+ 0.0` normalization
hid the signed-zero covar mismatch, VERDICT r2 "What's wrong #1").
These pins make any re-softening of norm_cell an immediate test red.
No SparkSession needed — pure function tests.
"""

import os
import sys

sys.path.insert(0, os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts"))

from check_oracle import frame_hash, norm_cell  # noqa: E402

import pandas as pd  # noqa: E402


def test_negative_zero_is_preserved():
    # the driver's canonicalizer keeps IEEE -0.0; so must ours
    assert norm_cell(-0.0) == "-0.000000"
    assert norm_cell(0.0) == "0.000000"
    assert norm_cell(-0.0) != norm_cell(0.0)


def test_tiny_negative_rounds_to_negative_zero():
    # the exact r2 failure shape: covar_samp ~ -2.448e-07
    assert norm_cell(-2.448e-07) == "-0.000000"
    assert norm_cell(2.448e-07) == "0.000000"


def test_int_float_do_not_coerce():
    # the r1 failure shape: DuckDB HUGEINT->float 5.0 vs Spark bigint 5
    assert norm_cell(5) == "5"
    assert norm_cell(5.0) == "5.000000"
    assert norm_cell(5) != norm_cell(5.0)


def test_frame_hash_distinguishes_signed_zero():
    a = pd.DataFrame({"x": [0.0]})
    b = pd.DataFrame({"x": [-0.0]})
    assert frame_hash(a) != frame_hash(b)


def test_unknown_query_name_fails_before_spark(monkeypatch, capsys):
    # an unknown name (a mistyped sf path, `--sf`, a typo) must not
    # become a filter that matches nothing and prints ALL OK
    import check_oracle

    from otd_semantic_framework_spark import session

    def no_spark(*a, **k):
        raise AssertionError("Spark started before names were validated")

    monkeypatch.setattr(session, "get_spark", no_spark)
    monkeypatch.setattr(sys, "argv", [
        "check_oracle.py", "--sf", "/no/such/sf0.01", "kg_triples"])
    assert check_oracle.main() != 0
    err = capsys.readouterr().err
    assert "'--sf'" in err and "'/no/such/sf0.01'" in err
    assert "'kg_triples'" not in err
