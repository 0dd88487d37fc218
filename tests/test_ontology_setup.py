"""Every ontology-derived artifact comes from ``operators/linking.py``:
``OntologySetup`` (gazetteer, surface scores, Wu-Palmer pairs, canonical
table) and the one table builder (``label_embedding`` /
``ontology_table``). No other package module builds a gazetteer,
computes Wu-Palmer pairs or embeds a label itself, so each rule has one
home. No Spark session needed: pure source introspection."""

import ast
import glob
import os

import otd_semantic_framework_spark as pkg

ROOT = os.path.dirname(pkg.__file__)
HOME = os.path.join(ROOT, "operators", "linking.py")


def _name(func):
    return func.attr if isinstance(func, ast.Attribute) else getattr(
        func, "id", None)


def _derivations(tree):
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        name = _name(node.func)
        if name in ("build_gazetteer", "wup_similarity"):
            yield node.lineno, name
        elif (name == "phrase_vector" and node.args
              and isinstance(node.args[0], ast.Call)
              and _name(node.args[0].func) == "normalize_text"):
            yield node.lineno, "phrase_vector(normalize_text(...))"


def test_ontology_artifacts_are_derived_only_in_linking():
    bad = []
    for path in sorted(glob.glob(os.path.join(ROOT, "**", "*.py"),
                                 recursive=True)):
        if path == HOME:
            continue
        with open(path) as f:
            tree = ast.parse(f.read())
        bad += [f"{os.path.relpath(path, ROOT)}:{line} {what}"
                for line, what in _derivations(tree)]
    assert not bad, bad
