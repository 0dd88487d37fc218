"""Storage adapter — Iceberg in production, partitioned Parquet locally.

The north rule (BASELINE.json) requires Iceberg input/output tables. The
sandbox has no Iceberg runtime jar (SURVEY.md §0 [L]), so the format is a
config boundary: identical DataFrame code calls ``read_table`` /
``write_table`` and only this module knows whether that means
``spark.read.table("cat.db.x")`` (Iceberg, partitioned by
``bucket(conv_id), days(ts)``) or ``spark.read.parquet(path)``.

Production partitioning (design-for-100TB):
- transcripts:  bucket(1024, conv_id) + days(ts) — co-locates each
  conversation so the P2 window needs no extra shuffle (storage-partitioned
  join / cluster-by), and day pruning serves incremental runs.
- triples out:  bucket(256, subj) — point lookups by subject and
  MERGE INTO idempotent incremental materialization.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


@dataclass
class Storage:
    """mode='parquet' (local/test) or 'iceberg' (cluster)."""

    root: str
    mode: str = "parquet"
    catalog: str = "otd"

    def _path(self, name: str) -> str:
        return os.path.join(self.root, f"{name}.parquet")

    def read_table(self, spark: SparkSession, name: str) -> DataFrame:
        if self.mode == "iceberg":
            return spark.read.table(f"{self.catalog}.db.{name}")
        return spark.read.parquet(self._path(name))

    def write_table(self, df: DataFrame, name: str,
                    partition_by: list[str] | None = None,
                    mode: str = "overwrite",
                    cluster_by: list[str] | None = None,
                    n_files: int | None = None) -> None:
        """``cluster_by`` range-clusters the data layout on the given
        key(s): repartitionByRange + sortWithinPartitions before the
        write, so each output file owns a disjoint key range and every
        parquet row-group carries tight min/max stats — a point lookup
        or range scan on the cluster key then prunes to one file at
        the footer level, before any row is read (pytest-pinned via
        the actual parquet footers). This is the local analog of
        Iceberg's SORTED BY table write-order; in iceberg mode the
        same range-shuffled, sorted DataFrame feeds the writer and the
        table's declared sort order does the bookkeeping."""
        if cluster_by:
            n = n_files or df.sparkSession.sparkContext.defaultParallelism
            df = (df.repartitionByRange(n, *cluster_by)
                  .sortWithinPartitions(*cluster_by))
        if self.mode == "iceberg":
            w = df.writeTo(f"{self.catalog}.db.{name}")
            if mode == "overwrite":
                w.createOrReplace()
            else:
                w.append()
            return
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self._path(name))

    def merge_triples(self, spark: SparkSession, name: str,
                      new_triples: DataFrame) -> DataFrame:
        """MERGE-equivalent incremental materialization of the triple
        graph: existing ∪ new under P13 set semantics (one (s,p,o,conv,
        turn) row, max score). On Iceberg this is the real statement

            MERGE INTO cat.db.{name} t USING updates u
            ON t.subj = u.subj AND t.pred = u.pred AND t.obj = u.obj
            WHEN MATCHED AND u.score > t.score THEN UPDATE SET score = u.score
            WHEN NOT MATCHED THEN INSERT *

        which the bucket(256, subj) layout serves without a full shuffle
        of the target; on parquet (no transactional rewrite) the
        equivalent is union + dedup + the staged swap ``_swap_in`` —
        DataFrames read from the table BEFORE a merge must be consumed
        before the next merge swaps the directory (Iceberg's snapshot
        versioning has no such constraint). Incremental == full-batch
        equality is pytest-pinned
        (tests/test_resume.py::test_incremental_merge_equals_full)."""
        from ..operators.triples import dedup_triples
        # Dedup the incoming batch on BOTH paths: a batch carrying
        # duplicate (s,p,o) keys would otherwise hit the Iceberg MERGE
        # cardinality check (multiple source rows matching one target
        # row) or insert duplicates, breaking the one-row-per-(s,p,o)
        # invariant the parquet branch already enforces.
        new_triples = dedup_triples(new_triples)
        if self.mode == "iceberg":
            new_triples.createOrReplaceTempView("_merge_updates")
            spark.sql(f"""
                MERGE INTO {self.catalog}.db.{name} t
                USING _merge_updates u
                ON t.subj = u.subj AND t.pred = u.pred AND t.obj = u.obj
                WHEN MATCHED AND u.score > t.score
                  THEN UPDATE SET score = u.score
                WHEN NOT MATCHED THEN INSERT *
            """)
            return self.read_table(spark, name)
        merged = (dedup_triples(
            self.read_table(spark, name).unionByName(new_triples))
            if self.exists(spark, name) else new_triples)
        self._swap_in(spark, name, merged)
        return self.read_table(spark, name)

    def _swap_in(self, spark: SparkSession, name: str,
                 df: DataFrame) -> None:
        """Make ``df`` the parquet table ``name``. A first write goes
        straight in; a replacement, which may read the table it
        replaces, is staged and swapped: write staging, drop a stale
        backup, rename final -> backup, staging -> final, drop the
        backup. A crash between the renames leaves EITHER the old table
        (as ``name__backup``, recoverable) or the new one in place —
        never a window with zero copies (rmtree-then-rename had one)."""
        if not self.exists(spark, name):
            self.write_table(df, name)
            return
        import shutil
        staging = f"{name}__staging"
        self.write_table(df, staging)
        final = self._path(name)
        backup = self._path(f"{name}__backup")
        if os.path.exists(backup):
            shutil.rmtree(backup)
        os.rename(final, backup)
        os.rename(self._path(staging), final)
        shutil.rmtree(backup)
        # Spark's shared file-status cache still lists the pre-swap
        # files for this path; refresh before anyone re-reads it
        spark.catalog.refreshByPath(final)

    def upsert_latest(self, spark: SparkSession, name: str,
                      updates: DataFrame, key_cols: list[str],
                      ver_col: str) -> DataFrame:
        """Generic CDC last-writer-wins MERGE: one row per key survives
        — the one with the highest ``ver_col`` across the existing
        table and the update batch (ties break deterministically by the
        full row via a single min/max-struct aggregate, so duplicate
        versions cannot make the result depend on arrival order). On
        Iceberg this is the real statement

            MERGE INTO cat.db.{name} t USING updates u ON <keys>
            WHEN MATCHED AND u.{ver} > t.{ver} THEN UPDATE SET *
            WHEN NOT MATCHED THEN INSERT *

        served by the key-bucketed layout without a full target
        shuffle; on parquet it is union + per-key argmax + the
        crash-safe staged swap (``_swap_in``). Scale shape:
        ONE hash agg keyed on the upsert key (map-side partial — the
        update batch is usually a sliver of the table, and AQE keeps
        the union's partitioning sane); no windows, no driver state.
        """
        data_cols = [c for c in updates.columns
                     if c not in key_cols and c != ver_col]
        if self.mode == "iceberg":
            updates.createOrReplaceTempView("_upsert_updates")
            on = " AND ".join(f"t.{k} = u.{k}" for k in key_cols)
            sets = ", ".join(f"{c} = u.{c}"
                             for c in data_cols + [ver_col])
            spark.sql(f"""
                MERGE INTO {self.catalog}.db.{name} t
                USING _upsert_updates u ON {on}
                WHEN MATCHED AND u.{ver_col} > t.{ver_col}
                  THEN UPDATE SET {sets}
                WHEN NOT MATCHED THEN INSERT *
            """)
            return self.read_table(spark, name)
        base = (self.read_table(spark, name).unionByName(updates)
                if self.exists(spark, name) else updates)
        winner = F.max(F.struct(ver_col, *data_cols)).alias("_w")
        merged = (base.groupBy(*key_cols).agg(winner)
                  .select(*key_cols,
                          *[F.col(f"_w.{c}").alias(c)
                            for c in [ver_col] + data_cols]))
        self._swap_in(spark, name, merged)
        return self.read_table(spark, name)

    def exists(self, spark: SparkSession, name: str) -> bool:
        if self.mode == "iceberg":
            return spark.catalog.tableExists(f"{self.catalog}.db.{name}")
        p = self._path(name)
        return os.path.exists(os.path.join(p, "_SUCCESS")) or (
            os.path.isdir(p) and any(f.endswith(".parquet") for f in os.listdir(p))
        )

    def compact_table(self, spark: SparkSession, name: str,
                      target_file_mb: int = 128) -> int:
        """Small-file compaction — the ops chore every incremental sink
        accumulates at scale (each merge_triples/append leaves one file
        set per write; thousands of tiny files tank scan parallelism
        bookkeeping and NameNode/manifest pressure long before data
        volume does).

        Iceberg mode delegates to the engine's own maintenance
        (``rewrite_data_files``); parquet mode rewrites the table into
        ``ceil(bytes / target_file_mb)`` files via a round-robin
        repartition (even output sizes, no key skew) through the
        crash-safe staged swap (``_swap_in``). Content is
        byte-identical under set semantics (pytest-pinned). Returns the
        resulting file count.
        """
        import math

        if self.mode == "iceberg":
            spark.sql(
                f"CALL {self.catalog}.system.rewrite_data_files("
                f"table => 'db.{name}', "
                f"options => map('target-file-size-bytes', "
                f"'{target_file_mb * 1024 * 1024}'))")
            return -1  # engine-managed; count not tracked here
        final = self._path(name)
        total = sum(
            os.path.getsize(os.path.join(final, f))
            for f in os.listdir(final) if f.endswith(".parquet"))
        n_files = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        self._swap_in(spark, name,
                      self.read_table(spark, name).repartition(n_files))
        return sum(1 for f in os.listdir(final) if f.endswith(".parquet"))

    # -- snapshot versioning (Iceberg time-travel parity) -----------------

    def _snap_path(self, name: str, version: int) -> str:
        return os.path.join(self.root, f"{name}__v{version:06d}.parquet")

    def _snap_log(self, name: str) -> str:
        return os.path.join(self.root, f"{name}__snapshots.jsonl")

    def _snap_ptr(self, name: str) -> str:
        return os.path.join(self.root, f"{name}__current")

    def current_version(self, name: str) -> int | None:
        try:
            with open(self._snap_ptr(name)) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return None

    def snapshots(self, name: str) -> list[dict]:
        """Snapshot log, oldest first: {version, operation, rows}."""
        import json
        try:
            with open(self._snap_log(name)) as f:
                return [json.loads(line) for line in f if line.strip()]
        except FileNotFoundError:
            return []

    def commit_snapshot(self, spark: SparkSession, name: str, df: DataFrame,
                        operation: str = "append") -> int:
        """Write ``df`` as a NEW immutable version directory and advance
        the current pointer atomically (tmp + os.replace). Readers that
        resolved an older version keep reading it — the parquet-branch
        analog of an Iceberg snapshot commit (in iceberg mode the
        engine's own snapshot is the commit; we just append).

        Unlike merge_triples' backup-rename swap, no existing directory
        is ever touched, so there is no read-during-swap constraint."""
        if self.mode == "iceberg":
            df.writeTo(f"{self.catalog}.db.{name}").append()
            return -1  # engine-assigned snapshot id, not tracked here
        import json
        v = (self.current_version(name) or 0) + 1
        df.write.mode("overwrite").parquet(self._snap_path(name, v))
        n = spark.read.parquet(self._snap_path(name, v)).count()
        with open(self._snap_log(name), "a") as f:
            f.write(json.dumps(
                {"version": v, "operation": operation, "rows": n}) + "\n")
        tmp = self._snap_ptr(name) + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(v))
        os.replace(tmp, self._snap_ptr(name))  # atomic pointer advance
        return v

    def read_snapshot(self, spark: SparkSession, name: str,
                      version: int | None = None) -> DataFrame:
        """Time travel: read the given version (default: current). On
        Iceberg this is ``VERSION AS OF``; on parquet each version is
        its own immutable directory."""
        if self.mode == "iceberg":
            if version is None:
                return self.read_table(spark, name)
            return spark.sql(
                f"SELECT * FROM {self.catalog}.db.{name} "
                f"VERSION AS OF {version}")
        v = version if version is not None else self.current_version(name)
        if v is None:
            raise FileNotFoundError(f"no snapshots for table {name!r}")
        p = self._snap_path(name, v)
        if not os.path.isdir(p):
            raise FileNotFoundError(
                f"snapshot v{v} of {name!r} does not exist "
                f"(expired or never committed)")
        return spark.read.parquet(p)

    def merge_snapshot(self, spark: SparkSession, name: str,
                       new_triples: DataFrame) -> DataFrame:
        """merge_triples under snapshot isolation: the merged result is
        committed as a NEW version; every prior version stays readable
        (no backup-rename swap, no read-during-merge constraint). Same
        P13 set semantics — merge_snapshot(current, batch) content ≡
        merge_triples on the same batches (pytest-pinned)."""
        from ..operators.triples import dedup_triples
        new_triples = dedup_triples(new_triples)
        if self.mode == "iceberg":
            return self.merge_triples(spark, name, new_triples)
        if self.current_version(name) is None:
            self.commit_snapshot(spark, name, new_triples, "create")
        else:
            merged = dedup_triples(
                self.read_snapshot(spark, name).unionByName(new_triples))
            self.commit_snapshot(spark, name, merged, "merge")
        return self.read_snapshot(spark, name)

    def expire_snapshots(self, spark: SparkSession, name: str,
                         keep_last: int = 2) -> int:
        """Iceberg's expire_snapshots maintenance op: drop all but the
        newest ``keep_last`` version directories (never the current one)
        and rewrite the log. Returns how many were expired."""
        if self.mode == "iceberg":
            spark.sql(
                f"CALL {self.catalog}.system.expire_snapshots("
                f"table => 'db.{name}', retain_last => {keep_last})")
            return -1
        import json
        import shutil
        snaps = self.snapshots(name)
        cur = self.current_version(name)
        keep = {s["version"] for s in snaps[-max(1, keep_last):]}
        if cur is not None:
            keep.add(cur)
        expired = 0
        kept_rows = []
        for s in snaps:
            if s["version"] in keep:
                kept_rows.append(s)
                continue
            shutil.rmtree(self._snap_path(name, s["version"]),
                          ignore_errors=True)
            expired += 1
        with open(self._snap_log(name), "w") as f:
            for s in kept_rows:
                f.write(json.dumps(s) + "\n")
        return expired
