"""CDC-driven continuous revalidation: a changelog STREAM drives
incremental verdict maintenance.

The reference validates a snapshot per request (its incrementality is the
caller's query restriction, ref shaclapi/reduction/Reduction.py:25-64).
This module closes the loop for a continuously-changing table: changelog
rows (Iceberg changelog-view shape — the table's columns plus
``_change_type`` ∈ INSERT/DELETE/UPDATE_BEFORE/UPDATE_AFTER) arrive as a
file stream, and each micro-batch

  1. applies the batch's change rows to the previous table snapshot
     (parquet stand-in — on a real Iceberg catalog the post-commit
     snapshot already exists and step 1 is a catalog read, not a write),
  2. derives the affected entity populations from the BATCH ROWS ONLY
     (revalidate.affected_populations_from_changelogs — cost proportional
     to the delta, the table is never diffed), and
  3. re-validates just those entities and merges with the previous verdict
     snapshot (revalidate semantics: provably equal to a full run on the
     new state).

Both states are versioned per micro-batch under ``state_dir`` and written
with mode=overwrite into the batch's OWN version directory, so an
at-least-once replay (crash after write, before checkpoint commit)
deterministically rewrites the same content — exactly-once state, the same
idempotency rule as lineage.py's manifest and incremental.py's
dynamic-partition batch outputs. The streaming checkpoint under
``state_dir/_checkpoint`` makes a later call resume with only the
changelog files added since.

Constraint coverage is the full batch engine (uniqueness, counts,
referential, qualified shapes, audio UDFs) — unlike the row-grain
incremental.py stream, entity-crossing constraints are exact here because
each batch re-validates complete affected entities against the full new
table state.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark import revalidate
from shaclapi_spark.suite import Suite

_DELETES = ("DELETE", "UPDATE_BEFORE")
_INSERTS = ("INSERT", "UPDATE_AFTER")


def apply_changelog(table: DataFrame, changelog: DataFrame) -> DataFrame:
    """The table's next version: delete-side rows removed (row-multiset
    semantics, matching synthesize_changelog), insert-side rows appended."""
    cols = table.columns
    ct = F.col("_change_type")
    dels = changelog.filter(ct.isin(*_DELETES)).select(*cols)
    ins = changelog.filter(ct.isin(*_INSERTS)).select(*cols)
    return table.exceptAll(dels).unionByName(ins)


def empty_changelog(table: DataFrame) -> DataFrame:
    """A no-changes changelog relation for a table the stream never mutates
    (the suite may still read it; an explicit empty relation keeps the
    fail-loud missing-table rule meaningful)."""
    return table.limit(0).withColumn("_change_type", F.lit("INSERT"))


def _committed_versions(root: str) -> list[int]:
    if not os.path.isdir(root):
        return []
    out = []
    for d in os.listdir(root):
        m = re.fullmatch(r"v(\d+)", d)
        if m and os.path.exists(os.path.join(root, d, "_SUCCESS")):
            out.append(int(m.group(1)))
    return sorted(out)


def revalidate_changelog_stream(
    spark: SparkSession,
    suite: Suite,
    table_name: str,
    changelog_dir: str,
    state_dir: str,
    initial_tables: dict[str, DataFrame],
    max_files_per_trigger: int | None = None,
) -> int:
    """Drain all currently-available changelog files for ``table_name``
    through incremental revalidation (Trigger.AvailableNow). ``state_dir``
    accumulates ``table/v{n}`` and ``verdicts/v{n}`` parquet snapshots
    (version n = micro-batch id + 1; v0 is the bootstrap: the initial table
    and a FULL validation of the initial state). Returns the number of
    micro-batches executed in this call.

    The latest committed verdict snapshot is always
    ``state_dir/verdicts/v{max}`` — at any point it equals a full
    ``run_suite`` of the table state at the same version (the revalidate
    module's oracle invariant, applied per batch)."""
    from shaclapi_spark.engine import run_suite

    table_root = os.path.join(state_dir, "table")
    verdict_root = os.path.join(state_dir, "verdicts")

    # bootstrap v0: initial table state + full validation of it
    if 0 not in _committed_versions(table_root):
        initial_tables[table_name].write.mode("overwrite").parquet(
            os.path.join(table_root, "v0")
        )
        res = run_suite(spark, suite, initial_tables)
        res.verdicts.write.mode("overwrite").parquet(
            os.path.join(verdict_root, "v0")
        )

    cl_schema = empty_changelog(initial_tables[table_name]).schema
    other_cls = {
        t: empty_changelog(df)
        for t, df in initial_tables.items()
        if t != table_name
    }
    n_batches = {"n": 0}

    def process(batch_df: DataFrame, batch_id: int) -> None:
        ver = int(batch_id) + 1
        # prev = newest version STRICTLY below this batch's that committed
        # BOTH states (a crash can land between the two writes); a replayed
        # batch must not read the state its crashed attempt wrote
        committed = set(_committed_versions(table_root)) & set(
            _committed_versions(verdict_root)
        )
        prevs = sorted(v for v in committed if v < ver)
        if not prevs:
            raise RuntimeError(f"no committed state below v{ver} under {table_root}")
        prev = prevs[-1]
        prev_table = spark.read.parquet(os.path.join(table_root, f"v{prev}"))
        prev_verdicts = spark.read.parquet(os.path.join(verdict_root, f"v{prev}"))

        apply_changelog(prev_table, batch_df).write.mode("overwrite").parquet(
            os.path.join(table_root, f"v{ver}")
        )
        tables = dict(initial_tables)
        tables[table_name] = spark.read.parquet(
            os.path.join(table_root, f"v{ver}")
        )
        inc = revalidate.revalidate_incremental_from_changelogs(
            spark,
            suite,
            {table_name: batch_df, **other_cls},
            tables,
            prev_verdicts,
        )
        inc.verdicts.write.mode("overwrite").parquet(
            os.path.join(verdict_root, f"v{ver}")
        )
        n_batches["n"] += 1

    query = (
        _reader(spark, cl_schema, changelog_dir, max_files_per_trigger)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(state_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches["n"]


def _reader(spark, schema, src, max_files_per_trigger):
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(src)


def latest_verdicts(spark: SparkSession, state_dir: str) -> DataFrame:
    """The newest committed verdict snapshot under ``state_dir``."""
    root = os.path.join(state_dir, "verdicts")
    vers = _committed_versions(root)
    if not vers:
        raise FileNotFoundError(f"no committed verdict snapshot under {root}")
    return spark.read.parquet(os.path.join(root, f"v{vers[-1]}"))
