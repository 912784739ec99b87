"""Structured-Streaming incremental validation — the Spark recast of the
reference's *anytime* delivery (verdicts stream out while validation still
runs: shaclapi/multiprocessing/functions.py:77-83, non-blocking switch
shaclapi/config.py:312-317).

Batch Spark replaced per-tuple streaming with per-wave incremental emission
(lineage.py). This module adds the true streaming path for the constraint
subset that is decidable per row: a clips file-stream is validated micro-
batch by micro-batch, verdict/violation rows appended as each batch lands,
and the streaming checkpoint makes restarts resume exactly where they left
off (files already processed are never re-read) — the streaming analog of
the lineage manifest.

Entity-crossing constraints (unique, min/max-count, qualified-shape,
drift) need the whole entity group and are deliberately NOT evaluated here
— they run in the batch/lineage path, mirroring the reference's forced-
blocking fallback when per-tuple decisions are impossible
(shaclapi/api.py:144-166).
"""

from __future__ import annotations

import dataclasses
import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from shaclapi_spark.engine import ShapeEvaluator
from shaclapi_spark.suite import ROW_KINDS, Constraint, Shape, Suite


def _row_constraints(shape: Shape) -> list[Constraint]:
    """Top-level constraints decidable on a single row (no entity
    aggregation, no OR-groups with non-row branches). OR-groups with an
    audio_valid branch are left to the batch path as well."""
    out: list[Constraint] = []
    for c in shape.constraints:
        if c.kind in ROW_KINDS:
            out.append(c)
        elif c.kind == "or_group" and all(
            b.kind in ROW_KINDS and b.kind != "audio_valid" for b in c.branches
        ):
            out.append(c)
    return out


def row_verdict_stream(df: DataFrame, shape: Shape) -> tuple[DataFrame, DataFrame]:
    """Per-row (verdicts, violations) for the row-decidable subset of
    ``shape`` — the engine's shape evaluator on ``shape`` restricted to
    :func:`_row_constraints`. With no entity-grain constraint left the plan
    is map-side only (no shuffle), valid on both batch and streaming
    DataFrames, and verdicts and violations are exactly the batch
    engine's for that subset."""
    row_shape = dataclasses.replace(shape, constraints=_row_constraints(shape))
    return ShapeEvaluator(
        df.sparkSession, row_shape, {shape.table: df}, {}
    ).evaluate()


def write_batch_outputs(
    out_dir: str,
    batch_df: DataFrame,
    shape: Shape,
    batch_id: int,
) -> int:
    """IDEMPOTENT per-batch output: foreachBatch gives at-least-once
    delivery (a crash after the write but before the checkpoint commit
    re-runs the micro-batch on restart), so every output is partitioned by
    batch_id and written with DYNAMIC partition overwrite — a replay
    replaces its own batch_id partition instead of appending duplicate
    rows, yielding exactly-once output. Returns the batch's verdict row
    count, observed as a side effect of the verdict write job (no extra
    count action)."""
    from pyspark.sql import Observation

    vd, vl = row_verdict_stream(batch_df, shape)
    vd = vd.withColumn("batch_id", F.lit(batch_id))
    vl = vl.withColumn("batch_id", F.lit(batch_id))

    def write(df: DataFrame, sub: str) -> None:
        (
            df.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(os.path.join(out_dir, sub))
        )

    obs = Observation(f"batch_{batch_id}_verdicts")
    write(vd.observe(obs, F.count(F.lit(1)).alias("n")), "verdicts")
    write(vl, "violations")
    write(
        vd.groupBy("shape")
        .agg(
            F.sum(F.col("is_valid").cast("long")).alias("n_valid"),
            F.sum((~F.col("is_valid")).cast("long")).alias("n_invalid"),
        )
        .withColumn("batch_id", F.lit(batch_id)),
        "batch_summary",
    )
    return int(obs.get["n"])


def validate_stream(
    spark: SparkSession,
    suite: Suite,
    shape_name: str,
    source_dir: str,
    schema,
    out_dir: str,
    max_files_per_trigger: int | None = None,
    metrics: "MetricsRecorder | None" = None,
) -> int:
    """Drain all currently-available files under ``source_dir`` through
    micro-batch row validation (Trigger.AvailableNow), appending
    ``verdicts/`` and ``violations/`` parquet plus a per-batch summary under
    ``out_dir``. The streaming checkpoint (``out_dir/_checkpoint``) persists
    progress: a later call only processes files added since — idempotent
    incremental catch-up, resumable after a crash mid-stream.

    ``metrics``: optional MetricsRecorder — records a per-batch stage row,
    `first_verdict_sec` (the wall time from stream start until the first
    micro-batch's verdicts were durably written — the reference's
    first-result timestamp, ValidationResultTransmitter.py:21-24), and one
    per-answer trace row per micro-batch (``MetricsRecorder.trace``:
    cumulative verdict count + offset, the reference's emission trace,
    statsCalculation.py:43-68).

    Returns the number of micro-batches executed in this call."""
    import time as _time

    shape = suite.shape(shape_name)
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(source_dir)
    n_batches = {"n": 0}
    t0 = _time.time()

    def process(batch_df: DataFrame, batch_id: int) -> None:
        tb = _time.time()
        n_rows = write_batch_outputs(out_dir, batch_df, shape, batch_id)
        if metrics is not None:
            metrics.record(f"batch_{batch_id}", _time.time() - tb, n_rows)
            metrics.mark_first("first_verdict_sec", since_ts=t0, n_rows=n_rows)
            # per-answer trace: cumulative verdicts delivered vs offset
            metrics.mark_emission(since_ts=t0, n_rows=n_rows)
        n_batches["n"] += 1

    query = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return n_batches["n"]
