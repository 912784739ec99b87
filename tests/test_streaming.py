"""Structured-Streaming incremental validation: micro-batch verdict
delivery + checkpoint resume (the anytime-semantics recast, SURVEY.md §2.8
ST3; reference blocking fallback shaclapi/api.py:144-166)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from shaclapi_spark import fixtures
from shaclapi_spark.streaming import row_verdict_stream, validate_stream


@pytest.fixture()
def stream_dirs(spark, fixture_tables, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    clips = fixture_tables["clips"]
    # three file-chunks landing over time: split on a deterministic key
    part = F.pmod(F.xxhash64("clip_id"), F.lit(3))
    for chunk in range(3):
        clips.filter(part == chunk).coalesce(1).write.mode("append").parquet(src)
    return src, out, clips


def test_stream_matches_batch_row_verdicts(spark, stream_dirs):
    src, out, clips = stream_dirs
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    n = validate_stream(
        spark, suite, "ClipShape", src, clips.schema, out
    )
    assert n >= 1
    got = spark.read.parquet(os.path.join(out, "verdicts"))
    # one verdict per source ROW (row grain; entity dedup is the batch path)
    assert got.count() == clips.count()

    # batch reference: same row-decidable plan on the full table
    exp_vd, exp_vl = row_verdict_stream(
        clips, suite.shape("ClipShape")
    )
    exp = {
        (r.entity_id, r.is_valid, r.reason)
        for r in exp_vd.collect()
    }
    # row grain with duplicated clip_ids → compare as multisets of triples
    import collections

    got_ms = collections.Counter(
        (r.entity_id, r.is_valid, r.reason)
        for r in got.select("entity_id", "is_valid", "reason").collect()
    )
    exp_ms = collections.Counter(
        (r.entity_id, r.is_valid, r.reason) for r in exp_vd.collect()
    )
    assert got_ms == exp_ms
    assert set(got_ms) >= exp  # sanity

    # violations per constraint match too
    got_vl = {
        (r.constraint_id, r["count"])
        for r in spark.read.parquet(os.path.join(out, "violations"))
        .groupBy("constraint_id")
        .count()
        .collect()
    }
    exp_vl_counts = {
        (r.constraint_id, r["count"])
        for r in exp_vl.groupBy("constraint_id").count().collect()
    }
    assert got_vl == exp_vl_counts


def test_stream_checkpoint_resume_only_new_files(spark, stream_dirs):
    src, out, clips = stream_dirs
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    validate_stream(spark, suite, "ClipShape", src, clips.schema, out)
    n_rows_1 = spark.read.parquet(os.path.join(out, "verdicts")).count()
    assert n_rows_1 == clips.count()

    # drained: a second call with no new files processes nothing
    validate_stream(spark, suite, "ClipShape", src, clips.schema, out)
    assert (
        spark.read.parquet(os.path.join(out, "verdicts")).count() == n_rows_1
    )

    # a new file lands → only its rows are processed on the next call
    extra = clips.limit(37)
    n_extra = extra.count()
    extra.coalesce(1).write.mode("append").parquet(src)
    validate_stream(spark, suite, "ClipShape", src, clips.schema, out)
    assert (
        spark.read.parquet(os.path.join(out, "verdicts")).count()
        == n_rows_1 + n_extra
    )

    # batch summaries accumulated per micro-batch (anytime delivery)
    bs = spark.read.parquet(os.path.join(out, "batch_summary"))
    assert bs.count() >= 2


def test_batch_replay_is_idempotent(spark, stream_dirs):
    # at-least-once replay: re-running the SAME micro-batch (crash between
    # parquet write and checkpoint commit) must not duplicate output rows
    from shaclapi_spark.streaming.incremental import write_batch_outputs

    src, out, clips = stream_dirs
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    shape = suite.shape("ClipShape")
    batch = clips.limit(500)
    write_batch_outputs(out, batch, shape, batch_id=0)
    first = spark.read.parquet(os.path.join(out, "verdicts")).count()
    write_batch_outputs(out, batch, shape, batch_id=0)  # replay
    again = spark.read.parquet(os.path.join(out, "verdicts")).count()
    assert first == again
    # a different batch id still appends its own partition
    write_batch_outputs(out, batch, shape, batch_id=1)
    assert spark.read.parquet(os.path.join(out, "verdicts")).count() == 2 * first


def test_or_group_with_audio_branch_not_claimed_row_decidable():
    # an OR-group containing an audio branch must be excluded from the
    # streaming row-decidable subset (row_predicate cannot evaluate the
    # Arrow UDF inside a disjunction) instead of crashing at plan time
    from shaclapi_spark.streaming.incremental import _row_constraints
    from shaclapi_spark.suite import Constraint, Shape

    shape = Shape(
        name="S",
        table="clips",
        entity_col="clip_id",
        constraints=[
            Constraint("plain", "not_null", {"column": "sr_hz"}),
            Constraint(
                "mixed_or",
                "or_group",
                branches=[
                    Constraint("o_a", "audio_valid", {"column": "bytes"}),
                    Constraint("o_b", "expr", {"sql": "dur_ms <= 30000"}),
                ],
            ),
        ],
    )
    ids = [c.id for c in _row_constraints(shape)]
    assert ids == ["plain"]


def test_streaming_first_verdict_latency(spark, stream_dirs):
    from shaclapi_spark.metrics import MetricsRecorder

    src, out, clips = stream_dirs
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    rec = MetricsRecorder(run_id="stream-lat")
    n = validate_stream(
        spark, suite, "ClipShape", src, clips.schema, out,
        max_files_per_trigger=1, metrics=rec,
    )
    assert n >= 2
    first = rec.get("first_verdict_sec")
    batch_stages = [r for r in rec.rows if r[1].startswith("batch_")]
    assert first is not None and first > 0
    assert len(batch_stages) == n
    # anytime semantics: the first verdicts were available before the later
    # batches finished (first latency < total of all batch walls)
    assert first < sum(r[2] for r in batch_stages) + first
    # per-answer trace parity: one emission row per micro-batch with
    # cumulative verdict counts and nondecreasing offsets
    assert len(rec.trace) == n
    answers = [t[1] for t in rec.trace]
    assert answers == sorted(answers)
    assert answers[-1] == sum(t[3] for t in rec.trace)
    times = [t[2] for t in rec.trace]
    assert times == sorted(times)


def test_row_verdict_stream_equals_batch_engine(spark):
    """Streaming row validation and run_suite share one evaluator: on a
    row-decidable shape their verdicts and (entity_id, constraint_id)
    violations are equal. The row-only OR-group must not gate the audio
    decode, or streaming drops audio violations the batch run reports."""
    import collections

    from shaclapi_spark import datagen
    from shaclapi_spark.engine import run_suite
    from shaclapi_spark.suite import Constraint, Shape, Suite

    clips = datagen.clips_df(spark, 2000).localCheckpoint(eager=True)
    shape = Shape(
        name="RowShape",
        table="clips",
        entity_col="clip_id",
        constraints=[
            Constraint("sr_range", "range", {"column": "sr_hz", "min": 8000, "max": 48000}),
            Constraint(
                "short_or_pcm",
                "or_group",
                branches=[
                    Constraint("or_pcm", "expr", {"sql": "codec = 'pcm_s16le'"}),
                    Constraint("or_short", "expr", {"sql": "dur_ms <= 1000"}),
                ],
            ),
            Constraint("pcm_snr", "audio_valid", {"column": "bytes"}),
        ],
    )
    batch = run_suite(spark, Suite(shapes=[shape]), {"clips": clips})
    s_vd, s_vl = row_verdict_stream(clips, shape)

    def verdicts(df):
        return collections.Counter(
            (r.entity_id, r.is_valid, r.reason) for r in df.collect()
        )

    def violations(df):
        return collections.Counter(
            (r.entity_id, r.constraint_id) for r in df.collect()
        )

    assert verdicts(s_vd) == verdicts(batch.verdicts)
    b_vl = violations(batch.violations)
    assert violations(s_vl) == b_vl
    assert {c for _, c in b_vl} == {"sr_range", "short_or_pcm", "pcm_snr"}
