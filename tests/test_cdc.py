"""CDC revalidation stream: changelog micro-batches must maintain a verdict
snapshot equal to a full run on the evolving table state, resume from the
streaming checkpoint, and stay exact for entity-crossing constraints
(the row-grain stream can't; this path re-validates whole affected
entities — reference full-revalidation semantics per request,
shaclapi/reduction/Reduction.py:25-64, made continuous)."""

import os

import pytest
from pyspark.sql import functions as F

from shaclapi_spark import fixtures, revalidate
from shaclapi_spark.engine import run_suite
from shaclapi_spark.streaming import (
    apply_changelog,
    latest_verdicts,
    revalidate_changelog_stream,
)


def _sets(verdicts):
    from collections import Counter

    return Counter(
        (r.entity_id, r.shape, r.is_valid)
        for r in verdicts.select("entity_id", "shape", "is_valid").collect()
    )


@pytest.fixture()
def cdc_setup(spark, fixture_tables, tmp_path):
    """Three changelog file-chunks mutating the clips table in sequence."""
    old = dict(fixture_tables)
    nc, _nt = fixtures.mutate_clip_tables(old["clips"], old["transcripts"])
    changelog = revalidate.synthesize_changelog(old["clips"], nc)
    src = str(tmp_path / "changelog")
    part = F.pmod(F.xxhash64("clip_id"), F.lit(3))
    for chunk in range(3):
        changelog.filter(part == chunk).coalesce(1).write.mode("append").parquet(src)
    return old, src, str(tmp_path / "state")


def test_cdc_stream_matches_full_run(spark, cdc_setup):
    old, src, state = cdc_setup
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    n = revalidate_changelog_stream(
        spark, suite, "clips", src, state, old,
        max_files_per_trigger=1,
    )
    assert n == 3

    # replay the full changelog onto the initial table = the final state
    full_cl = spark.read.parquet(src)
    final_clips = apply_changelog(old["clips"], full_cl)
    tables = dict(old)
    tables["clips"] = final_clips
    expected = run_suite(spark, suite, tables).verdicts

    got = latest_verdicts(spark, state)
    assert _sets(got) == _sets(expected)

    # versioned snapshots: bootstrap + one per batch, each committed
    vers = sorted(os.listdir(os.path.join(state, "verdicts")))
    assert vers == ["v0", "v1", "v2", "v3"]

    # checkpoint resume: a second drain with no new files is a no-op
    n2 = revalidate_changelog_stream(
        spark, suite, "clips", src, state, old,
        max_files_per_trigger=1,
    )
    assert n2 == 0
    assert _sets(latest_verdicts(spark, state)) == _sets(expected)


def test_cdc_stream_picks_up_new_files(spark, cdc_setup):
    old, src, state = cdc_setup
    suite = fixtures.clip_suite(include_audio=False, include_drift=False)
    revalidate_changelog_stream(
        spark, suite, "clips", src, state, old
    )

    # a late-arriving changelog file: delete a slice of clips
    vic = old["clips"].filter(F.xxhash64("clip_id") % 11 == 4)
    late = vic.withColumn("_change_type", F.lit("DELETE"))
    late.coalesce(1).write.mode("append").parquet(src)

    n = revalidate_changelog_stream(
        spark, suite, "clips", src, state, old
    )
    assert n == 1

    full_cl = spark.read.parquet(src)
    tables = dict(old)
    tables["clips"] = apply_changelog(old["clips"], full_cl)
    expected = run_suite(spark, suite, tables).verdicts
    assert _sets(latest_verdicts(spark, state)) == _sets(expected)


def test_apply_changelog_update_pairs(spark):
    # real Iceberg changelogs emit UPDATE_BEFORE/UPDATE_AFTER pairs; the
    # apply + key-extraction paths must treat them as delete+insert
    t = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "id string, v int"
    )
    cl = spark.createDataFrame(
        [
            ("b", 2, "UPDATE_BEFORE"),
            ("b", 20, "UPDATE_AFTER"),
            ("d", 4, "INSERT"),
            ("c", 3, "DELETE"),
        ],
        "id string, v int, _change_type string",
    )
    got = {(r.id, r.v) for r in apply_changelog(t, cl).collect()}
    assert got == {("a", 1), ("b", 20), ("d", 4)}

    from shaclapi_spark.suite import Constraint, Shape, Suite

    suite = Suite(
        [
            Shape(
                name="S",
                table="t",
                entity_col="id",
                constraints=[
                    Constraint(id="v_min", kind="range",
                               params={"column": "v", "min": 0}),
                ],
            )
        ]
    )
    pops = revalidate.affected_populations_from_changelogs(
        suite, {"t": cl}, {"t": apply_changelog(t, cl)}
    )
    keys = {r["__pop_id"] for r in pops["S"].collect()}
    assert keys == {"b", "c", "d"}
