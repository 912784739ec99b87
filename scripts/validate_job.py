"""spark-submit entry point: validate the clips fixture with the full
constraint suite and print one JSON line with wall time + clips/sec.

Packaged per the north rule: run via

  taskset -c 0-(N-1) spark-submit --master local[N] --py-files shaclapi_spark.zip \\
      scripts/validate_job.py --fixture-dir .bench_fixtures/nX --threads N

Measurement protocol (see BENCH.md):
* the fixture is pre-materialized (scripts/scaling_bench.py) — synthesis is
  never timed;
* one FULL untimed warm-up pass first: the first execution pays
  JIT/whole-stage-codegen compilation and Arrow-worker spawn+import
  (~10-40 s constant regardless of input size) — a real cluster amortizes
  this over long-running executors;
* then --reps timed passes, best one reported (the sandbox host shows
  ±30 % run-to-run noise from the hypervisor);
* shuffle partitioning is FIXED (not scaled with threads): strong scaling
  compares identical work decompositions, and on a real cluster
  spark.sql.shuffle.partitions is sized to the data, which is the same at
  N and 4N executors.
"""

from __future__ import annotations

import argparse
import json
import os
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--fixture-dir", required=True)
    ap.add_argument("--threads", type=int, required=True)
    ap.add_argument("--include-audio", default="1")
    ap.add_argument(
        "--modality",
        default="audio",
        choices=["audio", "image", "video"],
        help="which fixture modality to validate: audio = the clip "
        "constraint suite over clips/transcripts (default); image / "
        "video = the container-integrity + metadata suites over the "
        "images / videos tables (round 4)",
    )
    ap.add_argument("--shuffle-partitions", type=int, default=64)
    ap.add_argument("--max-partition-bytes", default="auto")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--warmups", type=int, default=2)
    ap.add_argument(
        "--report-out",
        default=None,
        help="write the W3C SHACL ValidationReport relation (parquet) of "
        "the final pass here; <path>.ttl additionally gets the bounded "
        "Turtle serialization when the report fits report_turtle's limit",
    )
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    if args.max_partition_bytes == "auto":
        # size scan partitions off the dominant input so the audio-decode
        # stage (clips scan + Arrow UDF, the job's critical path) runs ~256
        # tasks — 8 waves/core at the 4N=32 level. Too few tasks quantize
        # into waves with long single-task tails (33 tasks at 32 cores = 2
        # waves, the second one 1 task wide); too many pay a Python-worker
        # round trip per task. Identical at both parallelism levels (input-
        # size-driven), so the N/4N decomposition stays comparable.
        import glob as _glob

        clip_bytes = sum(
            os.path.getsize(p)
            for p in _glob.glob(
                os.path.join(args.fixture_dir, "clips.parquet", "*.parquet")
            )
        )
        target = max(16 * 2**20, min(256 * 2**20, clip_bytes // 256))
        args.max_partition_bytes = str(target)

    spark = (
        SparkSession.builder.appName(f"clip-validate-{args.threads}")
        .config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
        # static plan for the bench job: every AQE query stage is a separate
        # job with a driver-side planning gap; at a fixed, known input size
        # the static 64-partition plan is strictly better (AQE stays on for
        # general engine use — this is per-session bench tuning)
        .config("spark.sql.adaptive.enabled", "false")
        # re-launch stragglers — the 1000+-task Arrow-UDF stage has a long
        # tail on this noisy host; speculation trims it
        .config("spark.speculation", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
        # ~140 scan tasks at 36 GB: big enough to amortize the per-task
        # Python-worker round trip (measured dominant at 32 MB partitions),
        # small enough to load-balance 32 cores
        .config("spark.sql.files.maxPartitionBytes", args.max_partition_bytes)
        # python workers: keep numpy's large scratch blocks on the reusable
        # heap — this sandbox host page-faults pathologically on fresh mmaps
        .config("spark.executorEnv.MALLOC_MMAP_THRESHOLD_", "1073741824")
        .config("spark.executorEnv.MALLOC_TRIM_THRESHOLD_", "1073741824")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from shaclapi_spark import fixtures
    from shaclapi_spark.engine import run_suite

    # modality -> (tables to load, primary/counted table, suite factory);
    # --include-audio only applies to the audio clip suite
    modalities = {
        "audio": (
            ("clips", "transcripts", "ref_histograms"),
            "clips",
            lambda: fixtures.clip_suite(
                include_audio=args.include_audio == "1", include_drift=False
            ),
        ),
        "image": (("images",), "images", fixtures.image_suite),
        "video": (("videos",), "videos", fixtures.video_suite),
    }
    table_names, primary, suite_fn = modalities[args.modality]
    tables = {
        name: spark.read.parquet(f"{args.fixture_dir}/{name}.parquet")
        for name in table_names
    }
    n_entities = tables[primary].count()
    suite = suite_fn()

    def one_pass() -> float:
        t0 = time.time()
        res = run_suite(spark, suite, tables)
        res.verdicts.write.format("noop").mode("overwrite").save()
        return time.time() - t0

    # untimed: JIT + codegen + Arrow worker spawn + allocator adaptation —
    # empirically needs 2 passes to plateau at high core counts
    warmup = [one_pass() for _ in range(args.warmups)]
    walls = [one_pass() for _ in range(args.reps)]
    wall = min(walls)

    if args.report_out:
        # untimed: report emission is a deployment output, not bench work
        from shaclapi_spark import report as report_mod

        res = run_suite(spark, suite, tables)
        rep = report_mod.validation_report(res.violations, suite)
        rep.write.mode("overwrite").parquet(args.report_out)
        try:
            ttl = report_mod.report_turtle(spark.read.parquet(args.report_out))
            with open(args.report_out + ".ttl", "w") as fh:
                fh.write(ttl)
        except ValueError:
            pass  # oversized report stays relational (documented behavior)
    out = {
        "threads": args.threads,
        "modality": args.modality,
        "n_entities": n_entities,
        "wall_sec": round(wall, 3),
        "walls": [round(w, 3) for w in walls],
        "warmup_sec": [round(w, 3) for w in warmup],
        "entities_per_sec": round(n_entities / wall, 1),
    }
    if args.modality == "audio":
        # back-compat aliases scripts/scaling_bench.py consumes
        out["n_clips"] = n_entities
        out["clips_per_sec"] = out["entities_per_sec"]
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
