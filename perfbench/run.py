"""Validation benchmark for ``shaclapi_spark``: batch suite, service requests
and incremental revalidation, end to end and per module.

    python3 perfbench/run.py --workload batch_full_suite --seed 1 --seconds 22 --trace 0

Run from the root of a source checkout. The package is zipped from the tree
and shipped to Spark's workers with ``addPyFile``; inputs, outputs and Spark's
scratch space live under ``.perfbench_cache/`` in the checkout.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics from spans around the benchmark's calls into each module (written to
``.perfbench_cache/out/<workload>.spans.jsonl``) plus the tracing overhead.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` ({name: {value, unit}}). Any oracle mismatch
exits 1.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")

# per-layer metric -> (unit, span whose median self time it reports). Metrics
# without a span are filled in by the workload that measures them. Each layer
# is measured on one workload; the other reports 0 and names it as unmeasured.
LAYERS = {
    "compiler.compile_s": ("s", "compiler.compile"),
    "sources.load_s": ("s", None),
    "engine.plan_s": ("s", "engine.plan"),
    "engine.exec_s": ("s", "engine.exec"),
    "engine.jobs": ("count", None),
    "engine.stages": ("count", None),
    "engine.tasks": ("count", None),
    "engine.fixpoint_s": ("s", None),
    "engine.cached_rdds_end": ("count", None),
    "engine.cached_mb_end": ("MB", None),
    "ops.audio.snr_s": ("s", "ops.audio.snr"),
    "ops.drift.drift_s": ("s", "ops.drift.drift"),
    "verdicts.summarize_s": ("s", "verdicts.summarize"),
    "revalidate.affected_s": ("s", "revalidate.affected"),
    "revalidate.affected_entities": ("count", None),
    "revalidate.useful_frac": ("ratio", None),
    "revalidate.incremental_s": ("s", "revalidate.incremental"),
    "revalidate.full_rerun_s": ("s", "revalidate.full_rerun"),
    "service.overhead_s": ("s", None),
    "service.response_bytes": ("bytes", None),
    "datagen.gen_s": ("s", None),
    "trace.overhead_frac": ("ratio", None),
}
# the user-facing names of each workload's headline metrics
ALIASES = {
    "batch_full_suite": {"clips_per_s": "clips_per_s"},
    "service_mixed": {"req_p50_s": "op_p50_s"},
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--clips", type=int, default=None, help="override the input size (smoke test)")
    return p.parse_args(argv)


def _end_to_end(ctx, run) -> dict:
    return {
        "setup_s": (run.setup_end - T0 - ctx.gen_s - ctx.zip_s, "s"),
        "op_p50_s": (statistics.median(run.walls), "s"),
        "clips_per_s": (run.clips / sum(run.walls), "clips/s"),
    }


def _per_layer(ctx, run) -> tuple[dict, list[str]]:
    """The per-layer metrics, and the names of those this workload does not
    measure (reported as 0)."""
    m = dict(run.layers)
    m["datagen.gen_s"] = (ctx.gen_s, "s")
    unmeasured = []
    for name, (unit, span) in LAYERS.items():
        times = ctx.tracer.self_times(span) if span else []
        if times:
            m[name] = (statistics.median(times), unit)
        elif name not in m:
            m[name] = (0.0, unit)
            unmeasured.append(name)
    return m, unmeasured


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "shaclapi_spark", "__init__.py")):
        print(f"perfbench: no shaclapi_spark package under {ROOT}", file=sys.stderr)
        return 2
    from perfbench import workloads

    if a.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}", file=sys.stderr)
        return 2
    os.makedirs(CACHE, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(CACHE, "tmp")
    os.makedirs(tempfile.tempdir, exist_ok=True)

    from perfbench import session
    from perfbench.check import CheckFailed, Oracle
    from perfbench.trace import Tracer

    spark, conf, zip_s = session.start(ROOT, CACHE)
    ctx = workloads.Ctx(
        spark=spark, cache=CACHE, seed=a.seed, seconds=a.seconds,
        tracer=Tracer(spark, bool(a.trace)), oracle=Oracle(tempfile.tempdir),
        n_clips=a.clips, zip_s=zip_s,
    )
    correct, code, unmeasured = True, 0, []
    try:
        info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                "trace": a.trace, "nproc": session.nproc(), **session.versions(spark),
                "conf": conf}
        print("perfbench " + json.dumps(info), flush=True)
        run = workloads.WORKLOADS[a.workload](ctx)
        if a.trace:
            metrics, unmeasured = _per_layer(ctx, run)
            ctx.tracer.write(os.path.join(CACHE, "out", f"{a.workload}.spans.jsonl"))
        else:
            metrics = _end_to_end(ctx, run)
    except CheckFailed as e:
        print(f"perfbench: output check failed: {e}", file=sys.stderr)
        correct, code, metrics, run = False, 1, {}, workloads.Run(attempted=1, failed=1)
    finally:
        ctx.oracle.close()
        session.stop(spark)

    for name, (value, unit) in sorted(metrics.items()):
        print(f"metric {name} = {value:.6g} {unit}")
    if unmeasured:
        print(f"not measured on {a.workload} (reported as 0): {', '.join(unmeasured)}")
    if not a.trace and correct:
        for alias, name in ALIASES[a.workload].items():
            print(f"metric {alias} = {metrics[name][0]:.6g} {metrics[name][1]} (= {name})")
        if a.workload == "service_mixed" and len(run.walls) > 1:
            print(f"metric req_per_s = {len(run.walls) / sum(run.walls):.6g} 1/s "
                  "(not bounded: proportional to clips_per_s at the fixed mix)")
            p90 = statistics.quantiles(run.walls, n=10, method="inclusive")[-1]
            print(f"metric req_p90_s = {p90:.6g} s (not bounded: {len(run.walls)} "
                  "requests leave fewer than 10 beyond p90)")
        print(f"metric failed_frac = {run.failed / run.attempted:.6g} ratio")
        print(f"samples: {len(run.walls)} timed ops, walls_s = {[round(w, 3) for w in run.walls]}")
        print(f"host: {run.steal[0] / max(run.steal[1], 1):.3f} of CPU time stolen during the window")
    print(f"checks passed: {len(ctx.oracle.done)} ({', '.join(sorted(set(ctx.oracle.done)))})")
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return code


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    try:
        sys.exit(main())
    except SystemExit:
        raise
    except BaseException:
        traceback.print_exc()
        sys.exit(1)
