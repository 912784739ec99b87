"""The benchmark's workloads and the traced layer probe.

Each workload prepares its inputs (seeded, see ``inputs``), sets up and warms
up untimed, then runs ops in a closed loop for the requested seconds, and
finally checks its outputs against the DuckDB oracle. The oracle's work
happens after the timed window, so it is neither timed nor part of set-up.

In a traced run every op of the window is traced, and each per-layer metric
is measured on the one workload that exercises its layer: service layers on
``service_mixed``; data layers and revalidation on ``batch_full_suite``, by
a probe after the window.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
import traceback
import urllib.error
import urllib.request
from dataclasses import dataclass, field
from urllib.parse import urlencode

import numpy as np

from perfbench import inputs, session
from perfbench.check import CheckFailed, Oracle
from perfbench.trace import Tracer

BATCH_CLIPS = 40_000
SERVICE_CLIPS = 2_000
# service request mix: one round holds each type this many times, in a
# seeded order. Sorted by latency the round is reduce(2) < transcripts(12) <
# full(1) < multi(2) < cycle(1): its median (9.5th of 18) falls in the middle
# of the transcripts band, with 12 samples there, and its p90 (16.3th) inside
# the multi band.
SERVICE_MIX = {"reduce": 2, "transcripts": 12, "full": 1, "multi": 2, "cycle": 1}


@dataclass
class Ctx:
    spark: object
    cache: str
    seed: int
    seconds: float
    tracer: Tracer
    oracle: Oracle
    n_clips: int | None = None  # overrides the workload's size (smoke test)
    zip_s: float = 0.0  # building the package zip; not set-up time
    gen_s: float = 0.0  # input generation; not set-up time


@dataclass
class Run:
    """What a workload reports back to ``run.py``."""

    walls: list[float] = field(default_factory=list)  # timed op walls
    clips: int = 0  # ClipShape entity verdicts delivered by timed ops
    attempted: int = 0
    failed: int = 0
    setup_end: float = 0.0  # perf_counter at the first timed op
    steal: tuple[int, int] = (0, 0)  # (steal, total) jiffies over the window
    layers: dict[str, tuple[float, str]] = field(default_factory=dict)


def _med(xs):
    return statistics.median(xs) if xs else float("nan")


def _refs(paths: dict[str, str]) -> dict[str, str]:
    return {k: "parquet:" + v for k, v in paths.items()}


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


def _gen(ctx: Ctx, fn, *args):
    t = time.perf_counter()
    out = fn(*args)
    ctx.gen_s += time.perf_counter() - t
    return out


def _window_start(run: Run) -> None:
    run.steal = session.steal_jiffies()
    run.setup_end = time.perf_counter()


def _window_end(run: Run) -> None:
    steal, total = session.steal_jiffies()
    run.steal = (steal - run.steal[0], total - run.steal[1])


def _fits(ctx: Ctx, run: Run, last: float) -> bool:
    """Whether another op (or round) of about ``last`` seconds still ends
    inside the window. The first one always runs."""
    return last == 0.0 or time.perf_counter() - run.setup_end + last <= ctx.seconds


def _base_inputs(ctx: Ctx, n_clips: int, sub: str) -> dict[str, str]:
    base = _gen(ctx, inputs.ensure_base, ctx.spark, ctx.cache, n_clips)
    out = os.path.join(ctx.cache, "inputs", sub)
    return _gen(ctx, inputs.write_seeded, base, out, ctx.seed)


def _overhead(ctx: Ctx, run: Run) -> None:
    """Share of the traced ops' wall spent in tracing itself (call before the
    probe adds spans of its own)."""
    if ctx.tracer.enabled:
        run.layers["trace.overhead_frac"] = (ctx.tracer.cost / sum(run.walls), "ratio")


# --------------------------------------------------------------------------
# batch_full_suite
# --------------------------------------------------------------------------


def batch_full_suite(ctx: Ctx) -> Run:
    from shaclapi_spark import engine, fixtures, sources

    spark, tr, run = ctx.spark, ctx.tracer, Run()
    paths = _base_inputs(ctx, ctx.n_clips or BATCH_CLIPS, "batch")
    refs = _refs(paths)
    suite = fixtures.clip_suite(include_audio=True, include_drift=True)
    out = os.path.join(ctx.cache, "out", "batch")

    def op(op_id: str) -> None:
        with tr.span("op", op_id):
            with tr.span("engine.plan"):
                res = engine.run_suite(spark, suite, sources.load_tables(spark, refs))
            with tr.span("engine.exec"):
                _write(res.verdicts, os.path.join(out, "verdicts"))
                _write(res.violations, os.path.join(out, "violations"))
                _write(res.summary, os.path.join(out, "summary"))

    with tr.off():
        op("warmup")  # untimed
    _window_start(run)
    last = 0.0
    while _fits(ctx, run, last):
        run.attempted += 1
        t = time.perf_counter()
        try:
            op(f"batch-{run.attempted}")
        except Exception:  # noqa: BLE001 - an op that raises counts as failed
            traceback.print_exc()
            run.failed += 1
        else:
            run.walls.append(time.perf_counter() - t)
        last = time.perf_counter() - t
    _window_end(run)
    _overhead(ctx, run)

    expected = ctx.oracle.expected(paths, "suite", include_audio=True)
    clip = expected["ClipShape"]
    run.clips = len(run.walls) * (clip["valid"] + clip["invalid"])
    v, vl = os.path.join(out, "verdicts"), os.path.join(out, "violations")
    ctx.oracle.check_verdicts("batch.verdicts", v, expected)
    ctx.oracle.check_violations("batch.violations", v, vl)
    ctx.oracle.check_drift("batch.dur_drift", v)
    if tr.enabled:
        probe(ctx, run, paths, out)
    return run


def probe(ctx: Ctx, run: Run, v1: dict[str, str], v1_out: str) -> None:
    """Time the data layers' public calls alone on the batch tables ``v1``,
    then revalidate a seeded ~1% delta of them. ``v1_out`` holds the batch
    verdicts and violations of ``v1``: the previous run for revalidation."""
    from pyspark.sql import functions as F

    from shaclapi_spark import engine, fixtures, revalidate, sources
    from shaclapi_spark import verdicts as V
    from shaclapi_spark.ops import audio, drift

    spark, tr, o = ctx.spark, ctx.tracer, ctx.oracle
    out = os.path.join(ctx.cache, "out", "probe")
    tables = sources.load_tables(spark, _refs(v1))

    with tr.span("ops.audio.snr", "probe"):
        bad = (
            audio.with_audio_check(tables["clips"], "__ok", "bytes")
            .filter(~F.col("__ok"))
            .count()
        )
    if bad != o.corrupt_audio_rows(v1):
        raise CheckFailed(f"probe.audio: {bad} failing rows != {o.corrupt_audio_rows(v1)}")
    o.done.append("probe.audio")

    with tr.span("ops.drift.drift", "probe"):
        vd, _ = drift.evaluate_drift_constraints(spark, fixtures.clip_suite(), tables)
        rows = vd.collect()
    if [r.is_valid for r in rows if r.reason == "dur_drift"] != [False]:
        raise CheckFailed(f"probe.drift: dur_drift verdict rows {rows}")
    o.done.append("probe.drift")

    entity_rows = F.col("entity_id") != F.lit("__dataset__")
    old_v = spark.read.parquet(os.path.join(v1_out, "verdicts")).filter(entity_rows)
    old_vl = spark.read.parquet(os.path.join(v1_out, "violations")).filter(entity_rows)
    with tr.span("verdicts.summarize", "probe"):
        summary = V.summarize(old_v).collect()
    if sum(r.n_valid + r.n_invalid for r in summary) != old_v.count():
        raise CheckFailed("probe.summarize: bucket totals != verdict rows")
    o.done.append("probe.summarize")

    # drift constraints are dataset-grain and revalidation rejects them; they
    # do not change entity verdicts
    suite = fixtures.clip_suite(include_audio=True, include_drift=False)
    v2, _ = _gen(ctx, inputs.make_delta, v1, os.path.join(ctx.cache, "inputs", "probe-v2"), ctx.seed)
    new = sources.load_tables(spark, _refs(v2))
    with tr.span("revalidate.affected", "probe"):
        pops = revalidate.affected_populations(suite, tables, new)
        n_aff = sum(p.count() for p in pops.values())
    merged = os.path.join(out, "merged")
    # the first revalidation in the process, as a job revalidating a new
    # table version pays it (its plans are compiled here)
    with tr.span("revalidate.incremental", "probe"):
        res = revalidate.revalidate_incremental(spark, suite, tables, new, old_v, old_vl)
        _write(res.verdicts, os.path.join(merged, "verdicts"))
        _write(res.violations, os.path.join(merged, "violations"))
    full = os.path.join(out, "full")
    with tr.span("revalidate.full_rerun", "probe"):
        res = engine.run_suite(spark, suite, sources.load_tables(spark, _refs(v2)))
        _write(res.verdicts, os.path.join(full, "verdicts"))
        _write(res.violations, os.path.join(full, "violations"))

    exp_v2 = o.expected(v2, "suite", include_audio=True)
    o.check_verdicts("probe.incremental", os.path.join(merged, "verdicts"), exp_v2)
    o.check_violations("probe.incremental.violations", os.path.join(merged, "verdicts"),
                       os.path.join(merged, "violations"))
    o.check_verdicts("probe.full_rerun", os.path.join(full, "verdicts"), exp_v2)
    changed = o.changed_verdicts(os.path.join(v1_out, "verdicts"), os.path.join(full, "verdicts"))
    run.layers["revalidate.affected_entities"] = (n_aff, "count")
    run.layers["revalidate.useful_frac"] = (changed / n_aff if n_aff else 0.0, "ratio")


# --------------------------------------------------------------------------
# service_mixed
# --------------------------------------------------------------------------


class Service:
    """``service.serve`` on 127.0.0.1 in a thread, plus a one-in-flight client."""

    def __init__(self, spark):
        from shaclapi_spark import service

        self.srv = service.serve(spark, host="127.0.0.1", port=0)
        self.url = f"http://127.0.0.1:{self.srv.server_port}"
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()

    def post(self, route: str, form: dict) -> tuple[int, bytes]:
        req = urllib.request.Request(self.url + route, data=urlencode(form).encode())
        try:
            with urllib.request.urlopen(req, timeout=170) as r:
                return r.status, r.read()
        except urllib.error.HTTPError as e:
            return e.code, e.read()

    def metrics(self) -> list[dict]:
        with urllib.request.urlopen(self.url + "/metrics", timeout=60) as r:
            return json.loads(r.read())["stages"]

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=60)


def _requests(paths: dict[str, str]) -> dict[str, dict]:
    """Request type -> route, form, and the suite and target shapes it names."""
    from shaclapi_spark import fixtures

    tables = json.dumps(_refs(paths))
    plain = fixtures.clip_suite(include_audio=False, include_drift=False)
    cyc = fixtures.clip_cycle_suite()
    return {
        "transcripts": dict(
            route="/validation", suite=plain, targets=["TranscriptShape"],
            form={"suite": plain.to_json(), "tables": tables, "targetShape": "TranscriptShape"},
        ),
        "full": dict(
            route="/validation", suite=plain, targets=None,
            form={"suite": plain.to_json(), "tables": tables},
        ),
        "multi": dict(
            route="/multiprocessing", suite=plain, targets=["ClipShape"],
            form={"suite": plain.to_json(), "tables": tables, "targetShape": "ClipShape"},
        ),
        "cycle": dict(
            route="/validation", suite=cyc, targets=None,
            form={"suite": cyc.to_json(), "tables": tables},
        ),
        "reduce": dict(
            route="/reduce", suite=plain, targets=["ClipShape"],
            form={"suite": plain.to_json(), "targetShape": "ClipShape"},
        ),
    }


def _expected(ctx: Ctx, paths: dict[str, str], reqs: dict[str, dict]) -> dict[str, dict]:
    """The oracle's answer to each request type."""
    from shaclapi_spark import api

    o = ctx.oracle
    suite_counts = o.expected(paths, "suite", include_audio=False)
    reduce = reqs["reduce"]
    return {
        "transcripts": o.expected(paths, "transcripts", include_audio=False),
        "full": suite_counts,
        # helper shapes the target needs are evaluated and reported too
        "multi": suite_counts,
        "cycle": o.expected(paths, "cycle", include_audio=False),
        "reduce": json.loads(json.dumps(api.explain(reduce["suite"], reduce["targets"]))),
    }


def _check_response(ctx: Ctx, name: str, kind: str, expected: dict, status: int, body: bytes) -> None:
    if status != 200:
        raise CheckFailed(f"{name}: HTTP {status}: {body[:300]!r}")
    out = json.loads(body)
    if kind == "reduce":
        if out != expected:
            raise CheckFailed(f"{name}: /reduce {out} != {expected}")
        ctx.oracle.done.append(name)
    else:
        ctx.oracle.check_counts(name, out["shapes"], expected)


def service_mixed(ctx: Ctx) -> Run:
    from shaclapi_spark import compiler

    run, tr = Run(), ctx.tracer
    paths = _base_inputs(ctx, ctx.n_clips or SERVICE_CLIPS, "service")
    reqs = _requests(paths)
    rng = np.random.default_rng([ctx.seed, 3])
    round_ = [k for k, n in SERVICE_MIX.items() for _ in range(n)]
    svc = Service(ctx.spark)
    warmup: list[tuple] = []  # (kind, status, body), checked after the window
    sent: list[dict] = []  # timed requests, checked after the window
    try:
        for kind in rng.permutation(list(SERVICE_MIX)):  # untimed
            req = reqs[kind]
            warmup.append((kind, *svc.post(req["route"], req["form"])))
        _window_start(run)
        last = 0.0
        while _fits(ctx, run, last):
            t_round = time.perf_counter()
            for kind in rng.permutation(round_):
                req, rec = reqs[kind], {"kind": kind}
                with tr.span("op", f"req-{len(sent)}", kind=kind):
                    if tr.enabled:
                        with tr.span("compiler.compile", extra=True):
                            compiler.compile_suite(req["suite"], req["targets"])
                        before = tr.ungrouped_jobs()
                    with tr.span("service.request"):
                        t = time.perf_counter()
                        status, body = svc.post(req["route"], req["form"])
                        rec["wall"] = time.perf_counter() - t
                    if tr.enabled:
                        rec["jobs"] = sorted(tr.ungrouped_jobs() - before)
                rec.update(status=status, body=body)
                sent.append(rec)
            last = time.perf_counter() - t_round
        _window_end(run)
        if tr.enabled:
            stages = svc.metrics()
    finally:
        svc.close()

    expected = _expected(ctx, paths, reqs)
    for kind, status, body in warmup:
        _check_response(ctx, f"service.warmup.{kind}", kind, expected[kind], status, body)
    for k, rec in enumerate(sent):
        run.attempted += 1
        if rec["status"] != 200:
            run.failed += 1
            continue
        kind = rec["kind"]
        _check_response(ctx, f"service.{k}.{kind}", kind, expected[kind], rec["status"], rec["body"])
        run.walls.append(rec["wall"])
        if kind != "reduce":
            clip = json.loads(rec["body"])["shapes"].get("ClipShape")
            run.clips += clip["valid"] + clip["invalid"] if clip else 0
    if tr.enabled:
        _overhead(ctx, run)
        _service_layers(ctx, run, sent, stages)
    return run


def _service_layers(ctx: Ctx, run: Run, sent: list[dict], stages: list[dict]) -> None:
    validating = [r for r in sent if r["kind"] != "reduce" and r["status"] == 200]
    vtimes = [s["wall_sec"] for s in stages if s["stage"].endswith(".validation_time")]
    loads = [s["wall_sec"] for s in stages if s["stage"].endswith(".load_time")]
    # the last len(validating) rows belong to the timed requests, in order
    vtimes, loads = vtimes[-len(validating):], loads[-len(validating):]
    layers = run.layers
    layers["service.overhead_s"] = (_med([r["wall"] - v for r, v in zip(validating, vtimes)]), "s")
    layers["sources.load_s"] = (_med(loads), "s")
    layers["service.response_bytes"] = (_med([len(r["body"]) for r in sent]), "bytes")
    layers["engine.fixpoint_s"] = (_med([r["wall"] for r in sent if r["kind"] == "cycle"]), "s")
    work = [ctx.tracer.spark_work(r["jobs"]) for r in sent]
    for k in ("jobs", "stages", "tasks"):
        layers[f"engine.{k}"] = (statistics.fmean(w[k] for w in work), "count")
    n, mb = session.cached_relations(ctx.spark)
    layers["engine.cached_rdds_end"] = (n, "count")
    layers["engine.cached_mb_end"] = (mb, "MB")


WORKLOADS = {
    "batch_full_suite": batch_full_suite,
    "service_mixed": service_mixed,
}
