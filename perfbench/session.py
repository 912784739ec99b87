"""Pinned Spark session for the benchmark.

The package is shipped to Spark's Python workers the way a deployment does
it (``--py-files``): a zip built from the source tree and added with
``addPyFile``. Every setting that moves the numbers is pinned here and
echoed in the run's output, so two checkouts can be compared run for run.
"""

from __future__ import annotations

import gc
import os
import subprocess
import sys
import time
import zipfile

PACKAGE = "shaclapi_spark"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def build_zip(root: str, out_path: str) -> str:
    """Zip ``<root>/shaclapi_spark/**.py`` (package-relative paths)."""
    pkg = os.path.join(root, PACKAGE)
    if not os.path.isfile(os.path.join(pkg, "__init__.py")):
        raise FileNotFoundError(f"no {PACKAGE} package under {root}")
    os.makedirs(os.path.dirname(out_path), exist_ok=True)
    tmp = out_path + ".tmp"
    with zipfile.ZipFile(tmp, "w", zipfile.ZIP_DEFLATED) as z:
        for dirpath, dirnames, files in os.walk(pkg):
            dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
            for f in sorted(files):
                if f.endswith(".py"):
                    p = os.path.join(dirpath, f)
                    z.write(p, os.path.relpath(p, root))
    os.replace(tmp, out_path)
    return out_path


def settings(cache_dir: str) -> dict[str, str]:
    n = nproc()
    local = os.path.join(cache_dir, "spark-local")
    return {
        "spark.master": f"local[{n}]",
        "spark.driver.memory": "3g",
        "spark.sql.shuffle.partitions": str(2 * n),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(cache_dir, "spark-warehouse"),
        # Keep the JVM's scratch files (and its perf-data file) in the
        # checkout. JIT with C1 only: with the default tiered C2 a warm batch
        # pass keeps shrinking for ~14 passes (6.6 s -> 3.4 s at 40k clips on
        # 4 vCPUs), so a short window would time a point on that curve that
        # moves with host speed; under C1 passes are flat (~4.3 s) from the
        # first timed one and the cold first op costs ~10 s less.
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={local} -XX:-UsePerfData -XX:TieredStopAtLevel=1"
        ),
    }


def start(root: str, cache_dir: str):
    """Start the pinned session with the package zip on every worker.

    Returns ``(spark, conf, zip_s)``: ``conf`` is what the output echoes,
    ``zip_s`` the time spent building the zip, which a deployment ships
    ready-made and so is not set-up time."""
    conf = settings(cache_dir)
    os.makedirs(conf["spark.local.dir"], exist_ok=True)
    t = time.perf_counter()
    zip_path = build_zip(root, os.path.join(cache_dir, f"{PACKAGE}.zip"))
    zip_s = time.perf_counter() - t
    if zip_path not in sys.path:
        sys.path.insert(0, zip_path)
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("perfbench")
    for k, v in conf.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.addPyFile(zip_path)
    return spark, conf, zip_s


def versions(spark) -> dict[str, str]:
    jvm = spark.sparkContext._jvm
    return {
        "spark": spark.version,
        "java": str(jvm.System.getProperty("java.version")),
        "python": sys.version.split()[0],
    }


def drain_listener(spark) -> None:
    """Wait until the status store has seen every finished job/stage."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)


def cached_relations(spark) -> tuple[int, float]:
    """(persisted RDD count, MB they hold) after a JVM and a Python GC."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    jsc = spark.sparkContext._jsc.sc()
    infos = jsc.getRDDStorageInfo()
    mb = sum(i.memSize() + i.diskSize() for i in infos) / 1e6
    return int(jsc.getPersistentRDDs().size()), mb


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs since boot: the share of CPU time
    a busy hypervisor took from this machine (a host-noise diagnostic)."""
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    return cpu[7], sum(cpu[:8])


def stop(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
