"""Session start and teardown, file-write accounting, result output and
the workload interface shared by the workloads.

Everything here lives outside ``lotus_spark``: the benchmark measures the
program through its public functions and never edits it.
"""
from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess

# One core count and one client thread for every workload. On a 4-vCPU
# host local[4] served queries more slowly than local[2], and local[1]
# was no steadier.
CORES = 2
DRIVER_MEMORY = "2g"


def median(xs):
    return float(statistics.median(xs))


def prepare_env(root: str, work: str) -> None:
    """Point every scratch path of the JVM, the Python workers and the
    temp-file module into ``work`` (inside the checkout), and make the
    benchmark's own modules importable by the Python workers, which
    unpickle the simulated LM endpoints by module path."""
    here = os.path.dirname(os.path.abspath(__file__))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    # the JVMs would otherwise keep perf counters under /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        [os.environ.get("JAVA_TOOL_OPTIONS", ""), "-XX:-UsePerfData"]).strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, here] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--driver-memory {DRIVER_MEMORY}",
        f"--conf spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}",
        f"--conf spark.local.dir={local}",
        # the traced run reads every job and stage back after the timed
        # phase, so none may be evicted from the status store
        "--conf spark.ui.retainedJobs=100000",
        "--conf spark.ui.retainedStages=100000",
        "--conf spark.sql.ui.retainedExecutions=100000",
        "--conf spark.ui.showConsoleProgress=false",
        "--conf spark.sql.warehouse.dir=" + os.path.join(work, "warehouse"),
        "pyspark-shell",
    ])


def start_spark(tracer):
    """``session.get_spark`` on ``local[CORES]``; the call launches the JVM."""
    from lotus_spark.session import get_spark

    with tracer.span("session.get_spark"):
        spark = get_spark(app_name="perfbench", shuffle_partitions=CORES,
                          master=f"local[{CORES}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the context, then end the JVM process and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception:  # noqa: BLE001 - a call cut by SIGTERM; the JVM still ends below
        pass
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def file_versions(dirs) -> dict:
    """Identity -> size of every file under ``dirs``. The identity is the
    inode plus modification time, so a file renamed into place keeps its
    identity and a file written anew gets a new one."""
    out = {}
    for root in dirs:
        for d, _, files in os.walk(root):
            for f in files:
                try:
                    st = os.stat(os.path.join(d, f))
                except FileNotFoundError:
                    continue
                out[(st.st_dev, st.st_ino, st.st_mtime_ns)] = st.st_size
    return out


def written_since(before: dict, dirs) -> tuple[int, int]:
    """(bytes, files) written under ``dirs`` since ``before`` was taken:
    files that now exist and were not there, unchanged, before. Hadoop's
    ``.crc`` checksum siblings count, since they are written too."""
    new = {k: v for k, v in file_versions(dirs).items() if k not in before}
    return sum(new.values()), len(new)


def clean_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """The result line: the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)


class Workload:
    """What run.py needs from a workload.

    ``CYCLE`` is the fixed sequence of operation kinds one cycle runs;
    the warm-up runs ``WARM_CYCLES`` whole cycles before the timed phase,
    which runs at least ``TIMED_CYCLES``. Latency percentiles are taken
    per kind, never across kinds.
    """

    CYCLE: tuple = ()
    WARM_CYCLES = 1
    TIMED_CYCLES = 1

    def __init__(self, spark, work: str, seed: int, tracer) -> None:
        self.spark, self.work, self.seed, self.tracer = spark, work, seed, tracer
        self.last_steps: dict = {}

    def setup(self) -> dict:
        raise NotImplementedError

    def wrap_layers(self) -> None:
        """Traced run only: span the program's internal calls."""

    def run(self, kind: str, i: int, warm: bool = False):
        raise NotImplementedError

    def begin_timed(self) -> None:
        """Called between the warm-up and the timed phase."""

    def after_cycle(self, records: list) -> None:
        """Called after each timed cycle, outside its timing."""

    def after_timed(self, elapsed_s: float) -> list:
        """Traced run only: extra spanned calls after the timed phase,
        ``elapsed_s`` into the run. Returns records of any further checked
        operations they ran."""
        return []

    def check(self, kind: str, i: int, result) -> bool:
        raise NotImplementedError
