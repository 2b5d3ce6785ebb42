"""Run environment, Spark session lifetime, timed operations and CPU/RSS
accounting shared by every workload.

A run owns one scratch directory under ``<checkout>/.perfbench_scratch``.
Everything the run writes goes there: Spark local dirs, the JVM and
Python temp dirs, the event log, generated inputs and the ANN index.  On
exit the run removes that directory and its application's
``/tmp/spark_graft_<applicationId>`` tree (the engine's layout scratch,
whose location the engine fixes), and nothing else.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass, field

SPARK_CORES = 4
DRIVER_MEM = "3g"
CLK_TCK = os.sysconf("SC_CLK_TCK")


def checkout_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def pinned_env(scratch: str) -> dict:
    """Pin the environment before the JVM starts, so the JVM and the
    Python workers it forks inherit it.  Returns the record printed with
    the metrics."""
    root = checkout_root()
    omp_at_start = os.environ.get("OMP_NUM_THREADS")
    host_cores = len(os.sched_getaffinity(0))
    cores = min(SPARK_CORES, host_cores)
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "PYTHONPATH": root,
        "TMPDIR": tmp,
        "SPARK_CONF_DIR": os.path.join(scratch, "conf"),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
    }
    os.environ.update(pins)
    return {
        "spark_cores": cores,
        "host_cores_available": host_cores,
        "omp_num_threads_at_start": omp_at_start,
        "driver_mem": DRIVER_MEM,
        "blas_threads": 1,
        "worker_pythonpath": root,
        "console_progress": False,
        "local_dirs": os.path.join(scratch, "local"),
    }


def write_spark_conf(scratch: str, trace: bool) -> str | None:
    """Spark's own configuration files for this run: spark-defaults.conf
    (local dirs, progress bars off, event log when tracing) and a quiet
    log4j2 config.  Returns the event-log dir when tracing."""
    conf = os.path.join(scratch, "conf")
    local = os.path.join(scratch, "local")
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(conf, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    lines = [
        f"spark.local.dir {local}",
        "spark.ui.showConsoleProgress false",
        f"spark.driver.defaultJavaOptions -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    evdir = None
    if trace:
        evdir = os.path.join(scratch, "eventlog")
        os.makedirs(evdir, exist_ok=True)
        lines += [
            "spark.eventLog.enabled true",
            "spark.eventLog.compress false",
            f"spark.eventLog.dir file://{evdir}",
        ]
    with open(os.path.join(conf, "spark-defaults.conf"), "w") as fh:
        fh.write("\n".join(lines) + "\n")
    with open(os.path.join(conf, "log4j2.properties"), "w") as fh:
        fh.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stdout.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %d{HH:mm:ss} %p %c{1}: %m%n\n"
        )
    return evdir


# --- CPU and memory of the process tree ------------------------------------

def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # comm may contain spaces: fields resume after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for ent in os.listdir("/proc"):
        if not ent.isdigit():
            continue
        f = _stat_fields(int(ent))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(ent))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        for c in children.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """User + system CPU seconds of ``root`` and every live descendant,
    including children they have reaped (cutime/cstime), so a worker
    that exited during the window still counts."""
    root = root or os.getpid()
    total = 0
    for pid in [root] + descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / CLK_TCK


def proc_cpu_s(pid: int) -> float:
    """User + system CPU seconds of ``pid`` alone (no children)."""
    f = _stat_fields(pid)
    return 0.0 if f is None else (int(f[11]) + int(f[12])) / CLK_TCK


def vm_hwm_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def jvm_pid() -> int | None:
    for pid in descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                argv0 = fh.read().split(b"\0")[0]
        except OSError:
            continue
        if argv0.endswith(b"java"):
            return pid
    return None


# --- timed operations -------------------------------------------------------

@dataclass
class Op:
    kind: str
    seq: int
    t0: float  # epoch seconds (aligns with event-log timestamps)
    t1: float
    ok: bool = True
    why: str = ""
    output: object = None
    context: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0

    @property
    def group(self) -> str:
        return f"{self.kind}#{self.seq}"


class Recorder:
    """Times operations under their own Spark job group and keeps their
    outputs for the checks that run after the timed schedule."""

    def __init__(self, spark):
        self.spark = spark
        self.ops: list[Op] = []
        self.probes: dict[str, list[float]] = {}
        self._seq = 0

    def _timed_call(self, group: str, desc: str, fn):
        sc = self.spark.sparkContext
        sc.setJobGroup(group, desc)
        t0 = time.time()
        try:
            return t0, fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def run(self, kind: str, fn, timed: bool = True, **context) -> Op:
        """A timed operation that raises is recorded as failed and the
        schedule goes on; an untimed one (set-up, warm-up) re-raises."""
        self._seq += 1
        out, why = None, ""
        t0 = time.time()
        try:
            t0, out = self._timed_call(f"{kind}#{self._seq}", kind, fn)
        except Exception as exc:  # noqa: BLE001 — counted as a failed operation
            if not timed:
                raise
            why = f"raised {type(exc).__name__}: {exc}"[:300]
        op = Op(kind, self._seq, t0, time.time(), ok=not why, why=why,
                output=out, context=context)
        if timed:
            self.ops.append(op)
        return op

    def probe(self, name: str, fn):
        """Time one module call (traced runs only)."""
        self._seq += 1
        t0, out = self._timed_call(f"probe.{name}#{self._seq}", name, fn)
        self.probes.setdefault(name, []).append(time.time() - t0)
        return out

    def of(self, kind: str) -> list[Op]:
        return [o for o in self.ops if o.kind == kind]


def check_ops(ops: list[Op], check_one) -> None:
    """Set ``ok``/``why`` from ``check_one(op) -> reason`` ("" when the
    output is right) for every operation that returned, then drop the
    outputs.  A check that raises fails its operation, not the run."""
    for op in ops:
        if op.ok:
            try:
                op.why = check_one(op)
            except Exception as exc:  # noqa: BLE001 — counted as a failed check
                op.why = f"check raised {type(exc).__name__}: {exc}"[:300]
            op.ok = not op.why
        op.output = None


def median(xs) -> float:
    return float(statistics.median(xs))


def drift(xs: list[float]) -> float | None:
    """First-half median over second-half median (None below 2 samples)."""
    if len(xs) < 2:
        return None
    h = len(xs) // 2
    return median(xs[:h]) / median(xs[len(xs) - h:])


def clean_spark_state(spark) -> None:
    """Between clusterings and queries: drop cached tables, unpersist
    every RDD (AP leaves large checkpointed states pinned) and clear the
    AP memo, whose entries point at the blocks just dropped."""
    from affinity_propagation_mapreduce_spark.operators import ap

    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    ap.clear_cache()


def warm_engine(spark) -> None:
    """Untimed, the same for every workload: one shuffle aggregation, one
    Arrow round trip through a Python worker and one parquet write and
    read, so the JVM, code generation and the worker daemon have started
    before the first timed operation."""
    import tempfile

    df = spark.range(0, 200_000, numPartitions=4)
    df.selectExpr("id % 97 AS k", "id").groupBy("k").count().collect()

    def ident(batches):
        yield from batches

    df.mapInArrow(ident, df.schema).count()
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "w"))
        spark.read.parquet(os.path.join(d, "w")).selectExpr("sum(id)").collect()


def start_spark(app: str):
    from affinity_propagation_mapreduce_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then the JVM gateway, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 — gateway already gone
        pass
    if proc is None:
        return
    try:
        proc.stdin.close()
    except OSError:
        pass
    try:
        proc.wait(timeout=30)
    except Exception:  # noqa: BLE001 — subprocess.TimeoutExpired
        proc.kill()
        proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_run_dirs(scratch: str, app_id: str | None) -> None:
    shutil.rmtree(scratch, ignore_errors=True)
    if app_id:
        shutil.rmtree(f"/tmp/spark_graft_{app_id}", ignore_errors=True)
