"""Shared pieces of the benchmark: the Spark session, statistics, memory
readings and the output checker."""

from __future__ import annotations

import hashlib
import math
import os
import resource
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def ensure_importable() -> None:
    """Put the checkout root on the import path; fail when the program is
    not there (a checkout holding only the benchmark)."""
    if not (ROOT / "confluent_ksql_charm_spark" / "engine.py").is_file() or \
            not (ROOT / "__spark_entry__.py").is_file():
        raise SystemExit(f"perfbench: the program is missing under {ROOT}")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def configure_env(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside `work`."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    import tempfile
    tempfile.tempdir = tmp


def new_session(cpus: int, work: str, java_options: str = ""):
    """A local[cpus] session with the settings `bench.py` uses, the UI off,
    every scratch path under `work` and `java_options` added to the
    driver JVM's."""
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
                str(cpus * 8))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
        .config("spark.driver.memory", "2g")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.checkpoint.dir", os.path.join(work, "rdd-ckpt"))
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {java_options}")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit (it exits
    when its stdin closes), then for the Python workers it started (they
    exit when the JVM does; stragglers after 30 s are killed)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    workers = [p for p in _proc_tree(os.getpid()) if p != os.getpid()]
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in workers:
        while _running(pid) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _running(pid):
            os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """True while `pid` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def force(df) -> None:
    """Evaluate every output column (the `bench.py` noop-sink force)."""
    df.write.format("noop").mode("overwrite").save()


def pct(values: list[float], q: float) -> float:
    """Linear-interpolated percentile `q` (0..100) of `values`."""
    xs = sorted(values)
    if not xs:
        return float("nan")
    k = (len(xs) - 1) * q / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else float("nan")


def _proc_tree(root_pid: int) -> list[int]:
    """`root_pid` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory of this driver process plus the JVM it
    launched (the JVM is the java process below this one)."""
    me = os.getpid()
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    for pid in _proc_tree(me):
        if pid == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd.split(b"\0", 1)[0]:
            kb += _hwm_kb(pid)
    return kb / 1024.0


# ---------------------------------------------------------------- checking

def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    if isinstance(v, int):
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def normalize(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Columns sorted by name, cells rounded to 6 digits, rows sorted: the
    order-insensitive form of a result."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm_cell(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [cols[i] for i in order], out


def digest(cols: list[str], rows: list[tuple]) -> str:
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(repr(tuple(float(x) if isinstance(x, int)
                            and not isinstance(x, bool) else x
                            for x in r)).encode())
    return h.hexdigest()[:16]


def _close(a, b) -> bool:
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_close(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not (
            isinstance(a, bool) or isinstance(b, bool)):
        return abs(float(a) - float(b)) <= 1e-6 * max(1.0, abs(float(b)))
    return a == b


class Checker:
    """Compares each operation's output once per run with its expected
    result and counts the failures.

    The expected result is the DuckDB oracle of `__spark_entry__` (or a
    count for streaming sinks). Results match when their order-insensitive
    digests agree, or, failing that, when every normalized cell agrees
    within 1e-6 relative (floating-point sums may differ in the last bits
    between the two engines). `corrupt` names operations whose expected
    result is deliberately altered, to show that a wrong expectation is
    reported as a failed operation.
    """

    def __init__(self, corrupt: frozenset[str] = frozenset()):
        self.corrupt = corrupt
        self.failures: list[str] = []

    def _expectation(self, name: str, cols, rows):
        cols, rows = normalize(list(cols), rows)
        if name in self.corrupt:
            rows = rows[:-1] + [("corrupted",) * len(cols)]
        return cols, rows

    def rows(self, name: str, got_cols, got_rows, exp_cols, exp_rows) -> bool:
        gc, gr = normalize(list(got_cols), got_rows)
        ec, er = self._expectation(name, exp_cols, exp_rows)
        if gc != ec:
            return self._fail(name, f"columns {gc} != {ec}")
        if len(gr) != len(er):
            return self._fail(name, f"{len(gr)} rows != {len(er)} expected")
        if digest(gc, gr) == digest(ec, er):
            return True
        for i, (a, b) in enumerate(zip(gr, er)):
            if not _close(a, b):
                return self._fail(name, f"row {i}: {a} != {b}")
        return True

    def subset(self, name: str, got_cols, got_rows, exp_cols, exp_rows,
               n: int) -> bool:
        """`n` rows, every one of them in the expected result (a LIMIT
        without ORDER BY may return any such rows)."""
        gc, gr = normalize(list(got_cols), got_rows)
        ec, er = self._expectation(name, exp_cols, exp_rows)
        if gc != ec:
            return self._fail(name, f"columns {gc} != {ec}")
        if len(gr) != min(n, len(er)):
            return self._fail(name, f"{len(gr)} rows, expected "
                                    f"{min(n, len(er))}")
        have = set(er)
        for r in gr:
            if r not in have:
                return self._fail(name, f"row {r} not in the expected rows")
        return True

    def count(self, name: str, got: int, expected: int) -> bool:
        if name in self.corrupt:
            expected += 1
        if got != expected:
            return self._fail(name, f"{got} rows != {expected} expected")
        return True

    def error(self, name: str, exc: BaseException) -> bool:
        return self._fail(name, f"{type(exc).__name__}: {str(exc)[:300]}")

    def _fail(self, name: str, why: str) -> bool:
        self.failures.append(f"{name}: {why}")
        print(f"perfbench: FAILED {name}: {why}", file=sys.stderr)
        return False


class Deadline:
    def __init__(self, seconds: float):
        self.end = time.perf_counter() + seconds

    def passed(self) -> bool:
        return time.perf_counter() >= self.end
