"""Shared plumbing for the benchmark: checkout paths, the Spark session
fitted to this host, host-noise stamps, the process-tree RSS sampler and
order-independent result digests.

Nothing here starts a thread, process or session at import time."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(ROOT, ".perfbench")
CACHE = os.path.join(WORK, "cache")
TMP = os.path.join(WORK, "tmp")
OUT = os.path.join(WORK, "out")

DEFAULT_SEED = 1
MAX_CORES = 4
# fixed on every commit so two commits run the same plan shapes
SHUFFLE_PARTITIONS = 8
AQE_INITIAL_PARTITIONS = 8
DRIVER_MEMORY = "2g"


def require_program() -> None:
    """Exit non-zero (no result line) when the engine's sources are absent,
    e.g. in a directory that holds only the benchmark files."""
    if not os.path.isfile(os.path.join(ROOT, "oshdb_spark", "__init__.py")):
        print(
            f"perfbench: no oshdb_spark package under {ROOT}; run from a "
            "checkout of the repository",
            file=sys.stderr,
        )
        raise SystemExit(2)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def prepare_dirs() -> None:
    """Create the scratch tree and point every temp-file user into it, so
    the run writes only inside the checkout."""
    for d in (CACHE, TMP, OUT):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = TMP
    import tempfile

    tempfile.tempdir = TMP


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    return path


def cores() -> int:
    n = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else (
        os.cpu_count() or 1
    )
    return max(1, min(n, MAX_CORES))


def spark_conf(trace: bool, event_dir: str | None) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={TMP}",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(TMP, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            AQE_INITIAL_PARTITIONS
        ),
    }
    # SparkSession.builder keeps options across sessions: set both ways
    conf["spark.eventLog.enabled"] = "true" if trace and event_dir else "false"
    if trace and event_dir:
        conf["spark.eventLog.dir"] = "file://" + event_dir
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    return conf


def start_spark(n_cores: int, trace: bool = False, event_dir: str | None = None):
    from oshdb_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{n_cores}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=spark_conf(trace, event_dir),
    )


def shutdown_jvm() -> None:
    """Stop the active session and the py4j gateway JVM, and wait for the
    JVM (and with it every Python worker it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        s.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # noqa: BLE001 - best effort, the process wait follows
        pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def noop(df) -> None:
    """Materialize every column of ``df`` without keeping it."""
    df.write.format("noop").mode("overwrite").save()


# ---------------------------------------------------------------------------
# host noise (steal share, load, memory-bandwidth probe)
# ---------------------------------------------------------------------------


def _stat_snap():
    steal = total = 0
    try:
        with open("/proc/stat") as f:
            for line in f:
                if line.startswith("cpu") and line[3:4].isdigit():
                    v = list(map(int, line.split()[1:]))
                    steal += v[7] if len(v) > 7 else 0
                    total += sum(v)
    except OSError:
        pass
    return steal, total


def probe_ms() -> float:
    """Single-thread memory-bandwidth probe: 32 MB multiply+sum, best of 5.
    A slow reading marks a run on a contended memory bus even when the
    steal share reads zero."""
    import numpy as np

    a = np.ones(4_000_000)
    best = float("inf")
    for _ in range(5):
        t0 = time.perf_counter()
        s = float((a * 1.0000001).sum())
        best = min(best, time.perf_counter() - t0)
    if not s > 0:
        raise RuntimeError("probe produced no sum")
    return round(best * 1000, 3)


class HostMeter:
    """Stamps a measured window with the host's steal share and load."""

    def start(self) -> None:
        self._a = _stat_snap()
        self._probe0 = probe_ms()

    def stamp(self) -> dict:
        b = _stat_snap()
        dt = max(b[1] - self._a[1], 1)
        return {
            "steal": round((b[0] - self._a[0]) / dt, 5),
            "load1": round(os.getloadavg()[0], 2),
            "probe_ms_start": self._probe0,
            "probe_ms_end": probe_ms(),
        }


# ---------------------------------------------------------------------------
# peak RSS of the process tree (driver Python + JVM + Python workers)
# ---------------------------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * page
    total, todo = 0, [root_pid]
    while todo:
        p = todo.pop()
        total += rss.get(p, 0)
        todo.extend(children.get(p, ()))
    return total


class RssSampler:
    """Background sampler of the summed RSS of this process and all its
    descendants; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1024 * 1024)


# ---------------------------------------------------------------------------
# digests and small helpers
# ---------------------------------------------------------------------------


def canon(v):
    """JSON-stable form of a result value (Rows, dicts, sets, floats)."""
    if hasattr(v, "asDict"):
        v = v.asDict(recursive=True)
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, (set, frozenset)):
        return sorted((canon(x) for x in v), key=repr)
    if isinstance(v, float):
        return round(v, 6)
    if hasattr(v, "item"):  # numpy scalar
        return canon(v.item())
    return v


def digest(rows) -> str:
    """Order-independent digest of a list of rows (or of a scalar)."""
    if not isinstance(rows, list):
        rows = [rows]
    lines = sorted(json.dumps(canon(r), sort_keys=True) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]

