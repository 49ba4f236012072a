"""Shared plumbing for the benchmark workloads: the per-run work area,
the Spark session, run context, statistics, set-up timing and the
in-memory tracer.

Everything a run writes lives under ``<checkout>/.bench_work``: Spark's
local dirs, the JVM temp dir, Python's ``tempfile`` area and the
program's scratch base (``SPARK_GRAFT_SCRATCH``) all point there, so a
run touches nothing outside the checkout it was started from.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_BASE = os.path.join(ROOT, ".bench_work")
TRACE_DIR = os.path.join(WORK_BASE, "traces")

# set-ups per run: the first launches the JVM, the rest reuse it; the
# median of all is the reported setup_s, the first is session.start_s.
# With three, the median was the slower of two warm set-ups and moved
# by up to a fifth between two sets of runs.
SETUP_REPS = 5


def clock() -> float:
    return time.perf_counter()


class WorkArea:
    """Per-run scratch directory; removed by :meth:`close`."""

    def __init__(self, workload: str) -> None:
        self.path = os.path.join(WORK_BASE, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        for sub in ("tmp", "spark-local", "scratch", "warehouse"):
            os.makedirs(os.path.join(self.path, sub))
        # read by kinesumer_spark.tmpdirs.scratch_base() on every call,
        # and by Python's tempfile (here and in Spark's Python workers)
        os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(self.path, "scratch")
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def host_mem_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def jvm_heap() -> str:
    """JVM heap sized below host RAM: a quarter of it, capped at 4 GiB
    (``get_spark`` defaults to 48g, more than many hosts have)."""
    gib = max(1, min(4, host_mem_bytes() // (4 << 30)))
    return f"{gib}g"


def start_session(work: WorkArea):
    """``get_spark`` on ``local[nproc]`` with every temp path in the
    work area. Returns the session."""
    from kinesumer_spark.session import get_spark

    tmp = os.path.join(work.path, "tmp")
    return get_spark(
        app_name="kinesumer_perfbench",
        cpus=os.cpu_count() or 1,
        driver_memory=jvm_heap(),
        extra_conf={
            "spark.local.dir": os.path.join(work.path, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work.path, "warehouse"),
            # keeps get_spark's IPv4 flag; the JVM's temp files and
            # perf-data file would otherwise land in /tmp
            "spark.driver.extraJavaOptions": (
                f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp} "
                "-XX:-UsePerfData"
            ),
        },
    )


def timed_setups(setup, teardown):
    """Run ``setup(rep)`` SETUP_REPS times, tearing the previous one down
    (untimed) before the next. Returns (state of the last set-up,
    list of set-up seconds)."""
    times = []
    state = None
    for rep in range(SETUP_REPS):
        if state is not None:
            teardown(state)
        t0 = clock()
        state = setup(rep)
        times.append(clock() - t0)
    return state, times


def run_context(stage: str) -> dict:
    try:
        load = os.getloadavg()
    except OSError:
        load = None
    return {"stage": stage, "loadavg": load, "time": time.time()}


def static_context() -> dict:
    import pyspark

    from kinesumer_spark.tmpdirs import scratch_base

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=ROOT,
            capture_output=True,
            text=True,
            timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None
    return {
        "nproc": os.cpu_count(),
        "host_mem_gib": round(host_mem_bytes() / (1 << 30), 1),
        "jvm_heap": jvm_heap(),
        "scratch_base": scratch_base(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
    }


# -- statistics --------------------------------------------------------------


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100)."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    k = max(0, min(len(s) - 1, -(-len(s) * q // 100) - 1))
    return float(s[int(k)])


# -- tracing -----------------------------------------------------------------


class Tracer:
    """In-memory spans (name, start, end, parent, thread) and counters.

    Spans are recorded only around calls the benchmark makes or hands
    to the program (instance attributes replaced on objects the
    benchmark owns); nothing inside the program is modified."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counters: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def new_id(self) -> int:
        with self._lock:
            self._next += 1
            return self._next

    def add(self, name, start, end, parent=None, sid=None, **attrs) -> int:
        sid = self.new_id() if sid is None else sid
        with self._lock:
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end,
                 "parent": parent, "thread": threading.get_ident(), **attrs}
            )
        return sid

    def count(self, name: str, n: float = 1) -> None:
        with self._lock:
            self.counters[name] = self.counters.get(name, 0) + n

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (an instance attribute lookup) with a
        span-recording wrapper."""
        fn = getattr(obj, attr)

        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, wrapped)

    def write(self, path: str, context: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"context": context, "counters": self.counters, "spans": self.spans},
                f,
            )


class _Span:
    """Context manager recording one span; spans opened inside it on
    the same thread name it as parent."""

    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer = tracer
        self.name = name

    def __enter__(self):
        stack = self.tracer._local.__dict__.setdefault("stack", [])
        self.parent = stack[-1] if stack else None
        self.id = self.tracer.new_id()
        stack.append(self.id)
        self.start = clock()
        return self

    def __exit__(self, *exc) -> None:
        end = clock()
        self.tracer._local.stack.pop()
        self.tracer.add(
            self.name, self.start, end, parent=self.parent, sid=self.id,
            failed=exc[0] is not None,
        )


class ProgressListener:
    """Collects ``StreamingQueryProgress`` of every query on the session
    through a ``StreamingQueryListener``."""

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.progress: list[dict] = []
        sink = self.progress
        lock = threading.Lock()

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with lock:
                    sink.append(
                        {
                            "id": str(p.id),
                            "name": p.name,
                            "batch_id": p.batchId,
                            "timestamp": p.timestamp,
                            "rows": p.numInputRows,
                            "duration_ms": dict(p.durationMs),
                            "seen": clock(),
                        }
                    )

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def trigger_spans(progress: list[dict], tracer: Tracer) -> None:
    """One span per trigger, ending when the listener heard of it; it
    becomes the parent of the top-level spans (the engine's sink and
    commit) that started inside it."""
    triggers = []
    for p in progress:
        d = p["duration_ms"].get("triggerExecution", 0) / 1000.0
        sid = tracer.add(
            "trigger", p["seen"] - d, p["seen"], batch_id=p["batch_id"],
            query=p["name"], rows=p["rows"], wall=p["timestamp"],
            duration_ms=p["duration_ms"],
        )
        triggers.append((p["seen"] - d, p["seen"], sid))
    for span in tracer.spans:
        if span["parent"] is None and span["name"].startswith("engine."):
            span["parent"] = next(
                (sid for lo, hi, sid in triggers if lo <= span["start"] <= hi), None
            )


def trigger_metrics(progress: list[dict]) -> dict:
    """Per-trigger means from listener progress, over the triggers that
    read at least one row."""
    busy = [p for p in progress if p["rows"] > 0]

    def mean_ms(key: str) -> float:
        vals = [p["duration_ms"].get(key, 0) for p in busy]
        return float(statistics.fmean(vals)) if vals else 0.0

    return {
        "trigger.batches": float(len(busy)),
        "trigger.rows_per_batch": (
            float(statistics.fmean(p["rows"] for p in busy)) if busy else 0.0
        ),
        "trigger.total_ms": mean_ms("triggerExecution"),
        "trigger.wal_commit_ms": mean_ms("walCommit"),
        "trigger.commit_offsets_ms": mean_ms("commitOffsets"),
        "trigger.query_planning_ms": mean_ms("queryPlanning"),
        "trigger.add_batch_ms": mean_ms("addBatch"),
        "source.latest_offset_ms": mean_ms("latestOffset"),
    }


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
