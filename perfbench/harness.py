"""Process set-up, tracing and counters shared by the workloads.

Tracing lives here, in the benchmark, never inside the engine: a span is
recorded around each call the benchmark makes into one of the engine's
layers.  Counters come from Spark's public progress API (a
``StreamingQueryListener``) and from the JVM's management beans, sampled
at the same boundaries.
"""

from __future__ import annotations

import os
import shlex
import threading
import time
from contextlib import contextmanager


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    import sys

    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(root: str, work: str) -> None:
    """Point every file Spark, the JVM and Python write at ``work`` and
    make the engine importable from ``root`` in the driver AND in the
    Python workers Spark forks (``applyInPandasWithState`` imports the
    engine in a fresh worker process)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join([
        # no perf-data file, which the JVM would write under /tmp
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "--conf", f"spark.local.dir={os.path.join(work, 'spark-local')}",
        "--conf", f"spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf", "spark.ui.showConsoleProgress=false",
        "pyspark-shell",
    ])


def start_session():
    """The engine's own session factory at ``local[nproc]``."""
    from async_stream_processing_spark import get_spark

    spark = get_spark(app_name="perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it forked)
    to exit: the JVM ends when the gateway's stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process it started, transitively: the Spark JVM and the Python
    workers it forks.  A process's reaped children count through its
    ``cutime``/``cstime``.  On a shared host, CPU time is what the work
    costs; wall time adds whatever other tenants take."""
    parent: dict[int, int] = {}
    cpu: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                st = fh.read()
        except OSError:
            continue  # exited while we listed
        fields = st[st.rindex(")") + 2:].split()
        parent[int(d)] = int(fields[1])
        cpu[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of process ``pid``, from ``/proc``."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for process {pid}")


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python process plus the driver JVM."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return vm_hwm_mb(os.getpid()) + vm_hwm_mb(jvm_pid)


class JvmCounters:
    """Cumulative GC time and live heap from the JVM's management beans.

    The live heap is the heap in use right after a forced full
    collection: what the engine holds (state stores, cached and
    checkpointed blocks, session caches) and not the garbage it has made
    since the last collection, whose amount depends on when the
    collector last ran.  :meth:`sample_live` is called at the workloads'
    operation boundaries, never inside a timed operation, and keeps the
    largest value seen."""

    def __init__(self, spark):
        self._jvm = spark._jvm
        mf = self._jvm.java.lang.management.ManagementFactory
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._mem = mf.getMemoryMXBean()
        self.reset_live()

    def gc_ms(self) -> int:
        return sum(max(0, int(g.getCollectionTime())) for g in self._gcs)

    def reset_live(self) -> None:
        self.peak_live_mb = 0.0
        #: GC time the forced collections took, so it can be told apart
        #: from the engine's own
        self.forced_gc_ms = 0

    def sample_live(self) -> None:
        import gc

        gc0 = self.gc_ms()
        # Python first, so the JVM objects only dead Python proxies held
        # are released; then the JVM twice, with a pause between in which
        # Spark's cleaner thread drops the blocks, broadcasts and shuffle
        # state whose references the first collection found dead
        gc.collect()
        self._jvm.java.lang.System.gc()
        time.sleep(0.3)
        self._jvm.java.lang.System.gc()
        used = self._mem.getHeapMemoryUsage().getUsed() / 2**20
        self.peak_live_mb = max(self.peak_live_mb, used)
        self.forced_gc_ms += self.gc_ms() - gc0


class Tracer:
    """Spans (name, start, end, parent, trace id) kept in memory, each
    with the JVM's cumulative GC time read at its start and end.

    Disabled, :meth:`span` records nothing and costs one branch.  The
    layer of a span is its name up to the last ``:`` (``operators:asof_join``
    is layer ``operators``); a layer's self time is its spans' durations
    minus the time their child spans cover."""

    def __init__(self, enabled: bool, jvm: JvmCounters):
        self.enabled = enabled
        #: (name, start_ns, end_ns, parent, trace, gc_ms_start, gc_ms_end),
        #: indexed in the order the spans opened
        self.spans: list[tuple] = []
        # one open-span stack per thread: Spark runs a foreachBatch
        # callback on its own thread, and its spans nest only in its own
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_trace = 0
        self._jvm = jvm
        self.cost_ns = 0

    def clear(self) -> None:
        """Forget every span so far (set-up and warm-up)."""
        self.spans.clear()
        self.cost_ns = 0

    def new_trace(self) -> int:
        with self._lock:
            self._next_trace += 1
            return self._next_trace

    @contextmanager
    def span(self, name: str, trace_id: int = 0):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter_ns()
        stack = self._local.__dict__.setdefault("stack", [])
        gc0 = self._jvm.gc_ms()
        with self._lock:
            parent = stack[-1] if stack else -1
            if trace_id == 0 and parent >= 0:
                trace_id = self.spans[parent][4]
            idx = len(self.spans)
            self.spans.append((name, 0, 0, parent, trace_id, gc0, gc0))
        stack.append(idx)
        start = time.perf_counter_ns()
        with self._lock:
            self.cost_ns += start - c0
        try:
            yield
        finally:
            end = time.perf_counter_ns()
            stack.pop()
            span = (name, start, end, parent, trace_id, gc0, self._jvm.gc_ms())
            with self._lock:
                self.spans[idx] = span
                self.cost_ns += time.perf_counter_ns() - end

    def self_ms(self) -> dict[str, float]:
        """Self time per span name in milliseconds."""
        child_ns = [0] * len(self.spans)
        for _, s, e, parent, *_ in self.spans:
            if parent >= 0:
                child_ns[parent] += e - s
        out: dict[str, float] = {}
        for (name, s, e, *_), child in zip(self.spans, child_ns):
            out[name] = out.get(name, 0.0) + (e - s - child) / 1e6
        return out

    def durations_ms(self, name: str) -> list[float]:
        return [(e - s) / 1e6 for n, s, e, *_ in self.spans if n == name]

    def dump(self, path: str) -> None:
        import json

        keys = ("name", "start_ns", "end_ns", "parent", "trace", "gc_ms_start",
                "gc_ms_end")
        with open(path, "w") as fh:
            for idx, span in enumerate(self.spans):
                fh.write(json.dumps({"id": idx, **dict(zip(keys, span))}) + "\n")


class Run:
    """One benchmark invocation: the session, its tracer, the work
    directory and the tally of attempted and failed operations."""

    def __init__(self, spark, seed: int, seconds: float, work: str,
                 trace: bool):
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.trace = trace
        self.jvm = JvmCounters(spark)
        self.tracer = Tracer(trace, self.jvm)
        self.progress = ProgressLog(spark) if trace else None
        self.attempted = 0
        self.failed = 0
        self.report: dict[str, tuple[float, str]] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Count one correctness check; a mismatch is a failed op."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", flush=True)

    @contextmanager
    def op(self, name: str):
        """Count one measured operation; an exception fails the op and is
        reported, and the run goes on."""
        import traceback

        self.attempted += 1
        try:
            yield
        except Exception:
            self.failed += 1
            print(f"OP FAILED {name}:\n{traceback.format_exc()}", flush=True)

    def note(self, name: str, value: float, unit: str) -> None:
        """A named figure for the human-readable report."""
        self.report[name] = (value, unit)


class ProgressLog:
    """Collects every ``StreamingQueryProgress`` of the session through
    Spark's public listener API."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        log = self
        self.events: list[dict] = []
        self._lock = threading.Lock()

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                ops = p.stateOperators or []
                row = {
                    "id": str(p.id),
                    "batch": p.batchId,
                    "sources": [src.description for src in p.sources],
                    "ops": [o.operatorName for o in ops],
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs or {}),
                    "state_rows": sum(o.numRowsTotal for o in ops),
                    "state_bytes": sum(o.memoryUsedBytes for o in ops),
                    "state_commit_ms": sum(o.commitTimeMs for o in ops),
                    "late_dropped": sum(o.numRowsDroppedByWatermark for o in ops),
                }
                with log._lock:
                    log.events.append(row)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def rows(self) -> list[dict]:
        with self._lock:
            return list(self.events)
