"""Measurement from outside the program: process-tree CPU and RSS from
``/proc``, Spark's own counters attributed to each public call by
stage-id range, streaming progress from a listener, and spans.

Nothing here changes what the engine does.  A call is timed by wall
clock and by process-tree CPU in every run.  Only a traced run also
reads the status store, listens to streaming progress and walks the
lakehouse; the untraced run pays none of that, and the end-to-end
metrics come from it.
"""

from __future__ import annotations

import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")


# ----------------------------------------------------------------------
# process tree


def _proc_stats() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, utime+stime+cutime+cstime seconds)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces and parens: split after the last ')'
        rest = raw[raw.rindex(b")") + 2 :].split()
        ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
        out[int(name)] = (int(rest[1]), ticks / _CLK)
    return out


def _tree(stats: dict, root: int) -> list[int]:
    """``root`` and its live descendants."""
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """This process's live descendants."""
    me = os.getpid()
    return [p for p in _tree(_proc_stats(), me) if p != me]


def tree_cpu() -> float:
    """CPU seconds of this process and all its descendants, including
    each live process's reaped children (``cutime`` and ``cstime``), so
    short-lived forks such as Hadoop's per-file ``chmod`` count once
    their parent has waited for them."""
    stats = _proc_stats()
    return sum(stats[p][1] for p in _tree(stats, os.getpid()))


def tree_peak_rss() -> int:
    """Summed peak RSS (``VmHWM``) of the live process tree, in bytes.

    Peaks, not samples: a sampler would catch short-lived forks of the
    JVM (each shares the JVM's pages until it execs ``chmod``) and count
    the heap twice.  A process that already exited is not counted."""
    total = 0
    for pid in _tree(_proc_stats(), os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:  # exited meanwhile
            continue
    return total


def reset_peak_rss() -> None:
    """Reset the peak RSS (``VmHWM``) of every live process in the tree
    to its current RSS, so a later ``tree_peak_rss`` covers only what
    ran since (``/proc/PID/clear_refs``, Linux 4.0 and later)."""
    for pid in _tree(_proc_stats(), os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:  # exited meanwhile
            continue


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until every pid has exited (or is a zombie awaiting its
    reaper); processes re-parented away from us cannot be waited on."""
    deadline = time.monotonic() + timeout
    for pid in pids:
        while time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat", "rb") as f:
                    raw = f.read()
            except OSError:
                break
            if raw[raw.rindex(b")") + 2 :].split()[0] == b"Z":
                break
            time.sleep(0.05)


# ----------------------------------------------------------------------
# Spark counters by stage-id range

#: Stage counters summed per call, by metric suffix; ``stages()`` reads
#: each from the stage's ``StageData`` and converts times to seconds.
STAGE_FIELDS = (
    "task_cpu_s",
    "task_run_s",
    "gc_s",
    "tasks",
    "input_bytes",
    "shuffle_bytes",
    "output_rows",
)

#: Streaming progress durations (durationMs key -> metric suffix).
STREAM_DURATIONS = {
    "addBatch": "add_batch_s",
    "walCommit": "wal_commit_s",
    "queryPlanning": "query_planning_s",
    "latestOffset": "latest_offset_s",
}


class StageCounters:
    """Reads the driver's status store, which Spark fills with the UI
    off.  Stage ids grow monotonically, and the benchmark has one client
    thread, so the stages submitted between a call's start and end are
    exactly that call's, including those a streaming query runs on its
    own thread (a job group would miss those)."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()

    def ids(self) -> tuple[int, int]:
        """(next stage id, next job id)."""
        return self._dag.nextStageId(), self._dag.nextJobId()

    def drain(self) -> None:
        """Wait until every posted event reached the status store and
        the listeners."""
        self._bus.waitUntilEmpty(60_000)

    def stages(self, lo: int, hi: int) -> tuple[dict[str, float], int]:
        """Summed counters of stages ``[lo, hi)`` and how many of them
        the store no longer (or never) held."""
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        missing = 0
        for sid in range(lo, hi):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException
                missing += 1
                continue
            tot["task_cpu_s"] += s.executorCpuTime() / 1e9
            tot["task_run_s"] += s.executorRunTime() / 1e3
            tot["gc_s"] += s.jvmGcTime() / 1e3
            tot["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
            tot["input_bytes"] += s.inputBytes()
            tot["shuffle_bytes"] += s.shuffleReadBytes() + s.shuffleWriteBytes()
            tot["output_rows"] += s.outputRecords()
        return tot, missing


def make_progress_listener(sink: list):
    """A StreamingQueryListener appending one dict per progress event."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Progress(StreamingQueryListener):
        def onQueryStarted(self, event) -> None:
            pass

        def onQueryProgress(self, event) -> None:
            p = event.progress
            dur = p.durationMs or {}
            sink.append(
                {
                    "rows": p.numInputRows,
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                    **{k: dur.get(k, 0) / 1e3 for k in STREAM_DURATIONS},
                }
            )

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    return _Progress()


def data_files(root: str) -> tuple[int, int]:
    """(count, bytes) of data files under a lakehouse root: written
    ``part-`` files, not checksums, logs or checkpoints."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        if "checkpoints" in dirpath or "_spark_metadata" in dirpath:
            continue
        for f in files:
            if f.startswith("part-") and not f.endswith(".crc"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


# ----------------------------------------------------------------------
# calls and spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    ok: bool = True
    counters: dict = field(default_factory=dict)


#: Span names whose stages are attributed: the engine's public calls,
#: and the benchmark's own output checks (which run between calls).
LAYER_PREFIXES = ("pipeline.", "queries.")
CHECK = "check"


def is_leaf(name: str) -> bool:
    return name.startswith(LAYER_PREFIXES) or name == CHECK


class Recorder:
    """Times every unit operation; in a traced run, also records a span
    around every engine call and check, with the call's Spark counters,
    streaming progress and files written.

    ``op()`` marks a workload's unit operation and ``call()`` one span;
    they nest, and a span's parent is the innermost open one.
    """

    def __init__(self, spark, run_id: str, traced: bool, lakehouse_root: str):
        self.run_id = run_id
        self.traced = traced
        self.root = lakehouse_root
        self.spans: list[Span] = []
        self.ops: list[list] = []  # [name, seconds, ok]
        self.errors: list[str] = []
        self.op_index: int | None = None  # index the open op will get in ``ops``
        self.wall_s = 0.0
        self.cpu_s = 0.0
        self._open: list[int] = []
        self._paused = [0.0, 0.0]  # check wall and CPU inside the current op
        # traced only
        self.overhead_s = 0.0
        self.unattributed_stages = 0
        self.missing_stages = 0
        self.timed_task_cpu_s = 0.0
        if traced:
            self.counters = StageCounters(spark)
            self.progress: list[dict] = []
            self._listener = make_progress_listener(self.progress)
            spark.streams.addListener(self._listener)
            self._spark = spark
            self.counters.drain()
            self.first_stage = self.counters.ids()[0]

    def close(self) -> None:
        """Traced: detach the listener and account for every stage the
        timed section ran: each belongs to exactly one layer or check
        span, or counts as unattributed."""
        if not self.traced:
            return
        self.counters.drain()
        self._spark.streams.removeListener(self._listener)
        hi = self.counters.ids()[0]
        covered = set()
        checks = set()
        for s in self.spans:
            if s.counters and is_leaf(s.name):
                ids = range(s.counters["stage_lo"], s.counters["stage_hi"])
                (checks if s.name == CHECK else covered).update(ids)
        self.unattributed_stages = hi - self.first_stage - len(covered | checks)
        timed = [sid for sid in range(self.first_stage, hi) if sid not in checks]
        self.timed_task_cpu_s = sum(
            self.counters.stages(sid, sid + 1)[0]["task_cpu_s"] for sid in timed
        )

    @contextmanager
    def op(self, name: str):
        """One unit operation: its wall time is a latency sample, and its
        wall and tree CPU add to the timed section.  Check spans inside
        it are paused out of both.  A raising operation is recorded as
        failed, with its error, and does not propagate."""
        self._paused = [0.0, 0.0]
        self.op_index = len(self.ops)
        cpu0 = tree_cpu()
        t0 = time.perf_counter()
        ok = True
        try:
            with self.call(name):
                yield
        except Exception as exc:  # a failing op is measured, not fatal
            ok = False
            self.errors.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        finally:
            dt = time.perf_counter() - t0 - self._paused[0]
            self.cpu_s += tree_cpu() - cpu0 - self._paused[1]
            self.wall_s += dt
            self.ops.append([name, dt, ok])
            self.op_index = None

    def fail(self, index: int, error: str) -> None:
        """Mark an operation failed by a check made after the timed
        section."""
        self.ops[index][2] = False
        self.errors.append(f"{self.ops[index][0]}: {error}")

    @contextmanager
    def call(self, name: str):
        """One span; in a traced run it carries the call's counters."""
        parent = self._open[-1] if self._open else None
        span = Span(name, time.perf_counter(), parent=parent, run_id=self.run_id)
        self.spans.append(span)
        self._open.append(len(self.spans) - 1)
        check = name == CHECK
        if check:
            cpu0 = tree_cpu()
        counted = self.traced and is_leaf(name)
        before = self._before() if counted else None
        try:
            yield span
        except Exception:
            span.ok = False
            raise
        finally:
            if counted:
                self._after(span, before)
            span.end = time.perf_counter()
            self._open.pop()
            if check:
                self._paused[0] += span.end - span.start
                self._paused[1] += tree_cpu() - cpu0

    # ---------------------------------------------------------- traced
    def _before(self) -> dict:
        t = time.perf_counter()
        sid, jid = self.counters.ids()
        b = {
            "sid": sid,
            "jid": jid,
            "cpu": tree_cpu(),
            "files": data_files(self.root),
            "progress": len(self.progress),
        }
        self.overhead_s += time.perf_counter() - t
        return b

    def _after(self, span: Span, b: dict) -> None:
        t = time.perf_counter()
        cpu = tree_cpu() - b["cpu"]
        self.counters.drain()
        sid, jid = self.counters.ids()
        stages, missing = self.counters.stages(b["sid"], sid)
        self.missing_stages += missing
        files, size = data_files(self.root)
        prog = self.progress[b["progress"] :]
        span.counters = {
            "stage_lo": b["sid"],
            "stage_hi": sid,
            "jobs": jid - b["jid"],
            "proc_cpu_s": cpu,
            "files_written": files - b["files"][0],
            "bytes_written": size - b["files"][1],
            "batches": sum(1 for p in prog if p["rows"] > 0),
            "state_rows": max((p["state_rows"] for p in prog), default=0),
            **stages,
            **{
                suffix: sum(p[k] for p in prog)
                for k, suffix in STREAM_DURATIONS.items()
            },
        }
        self.overhead_s += time.perf_counter() - t
