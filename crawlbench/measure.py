"""Outside-in measurement: process-tree sampling, Spark counters and
runtime spans around the program's public calls.

Nothing here edits the program. :class:`Tracer` swaps a handful of
public functions and methods for wrappers while a traced round runs;
each wrapper records a span (name, parent, start, end) carrying the
Spark job, task and shuffle-byte counts the call caused, taken as
before/after differences of the application's status store. The counts
come from the store's totals, not from job groups, so they stay right
if the program labels its own jobs later.
"""

from __future__ import annotations

import functools
import inspect
import os
import time

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---- /proc of this process tree ---------------------------------------------

def descendants(pid: int) -> list[int]:
    """All live descendants of ``pid`` (children are listed per thread)."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    kids = [int(x) for x in f.read().split()]
            except FileNotFoundError:
                continue
            out.extend(kids)
            todo.extend(kids)
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids`` and of their reaped children."""
    ticks = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:
            continue
        # after the command: state=0 … utime=11 stime=12 cutime=13 cstime=14
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK


def vmhwm_mb(pids: list[int]) -> float:
    """Summed peak resident set (VmHWM) of ``pids``, in MB."""
    kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except FileNotFoundError:
            continue
    return kb / 1024.0


# ---- Spark counters ---------------------------------------------------------

class SparkCounters:
    """Application totals from the live status store (reachable with the
    UI off). In local mode one executor runs every task, so its summary
    holds the task and shuffle totals."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def snapshot(self) -> dict[str, int]:
        # the store is fed by the listener bus; drain it so every job
        # that has returned to the caller is counted
        self._sc.listenerBus().waitUntilEmpty()
        ex = self._store.executorSummary("driver")
        return {"jobs": int(self._store.jobsList(None).size()),
                "tasks": int(ex.totalTasks()),
                "shuffle_write_bytes": int(ex.totalShuffleWrite()),
                "shuffle_read_bytes": int(ex.totalShuffleRead())}


def diff(after: dict[str, int], before: dict[str, int]) -> dict[str, int]:
    return {k: after[k] - before[k] for k in after}


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except FileNotFoundError:
                pass
    return total


# ---- spans ------------------------------------------------------------------

class Tracer:
    """Spans around the program's stage boundaries, kept in memory.

    ``install()`` wraps the public calls; ``finish()`` counts the rows
    of the frames the cuts returned (after the job, so the extra count
    jobs stay outside every span) and restores the originals.
    """

    def __init__(self, spark) -> None:
        self.counters = SparkCounters(spark)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._frames: list[tuple[dict, object]] = []
        self._patched: list[tuple[object, str, object]] = []

    def _span(self, name: str, fn, args, kwargs) -> tuple[object, dict]:
        """Call ``fn`` inside a new span; return its result and the span."""
        rec = {"name": name,
               "parent": self._stack[-1] if self._stack else None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        before = self.counters.snapshot()
        t0 = time.perf_counter()
        try:
            out = fn(*args, **kwargs)
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            rec.update(diff(self.counters.snapshot(), before))
            self._stack.pop()
        return out, rec

    def _wrap(self, owner, attr: str, name_of, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name_of(bound arguments)``. A call the program no longer has is
        left out, and its metrics read 0."""
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        sig = inspect.signature(orig)
        tracer = self

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            args = sig.bind(*a, **kw).arguments
            out, rec = tracer._span(name_of(args), orig, a, kw)
            if after is not None:
                after(rec, out, args)
            return out

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapped)

    def install(self) -> None:
        from doppel_spark import checkpoint, report
        from doppel_spark.functions import splits
        from doppel_spark.operators import components, neardup, stage

        def keep_frame(rec, out, args):
            self._frames.append((rec, out))

        def ckpt_stats(rec, out, args):
            store, name = args["self"], args.get("stage")
            try:  # the manifest layout is the store's own business
                rec["rows"] = int(store.manifest(name)["rows"])
                rec["bytes"] = dir_bytes(store._dir(name))
            except (AttributeError, KeyError, OSError):
                pass

        def named(prefix, param="name"):
            return lambda args: f"{prefix}.{args.get(param)}"

        self._wrap(stage.StageMaterializer, "cut", named("stage"), keep_frame)
        self._wrap(stage.StageMaterializer, "cut_iter", named("cut_iter"))
        # the pipeline module imported these names at its own import time
        for mod in (components, neardup):
            self._wrap(mod, "connected_components", lambda args: "cc")
        self._wrap(neardup, "verify_pairs", lambda args: "lsh.verify",
                   keep_frame)
        self._wrap(checkpoint.CheckpointStore, "run",
                   named("checkpoint", "stage"), ckpt_stats)
        self._wrap(report, "build_report", lambda args: "report.build_report")
        self._wrap(report, "write_tables", lambda args: "report.write_tables")
        self._wrap(splits, "write_training_shards",
                   lambda args: "splits.write_training_shards")

    def finish(self) -> list[dict]:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()
        for rec, frame in self._frames:
            rec["rows"] = int(frame.count())
        self._frames.clear()
        return self.spans
