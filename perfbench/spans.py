"""Spans and counters recorded from outside the engine.

`Tracer` wraps public functions of the engine's layers (table methods,
the transaction log, the file IO, fastwrite, pruning, maintenance), the
py4j send boundary and Spark's status store, without editing engine
source. Every wrapped call made while an op's timed window is open
(`active`) becomes a span (name, start, end, parent span, op id); calls
the benchmark makes itself, to prepare or check an op, are not recorded.
The parent comes from a context-variable stack, so nested layers
attribute time to each other. Spark jobs of an op become child
spans from the status store's submission and completion times. Spans
stay in memory until `write` dumps them as JSON.
"""

from __future__ import annotations

import contextlib
import contextvars
import functools
import itertools
import json
import time
from collections import Counter

_parent: contextvars.ContextVar[int | None] = contextvars.ContextVar("perfbench_span", default=None)

STAGE_FIELDS = {
    "input_bytes": "inputBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "executor_run_ms": "executorRunTime",
}


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self.counts: Counter = Counter()
        self.op: str | None = None
        self.active = False  # True only inside an op's timed window
        self.py4j_calls = 0
        self._ids = itertools.count(1)
        self._patches: list[tuple] = []
        self._next_job = 0

    # ---- spans -------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        sid, parent = next(self._ids), _parent.get()
        token = _parent.set(sid)
        start = time.time()
        try:
            yield sid
        finally:
            end = time.time()
            _parent.reset(token)
            self.spans.append(
                {"id": sid, "name": name, "start": start, "end": end, "parent": parent, "op": self.op}
            )

    @contextlib.contextmanager
    def window(self):
        """An op's timed window: an `op` span, with recording on."""
        with self.span("op") as sid:
            self.active = True
            try:
                yield sid
            finally:
                self.active = False

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace `owner.attr` by a wrapper that records a span named
        `name`; `after(args, result)` may record counters from the call.
        Outside an op's timed window the wrapper just calls through."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return orig(*args, **kwargs)
            with tracer.span(name):
                result = orig(*args, **kwargs)
            if after is not None:
                after(args, result)
            return result

        self._patch(owner, attr, wrapper)

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, attr in vars(owner), vars(owner).get(attr)))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, had, old in reversed(self._patches):
            if had:
                setattr(owner, attr, old)
            else:
                delattr(owner, attr)
        self._patches.clear()

    # ---- py4j --------------------------------------------------------

    def count_py4j(self) -> None:
        """Count driver->JVM commands sent inside op windows. Memory-release
        commands are left out: Python's garbage collector sends them at
        times of its own, and without them the count repeats exactly from
        run to run."""
        from py4j import clientserver, java_gateway, protocol

        skip = protocol.MEMORY_COMMAND_NAME
        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, *rest, _orig=orig):
                if tracer.active and not command.startswith(skip):
                    tracer.py4j_calls += 1
                return _orig(conn, command, *rest)

            self._patch(cls, "send_command", send_command)

    # ---- Spark status store --------------------------------------------

    def sync_jobs(self) -> None:
        """Skip every Spark job started so far, so that the next
        `spark_jobs` call sees only jobs started after this point. Called
        right before each op's timed window, so the jobs of the previous
        op's output check are not billed to the next op."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        ids = self.spark.sparkContext.statusTracker().getJobIdsForGroup(None)
        self._next_job = max(ids, default=-1) + 1

    def spark_jobs(self, op_span: int) -> tuple[Counter, list]:
        """(counters, job intervals) for the Spark jobs started since the
        last `sync_jobs`, read from the status store. Job ids are sequential
        and the benchmark is the only client, so these are exactly the
        op's jobs, including those started from the engine's own thread
        pools, which a job group would miss. Each job is also recorded as
        a `spark.job` span under the deepest span of this op that was
        open when it started."""
        from py4j.protocol import Py4JJavaError

        jsc = self.spark.sparkContext._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        out = Counter()
        intervals = []
        stages = set()
        mine = [s for s in self.spans if s["op"] == self.op]
        while True:
            try:
                job = store.job(self._next_job)
            except Py4JJavaError:
                break
            self._next_job += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                start, end = sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0
                intervals.append((start, end))
                holders = [s for s in mine if s["start"] <= start <= s["end"]]
                parent = max(holders, key=lambda s: s["start"])["id"] if holders else op_span
                self.spans.append({"id": next(self._ids), "name": "spark.job", "start": start,
                                   "end": end, "parent": parent, "op": self.op})
            out["jobs"] += 1
            ids = job.stageIds()
            stages.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stages):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            for key, field in STAGE_FIELDS.items():
                out[key] += getattr(st, field)()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        out["job_busy_ms"] = 1000.0 * covered(intervals)
        return out, intervals

    def jvm_gc_ms(self) -> int:
        """Total collection time of every JVM garbage collector. In local
        mode the driver JVM also runs every task."""
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size()))

    # ---- reports -------------------------------------------------------

    def layer_ms(self, key=lambda name: name) -> tuple[dict, dict]:
        """(inclusive ms, self ms) per group of spans, `key(name)` naming
        the group (the span name by default). Inclusive time counts only
        spans with no ancestor in the same group; self time subtracts the
        part of a span covered by its children."""
        by_id = {s["id"]: s for s in self.spans}
        children: dict[int, list] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        incl, own = Counter(), Counter()
        for s in self.spans:
            p, nested = s["parent"], False
            while p is not None and p in by_id:
                if key(by_id[p]["name"]) == key(s["name"]):
                    nested = True
                    break
                p = by_id[p]["parent"]
            dur = s["end"] - s["start"]
            if not nested:
                incl[key(s["name"])] += 1000.0 * dur
            kids = [(max(a, s["start"]), min(b, s["end"])) for a, b in children.get(s["id"], [])]
            own[key(s["name"])] += 1000.0 * (dur - covered(kids))
        return dict(incl), dict(own)

    def calls(self) -> Counter:
        return Counter(s["name"] for s in self.spans)

    def write(self, path: str, extra: dict) -> None:
        incl, own = self.layer_ms()
        with open(path, "w") as f:
            json.dump({**extra, "inclusive_ms": incl, "self_ms": own, "spans": self.spans}, f)


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of `(start, end)` intervals."""
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total
