"""Stage spans of the ER spine, recorded from outside the program.

A traced batch run hands a ``TimingStore`` to ``run_pipeline`` through its
own ``store=`` parameter, so the spans follow the real composition rather
than a copy of it.  Each stage boundary (a ``materialize`` call) opens a
span under its own Spark job group.  The stage write runs that stage's
plan, so it is credited to the stage's layer; the re-read count the store
does after the write is credited to ``checkpoint``.  The time between two
boundaries is credited to the layer of the public call that runs there:

    before ``mentions``         properties key count     -> extract
    before ``candidate_pairs``  distinct_surfaces + the
                                eager ranked-key count   -> blocking
    before ``scored_pairs``     collect_idf              -> scoring
    before ``clusters``         connected_components     -> clustering

Those calls are wrapped for the traced run only, as child spans; a
boundary that arrives out of order, or a gap whose call never ran, raises
``TraceError`` instead of mis-crediting time.

A traced stream run wraps the per-microbatch calls of
``start_incremental_er_stream``: the MinHash dedup batch (blocking), the
cluster merge (checkpoint: snapshot read, localCheckpoint, snapshot
write) and the ``connected_components`` call inside it (clustering).

Counters are read back from Spark's status store per job group, which
works with the UI disabled.
"""

from __future__ import annotations

import importlib
import time
from contextlib import ExitStack, contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

from berkeley_entity_spark.plans.checkpoint import CheckpointStore
from metrics import COUNTERS, LAYERS

# (stage table, layer credited with its write and with the gap before it)
BOUNDARIES = (
    ("mentions", "extract"),
    ("candidate_pairs", "blocking"),
    ("scored_pairs", "scoring"),
    ("clusters", "clustering"),
)
PIPELINE = "berkeley_entity_spark.plans.pipeline"
# the public call that must run in the gap before each boundary
GAP_CALLS = {
    "mentions": ("berkeley_entity_spark.operators.properties", "with_number_gender"),
    "candidate_pairs": (PIPELINE, "candidate_pairs"),
    "scored_pairs": (PIPELINE, "collect_idf"),
    "clusters": (PIPELINE, "connected_components"),
}
STREAM_CALLS = (
    ("berkeley_entity_spark.streaming.ingest", "_dedup_batch", "blocking"),
    ("berkeley_entity_spark.streaming.ingest", "_er_merge_batch", "checkpoint"),
    ("berkeley_entity_spark.operators.clustering", "connected_components", "clustering"),
)


class TraceError(RuntimeError):
    """The traced composition did not show the expected boundaries."""


@dataclass
class Span:
    name: str
    layer: str
    t0: float
    parent: "Span | None" = None
    group: str | None = None
    t1: float | None = None
    children: list["Span"] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return (self.t1 or self.t0) - self.t0

    @property
    def self_seconds(self) -> float:
        return self.seconds - sum(c.seconds for c in self.children)


class Tracer:
    """In-memory spans; a span opened with ``group=True`` runs its Spark
    jobs under a job group of its own, and closing it restores the
    enclosing span's group."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def open(self, name: str, layer: str, group: bool = True) -> Span:
        parent = self._stack[-1] if self._stack else None
        span = Span(name, layer, time.monotonic(), parent=parent)
        if group:
            span.group = f"{self.tag}-{len(self.spans)}-{layer}"
            self.sc.setJobGroup(span.group, f"{layer}: {name}")
        if parent is not None:
            parent.children.append(span)
        self.spans.append(span)
        self._stack.append(span)
        return span

    def close(self, span: Span) -> None:
        if not self._stack or self._stack[-1] is not span:
            raise TraceError(f"span {span.name!r} closed out of order")
        span.t1 = time.monotonic()
        self._stack.pop()
        for outer in reversed(self._stack):
            if outer.group is not None:
                self.sc.setJobGroup(outer.group, f"{outer.layer}: {outer.name}")
                break
        else:
            self.sc._jsc.clearJobGroup()

    @contextmanager
    def span(self, name: str, layer: str, group: bool = True):
        s = self.open(name, layer, group)
        try:
            yield s
        finally:
            self.close(s)

    def top_level_seconds(self) -> float:
        return sum(s.seconds for s in self.spans if s.parent is None)


def layer_counters(spark, spans: list[Span], cores: int, extra_groups=()) -> dict:
    """Per-layer counters: wall = self time of the layer's spans; executor
    and shuffle counters from the status store, for every job run under
    one of the spans' groups (and under ``extra_groups``, a list of
    (group, layer) pairs).  A stage listed by several jobs is counted once,
    for the first job that ran it."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # every finished job is in the store
    tracker, store = sc.statusTracker(), jsc.statusStore()
    out = {layer: dict.fromkeys(COUNTERS, 0.0) for layer in LAYERS}
    groups = []
    for s in spans:
        out[s.layer]["wall_s"] += s.self_seconds
        if s.group is not None:
            groups.append((s.group, s.layer))
    seen: set[int] = set()
    jobs = sorted(
        (jid, layer)
        for group, layer in [*groups, *extra_groups]
        for jid in tracker.getJobIdsForGroup(group)
    )
    for jid, layer in jobs:
        c = out[layer]
        c["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in sorted(info.stageIds) if info else ():
            if sid in seen:
                continue
            seen.add(sid)
            try:
                sd = store.lastStageAttempt(sid)
            except Py4JJavaError as e:  # evicted from the store
                raise TraceError(f"stage {sid} of job {jid} is not in the status store") from e
            if sd.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["exec_run_s"] += sd.executorRunTime() / 1e3
            c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["tasks_failed"] += sd.numFailedTasks()
            c["shuffle_read_bytes"] += sd.shuffleReadBytes()
            c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
    for c in out.values():
        c["slot_util"] = c["exec_run_s"] / (c["wall_s"] * cores) if c["wall_s"] > 0 else 0.0
    return out


@contextmanager
def _wrapped(module: str, attr: str, wrapper_for):
    """Swap ``module.attr`` for ``wrapper_for(original)`` while the block runs."""
    mod = importlib.import_module(module)
    original = getattr(mod, attr)
    setattr(mod, attr, wrapper_for(original))
    try:
        yield
    finally:
        setattr(mod, attr, original)


# ------------------------------------------------------------------ batch
class SpineTrace:
    """Credits a ``run_pipeline`` call to layers, boundary by boundary."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.next = 0  # index into BOUNDARIES
        self.gap: Span | None = None
        self.cur: Span | None = None
        self.calls_seen: set[str] = set()
        self.wall_s: float | None = None

    def _open_gap(self) -> None:
        name, layer = BOUNDARIES[self.next]
        self.gap = self.cur = self.tracer.open(f"gap:{name}", layer)

    def boundary_open(self, name: str) -> None:
        if self.next >= len(BOUNDARIES) or name != BOUNDARIES[self.next][0]:
            want = BOUNDARIES[self.next][0] if self.next < len(BOUNDARIES) else "no boundary"
            raise TraceError(f"stage boundary {name!r} arrived where {want!r} was expected")
        call = GAP_CALLS[name][1]
        if call not in self.calls_seen:
            raise TraceError(f"{call} did not run before stage boundary {name!r}")
        self.tracer.close(self.cur)
        self.cur = self.tracer.open(f"{name}:write", BOUNDARIES[self.next][1])

    def write_done(self, name: str) -> None:
        self.tracer.close(self.cur)
        self.cur = self.tracer.open(f"{name}:recount", "checkpoint")

    def boundary_close(self, name: str) -> None:
        self.tracer.close(self.cur)
        self.cur = None
        self.next += 1
        self.calls_seen.clear()
        if self.next < len(BOUNDARIES):
            self._open_gap()

    def _call_wrapper(self, name: str, layer: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                if self.gap is None or self.cur is not self.gap:
                    raise TraceError(f"{name} ran outside the gap it is credited to")
                with self.tracer.span(name, layer, group=False):
                    out = fn(*args, **kwargs)
                self.calls_seen.add(name)
                return out

            return traced

        return wrap

    def _run_wrapper(self, fn):
        def traced(*args, **kwargs):
            t0 = time.monotonic()
            self._open_gap()
            out = fn(*args, **kwargs)
            self.wall_s = time.monotonic() - t0
            if self.next != len(BOUNDARIES):
                missing = [b for b, _ in BOUNDARIES[self.next :]]
                raise TraceError(f"stage boundaries never seen: {missing}")
            return out

        return traced

    @contextmanager
    def run(self):
        """Trace the one run_pipeline call made inside the block."""
        with ExitStack() as stack:
            stack.enter_context(_wrapped(PIPELINE, "run_pipeline", self._run_wrapper))
            for boundary, layer in BOUNDARIES:
                module, attr = GAP_CALLS[boundary]
                stack.enter_context(_wrapped(module, attr, self._call_wrapper(attr, layer)))
            yield self
        if self.wall_s is None:
            raise TraceError("run_pipeline was not called")

    def uncovered_s(self) -> float:
        """run_pipeline wall that no top-level span covers."""
        return self.wall_s - self.tracer.top_level_seconds()

    def child_seconds(self, name: str) -> float:
        return sum(s.seconds for s in self.tracer.spans if s.name == name)


@dataclass
class TimingStore(CheckpointStore):
    """CheckpointStore that reports its boundaries to a SpineTrace."""

    trace: SpineTrace | None = None

    def materialize(self, df, name, resume=True):
        self.trace.boundary_open(name)
        out = super().materialize(df, name, resume=resume)
        self.trace.boundary_close(name)
        return out

    def load(self, spark, name):
        # save() re-reads the table it just wrote: the write is over
        if self.trace.cur is not None and self.trace.cur.name == f"{name}:write":
            self.trace.write_done(name)
        return super().load(spark, name)


# ----------------------------------------------------------------- stream
class StreamTrace:
    """Spans around the per-microbatch calls of the incremental ER stream."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.counts = {attr: 0 for _, attr, _ in STREAM_CALLS}

    def _wrapper(self, attr: str, layer: str):
        def wrap(fn):
            def traced(*args, **kwargs):
                self.counts[attr] += 1
                with self.tracer.span(attr, layer):
                    return fn(*args, **kwargs)

            return traced

        return wrap

    @contextmanager
    def run(self):
        with ExitStack() as stack:
            for module, attr, layer in STREAM_CALLS:
                stack.enter_context(_wrapped(module, attr, self._wrapper(attr, layer)))
            yield self

    def check(self, n_batches: int) -> None:
        if any(n != n_batches for n in self.counts.values()):
            raise TraceError(
                f"expected each microbatch call once per batch ({n_batches}), saw {self.counts}"
            )
