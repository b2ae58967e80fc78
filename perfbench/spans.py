"""Spans around the program's layers, JIT/GC sampling and an RSS sampler.

Spans are recorded from the benchmark's own files: ``instrument`` wraps the
public calls ``pipeline.run`` makes into each stage (and the streaming
sink's ``Catalog.replace_by_scope``) for the traced run only. Each span sets
the Spark job group to its name, so the event log's task metrics group by
span (``evlog.summarize``). A span's wall is its self time: its duration
minus the part covered by child spans. Spans stay in memory until the run
ends.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# span name of each traced call inside pipeline.run
RUN_SPAN = "pipeline.self"
STAGE_SPANS = (
    "stage.mentions",
    "stage.vectors",
    "stage.canon",
    "stage.gate",
    "stage.edges",
    "stage.graph",
    "stage.vertices",
    RUN_SPAN,
)
SCOPE_SPAN = "storage.replace_by_scope"
# spans whose calls only build query plans: their jobs run later, inside
# pipeline.self's checkpoint, so only their wall time is theirs
LAZY_SPANS = ("stage.canon",)
# the spans a measured window runs (a zero-pending resume skips the
# mentions, vectors, edges and graph stages; the cold build runs them all)
WINDOW_SPANS = (
    "stage.canon",
    "stage.gate",
    "stage.vertices",
    RUN_SPAN,
    SCOPE_SPAN,
)
_MERGE_SPAN = {
    "mentions_linked": "stage.mentions",
    "turn_vectors": "stage.vectors",
    "edges": "stage.edges",
    "lineage": "stage.gate",
}
_OVERWRITE_SPAN = {"vertices": "stage.vertices"}


class Tracer:
    """Per-thread span stacks; totals per span name.

    Disabled tracers cost one attribute check per wrapped call, and
    ``instrument`` is only applied to traced runs."""

    def __init__(self, spark, enabled: bool = True):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.totals: dict[str, dict] = defaultdict(
            lambda: {"calls": 0, "wall_s": 0.0, "jit_ms": 0.0}
        )
        self._local = threading.local()
        self._lock = threading.Lock()
        mf = spark._jvm.java.lang.management.ManagementFactory
        self._comp = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())

    def jit_ms(self) -> float:
        return float(self._comp.getTotalCompilationTime())

    def gc_ms(self) -> float:
        return float(sum(b.getCollectionTime() for b in self._gcs))

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def inside(self, name: str) -> bool:
        return any(f[0] == name for f in self._stack())

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        if not self.enabled or (stack and stack[-1][0] == name):
            yield
            return
        frame = [name, time.perf_counter(), self.jit_ms(), 0.0, 0.0]
        stack.append(frame)
        self.sc.setJobGroup(name, name)
        try:
            yield
        finally:
            wall = time.perf_counter() - frame[1]
            jit = self.jit_ms() - frame[2]
            stack.pop()
            if stack:
                stack[-1][3] += wall
                stack[-1][4] += jit
                self.sc.setJobGroup(stack[-1][0], stack[-1][0])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            with self._lock:
                t = self.totals[name]
                t["calls"] += 1
                t["wall_s"] += wall - frame[3]
                t["jit_ms"] += jit - frame[4]

    def snapshot(self) -> dict[str, dict]:
        with self._lock:
            return {k: dict(v) for k, v in self.totals.items()}


def _wrap(tracer: Tracer, fn, span_of, within: str | None):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        name = span_of(*args, **kwargs)
        if name is None or (within and not tracer.inside(within)):
            return fn(*args, **kwargs)
        with tracer.span(name):
            return fn(*args, **kwargs)

    wrapper.__wrapped_by_perfbench__ = fn
    return wrapper


def instrument(tracer: Tracer) -> None:
    """Wrap the layer calls of pipeline.run and the streaming sink merge.

    Stage spans count only inside a ``pipeline.run`` span, so the same
    calls made by the streaming job or an output check stay untraced."""
    from grepai_spark import cc, embed, lineage, link, pipeline, stores
    from grepai_spark.storage import Catalog

    def fixed(name):
        return lambda *a, **k: name

    def table_span(table_map):
        return lambda self, table, *a, **k: table_map.get(table)

    patches = [
        (pipeline, "run", fixed(RUN_SPAN), None),
        (lineage, "pending_buckets", fixed("stage.gate"), RUN_SPAN),
        (lineage, "mark_done", fixed("stage.gate"), RUN_SPAN),
        (embed, "embed_with_cache", fixed("stage.vectors"), RUN_SPAN),
        (link, "alias_similarity_edges", fixed("stage.canon"), RUN_SPAN),
        (link, "alias_similarity_edges_lsh", fixed("stage.canon"), RUN_SPAN),
        (cc, "canonical_map", fixed("stage.canon"), RUN_SPAN),
        (stores, "build_graph_artifacts", fixed("stage.graph"), RUN_SPAN),
        (Catalog, "merge_by_key", table_span(_MERGE_SPAN), RUN_SPAN),
        (Catalog, "overwrite", table_span(_OVERWRITE_SPAN), RUN_SPAN),
        (Catalog, "replace_by_scope", fixed(SCOPE_SPAN), None),
    ]
    for owner, attr, span_of, within in patches:
        fn = getattr(owner, attr)
        if hasattr(fn, "__wrapped_by_perfbench__"):
            continue
        setattr(owner, attr, _wrap(tracer, fn, span_of, within))


def uninstrument() -> None:
    from grepai_spark import cc, embed, lineage, link, pipeline, stores
    from grepai_spark.storage import Catalog

    for owner in (pipeline, lineage, embed, link, cc, stores, Catalog):
        for attr, fn in list(vars(owner).items()):
            orig = getattr(fn, "__wrapped_by_perfbench__", None)
            if orig is not None:
                setattr(owner, attr, orig)


# ---------------------------------------------------------------------------
# process-tree RSS
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids[ppid].append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cpu_s(pid: int) -> float:
    """User + system CPU of ``pid`` and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            stat = fh.read()
    except OSError:
        return 0.0
    f = stat[stat.rfind(")") + 2 :].split()
    return sum(int(x) for x in f[11:15]) / _CLK_TCK


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(pid: int) -> float:
    """CPU seconds used so far by ``pid`` and everything it started: the
    driver, the JVM (all its threads, JIT and GC included) and the Python
    workers. Unlike wall time it does not grow while the host runs other
    tenants' work instead of ours."""
    return _cpu_s(pid) + sum(_cpu_s(p) for p in descendants(pid))


def host_steal_s() -> float:
    """CPU seconds so far, summed over this machine's vCPUs, that the
    hypervisor gave to other guests while a vCPU wanted to run
    (``/proc/stat`` steal). It rises when the shared host is busy, so it
    shows which runs fell in a throttled window."""
    with open("/proc/stat", encoding="ascii") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def tree_rss_mb(pid: int) -> float:
    """RSS of ``pid``'s descendants: the JVM and its Python workers."""
    return sum(_rss_mb(p) for p in descendants(pid))


class RssSampler:
    """Samples the RSS of this process's descendants every ``interval``
    seconds on a daemon thread; ``stop`` joins it and returns the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(me))
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb
