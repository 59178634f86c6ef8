"""Spans around calls into kgp's layers, recorded from outside the program.

A traced run wraps the public functions of each pipeline layer and
``TableIO.write`` at runtime (``install``).  Each wrapper records a span
(name, start, end, parent), samples process-tree CPU at its edges, and
runs the call under a Spark job group named after the span, so the event
log's task counters can be joined back to it.  Spans stay in memory and
are turned into per-layer metrics when the run ends (``layer_metrics``).

Lazy layers are attributed to the span that consumes them, not hidden
behind extra persists:

- ``extract``, ``materialize`` and ``link.entity_map_from_edges`` return
  lazy plans.  Their work runs inside ``io.write:<table>`` when
  ``run_pipeline`` commits the table.  That span's own time (the data
  write job) is owned by the layer that produced the table (``PRODUCER``);
  the digest read-back inside it is a child span owned by ``io``.
- ``order_turns`` pins its keyed corpus with an eager localCheckpoint, so
  part of S1 runs inside the ``order`` span and the rest inside
  ``io.write:ordered``.
- ``link_candidate_edges`` is lazy too; S3 candidate generation runs
  inside the ``cc`` span's input checkpoint and counts as ``cc``.

A layer's ``wall_s`` is the time inside spans it names or owns (outermost
only); ``self_s`` is the time inside them not covered by child spans.
Every span's self time has exactly one owner, so the owners' ``self_s``
plus ``run.self_s`` (the root span's own time) add up to the traced wall
time of the run.
"""

from __future__ import annotations

import functools
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from . import eventlog, proctree

LAYERS = ("order", "extract", "link", "cc", "materialize", "io")
COUNTERS = ("wall_s", "self_s", "cpu_s", "jvm_cpu_s", "slot_util",
            "shuffle_bytes", "spill_bytes", "jobs", "rows_out")

# TableIO table -> the layer whose lazy plan its data write executes
PRODUCER = {
    "ordered": "order", "extracted": "extract", "entity_map": "link",
    "triples": "materialize", "nodes": "materialize", "edges": "materialize",
    "errors": "materialize",
}

# (module, function, layer) wrapped in a traced run
FUNCTIONS = (
    ("kgp.pipeline.order", "order_turns", "order"),
    ("kgp.pipeline.order", "validation_errors", "order"),
    ("kgp.pipeline.extract", "extract", "extract"),
    ("kgp.pipeline.link", "link_candidate_edges", "link"),
    ("kgp.pipeline.link", "entity_map_from_edges", "link"),
    ("kgp.pipeline.cc", "connected_components", "cc"),
    ("kgp.pipeline.materialize", "materialize", "materialize"),
    ("kgp.pipeline.materialize", "unmatched_surfaces", "materialize"),
)


@dataclass
class Span:
    name: str
    layer: str
    owner: str
    group: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    cpu0: float = 0.0
    cpu1: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start

    @property
    def cpu(self) -> float:
        return self.cpu1 - self.cpu0


class Tracer:
    """In-memory span recorder.  ``sc`` is the SparkContext whose job group
    each span sets; None records spans without job groups (tests)."""

    def __init__(self, sc=None, cpu=proctree.cpu_seconds, clock=time.perf_counter):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._cpu = cpu
        self._clock = clock

    @contextmanager
    def span(self, name: str, layer: str, owner: str | None = None):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(name, layer, owner or layer, f"{name}#{idx}", parent)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        prev = self.sc.getLocalProperty(eventlog.GROUP_KEY) if self.sc else None
        if self.sc:
            self.sc.setJobGroup(s.group, name)
        self._stack.append(idx)
        s.cpu0 = self._cpu()
        s.start = self._clock()
        try:
            yield s
        finally:
            s.end = self._clock()
            s.cpu1 = self._cpu()
            self._stack.pop()
            if self.sc:
                self.sc.setLocalProperty(eventlog.GROUP_KEY, prev)


def self_time(spans: list[Span], i: int) -> tuple[float, float]:
    """(wall, cpu) of span ``i`` not covered by its child spans."""
    s = spans[i]
    return (s.dur - sum(spans[c].dur for c in s.children),
            s.cpu - sum(spans[c].cpu for c in s.children))


def _wrap(tracer: Tracer, fn, name_of, layer: str, owner_of):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name_of(args, kwargs), layer, owner_of(args, kwargs)):
            return fn(*args, **kwargs)
    return traced


def _table_name(args, kwargs) -> str:
    return kwargs["name"] if "name" in kwargs else args[2]


def install(tracer: Tracer):
    """Wrap every layer function at every module-level reference to it
    (``kgp.pipeline.run`` and the package ``__init__`` import them by
    name), plus ``TableIO.write`` and the manifest digest.  Returns a
    callable that undoes all patches."""
    import kgp.io
    import kgp.pipeline  # noqa: F401 — loads every layer module

    undo = []

    def patch_everywhere(orig, wrapper):
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("kgp"):
                continue
            for attr, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, attr, wrapper)
                    undo.append((mod, attr, orig))

    for module, fn_name, layer in FUNCTIONS:
        orig = getattr(sys.modules[module], fn_name)
        patch_everywhere(orig, _wrap(tracer, orig, lambda a, k, n=fn_name: n,
                                     layer, lambda a, k, layer=layer: layer))

    write = kgp.io.TableIO.write
    kgp.io.TableIO.write = _wrap(
        tracer, write, lambda a, k: f"io.write:{_table_name(a, k)}", "io",
        lambda a, k: PRODUCER.get(_table_name(a, k), "io"))
    undo.append((kgp.io.TableIO, "write", write))
    patch_everywhere(kgp.io._digest, _wrap(tracer, kgp.io._digest,
                                           lambda a, k: "io.digest", "io",
                                           lambda a, k: "io"))

    def restore():
        for obj, attr, orig in reversed(undo):
            setattr(obj, attr, orig)
    return restore


def _outermost(spans: list[Span], i: int, member) -> bool:
    p = spans[i].parent
    while p is not None:
        if member(spans[p]):
            return False
        p = spans[p].parent
    return True


def layer_metrics(spans: list[Span], groups: dict[str, eventlog.Counters],
                  slots: int) -> dict[str, float]:
    """``<layer>.<counter>`` for every layer in LAYERS, plus the io and
    materialize extras and ``run.self_s`` (self time of root spans named
    ``run``).  Counters from the event log are those of the job groups of
    the spans a layer owns, so each job counts once."""
    out: dict[str, float] = {}
    selfs = [self_time(spans, i) for i in range(len(spans))]
    for layer in LAYERS:
        def member(s, layer=layer):
            return s.layer == layer or s.owner == layer
        c = eventlog.Counters()
        self_s = cpu_s = 0.0
        for i, s in enumerate(spans):
            if s.owner == layer:
                self_s += selfs[i][0]
                cpu_s += selfs[i][1]
                c.add(groups.get(s.group, eventlog.Counters()))
        wall_s = sum(s.dur for i, s in enumerate(spans)
                     if member(s) and _outermost(spans, i, member))
        out.update({
            f"{layer}.wall_s": wall_s,
            f"{layer}.self_s": self_s,
            f"{layer}.cpu_s": cpu_s,
            f"{layer}.jvm_cpu_s": c.cpu_ns / 1e9,
            f"{layer}.slot_util": (c.run_ms / 1e3) / (wall_s * slots) if wall_s else 0.0,
            f"{layer}.shuffle_bytes": c.shuffle_bytes,
            f"{layer}.spill_bytes": c.spill_bytes,
            f"{layer}.jobs": c.jobs,
            f"{layer}.rows_out": c.records_out,
        })
    out["io.digest_s"] = sum(s.dur for s in spans if s.name == "io.digest")
    out["io.bytes_written"] = sum(groups.get(s.group, eventlog.Counters()).bytes_out
                                  for s in spans if s.name.startswith("io.write:"))
    skew = [eventlog.task_skew(groups[s.group]) for s in spans
            if s.name == "io.write:edges" and s.group in groups]
    out["materialize.task_skew"] = max(skew) if skew else 0.0
    out["run.self_s"] = sum(selfs[i][0] for i, s in enumerate(spans)
                            if s.name == "run" and s.parent is None)
    return out
