"""In-memory span tracer and the layer instrumentation of the traced run.

A span records its name, start, end, parent and run id; counts are
recorded at the same boundaries. Spans stay in memory and are written
out once, when the run ends.

``Instrumentation`` wraps the public stage functions of each layer, at the
module attribute their caller looks them up through, so the program
itself is untouched. A wrapped stage that returns a lazy DataFrame is
forced (``localCheckpoint``) inside its span: the span then covers the
stage's own work, and downstream stages read the checkpoint instead of
recomputing it. Each wrapped call also tags its Spark jobs with a job
group named after the span id, which the event-log reader uses to
attribute jobs to spans.
"""

from __future__ import annotations

import functools
import importlib
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    counts: dict = field(default_factory=dict)


class Tracer:
    """Collects spans from any thread. A span opened on a thread with no
    open span (a pool thread inside ``materialize_graph``) gets as parent
    the innermost span open on the thread that opened the root span."""

    def __init__(self, run_id: str, sc=None):
        self.run_id = run_id
        self.sc = sc
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root_stack: list[int] = []

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, span_id: int | None) -> None:
        if self.sc is None:
            return
        if span_id is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span_id}", self.spans[span_id].name)

    def _current(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        return self._root_stack[-1] if self._root_stack else None

    @contextmanager
    def span(self, name: str, root: bool = False):
        stack = self._stack()
        parent = self._current(stack)
        with self._lock:
            s = Span(
                id=len(self.spans), name=name, start=time.time(), parent=parent,
                run_id=self.run_id,
            )
            self.spans.append(s)
        stack.append(s.id)
        if root:
            self._root_stack = stack
        self._set_group(s.id)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def count(self, name: str, value: float) -> None:
        sid = self._current(self._stack())
        with self._lock:
            self.counts[name] = self.counts.get(name, 0) + value
            if sid is not None:
                c = self.spans[sid].counts
                c[name] = c.get(name, 0) + value

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the part of it its children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.id, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.id] = max(0.0, (s.end - s.start) - covered)
        return out

    def to_json(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "start": s.start, "end": s.end,
                "parent": s.parent, "run_id": s.run_id, "counts": s.counts,
            }
            for s in self.spans
        ]


def _is_df(x) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(x, DataFrame)


def _force(df):
    return df.localCheckpoint(eager=True)


def _out(args, out):
    return out


def _text_spans(args, out):
    from graphiti_spark.operators.extract import text_spans

    return text_spans(args[0])


def _invalidated(args, out):
    return out.where("invalid_at is not null")


def _count(tracer: Tracer, counts, args, out) -> None:
    """Record each (name, select) count: ``select(args, result)`` gives a
    number or a DataFrame to count. Counting runs in a 'trace.count'
    span, so its Spark jobs are not charged to the layer."""
    for name, select in counts:
        with tracer.span("trace.count"):
            v = select(args, out)
            tracer.count(name, v.count() if _is_df(v) else v)


# (module, attribute, span name, force the DataFrame result?, counts)
STAGES = [
    ("graphiti_spark.pipeline", "extract_triples", "extract.triples", True,
     [("extract.spans_in", _text_spans), ("extract.triples_out", _out)]),
    ("graphiti_spark.pipeline", "extract_mentions", "extract.mentions", True, []),
    ("graphiti_spark.pipeline", "distinct_entities", "resolve.distinct", True,
     [("resolve.names_in", _out)]),
    ("graphiti_spark.operators.resolve", "lsh_candidate_pairs", "resolve.lsh", True,
     [("resolve.candidate_pairs", _out)]),
    ("graphiti_spark.pipeline", "duplicate_pairs", "resolve.score", True,
     [("resolve.pairs_accepted", _out)]),
    ("graphiti_spark.pipeline", "connected_components", "resolve.components", True, []),
    ("graphiti_spark.pipeline", "build_uuid_map", "resolve.uuid_map", True,
     [("resolve.names_merged", lambda a, r: r.where("uuid != canonical_uuid"))]),
    ("graphiti_spark.pipeline", "resolve_pointers", "resolve.pointers", True, []),
    ("graphiti_spark.pipeline", "dedupe_edges", "dedupe.edges", True,
     [("dedupe.rows_in", lambda a, r: a[0]), ("dedupe.edges_out", _out)]),
    ("graphiti_spark.pipeline", "resolve_bitemporal", "temporal.bitemporal", True,
     [("temporal.edges_invalidated", _invalidated)]),
    # merge_edges re-rectifies the touched edge partitions on every
    # incremental add through its own binding
    ("graphiti_spark.materialize", "resolve_bitemporal", "temporal.bitemporal", True,
     [("temporal.edges_invalidated", _invalidated)]),
    ("graphiti_spark.operators.ontology", "enrich_nodes", "nodes.enrich", True, []),
    ("graphiti_spark.operators.ontology", "enrich_nodes_with_stats", "nodes.enrich_stats",
     True, []),
    ("graphiti_spark.operators.incremental", "incremental_resolve", "incremental.resolve",
     False,
     [("incremental.vertices_resolved", lambda a, r: r["metrics"]["n_vertices_resolved"]),
      ("incremental.neighborhood_rows", lambda a, r: r["metrics"]["n_neighborhood"])]),
    ("graphiti_spark.operators.incremental", "entity_band_rows", "incremental.band_rows",
     False, []),
    ("graphiti_spark.materialize", "merge_edges", "materialize.merge_edges", False, []),
    ("graphiti_spark.materialize", "merge_mentions", "materialize.merge_mentions", False,
     []),
    ("graphiti_spark.materialize", "_merge_uuid_map", "materialize.merge_uuid_map", False,
     []),
    ("graphiti_spark.materialize", "_merge_nodes", "materialize.merge_nodes", False, []),
    ("graphiti_spark.materialize", "_update_node_stats", "materialize.node_stats", False,
     []),
    ("graphiti_spark.search_api", "fulltext_search", "search.bm25", True, []),
    ("graphiti_spark.search_api", "similarity_search", "search.cosine", True, []),
    ("graphiti_spark.search_api", "bfs_neighborhood", "search.bfs", True, []),
    ("graphiti_spark.search_api", "rrf", "search.rerank.rrf", True, []),
    ("graphiti_spark.search_api", "node_distance_rerank", "search.rerank.node_distance",
     True, []),
    ("graphiti_spark.search_api", "episode_mentions_rerank",
     "search.rerank.episode_mentions", True, []),
    ("graphiti_spark.search_api", "provenance_size_rerank", "search.rerank.provenance",
     True, []),
]

# (module, class, method, span name, force)
METHODS = [
    ("graphiti_spark.search_api", "TokenOverlapCrossEncoder", "score",
     "search.rerank.cross_encoder", True),
    ("graphiti_spark.operators.search", "SearchIndex", "merge", "search.index_merge", False),
    ("graphiti_spark.operators.search", "SearchIndex", "delete", "search.index_merge", False),
    ("graphiti_spark.io.tables", "TableIO", "write", "io.write", False),
    ("graphiti_spark.io.tables", "TableIO", "append", "io.append", False),
    ("graphiti_spark.io.tables", "TableIO", "merge_upsert", "io.merge_upsert", False),
    ("graphiti_spark.io.tables", "TableIO", "overwrite_partitions", "io.overwrite_partitions",
     False),
    ("graphiti_spark.io.tables", "TableIO", "record_lineage", "io.record_lineage", False),
    ("graphiti_spark.io.tables", "TableIO", "record_metric", "io.record_metric", False),
    ("graphiti_spark.io.tables", "TableIO", "fast_count", "io.fast_count", False),
]

# materialize_graph is looked up through both callers' bindings
ENTRY = [("graphiti_spark.materialize", "materialize_graph"),
         ("graphiti_spark.graphiti", "materialize_graph")]


def _wrap(tracer: Tracer, orig, name: str, force: bool, counts=()):
    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span(name):
            out = orig(*args, **kwargs)
            if force and _is_df(out):
                out = _force(out)
        _count(tracer, counts, args, out)
        return out

    return wrapper


def _wrap_run_pipeline(tracer: Tracer, orig):
    """The mentions stage is inline in run_pipeline: force it at the
    boundary where materialize_graph receives it."""

    @functools.wraps(orig)
    def wrapper(*args, **kwargs):
        with tracer.span("pipeline.run_pipeline"):
            out = orig(*args, **kwargs)
            with tracer.span("mentions.build"):
                out.mentions = _force(out.mentions)
        _count(tracer, [("mentions.rows_out", lambda a, r: r.mentions)], args, out)
        return out

    return wrapper


class Instrumentation:
    """Installs the wrappers; ``active`` toggles them per operation so a
    traced run can interleave traced and untraced operations."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.active = False
        self._saved: list[tuple[object, str, object]] = []

    def _gate(self, orig, wrapped):
        @functools.wraps(orig)
        def gate(*args, **kwargs):
            return (wrapped if self.active else orig)(*args, **kwargs)

        return gate

    def _patch(self, owner, attr, wrapped) -> None:
        orig = getattr(owner, attr)
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self._gate(orig, wrapped))

    def install(self) -> None:
        t = self.tracer
        for mod, attr, name, force, counts in STAGES:
            m = importlib.import_module(mod)
            self._patch(m, attr, _wrap(t, getattr(m, attr), name, force, counts))
        for mod, cls, meth, name, force in METHODS:
            c = getattr(importlib.import_module(mod), cls)
            self._patch(c, meth, _wrap(t, getattr(c, meth), name, force))
        m = importlib.import_module("graphiti_spark.materialize")
        self._patch(m, "run_pipeline", _wrap_run_pipeline(t, m.run_pipeline))
        for mod, attr in ENTRY:
            m = importlib.import_module(mod)
            orig = getattr(m, attr)
            self._patch(m, attr, _wrap(t, orig, "materialize.materialize_graph", False))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()
