"""The workloads, run in one driver process per run (the worker that
``run.py`` starts). Each workload has a set-up (input generation or a
copy of the prebuilt graph, repeated ``SETUP_REPEATS`` times) and a cycle
of operations that a single closed-loop client repeats until the
measurement window closes. Operations are timed until their results are
on the driver; correctness checks run after the window, untimed, and a
failed check fails its operation.

``hybrid_search`` queries a graph built once per checkout
(``build_fixture``), so that a run does not pay for a bootstrap write.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from graphiti_spark import corpus
from graphiti_spark import search_api as S
from graphiti_spark.graphiti import GraphitiSpark
from graphiti_spark.io.tables import TableIO
from graphiti_spark.schemas import EPISODES_SCHEMA

import checks
import resolve_corpus

# Input sizes, fixed for every seed.
RESOLVE_ENTITIES = 2000        # true base entities of the resolve corpus
# Floors under the pairwise dedup precision/recall of an entity_resolve
# ingest, below which the ingest fails its check. Over ten seeds the
# resolver scored 0.552-0.555 precision and 0.755-0.758 recall. The floors
# sit well under that, so that a broken resolver (one that merges
# everything, or nothing) fails; the bounds on the medians in
# BENCHMARK.json catch smaller moves.
DEDUP_FLOOR = (0.25, 0.60)
FIXTURE_DOCS = 100             # templated docs of the hybrid_search graph
ADD_DOCS = 20                  # docs of the traced run's incremental add
RESOLVE_QUERIES = 2            # node searches of a traced entity_resolve run
SETUP_REPEATS = 3
HOT = corpus.ENTITIES[0]


@dataclass
class Op:
    kind: str                  # "write" | "query"
    label: str                 # what the op does: "ingest", "add" or the recipe
    wall_s: float
    cycle: int
    traced: bool
    docs: int = 0
    ok: bool = True
    detail: str = ""
    check: object = None       # callable run after the window; returns (ok, detail)


@dataclass
class Result:
    ops: list[Op] = field(default_factory=list)
    quality: dict = field(default_factory=dict)
    stored_bytes: int = 0
    io_files: list[int] = field(default_factory=list)
    io_bytes: list[int] = field(default_factory=list)
    parts: list[dict] = field(default_factory=list)


def dir_files(root: str) -> dict[str, tuple[int, int]]:
    out = {}
    for dp, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(dp, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def dir_bytes(root: str) -> int:
    return sum(v[0] for v in dir_files(root).values())


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) new or changed between two snapshots."""
    changed = [p for p, v in after.items() if before.get(p) != v]
    return len(changed), sum(after[p][0] for p in changed)


def merge_parts(root: str) -> dict:
    """Latest partition-rewrite counts from the program's metrics table
    (-1 means a full write)."""
    import pyarrow.parquet as pq

    p = os.path.join(root, "metrics")
    latest: dict = {}
    for f in os.listdir(p):
        if f.endswith(".parquet"):
            for r in pq.read_table(os.path.join(p, f)).to_pylist():
                key = (r["stage"], r["metric"])
                if key not in latest or r["seq"] > latest[key][0]:
                    latest[key] = (r["seq"], r["value"])
    return {
        name: latest.get((stage, "n_parts_rewritten"), (0, 0.0))[1]
        for name, stage in (
            ("edges", "edges_merge"), ("mentions", "mentions_merge"), ("nodes", "nodes_merge")
        )
    }


def collect_results(res: S.SearchResults) -> int:
    n = 0
    for lane in (res.edges, res.nodes, res.episodes, res.communities):
        if lane is not None:
            n += len(lane.collect())
    return n


def node_distance_bfs() -> S.SearchConfig:
    """Node search with a BFS lane, reranked by graph distance to a
    center node."""
    return S.SearchConfig(
        nodes=S.LaneConfig(methods=["bm25", "cosine", "bfs"], reranker="node_distance")
    )


def templated_row(d: int) -> tuple:
    """Episode row (``EPISODES_SCHEMA`` order) of templated doc ``d``, as
    ``synth.synthesize_episodes`` makes it with one replica."""
    doc = corpus.doc_id_str(d)
    return (
        doc, f"g{d % corpus.N_GROUPS}", f"episode {doc}", "message",
        "synthetic interleaved corpus", corpus.spans_for_doc(d),
        dt.datetime.fromisoformat(corpus.BATCH_TIME),
        dt.datetime.fromisoformat(corpus.EPISODE_EPOCH) + dt.timedelta(minutes=d),
    )


def templated_docs(spark, lo: int, n: int):
    """Templated docs lo..lo+n-1, built from the corpus's pure-Python
    mirror of ``synth.synthesize_episodes``."""
    return spark.createDataFrame([templated_row(d) for d in range(lo, lo + n)],
                                 EPISODES_SCHEMA)


def build_fixture(spark, out: str) -> None:
    """The hybrid_search graph: templated docs 0..FIXTURE_DOCS-1 added to
    an empty root with search indexes, then checked (triple and dedup
    precision/recall). Writes ``out/graph`` and ``out/meta.json``; raises
    when a check fails, so that a wrong graph is never used."""
    root = os.path.join(out, "graph")
    g = GraphitiSpark(spark, root, search_indexes=True)
    t = time.perf_counter()
    g.add_episodes(templated_docs(spark, 0, FIXTURE_DOCS))
    build_s = time.perf_counter() - t
    io = TableIO(spark, root)
    p, r = checks.precision_recall(
        checks.stored_triples(io),
        checks.templated_triples([(d, 0) for d in range(FIXTURE_DOCS)]),
    )
    index = checks.uuid_map_index(io)
    dp, dr = checks.pairwise_dedup(checks.templated_truth(index), index)
    if (p, r) != (1.0, 1.0):
        raise RuntimeError(f"fixture graph: triple P/R {p:.4f}/{r:.4f}, expected 1/1")
    hot = g.nodes.where(f"name = '{HOT}'").select("group_id", "uuid").collect()
    meta = {
        "docs": FIXTURE_DOCS, "add_s": build_s, "hot_uuid": {x[0]: x[1] for x in hot},
        "triple_precision": p, "triple_recall": r,
        "dedup_precision": dp, "dedup_recall": dr,
    }
    with open(os.path.join(out, "meta.json"), "w", encoding="utf-8") as f:
        json.dump(meta, f)


class Workload:
    """Base: set-up, a cycle of timed operations, and the traced run."""

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed)
        self.result = Result()
        self.n_roots = 0
        self.tracer = None             # set by a traced run
        self.phases: dict[str, float] = {}

    def setup(self) -> None:
        """Runs ``prepare`` SETUP_REPEATS times; its median time is the
        set-up phase reported beside the session start."""
        times = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            self.prepare()
            times.append(time.perf_counter() - t)
        self.phases["prepare"] = statistics.median(times)

    def op_span(self, kind: str):
        return nullcontext() if self.tracer is None else self.tracer.span(f"op.{kind}")

    def fresh_root(self) -> str:
        self.n_roots += 1
        return os.path.join(self.work, f"graph-{self.n_roots}")

    def timed_write(self, cycle, traced, root, label, fn, docs, check) -> Op:
        before = dir_files(root) if os.path.isdir(root) else {}
        with self.op_span("write"):
            t = time.perf_counter()
            fn()
        op = Op("write", label, time.perf_counter() - t, cycle, traced, docs=docs,
                check=check)
        files, nbytes = written(before, dir_files(root))
        self.result.io_files.append(files)
        self.result.io_bytes.append(nbytes)
        self.result.parts.append(merge_parts(root))
        self.result.ops.append(op)
        self.spark.catalog.clearCache()
        return op

    def run_queries(self, cycle: int, traced: bool, plan) -> None:
        """Runs a query plan, (label, text, config, must_find, kwargs) each,
        on ``self.g``."""
        for label, text, cfg, must_find, kw in plan:
            with self.op_span("query"):
                t = time.perf_counter()
                n = collect_results(self.g.search(text, config=cfg, **kw))
            op = Op("query", label, time.perf_counter() - t, cycle, traced)
            if must_find and n == 0:
                op.ok, op.detail = False, f"no results for query {text!r}, which must find rows"
            self.result.ops.append(op)
            self.spark.catalog.clearCache()

    def traced_queries(self, inst) -> None:
        """Queries of a traced run: an untraced warm-up of a fresh plan, an
        untraced repeat, then the traced repeat. The tracing overhead
        compares the last two."""
        plan = self.query_plan()
        for span, cycle, traced in (("cycle.warmup", -1, False), ("cycle.untraced", 1, False),
                                    ("cycle.traced", 1, True)):
            inst.active = traced
            with self.tracer.span(span, root=True):
                self.run_queries(cycle, traced, plan)
        inst.active = False


class EntityResolve(Workload):
    """Seeded large-vocabulary corpus (resolve_corpus.py) bulk-ingested by
    ``GraphitiSpark.add_episodes`` (``materialize_graph``, which also
    bootstraps the entity band index for later adds) into a fresh root.

    There is no warm-up: a bulk ingest is a batch job that starts its own
    session, so the ingest pays the session's cold start, as a user's job
    does, in traced and untraced runs alike. A traced run then runs a few
    node searches for seeded entity names, to measure the tracing
    overhead."""

    name = "entity_resolve"

    def prepare(self) -> None:
        from collections import Counter

        self.corpus = resolve_corpus.generate(self.seed, RESOLVE_ENTITIES)
        self.eps = self.spark.createDataFrame(
            resolve_corpus.episode_rows(self.corpus), EPISODES_SCHEMA
        ).localCheckpoint(eager=True)
        self.expected = Counter(self.corpus.triples)

    def cycle(self, i: int, traced: bool) -> None:
        root = self.fresh_root()
        g = GraphitiSpark(self.spark, root)

        def check():
            p, r = checks.precision_recall(checks.stored_triples(g.io), self.expected)
            dp, dr = checks.pairwise_dedup(self.corpus.truth, checks.uuid_map_index(g.io))
            self.result.quality.setdefault("triple", []).append((p, r))
            self.result.quality.setdefault("dedup", []).append((dp, dr))
            self.result.stored_bytes = dir_bytes(root)
            ok = p == 1.0 and r == 1.0 and dp >= DEDUP_FLOOR[0] and dr >= DEDUP_FLOOR[1]
            return ok, (f"triple P/R {p:.4f}/{r:.4f}, dedup P/R {dp:.4f}/{dr:.4f} "
                        f"(floors {DEDUP_FLOOR[0]}/{DEDUP_FLOOR[1]})")

        self.timed_write(
            i, traced, root, "ingest", lambda: g.add_episodes(self.eps),
            len(self.corpus.docs), check,
        )
        self.g = g

    traced_write = cycle

    def query_plan(self):
        """Node searches for seeded surface forms, the last reranked by
        graph distance around the form's node with a BFS lane. A form that
        still names a node must find something; one the resolver merged
        into a node of another name need not (that merge shows in
        dedup_precision)."""
        index = checks.uuid_map_index(self.g.io)
        names = {(r[0], r[1].lower())
                 for r in self.g.nodes.select("group_id", "name").collect()}
        picks = self.rng.sample(sorted(self.corpus.truth), RESOLVE_QUERIES)
        plan = [("node_rrf", form, S.NODE_HYBRID_SEARCH_RRF(),
                 (group, form.lower()) in names, {"group_ids": [group]})
                for group, form in picks[:-1]]
        group, form = picks[-1]
        center = index[(group, form.lower())]
        plan.append(("node_distance", form, node_distance_bfs(),
                     (group, form.lower()) in names,
                     {"group_ids": [group], "center_uuid": center, "bfs_origins": [center]}))
        return plan


class HybridSearch(Workload):
    """One round of four seeded ``search`` queries, one per recipe, on a
    copy of the graph ``build_fixture`` made. A traced run first adds a
    seeded 20-doc micro-batch to the copy (an incremental
    ``add_episodes`` with index upkeep), then runs its queries."""

    name = "hybrid_search"

    def __init__(self, spark, seed: int, work: str, fixture: str):
        super().__init__(spark, seed, work)
        self.fixture = fixture

    def prepare(self) -> None:
        self.root = os.path.join(self.work, "graph")
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(os.path.join(self.fixture, "graph"), self.root)
        with open(os.path.join(self.fixture, "meta.json"), encoding="utf-8") as f:
            self.meta = json.load(f)
        self.g = GraphitiSpark(self.spark, self.root, search_indexes=True)
        q = self.result.quality
        q["triple"] = [(self.meta["triple_precision"], self.meta["triple_recall"])]
        q["dedup"] = [(self.meta["dedup_precision"], self.meta["dedup_recall"])]
        self.result.stored_bytes = dir_bytes(self.root)

    def query_plan(self):
        group = f"g{self.rng.randrange(corpus.N_GROUPS)}"
        rare = self.rng.choice(corpus.ENTITIES[7:])
        year = corpus.BASE_YEAR + self.rng.randrange(10)
        phrase = self.rng.choice(corpus.PREDICATES)[1]
        center = self.meta["hot_uuid"].get(group)
        return [
            ("edge_rrf", f"{HOT} {phrase}", S.EDGE_HYBRID_SEARCH_RRF(), True,
             {"group_ids": [group]}),
            ("node_rrf", rare, S.NODE_HYBRID_SEARCH_RRF(), False, {"group_ids": [group]}),
            ("node_distance", HOT, node_distance_bfs(), True,
             {"group_ids": [group], "center_uuid": center,
              "bfs_origins": [center] if center else None}),
            ("combined_cross_encoder", f"{rare} since {year}",
             S.COMBINED_HYBRID_SEARCH_CROSS_ENCODER(), False, {}),
        ]

    def cycle(self, i: int, traced: bool) -> None:
        self.run_queries(i, traced, self.query_plan())

    def traced_write(self, i: int, traced: bool) -> None:
        lo = FIXTURE_DOCS + (self.seed * 7919) % 400_000
        ids = [corpus.doc_id_str(d) for d in range(lo, lo + ADD_DOCS)]
        io = TableIO(self.spark, self.root)

        def check():
            p, r = checks.precision_recall(
                checks.stored_triples(io, ids),
                checks.templated_triples([(d, 0) for d in range(lo, lo + ADD_DOCS)]),
            )
            return p == 1.0 and r == 1.0, f"triple P/R {p:.4f}/{r:.4f}"

        eps = templated_docs(self.spark, lo, ADD_DOCS)
        self.timed_write(i, traced, self.root, "add", lambda: self.g.add_episodes(eps),
                         ADD_DOCS, check)


WORKLOADS = {w.name: w for w in (HybridSearch, EntityResolve)}
