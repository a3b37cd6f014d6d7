"""One benchmark run in one driver process: set up, run cycles of the
workload until the window closes, check outputs, and write the raw
results as JSON for ``run.py``. With ``--build-fixture`` it builds the
hybrid_search graph instead. Started by ``run.py``; not meant to be run
by hand.

The results file is rewritten after every operation, so a run killed
part-way (for example by the kernel's out-of-memory killer) still leaves
the operations it completed for ``run.py`` to report.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w", encoding="utf-8") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed heap size: peak memory then depends less on when the
        # collector chooses to grow the heap; no hsperfdata file in /tmp
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} "
            f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:-UsePerfData"
        ),
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def ops_json(ops) -> list[dict]:
    return [
        {"kind": o.kind, "label": o.label, "wall_s": o.wall_s, "cycle": o.cycle,
         "traced": o.traced, "docs": o.docs, "ok": o.ok, "detail": o.detail}
        for o in ops
    ]


LAYERS = ["extract", "resolve", "dedupe", "mentions", "nodes", "temporal", "materialize",
          "io", "incremental"]
SEARCH = {"bm25_s": "search.bm25", "cosine_s": "search.cosine", "bfs_s": "search.bfs",
          "rerank_s": "search.rerank", "index_merge_s": "search.index_merge"}
COUNTS = ["extract.spans_in", "extract.triples_out", "resolve.names_in",
          "resolve.candidate_pairs", "resolve.pairs_accepted", "resolve.names_merged",
          "dedupe.rows_in", "dedupe.edges_out", "mentions.rows_out",
          "temporal.edges_invalidated", "incremental.vertices_resolved",
          "incremental.neighborhood_rows"]


def layer_metrics(tracer, eventlog_dir: str, res) -> tuple[dict, list, dict]:
    """Per-layer metrics of a traced run, from its traced write and
    queries: layer self times and counts, and Spark totals and jobs per
    write and per query, less the jobs the tracer's own counts ran. The
    tracing overhead compares the traced queries with the same queries
    run untraced just before them. Also returns
    the spans, and each layer's self time as a share of the traced write's
    wall time."""
    import eventlog

    spans = tracer.to_json()
    self_t = tracer.self_times()
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[int]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s["id"])

    def under(sid):
        """sid and its descendants, without the tracer's count spans."""
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            if by_id[x]["name"] != "trace.count":
                out.append(x)
                todo.extend(children.get(x, []))
        return out

    def ops(cycle_name, kind):
        return [s for s in spans if s["name"] == f"op.{kind}" and s["parent"] is not None
                and by_id[s["parent"]]["name"] == cycle_name]

    m: dict[str, float] = {}

    def busy(prefix):
        return sum(
            self_t[s["id"]] for s in spans
            if s["name"] == prefix or s["name"].startswith(prefix + ".")
        )

    for layer in LAYERS:
        m[f"{layer}.busy_s"] = busy(layer)
    m["resolve.pointers_busy_s"] = busy("resolve.pointers")
    for key, prefix in SEARCH.items():
        m[f"search.{key}"] = busy(prefix)
    for key in COUNTS:
        m[key] = tracer.counts.get(key, 0)
    cand = m["resolve.candidate_pairs"]
    m["resolve.pair_yield"] = m["resolve.pairs_accepted"] / cand if cand else 0.0

    n_writes = max(1, len(res.io_files))
    m["io.files_written"] = sum(res.io_files) / n_writes
    m["io.bytes_written"] = sum(res.io_bytes) / n_writes
    for name in ("edges", "mentions", "nodes"):
        vals = [p[name] for p in res.parts] or [0.0]
        m[f"materialize.parts_rewritten.{name}"] = sum(vals) / len(vals)

    files = sorted(os.listdir(eventlog_dir)) if os.path.isdir(eventlog_dir) else []
    jobs = eventlog.read_jobs(os.path.join(eventlog_dir, files[0])) if files else []
    owner = eventlog.attribute(jobs, spans)

    def jobs_of(op_spans):
        return [j for s in op_spans for x in under(s["id"]) for j in owner.get(x, [])]

    traced_writes = ops("cycle.traced", "write")
    traced_queries = ops("cycle.traced", "query")
    tot = eventlog.totals(jobs_of(traced_writes + traced_queries))
    for key in ("jobs", "tasks", "job_wait_s", "task_run_s", "shuffle_write_mb",
                "spill_mb", "gc_s"):
        m[f"spark.{key}"] = tot[key]
    m["spark.jobs_per_add"] = len(jobs_of(traced_writes)) / max(1, len(traced_writes))
    m["spark.jobs_per_query"] = len(jobs_of(traced_queries)) / max(1, len(traced_queries))
    dedupe_jobs = [j for s in spans if s["name"] == "dedupe.edges"
                   for j in owner.get(s["id"], [])]
    m["dedupe.task_skew"] = eventlog.task_skew(dedupe_jobs)

    tq = sum(s["end"] - s["start"] for s in traced_queries)
    uq = sum(s["end"] - s["start"] for s in ops("cycle.untraced", "query"))
    m["trace.overhead_ratio"] = tq / uq if uq else 0.0

    tw = sum(s["end"] - s["start"] for s in traced_writes)
    shares = {}
    if tw:
        for layer in LAYERS + ["search"]:
            t = sum(self_t[x] for s in traced_writes for x in under(s["id"])
                    if by_id[x]["name"].startswith(layer + "."))
            shares[layer] = t / tw
    for s in spans:
        s["self_s"] = self_t[s["id"]]
        js = owner.get(s["id"], [])
        s["spark"] = eventlog.totals(js) if js else {}
    return m, spans, shares


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spans-out", required=True)
    ap.add_argument("--fixture", required=True,
                    help="directory of the hybrid_search graph")
    ap.add_argument("--build-fixture", action="store_true",
                    help="build the hybrid_search graph into --fixture and exit")
    a = ap.parse_args(argv)
    trace = bool(a.trace)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(a.work, d), exist_ok=True)

    from graphiti_spark.session import get_spark

    import workloads

    t = time.perf_counter()
    spark = get_spark(
        app_name=f"perfbench-{a.workload}", cpus=len(os.sched_getaffinity(0)),
        extra_conf=spark_conf(a.work, trace),
    )
    if a.build_fixture:
        workloads.build_fixture(spark, a.fixture)
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(0)

    report = {"setup_s": None, "ops": [], "done": False}
    cls = workloads.WORKLOADS[a.workload]
    extra = {"fixture": a.fixture} if cls is workloads.HybridSearch else {}
    wl = cls(spark, a.seed, a.work, **extra)
    wl.phases["imports"] = t - T0
    wl.phases["session"] = time.perf_counter() - t
    wl.setup()
    report["setup_s"] = sum(wl.phases.values())
    report["setup_phases"] = wl.phases
    write_json(a.out, report)

    tracer = inst = None
    if trace:
        import spans as tr

        tracer = tr.Tracer(run_id=f"{a.workload}-{a.seed}", sc=spark.sparkContext)
        inst = tr.Instrumentation(tracer)
        inst.install()
        wl.tracer = tracer

    raised: list[dict] = []

    def record() -> None:
        report["ops"] = ops_json(wl.result.ops) + raised
        write_json(a.out, report)

    eventlog_dir = os.path.join(a.work, "eventlog")
    t_window = time.perf_counter()
    i = 0
    try:
        if trace:
            # one traced write, broken down by layer, then queries untraced
            # and traced (Workload.traced_queries). The layer metrics are
            # written after each step, so a run stopped later keeps them.
            inst.active = True
            with tracer.span("cycle.traced", root=True):
                wl.traced_write(0, True)
            inst.active = False
            report["per_layer"] = layer_metrics(tracer, eventlog_dir, wl.result)[0]
            record()
            i = 1
            wl.traced_queries(inst)
            report["per_layer"] = layer_metrics(tracer, eventlog_dir, wl.result)[0]
            record()
        else:
            deadline = t_window + a.seconds
            while i == 0 or time.perf_counter() < deadline:
                wl.cycle(i, False)
                i += 1
                record()
    except Exception:
        traceback.print_exc()
        raised.append({"kind": "write", "label": "raised", "wall_s": 0.0, "cycle": i,
                       "traced": False, "docs": 0, "ok": False, "detail": "operation raised"})
        record()

    if inst is not None:
        inst.active = False
        inst.uninstall()
    t_checks = time.perf_counter()
    report["window_s"] = t_checks - t_window
    for op in wl.result.ops:
        if op.check is not None and op.ok:
            try:
                op.ok, op.detail = op.check()
            except Exception:
                op.ok, op.detail = False, "check raised: " + traceback.format_exc()
    res = wl.result
    report["ops"] = ops_json(res.ops) + raised
    q = res.quality
    report["quality"] = {
        "triple_precision": min((p for p, _ in q.get("triple", [])), default=0.0),
        "triple_recall": min((r for _, r in q.get("triple", [])), default=0.0),
        "dedup_precision": statistics.mean(p for p, _ in q["dedup"]) if q.get("dedup") else 0.0,
        "dedup_recall": statistics.mean(r for _, r in q["dedup"]) if q.get("dedup") else 0.0,
    }
    report["stored_mb"] = res.stored_bytes / 1e6
    report["checks_s"] = time.perf_counter() - t_checks
    if trace:
        spark.stop()
        per_layer, spans, shares = layer_metrics(tracer, eventlog_dir, res)
        report["per_layer"] = per_layer
        report["write_shares"] = shares
        os.makedirs(os.path.dirname(a.spans_out), exist_ok=True)
        write_json(a.spans_out, {"run_id": tracer.run_id, "spans": spans,
                                 "per_layer": per_layer})
    report["done"] = True
    write_json(a.out, report)
    # skip the orderly shutdown: run.py stops the JVM and the Python
    # workers with the rest of the process tree
    sys.stdout.flush()
    sys.stderr.flush()
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
