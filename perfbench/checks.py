"""Correctness checks: triple precision/recall and pairwise dedup
precision/recall against generator truth."""

from __future__ import annotations

from collections import Counter
from math import comb

from graphiti_spark import corpus


def templated_triples(doc_ids: list[tuple[int, int]]) -> Counter:
    """Expected (doc_id, subj, predicate, obj, year) multiset of the
    templated corpus for (base doc id, replica) pairs, from
    ``corpus.fact_params`` arithmetic (the synthesizer derives replica r
    of doc d0 from d = d0 + r * 500009)."""
    out: Counter = Counter()
    for d0, rep in doc_ids:
        d = d0 + rep * 500009
        doc = corpus.doc_id_str(d0) + (f"-r{rep}" if rep else "")
        for j in range(corpus.n_facts(d)):
            p = corpus.fact_params(d, j)
            out[(
                doc,
                corpus.ENTITIES[p["subj_idx"]],
                corpus.PREDICATES[p["pred_idx"]][0],
                corpus.ENTITIES[p["obj_idx"]],
                p["year"],
            )] += 1
    return out


def stored_triples(io, doc_ids: list[str] | None = None) -> Counter:
    """The graph's ``triples_raw`` rows (optionally of some docs) as the
    same tuple multiset."""
    from pyspark.sql import functions as F

    df = io.read("triples_raw")
    if doc_ids is not None:
        df = df.where(F.col("doc_id").isin(doc_ids))
    rows = df.select(
        "doc_id", "subj_name", "predicate", "obj_name", F.year("valid_at").alias("y")
    ).collect()
    return Counter((r[0], r[1], r[2], r[3], r[4]) for r in rows)


def precision_recall(got: Counter, expected: Counter) -> tuple[float, float]:
    hit = sum((got & expected).values())
    n_got, n_exp = sum(got.values()), sum(expected.values())
    return (hit / n_got if n_got else 1.0, hit / n_exp if n_exp else 1.0)


def uuid_map_index(io) -> dict[tuple[str, str], str]:
    """(group_id, lower(name)) -> canonical uuid, the key resolve_pointers
    joins on."""
    rows = io.read("uuid_map").select("group_id", "name", "canonical_uuid").collect()
    return {(r[0], r[1].lower()): r[2] for r in rows}


def pairwise_dedup(truth: dict[tuple[str, str], str], predicted: dict) -> tuple[float, float]:
    """Pairwise precision/recall over surface forms: a pair is predicted
    when both forms resolve to one canonical uuid, true when the truth
    gives both one entity id. Pairs never cross groups."""
    cells: Counter = Counter()
    true_sizes: Counter = Counter()
    pred_sizes: Counter = Counter()
    for (group, form), eid in truth.items():
        pred = predicted.get((group, form.lower()), f"unresolved/{group}/{form}")
        cells[(eid, pred)] += 1
        true_sizes[eid] += 1
        pred_sizes[pred] += 1
    tp = sum(comb(n, 2) for n in cells.values())
    n_pred = sum(comb(n, 2) for n in pred_sizes.values())
    n_true = sum(comb(n, 2) for n in true_sizes.values())
    return (tp / n_pred if n_pred else 1.0, tp / n_true if n_true else 1.0)


def templated_truth(predicted: dict) -> dict[tuple[str, str], str]:
    """Truth for the templated corpus over the names present in the
    graph: the corpus's near-duplicate pairs share an entity id, every
    other name is its own entity."""
    names = {n.lower(): n for n in corpus.ENTITIES + corpus.SPEAKERS}
    truth = {}
    for group, key in predicted:
        name = names.get(key)
        if name is not None:
            truth[(group, name)] = f"{group}/{corpus.CANONICAL.get(name, name)}"
    return truth
