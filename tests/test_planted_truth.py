"""Planted structural truths for the iterative graph and BPE operators.

Each graph is built with a known answer: a random forest background
(whose 3-core is empty) plus planted cliques, communities or rings
whose result follows from the construction, not from a reference run
of the same algorithm. These complement the brute-force equality tests
in test_graph_random_truth.py and test_bpe.py with semantic properties
a shared-formula defect could still break."""
from __future__ import annotations

import random

from pyspark.sql import functions as F


def _forest(n_bg, rng):
    """Random recursive forest: node i hangs off a random earlier node,
    with a 2% chance of starting a fresh tree. A forest always has a
    vertex of degree <= 2, so its 3-core is empty."""
    return [(i, rng.randrange(i)) for i in range(1, n_bg)
            if rng.random() >= 0.02]


def _und(spark, pairs, cols=("a", "b")):
    sym = sorted(set(pairs) | {(b, a) for a, b in pairs})
    return spark.createDataFrame(sym, f"{cols[0]} long, {cols[1]} long")


def test_kcore_peels_forest_keeps_bridged_cliques(spark):
    """3-core of a forest plus bridged 5-cliques is exactly the clique
    nodes, each with within-core degree 4: the bridge's extra degree
    goes away once the forest peels."""
    from jsonld_js_spark.kg_api import kcore_edges
    rng = random.Random(51015)
    n_bg, n_cliques = 120, 4
    edges = _forest(n_bg, rng)
    cliques = set()
    for c in range(n_cliques):
        ids = [n_bg + 5 * c + j for j in range(5)]
        cliques.update(ids)
        edges += [(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]]
        edges.append((ids[0], rng.randrange(n_bg)))
    core = kcore_edges(_und(spark, edges), k=3)
    deg = {r["a"]: r["d"] for r in
           core.groupBy("a").agg(F.count("*").alias("d")).collect()}
    assert deg == {v: 4 for v in cliques}


def test_ppr_mass_stays_in_seeded_community(spark):
    """Seeds inside a dense community joined to a forest by one bridge:
    the top-|community| nodes by personalized PageRank are exactly the
    community (the bridge leaks at most 15% of one node's outflow per
    superstep)."""
    from jsonld_js_spark.kg_api import personalized_pagerank
    rng = random.Random(51015)
    n_bg, size = 150, 12
    edges = _forest(n_bg, rng)
    comm = list(range(n_bg, n_bg + size))
    edges += [(x, y) for i, x in enumerate(comm) for y in comm[i + 1:]
              if rng.random() < 0.5]
    edges += list(zip(comm, comm[1:]))  # connected regardless of rng
    edges.append((comm[0], rng.randrange(n_bg)))
    seeds = [comm[0], comm[4], comm[8]]
    ranks = {r["node"]: r["rank"] for r in personalized_pagerank(
        _und(spark, edges, ("subj", "dst")), seeds).collect()}
    top = sorted(ranks, key=lambda u: (-ranks[u], u))[:size]
    assert set(top) == set(comm)


def test_link_prediction_recovers_planted_missing_edges(spark):
    """5-cliques with one edge removed, each bridged into a forest: the
    removed pair has three common neighbours of degree <= 5, so every
    planted pair ranks in the top-C resource-allocation scores."""
    from jsonld_js_spark.kg_api import link_prediction_ra
    rng = random.Random(51015)
    n_bg, n_planted = 150, 4
    edges = _forest(n_bg, rng)
    missing = []
    for c in range(n_planted):
        ids = [n_bg + 5 * c + j for j in range(5)]
        missing.append((ids[0], ids[1]))
        edges += [(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]
                  if (x, y) != (ids[0], ids[1])]
        edges.append((ids[2], rng.randrange(n_bg)))
    got = {(r["x"], r["y"]): r["ra_ppm"] for r in
           link_prediction_ra(_und(spark, edges), topk=None).collect()}
    top = sorted(got, key=lambda p: (-got[p], p))[:n_planted]
    assert set(top) == set(missing)


def test_neighborhood_function_closed_form_on_rings_and_cliques(spark):
    """Rings longer than 2h+1 give every node a ball of exactly 2h+1
    nodes; 5-cliques saturate at 5 from h = 1. So
    N(h) = L*R*(2h+1) + 5*C*(5 if h else 1) exactly, and the HyperANF
    estimates track the known h_max-ball sizes."""
    from jsonld_js_spark.kg_api import (ANF_H, anf_estimates,
                                        anf_registers, neighborhood_growth)
    n_rings, ring_len, n_cliques = 3, 2 * ANF_H + 2, 2
    edges, ball = [], {}
    for r in range(n_rings):
        ids = [r * ring_len + i for i in range(ring_len)]
        edges += [(v, ids[(i + 1) % ring_len]) for i, v in enumerate(ids)]
        ball.update({v: 2 * ANF_H + 1 for v in ids})
    for c in range(n_cliques):
        ids = [n_rings * ring_len + 5 * c + j for j in range(5)]
        edges += [(x, y) for i, x in enumerate(ids) for y in ids[i + 1:]]
        ball.update({v: 5 for v in ids})
    df = _und(spark, edges).select(F.col("a").cast("string").alias("a"),
                                   F.col("b").cast("string").alias("b"))
    assert neighborhood_growth(df) == [
        (h, ring_len * n_rings * (2 * h + 1)
         + 5 * n_cliques * (5 if h else 1)) for h in range(ANF_H + 1)]
    est = anf_estimates(anf_registers(df).collect())
    assert set(est) == {str(v) for v in ball}
    rel = [abs(est[str(v)] - n) / n for v, n in ball.items()]
    assert sum(rel) / len(rel) < 0.15


def test_anf_estimates_whole_star_at_two_hops(spark):
    """Every 2-hop ball of a star is the whole star, so each node's
    HyperANF estimate after two supersteps tracks S + 1."""
    from jsonld_js_spark.kg_api import anf_estimates, anf_registers
    n_leaves = 200
    sym = ([("hub", f"l{i}") for i in range(n_leaves)]
           + [(f"l{i}", "hub") for i in range(n_leaves)])
    df = spark.createDataFrame(sym, "a string, b string")
    est = anf_estimates(anf_registers(df, h_max=2).collect())
    assert len(est) == n_leaves + 1
    truth = n_leaves + 1
    assert sum(abs(e - truth) / truth for e in est.values()) / len(est) \
        < 0.15


def test_bpe_merges_scale_with_corpus_multiplicity(spark):
    """Four copies of a skewed two-tier corpus (a hot head of 8 words
    on every third position, a tail of 120 words elsewhere) learn the
    same merge table with every pair count multiplied by 4."""
    from jsonld_js_spark.operators.bpe import bpe_merges

    def word(i):
        return "x" + "".join("abcd"[(i >> s) & 3] for s in (8, 6, 4, 2, 0))

    texts = [" ".join(word((d * 12 + j) % 120 % 8 if j % 3 == 0
                           else (d * 12 + j) % 120) for j in range(12))
             for d in range(30)]

    def merges(copies):
        rows = [(i, t) for i, t in enumerate(texts * copies)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        return [tuple(r) for r in bpe_merges(df, 8).collect()]

    once = merges(1)
    assert len(once) == 8
    assert merges(4) == [(r, a, b, 4 * c) for r, a, b, c in once]
