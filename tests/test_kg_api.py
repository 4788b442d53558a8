"""Tests for the secondary JSON-LD API surface on Spark: framing,
compaction round-trip, canonical double parity."""
from __future__ import annotations

import json

import pytest

from jsonld_js_spark.pipeline import transcript_triples
from jsonld_js_spark.transcripts import transcripts_df
from jsonld_js_spark.vocab import ENT_NS, TR

N_CONV = 40


@pytest.fixture(scope="module")
def triples(spark):
    df = transcript_triples(transcripts_df(spark, n_conv=N_CONV)).cache()
    df.count()
    return df


def test_frame_subjects_conjunction(spark, triples):
    from pyspark.sql import functions as F

    from jsonld_js_spark.frame_spark import frame_subjects
    subj = frame_subjects(triples, {
        "@type": TR + "Turn",
        TR + "mentions": {"@id": ENT_NS + "Entity0"},
    })
    got = {r["subj"] for r in subj.collect()}
    # oracle: recompute from the triple rows
    turns = {r["subj"] for r in triples.filter(
        (F.col("pred").endswith("#type")) &
        (F.col("obj_value") == TR + "Turn")).collect()}
    mentions = {r["subj"] for r in triples.filter(
        (F.col("pred") == TR + "mentions") &
        (F.col("obj_value") == ENT_NS + "Entity0")).collect()}
    assert got == turns & mentions and got


def test_frame_reverse_and_wildcard(spark, triples):
    from pyspark.sql import functions as F

    from jsonld_js_spark.frame_spark import frame_subjects
    # wildcard: subjects having ANY usesTool edge
    tool_turns = {r["subj"] for r in frame_subjects(
        triples, {TR + "usesTool": {}}).collect()}
    assert tool_turns
    all_turns = {r["subj"] for r in frame_subjects(
        triples, {"@type": TR + "Turn"}).collect()}
    assert tool_turns < all_turns
    # @reverse: subjects that are hasTurn-children of a given conv
    conv_iri = "http://example.org/conv/conv-000001"
    rev = {r["subj"] for r in frame_subjects(
        triples, {"@reverse": {TR + "hasTurn": {"@id": conv_iri}}})
        .collect()}
    direct = {r["obj_value"] for r in triples.filter(
        (F.col("pred") == TR + "hasTurn") &
        (F.col("subj") == conv_iri)).collect()}
    assert rev == direct and rev


def test_frame_embed_depth(spark, triples):
    from jsonld_js_spark.frame_spark import frame_embed, frame_subjects
    subj = frame_subjects(triples, {"@type": TR + "Conversation"})
    rows0 = frame_embed(triples, subj, depth=0)
    rows1 = frame_embed(triples, subj, depth=1)
    # depth 1 additionally embeds the referenced turn nodes
    assert rows1.count() > rows0.count()
    preds1 = {r["pred"] for r in rows1.select("pred").distinct().collect()}
    assert TR + "text" in preds1  # turn-level property reached via embed


def test_compact_conversations_content(spark):
    df = _compact_small(spark)
    recs = df.collect()
    assert len(recs) > 0
    for r in recs[:5]:
        doc = json.loads(r["compact_json"])
        assert doc["@context"]
        nodes = doc.get("@graph", [doc])
        convs = [n for n in nodes if n.get("@type") == "Conversation"]
        turns = [n for n in nodes if n.get("@type") == "Turn"]
        assert len(convs) == 1
        refs = convs[0]["hasTurn"]
        refs = refs if isinstance(refs, list) else [refs]
        assert len(turns) == len(refs) == r["n_turns"]
        for t in turns[:3]:
            assert "text" in t and "role" in t and "turnIndex" in t


def _compact_small(spark):
    """Run the compaction pipeline (full output incl. compact_json)
    against the small sf0.001 transcript set."""
    from jsonld_js_spark import kg_api
    return kg_api.compact_conversations_df(spark, "/root/testdata/sf0.001")


def test_compact_json_matches_single_node_kernel(spark):
    """The distributed compact_json must equal what the single-node
    kernel produces for the same conversation's quads (the oracle for
    the non-SQL-expressible column)."""
    from jsonld_js_spark.kernel import compact, from_rdf
    from jsonld_js_spark.vocab import TRANSCRIPT_CONTEXT

    sf = "/root/testdata/sf0.001"
    rows = _compact_small(spark).orderBy("conv_iri").limit(5).collect()
    t = transcript_triples(transcripts_df(spark, sf_dir=sf))
    for r in rows:
        conv = r["conv_iri"]
        from pyspark.sql import functions as F
        quads = [(q["subj"], q["pred"], q["obj_value"], q["obj_termtype"],
                  q["obj_datatype"], q["obj_language"], q["graph"])
                 for q in t.filter(
                     (F.col("subj") == conv) |
                     F.col("subj").startswith(conv + "/turn/")).collect()]
        doc = from_rdf(quads, {"useNativeTypes": True})
        expect = json.dumps(compact(doc, dict(TRANSCRIPT_CONTEXT)),
                            sort_keys=True)
        assert r["compact_json"] == expect


@pytest.fixture()
def tiny_arrow_batches(spark):
    """Force 100-row Arrow batches so conversations straddle batch
    boundaries — the round-1 reproduced bug scenario (VERDICT #1)."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "100")
    yield
    if old is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, old)


def test_batch_boundary_compact(spark, tiny_arrow_batches):
    from jsonld_js_spark import kg_api
    sf = "/root/testdata/sf0.001"
    df = kg_api.compact_conversations_df(spark, sf)
    n_conv = transcripts_df(spark, sf_dir=sf) \
        .select("conv_id").distinct().count()
    recs = df.collect()
    assert len(recs) == n_conv
    assert len({r["conv_iri"] for r in recs}) == n_conv


def test_batch_boundary_frame(spark, tiny_arrow_batches):
    from jsonld_js_spark import kg_api
    sf = "/root/testdata/sf0.001"
    df = kg_api.q_kg_frame_kernel_path(spark, sf)
    n_conv = transcripts_df(spark, sf_dir=sf) \
        .select("conv_id").distinct().count()
    assert df.count() == n_conv


def test_batch_boundary_roundtrip(spark, tiny_arrow_batches):
    from jsonld_js_spark import kg_api
    sf = "/root/testdata/sf0.001"
    got = kg_api.q_kg_fromrdf_roundtrip(spark, sf)
    expect = transcript_triples(transcripts_df(spark, sf_dir=sf))
    cols = expect.columns
    assert (sorted(map(tuple, got.select(*cols).collect())) ==
            sorted(map(tuple, expect.collect())))


def test_canonical_double_three_way(spark):
    """Spark column fn ≡ kernel ≡ reference rule on a value grid."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.functions import canonical_double_col
    from jsonld_js_spark.kernel.util import canonical_double
    vals = [1.1, 5.0, 8.95, 83.35, 0.94, 73.4, 0.000125, 1e21, -2.5e-5,
            3.14159265358979, 1.0 / 3.0, -0.0, 0.1 + 0.2, 1e-300,
            9.99999999999999e20, 123456.789, 2.0 ** -20, 4.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = [r[0] for r in
           df.select(canonical_double_col(F.col("v"))).collect()]
    expect = [canonical_double(v) for v in vals]
    assert got == expect


def test_lsh_topk_recall(spark):
    """ann_lsh_topk recall@5 vs brute force must clear a sanity bar."""
    from jsonld_js_spark.operators.similarity import (
        q_ann_cosine_topk, q_ann_lsh_topk,
    )
    sf = "/root/testdata/sf0.001"
    brute = {(r["query_id"], r["vec_id"])
             for r in q_ann_cosine_topk(spark, sf).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in q_ann_lsh_topk(spark, sf).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.2, f"LSH recall@5 too low: {recall}"


def test_embedding_neardup_or_blocking_recall(spark):
    """Round-3 fix: multi-band OR-blocking must catch >= 95% of
    threshold-GRAZING near-dup pairs (cos just above 0.999, where the
    round-2 single-12-bit-signature blocking was bound at ~0.84), and
    the band count must be 4 x 16 planes."""
    import numpy as np
    from pyspark.sql import functions as F
    from jsonld_js_spark.operators.similarity import (
        ND_N_BANDS, ND_PLANES_PER_BAND, nd_band_sigs)

    assert ND_N_BANDS == 4 and ND_PLANES_PER_BAND == 16
    rng = np.random.default_rng(7)
    n_pairs, dim = 300, 64
    base = rng.normal(size=(n_pairs, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    # rotate each vector by theta with cos(theta) ~ 0.9992 — just
    # above the 0.999 verify threshold (grazing, not exact copies)
    target = 0.9992
    perp = rng.normal(size=(n_pairs, dim))
    perp -= (perp * base).sum(axis=1, keepdims=True) * base
    perp /= np.linalg.norm(perp, axis=1, keepdims=True)
    mate = target * base + np.sqrt(1 - target ** 2) * perp
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_pairs)] + \
           [(i + 10000, [float(x) for x in mate[i]]) for i in range(n_pairs)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    bands = (df.select("vec_id", F.posexplode(nd_band_sigs(F.col("v"))))
             .select("vec_id", F.col("pos").alias("band"),
                     F.col("col").alias("bsig")))
    found = (bands.alias("a").join(
        bands.alias("b"),
        (F.col("a.band") == F.col("b.band")) &
        (F.col("a.bsig") == F.col("b.bsig")) &
        (F.col("b.vec_id") == F.col("a.vec_id") + 10000))
        .select("a.vec_id").distinct().count())
    recall = found / n_pairs
    assert recall >= 0.95, f"OR-blocking recall too low: {recall}"


def test_ivf_trained_quantizer_recall_and_balance(spark):
    """Round-3 fix: the IVF coarse quantizer is genuinely trained
    (Lloyd over quantized vectors), not 8 fixed data rows. Checks:
    (a) recall@5 vs brute force clears the old stand-in's bar, and
    (b) cells are non-degenerate — multiple populated cells, and no
    cell swallowing the whole corpus (the failure mode of untrained
    centroids)."""
    from pyspark.sql import functions as F
    from jsonld_js_spark.operators.similarity import (
        IVF_K, _emb, _quantize, _vec_d, ivf_probe_cells, ivf_train_cells,
        q_ann_cosine_topk, q_ann_ivf_topk)
    sf = "/root/testdata/sf0.001"
    brute = {(r["query_id"], r["vec_id"])
             for r in q_ann_cosine_topk(spark, sf).collect()}
    approx = {(r["query_id"], r["vec_id"])
              for r in q_ann_ivf_topk(spark, sf).collect()}
    recall = len(brute & approx) / len(brute)
    assert recall >= 0.2, f"IVF recall@5 too low: {recall}"

    e = _emb(spark, sf).select(
        "vec_id", _vec_d(F.col("embedding")).alias("v"))
    vqs = e.select("vec_id", _quantize(F.col("v")).alias("vq"))
    cents = ivf_train_cells(vqs)
    assert len(cents) >= IVF_K // 2  # most cells survive training
    sizes = (e.select(ivf_probe_cells(
        _quantize(F.col("v")), cents, 1)[0].alias("cell"))
        .groupBy("cell").count().collect())
    n = e.count()
    assert len(sizes) >= 4
    assert max(r["count"] for r in sizes) < 0.8 * n


def test_incremental_triples_delta_exact(spark):
    """The delta ingest anti-join must drop every triple already in the
    store — including rows whose nullable identity columns
    (obj_datatype/obj_language) are NULL, which a non-null-safe join
    condition would leak through as duplicates."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.kg_api import q_kg_incremental_triples
    from jsonld_js_spark.transcripts import n_conv_for_sf, sf_from_dir

    sf_dir = "/root/testdata/sf0.001"
    n_conv = n_conv_for_sf(sf_from_dir(sf_dir))
    hi = int(n_conv * 0.6)
    delta = q_kg_incremental_triples(spark, sf_dir).cache()
    cid = F.regexp_extract("subj", r"conv-([0-9]+)", 1).cast("bigint")
    # exactly the conversations above the store's upper bound
    assert delta.filter(cid < hi).count() == 0
    full = transcript_triples(transcripts_df(spark, sf_dir=sf_dir))
    expected = full.filter(
        F.regexp_extract("subj", r"conv-([0-9]+)", 1).cast("bigint") >= hi)
    assert delta.count() == expected.count()
    # NULL-keyed rows (NamedNode objects have NULL datatype+language)
    # must have been matched and removed, not leaked
    assert delta.filter(F.col("obj_datatype").isNull()).count() == \
        expected.filter(F.col("obj_datatype").isNull()).count()
    # and the delta contains no duplicate triples
    assert delta.distinct().count() == delta.count()


def test_kg_entity_comention_invariants(spark):
    """Co-mention pairs are canonicalized (ent_a < ent_b), weights are
    bounded by the conversation count, and a pair's weight never
    exceeds either entity's own conversation frequency."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.kg_api import _triples, q_kg_entity_comention
    from jsonld_js_spark.vocab import TR

    sf_dir = "/root/testdata/sf0.001"
    rows = q_kg_entity_comention(spark, sf_dir).collect()
    assert 0 < len(rows) <= 50
    assert all(r["ent_a"] < r["ent_b"] for r in rows)
    t = _triples(spark, sf_dir)
    ent_convs = {r["ent"]: r["n"] for r in (
        t.filter(F.col("pred") == TR + "mentions")
        .select(F.regexp_replace("subj", "/turn/[0-9]+$", "").alias("conv"),
                F.col("obj_value").alias("ent"))
        .distinct().groupBy("ent").agg(F.count("*").alias("n"))
        .collect())}
    for r in rows:
        assert r["n_convs"] <= min(ent_convs[r["ent_a"]],
                                   ent_convs[r["ent_b"]])


def test_kg_entity_comention_cap(spark):
    """max_entities_per_conv drops whole conversations above the
    threshold BEFORE pairing: every surviving pair weight is
    reproducible from the capped conv set, and an extreme cap of 1
    yields no pairs at all."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.kg_api import _triples, q_kg_entity_comention
    from jsonld_js_spark.vocab import TR

    sf_dir = "/root/testdata/sf0.001"
    assert q_kg_entity_comention(spark, sf_dir,
                                 max_entities_per_conv=1).count() == 0
    capped = {(r["ent_a"], r["ent_b"]): r["n_convs"] for r in
              q_kg_entity_comention(spark, sf_dir,
                                    max_entities_per_conv=3).collect()}
    t = _triples(spark, sf_dir)
    me = (t.filter(F.col("pred") == TR + "mentions")
          .select(F.regexp_replace("subj", "/turn/[0-9]+$", "")
                  .alias("conv"), F.col("obj_value").alias("ent"))
          .distinct())
    sizes = me.groupBy("conv").agg(F.count("*").alias("m"))
    kept = me.join(sizes.filter(F.col("m") <= 3).select("conv"), "conv")
    expect = {}
    rows = kept.collect()
    by_conv = {}
    for r in rows:
        by_conv.setdefault(r["conv"], []).append(r["ent"])
    for ents in by_conv.values():
        es = sorted(set(ents))
        for i in range(len(es)):
            for j in range(i + 1, len(es)):
                expect[(es[i], es[j])] = expect.get((es[i], es[j]), 0) + 1
    top = dict(sorted(expect.items(),
                      key=lambda kv: (-kv[1], kv[0]))[:50])
    assert capped == top


def test_kg_pagerank_invariants(spark):
    """Integer PageRank: every rank has the 150000 teleport floor, the
    hub ordering is sane (conversation nodes collect hasTurn inflow),
    and total mass is bounded by N * 1e6 (dangling leak only)."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.kg_api import _triples, q_kg_pagerank

    sf_dir = "/root/testdata/sf0.001"
    rows = q_kg_pagerank(spark, sf_dir).collect()
    assert len(rows) == 50
    assert all(r["rank"] >= 150000 for r in rows)
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    # hubs: entity IRIs receive `mentions` inflow from many turns —
    # the global top node must be one of the high-inflow IRIs
    t = _triples(spark, sf_dir)
    indeg = (t.filter(F.col("obj_termtype") == "NamedNode")
             .groupBy("obj_value").agg(F.count("*").alias("n"))
             .orderBy(F.desc("n")).limit(5).collect())
    top_indeg = {r["obj_value"] for r in indeg}
    assert rows[0]["node"] in top_indeg


def test_pagerank_hand_computed_tiny_graph(spark):
    """Exact int64 PageRank on a 3-node graph, computed BY HAND — the
    DuckDB oracle shares the engine's formula, so only an independent
    ground truth can catch a synchronized arithmetic defect (the
    MinHash lesson, BENCH/SOAK_DEDUP_r3.md)."""
    from jsonld_js_spark.kg_api import PAGERANK_ITERS, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c")],
        "subj string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    # independent reference implementation in plain python ints; no
    # node is dangling here so the redistribution term is exactly 0
    rank = {n: 1000000 for n in "abc"}
    outd = {"a": 2, "b": 1, "c": 1}
    inn = {"a": ["c"], "b": ["a"], "c": ["b", "a"]}
    for _ in range(PAGERANK_ITERS):
        rank = {n: 150000 + 85 * sum(rank[s] // outd[s]
                                     for s in inn[n]) // 100
                for n in "abc"}
    assert got == rank, (got, rank)


def test_pagerank_dangling_redistribution(spark):
    """Graph with a sink (c has no out-edges): the dangling-mass term
    must be live — the engine matches the hand-computed redistribution
    variant and DIFFERS from the old leaky variant (round-3 verdict
    item 4: 'a hand truth where the two variants differ, proving the
    new term')."""
    from jsonld_js_spark.kg_api import PAGERANK_ITERS, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c")],
        "subj string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(edges).collect()}

    def run(redistribute):
        rank = {n: 1000000 for n in "abc"}
        for _ in range(PAGERANK_ITERS):
            dshare = rank["c"] // 3 if redistribute else 0
            rank = {
                "a": 150000 + 85 * dshare // 100,
                "b": 150000 + 85 * (rank["a"] // 2 + dshare) // 100,
                "c": 150000 + 85 * (rank["a"] // 2 + rank["b"]
                                    + dshare) // 100,
            }
        return rank

    with_term, leaky = run(True), run(False)
    assert with_term != leaky  # the graph actually distinguishes them
    assert got == with_term, (got, with_term, leaky)


def test_pagerank_early_stop(spark):
    """On a pure cycle every rank is a fixpoint at 1e6 (150000 +
    85%*1e6 = 1e6), so tol_ppm=0 must stop after the first superstep
    and still return the same ranks as the full fixed-iteration run."""
    from jsonld_js_spark.kg_api import PAGERANK_ITERS, pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "subj string, dst string")
    fast = pagerank(edges, tol_ppm=0)
    rows = {r["node"]: r["rank"] for r in fast.collect()}
    assert fast._pr_supersteps == 1 < PAGERANK_ITERS
    full = {r["node"]: r["rank"] for r in pagerank(edges).collect()}
    assert rows == full == {n: 1000000 for n in "abc"}


def test_pagerank_empty_graph(spark):
    """No edges: zero rows and no superstep run."""
    from jsonld_js_spark.kg_api import pagerank

    ranks = pagerank(spark.createDataFrame([], "subj string, dst string"))
    assert ranks.collect() == []
    assert ranks._pr_supersteps == 0


def test_ppr_no_seeds(spark):
    """An empty seed list returns an empty (node, rank) table."""
    from jsonld_js_spark.kg_api import personalized_pagerank

    edges = spark.createDataFrame([("a", "b")], "subj string, dst string")
    ranks = personalized_pagerank(edges, [])
    assert ranks.collect() == []
    assert ranks.schema.simpleString() == "struct<node:string,rank:bigint>"


def test_kg_entity_comention_guard_observed(spark):
    """The quadratic guard is default-on and NOT silent: the guard's
    companion dropped-conversation count equals the independently
    computed number of conversations over the cap."""
    from pyspark.sql import functions as F

    from jsonld_js_spark.kg_api import (
        MAX_ENTITIES_PER_CONV, _triples, comention_guard_stats,
        q_kg_entity_comention)
    from jsonld_js_spark.vocab import TR

    sf_dir = "/root/testdata/sf0.001"
    # default signature: the guard is engaged without opting in
    import inspect
    sig = inspect.signature(q_kg_entity_comention)
    assert (sig.parameters["max_entities_per_conv"].default
            == MAX_ENTITIES_PER_CONV)

    df = q_kg_entity_comention(spark, sf_dir, max_entities_per_conv=3)
    df.collect()
    stats = comention_guard_stats(df)
    me = (_triples(spark, sf_dir)
          .filter(F.col("pred") == TR + "mentions")
          .select(F.regexp_replace("subj", "/turn/[0-9]+$", "")
                  .alias("conv"), F.col("obj_value").alias("ent"))
          .distinct())
    sizes = me.groupBy("conv").agg(F.count("*").alias("m")).collect()
    expect_dropped = sum(1 for r in sizes if r["m"] > 3)
    assert expect_dropped > 0  # the cap actually bites at this sf
    assert stats["dropped_convs"] == expect_dropped
    assert stats["total_convs"] == len(sizes)


def test_sameas_closure_chain_literals_and_dedup(spark):
    """Transitive depth the gated corpus can't exercise: a 12-node
    sameAs CHAIN must collapse to the single min IRI (the star-CC
    path), merged nodes' duplicate assertions must dedupe, literal
    objects must never rewrite even when their lexical form equals a
    mapped IRI, and unmapped nodes pass through."""
    from jsonld_js_spark.kg_api import sameas_closure

    cols = ("subj string, pred string, obj_value string, "
            "obj_termtype string, obj_datatype string, "
            "obj_language string, graph string")
    triples = spark.createDataFrame([
        ("n03", "p", "n07", "NamedNode", None, None, ""),
        ("n05", "p", "n04", "Literal", None, None, ""),   # lexical = IRI
        ("n02", "q", "x", "Literal", None, None, ""),
        ("n09", "q", "x", "Literal", None, None, ""),     # dups post-merge
        ("z", "p", "w", "NamedNode", None, None, ""),     # unmapped
    ], cols)
    sameas = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(11)],
        "a string, b string")
    expect = {
        ("n00", "p", "n00", "NamedNode", None, None, ""),
        ("n00", "p", "n04", "Literal", None, None, ""),
        ("n00", "q", "x", "Literal", None, None, ""),
        ("z", "p", "w", "NamedNode", None, None, ""),
    }
    # driver union-find path (edge set under the threshold) ...
    got = {tuple(r) for r in sameas_closure(triples, sameas).collect()}
    assert got == expect
    # ... and the distributed star-CC path (threshold forced to 0)
    import jsonld_js_spark.kg_api as kg_api
    saved = kg_api.SAMEAS_SMALL_GRAPH_EDGES
    kg_api.SAMEAS_SMALL_GRAPH_EDGES = 0
    try:
        got_cc = {tuple(r)
                  for r in sameas_closure(triples, sameas).collect()}
    finally:
        kg_api.SAMEAS_SMALL_GRAPH_EDGES = saved
    assert got_cc == expect


def test_sameas_closure_reproduces_linked_kg(spark):
    """The oracle theorem, asserted locally: smushing the surface-form
    KG through the normalizing resolver's candidate pairs reproduces
    the emit-time-linked KG exactly — and the surface KG genuinely
    differs beforehand (the gate is not vacuous)."""
    from jsonld_js_spark.kg_api import (
        resolver_sameas_edges, sameas_closure,
    )

    t = transcripts_df(spark, n_conv=60)
    linked = {tuple(r) for r in transcript_triples(t).collect()}
    surface_df = transcript_triples(t, link_entities=False)
    surface = {tuple(r) for r in surface_df.collect()}
    assert surface != linked  # lowercase surface variants exist
    edges = resolver_sameas_edges(t)
    assert edges.count() > 0
    closed = {tuple(r)
              for r in sameas_closure(surface_df, edges).collect()}
    assert closed == linked


def test_khop_min_levels_and_bounds(spark):
    """Hand-built graph: a node reachable at 2 AND 3 hops must report
    the MINIMUM (2); nodes beyond k are excluded; disconnected nodes
    never appear; the seed is hop 0 even with a self-loop-ish back
    edge."""
    from jsonld_js_spark.kg_api import khop

    und = [("s", "a"), ("a", "b"), ("b", "c"), ("c", "d"),
           ("s", "x"), ("x", "b"),   # makes b reachable at 2 (via x)
           ("q", "r")]               # disconnected component
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "a string, b string")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r["node"]: r["hops"] for r in khop(edges, seeds, k=3).collect()}
    assert got == {"s": 0, "a": 1, "x": 1, "b": 2, "c": 3}


def test_triangle_counts_hand_truth(spark):
    """K4 on {d,e,f,g} (3 triangles per node), one lone triangle
    {a,b,c}, a triangle-free path x-y; duplicate and reversed edge
    rows must not change counts (orientation canonicalizes)."""
    from jsonld_js_spark.kg_api import triangle_counts
    k4 = [("d", "e"), ("d", "f"), ("d", "g"),
          ("e", "f"), ("e", "g"), ("f", "g")]
    edges = ([("a", "b"), ("b", "c"), ("a", "c")] + k4 +
             [("x", "y"),
              ("b", "a"), ("a", "c")])  # reversed dup + exact dup
    df = spark.createDataFrame(edges, "ent_a string, ent_b string")
    got = {r["ent"]: r["n_triangles"]
           for r in triangle_counts(df).collect()}
    assert got == {"a": 1, "b": 1, "c": 1,
                   "d": 3, "e": 3, "f": 3, "g": 3}


def test_triangle_hub_star_has_none(spark):
    """A pure hub star (celebrity node, no neighbor-neighbor edges)
    has zero triangles — and the degree orientation points every edge
    AT the hub, so the hub fans no wedges at all."""
    from jsonld_js_spark.kg_api import triangle_counts
    edges = [("hub", f"n{i}") for i in range(20)]
    df = spark.createDataFrame(edges, "ent_a string, ent_b string")
    assert triangle_counts(df).count() == 0


def _und(spark, pairs):
    df = spark.createDataFrame(pairs, "a string, b string")
    return df.unionAll(df.select(df["b"].alias("a"), df["a"].alias("b")))


def test_label_propagation_barbell_hand_truth(spark):
    """Barbell: triangles {a,b,c} and {d,e,f} joined by bridge c-d —
    ONE connected component that LPA must split into TWO communities
    (hand-traced through all 4 synchronous supersteps with the
    most-frequent-then-min-label rule; this is exactly the case where
    LPA differs from connected components, so a CC-shaped defect in
    either engine cannot pass). The bridge node c lands in community
    'a' even though label 'c' names the other side — the label is an
    opaque community id, not a membership anchor."""
    from jsonld_js_spark.kg_api import label_propagation
    edges = _und(spark, [("a", "b"), ("b", "c"), ("a", "c"),
                         ("d", "e"), ("e", "f"), ("d", "f"),
                         ("c", "d")])
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "d": "c", "e": "c", "f": "c"}


def test_label_propagation_oscillation_is_deterministic(spark):
    """A lone edge u-v oscillates under synchronous LPA (period 2);
    the fixed even superstep count pins the output to the identity
    labeling — deterministic, never flapping between runs."""
    from jsonld_js_spark.kg_api import label_propagation
    edges = _und(spark, [("u", "v")])
    got = {r["node"]: r["label"] for r in label_propagation(edges).collect()}
    assert got == {"u": "u", "v": "v"}


def test_semantic_dedup_planted_truth(spark):
    """SemDeDup gated corpus: every planted perturbed copy that lands
    in its original's cell must be dropped WITH dup_of = the original
    (the only >= 0.90 neighbor — natural max cos is ~0.51), natural
    rows all survive, and co-location of planted pairs is near-total
    (near-identical vectors share the argmax cell)."""
    from jsonld_js_spark.operators.similarity import q_dedup_semantic
    rows = {r["vec_id"]: r
            for r in q_dedup_semantic(spark, "/root/testdata/sf0.001")
            .collect()}
    planted = [v for v in rows if v >= 200000]
    assert planted
    colocated = [v for v in planted
                 if rows[v]["cell"] == rows[v - 200000]["cell"]]
    assert len(colocated) / len(planted) >= 0.9
    for v in colocated:
        assert rows[v]["keep"] == 0 and rows[v]["dup_of"] == v - 200000
    for v in rows:
        if v < 200000:
            assert rows[v]["keep"] == 1 and rows[v]["dup_of"] is None


def test_semantic_dedup_min_id_survivor_and_threshold(spark):
    """Hand truth: three identical vectors -> smallest id survives,
    both others point dup_of at it (min-id, not chained); a same-cell
    vector BELOW the threshold survives."""
    import numpy as np
    from jsonld_js_spark.operators.similarity import semantic_dedup

    rng = np.random.default_rng(3)
    base = rng.normal(size=64)
    base /= np.linalg.norm(base)
    perp = rng.normal(size=64)
    perp -= perp.dot(base) * base
    perp /= np.linalg.norm(perp)
    mid = 0.7 * base + np.sqrt(1 - 0.49) * perp   # cos 0.7 to base
    far = -base                                   # its own cell
    rows = [(1, [float(x) for x in base]),
            (2, [float(x) for x in base]),
            (3, [float(x) for x in base]),
            (4, [float(x) for x in mid]),
            (5, [float(x) for x in far])]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    out = {r["vec_id"]: r
           for r in semantic_dedup(df, k=2, iters=1).collect()}
    assert out[1]["keep"] == 1
    assert out[2]["keep"] == 0 and out[2]["dup_of"] == 1
    assert out[3]["keep"] == 0 and out[3]["dup_of"] == 1
    assert out[4]["keep"] == 1 and out[4]["dup_of"] is None
    assert out[5]["keep"] == 1


def test_random_walks_hand_truth_and_shape(spark):
    """Pure-python replay of the hash60 argmin rule must reproduce the
    walk corpus exactly; every (seed, w) has exactly walk_len+1
    ordered steps on a both-direction edge set."""
    import hashlib

    from pyspark.sql import functions as F
    from jsonld_js_spark.kg_api import random_walks

    pairs = [("a", "b"), ("b", "c"), ("c", "d"), ("a", "c")]
    edges = spark.createDataFrame(
        pairs + [(y, x) for x, y in pairs], "a string, b string")
    out = random_walks(edges, walks_per_node=2, walk_len=3).collect()

    adj = {}
    for x, y in pairs + [(y, x) for x, y in pairs]:
        adj.setdefault(x, set()).add(y)

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    expect = {}
    for seed in adj:
        for w in range(2):
            cur = seed
            expect[(seed, w, 0)] = cur
            for step in range(1, 4):
                cur = min(adj[cur],
                          key=lambda v: (h60(f"{seed}|{w}|{step}|{v}"), v))
                expect[(seed, w, step)] = cur
    got = {(r["seed"], r["w"], r["step"]): r["node"] for r in out}
    assert got == expect


def test_random_walks_directed_sink_ends_early(spark):
    """On a DIRECTED edge set a walk reaching a sink stops: later
    steps are absent rows, never nulls."""
    from jsonld_js_spark.kg_api import random_walks
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "a string, b string")
    out = random_walks(edges, walks_per_node=1, walk_len=5).collect()
    walk_a = sorted((r["step"], r["node"]) for r in out
                    if r["seed"] == "a")
    assert walk_a == [(0, "a"), (1, "b"), (2, "c")]  # c is a sink
    assert all(r["node"] is not None for r in out)


def test_relational_pushdown_contract_and_invariants(spark):
    """The fact-table queries must keep their scan-level contracts:
    shipdate predicate pushed into the parquet scan, pruned
    ReadSchema (no full-width fact scan), top-k via
    TakeOrderedAndProject (no global sort); and the Q1 group line
    counts must sum to the filtered scan count."""
    from pyspark.sql import functions as F
    from jsonld_js_spark.operators.relational import (
        Q1_CUTOFF, q_rel_pricing_summary, q_rel_top_orders)
    sf = "/root/testdata/sf0.001"
    q1 = q_rel_pricing_summary(spark, sf)
    plan1 = q1._jdf.queryExecution().executedPlan().toString()
    assert "LessThanOrEqual(l_shipdate" in plan1
    assert "l_partkey" not in plan1  # column pruning held
    q3 = q_rel_top_orders(spark, sf)
    plan3 = q3._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan3
    assert "GreaterThan(l_shipdate" in plan3

    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    n_filtered = li.filter(
        F.col("l_shipdate") <= F.lit(Q1_CUTOFF).cast("timestamp")).count()
    assert sum(r["n_lines"] for r in q1.collect()) == n_filtered


def test_relational_rollup_levels_reconcile(spark):
    """ROLLUP invariants: the detail rows (lvl 0) sum exactly to each
    per-flag subtotal (lvl 1), the subtotals sum to the single grand
    total (lvl 3), and the plan is one Expand pass over one scan (no
    union of three aggregations re-reading the fact table)."""
    from collections import defaultdict
    from jsonld_js_spark.operators.relational import q_rel_pricing_rollup
    rows = q_rel_pricing_rollup(spark, "/root/testdata/sf0.001").collect()
    by_lvl = defaultdict(list)
    for r in rows:
        by_lvl[r["lvl"]].append(r)
    assert set(by_lvl) == {0, 1, 3} and len(by_lvl[3]) == 1
    detail = defaultdict(lambda: [0, 0])
    for r in by_lvl[0]:
        detail[r["l_returnflag"]][0] += r["sum_disc_c"]
        detail[r["l_returnflag"]][1] += r["n_lines"]
    for r in by_lvl[1]:
        assert r["l_linestatus"] is None
        assert detail[r["l_returnflag"]] == [r["sum_disc_c"], r["n_lines"]]
    g = by_lvl[3][0]
    assert g["l_returnflag"] is None and g["l_linestatus"] is None
    assert g["sum_disc_c"] == sum(v[0] for v in detail.values())
    assert g["n_lines"] == sum(v[1] for v in detail.values())
    plan = q_rel_pricing_rollup(
        spark, "/root/testdata/sf0.001")._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" in plan
    assert plan.count("FileScan") == 1  # one scan feeds all levels


def test_skipgram_pairs_hand_truth(spark):
    """Window-2 skip-gram counts on a hand walk: counts symmetric,
    |Δstep| > window excluded, repeated co-occurrence accumulates."""
    from jsonld_js_spark.kg_api import skipgram_pairs
    walks = spark.createDataFrame(
        [("s", 0, 0, "a"), ("s", 0, 1, "b"), ("s", 0, 2, "a"),
         ("s", 0, 3, "c"),
         ("t", 0, 0, "x"), ("t", 0, 1, "y")],
        "seed string, w long, step long, node string")
    got = {(r["center"], r["context"]): r["n_pairs"]
           for r in skipgram_pairs(walks, window=2).collect()}
    # walk s: pairs within dist 2: (0,1)(0,2)(1,2)(1,3)(2,3) ->
    # a-b x2 [(0,1),(1,2)], a-a x1 [(0,2)], b-c x1 [(1,3)], a-c x1 [(2,3)]
    assert got[("a", "b")] == 2 and got[("b", "a")] == 2
    assert got[("a", "a")] == 2        # symmetric double-count of (0,2)
    assert got[("b", "c")] == 1 and got[("a", "c")] == 1
    assert got[("x", "y")] == 1
    assert ("x", "a") not in got       # walks never mix
    # |Δstep|=3 pair (step0 a, step3 c) excluded by the window
    assert got[("a", "c")] == 1


def test_neighbor_jaccard_hand_truth(spark):
    """Jaccard over neighbor sets on a hand graph: square a-b-c-d-a
    plus a pendant e on a. N(a)={b,d,e}, N(c)={b,d} -> (a,c) share
    {b,d}: J = 2/(3+2-2) = 2/3; pendant e: N(e)={a}, shares d's and
    b's neighbor a: J(b,e)=1/(2+1-1)=1/2. Disconnected pairs never
    appear."""
    from pyspark.sql import functions as F
    from jsonld_js_spark.kg_api import neighbor_jaccard
    und = [("a","b"),("b","c"),("c","d"),("d","a"),("a","e")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "a string, b string")
    got = {(r["x"], r["y"]): (r["n_shared"], r["jaccard_ppm"])
           for r in neighbor_jaccard(edges, topk=100).collect()}
    assert got[("a", "c")] == (2, 666666)
    assert got[("b", "e")] == (1, 500000)
    assert got[("b", "d")] == (2, 1000000)  # identical neighbor sets
    assert ("a", "e") not in got  # adjacent but no shared neighbor


def test_neighbor_jaccard_hub_guard(spark):
    """Planted super-hub: h touches 10 leaves (degree 10); a genuine
    similar pair (p, q) shares two low-degree neighbors. With
    max_hub_degree=5 the hub is excluded as a wedge CENTER (its
    C(10,2)=45 leaf-pair wedges vanish) while (p, q) survives with
    EXACT degrees in the denominator; the guard stats frame reports
    exactly one dropped hub. With the guard off, leaf pairs appear."""
    from jsonld_js_spark.kg_api import (neighbor_jaccard,
                                        neighbor_jaccard_guard_stats)
    leaves = [f"l{i}" for i in range(10)]
    und = [("h", l) for l in leaves] + \
          [("p", "m1"), ("p", "m2"), ("q", "m1"), ("q", "m2")]
    edges = spark.createDataFrame(
        und + [(y, x) for x, y in und], "a string, b string")

    capped = neighbor_jaccard(edges, topk=1000, max_hub_degree=5)
    got = {(r["x"], r["y"]): (r["n_shared"], r["jaccard_ppm"])
           for r in capped.collect()}
    # (p,q) share {m1,m2}, deg 2 each -> J = 2/(2+2-2) = 1
    assert got[("p", "q")] == (2, 1000000)
    # wedges THROUGH low-degree centers p/q still emit (m1,m2)
    assert got[("m1", "m2")] == (2, 1000000)
    # every leaf pair met only through the dropped hub -> absent
    assert not any(x.startswith("l") and y.startswith("l")
                   for x, y in got)
    stats = neighbor_jaccard_guard_stats(capped)
    assert stats == {"dropped_hubs": 1,
                     "total_nodes": len(leaves) + 5}

    unc = {(r["x"], r["y"]) for r in
           neighbor_jaccard(edges, topk=1000,
                            max_hub_degree=None).collect()}
    assert ("l0", "l1") in unc and ("p", "q") in unc
