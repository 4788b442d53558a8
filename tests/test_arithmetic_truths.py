"""Hand-computed ground truths for the shared cross-engine formulas.

The DuckDB oracles compute the SAME portable arithmetic as the Spark
side, so the gate proves agreement, not correctness (the MinHash
lesson — BENCH/SOAK_DEDUP_r3.md). These tests pin the primitives to
values computed independently (by hand / plain Python from the
definitions), so a synchronized defect cannot hide.
"""
from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F


def test_hash60_definition(spark):
    """hash60('abc') must equal int(md5('abc').hex[:15], 16)."""
    from jsonld_js_spark.operators.textstats import hash60
    vals = ["abc", "", "Ünïcode ß", "a b c"]
    got = [r[0] for r in spark.createDataFrame(
        [(v,) for v in vals], "s string")
        .select(hash60(F.col("s"))).collect()]
    expect = [int(hashlib.md5(v.encode()).hexdigest()[:15], 16)
              for v in vals]
    assert got == expect


def test_cos_ppm_hand_computed(spark):
    """Quantized-cosine ppm on tiny integer vectors, by hand:
    v=[3,4], w=[4,3] quantized x1000 → dot=24e6, norms 5000 → cos=0.96
    → 960000 ppm exactly; orthogonal → 0; identical → 1000000."""
    from jsonld_js_spark.operators.similarity import _cos_ppm, _vec_d
    rows = [([0.003, 0.004], [0.004, 0.003]),
            ([0.001, 0.0], [0.0, 0.001]),
            ([0.002, 0.001], [0.002, 0.001])]
    df = spark.createDataFrame(rows, "a array<double>, b array<double>")
    got = [r[0] for r in df.select(
        _cos_ppm(_vec_d(F.col("a")), _vec_d(F.col("b")))).collect()]
    assert got == [960000, 0, 1000000], got


def test_jaccard_ppm_hand_computed(spark):
    """|{a,b}∩{b,c}|/|{a,b,c}| = 1/3 → floor(333333.33) = 333333."""
    from jsonld_js_spark.operators.dedup import _jaccard_ppm
    df = spark.createDataFrame(
        [(["a", "b"], ["b", "c"])], "sa array<string>, sb array<string>")
    got = df.select(_jaccard_ppm(F.col("sa"), F.col("sb"))).collect()[0][0]
    assert got == 333333


def test_tfidf_score_hand_computed(spark, tmp_path):
    """Two docs: 'x x y' and 'x z'. df(x)=2, df(y)=df(z)=1.
    score(x in d0) = 2*1e6 DIV 2 = 1000000; score(y in d0) = 1e6;
    score(x in d1) = 500000; score(z in d1) = 1000000."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    d = str(tmp_path / "tiny")
    import os
    os.makedirs(d)
    pq.write_table(pa.table({
        "doc_id": [0, 1], "text": ["x x y", "x z"],
        "lang": ["en", "en"], "source": ["s", "s"],
        "n_chars": [5, 3]}), f"{d}/documents.parquet")
    from jsonld_js_spark.operators.textstats import q_text_tfidf_topk
    got = {(r["doc_id"], r["token"]): (r["tf"], r["df"], r["score_ppm"])
           for r in q_text_tfidf_topk(spark, d).collect()}
    assert got == {(0, "x"): (2, 2, 1000000), (0, "y"): (1, 1, 1000000),
                   (1, "x"): (1, 2, 500000), (1, "z"): (1, 1, 1000000)}


def test_minhash_signature_hand_computed():
    """sig_i = min over shingles of A_i*h mod (2^61-1), checked with
    plain-Python big-int arithmetic on two known shingles."""
    from jsonld_js_spark.operators.dedup import MIX_CONSTS, MIX_PRIME

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    hs = [h60("a b c"), h60("b c d")]
    for a in MIX_CONSTS:
        expect = min((a * h) % MIX_PRIME for h in hs)
        # engine formula (same splitting the SQL/Column exprs use)
        got = min((((a * (h >> 30)) >> 31) +
                   (((a * (h >> 30)) & ((1 << 31) - 1)) << 30) +
                   a * (h & ((1 << 30) - 1))) % MIX_PRIME for h in hs)
        assert got == expect


def test_cooccur_lift_hand_computed(spark):
    """Lift ppm on a 4-conversation hand corpus, from the definition
    lift = N·c_xy/(c_x·c_y) with the documented left-to-right int64
    op order: N=4, c_A=3 c_B=3 c_C=2, c_AB=2 c_BC=2 (c_AC=1 falls to
    min support):
      AB: ((10^6·4)//3·2)//3 = 888888   (true 0.8888…)
      BC: ((10^6·4)//3·2)//2 = 1333333  (true 1.3333…)"""
    from jsonld_js_spark.kg_api import cooccur_lift
    conv_ents = spark.createDataFrame(
        [("c1", ["A", "B", "C"]), ("c2", ["A", "B"]),
         ("c3", ["A"]), ("c4", ["B", "C"])],
        "conv string, ents array<string>")
    got = {(r["ent_a"], r["ent_b"]): (r["n_convs"], r["lift_ppm"])
           for r in cooccur_lift(conv_ents).collect()}
    assert got == {("A", "B"): (2, 888888), ("B", "C"): (2, 1333333)}


def _query_and_oracle(spark, monkeypatch, triples, query, oracle):
    """(Spark rows, DuckDB rows) of a kg_api query and its oracle over
    the same hand-written triple table, each in result order."""
    import duckdb

    from jsonld_js_spark import kg_api
    from jsonld_js_spark.pipeline.vectorized import TRIPLE_COLUMNS
    df = spark.createDataFrame(
        triples, ", ".join(f"{c} string" for c in TRIPLE_COLUMNS))
    monkeypatch.setattr(kg_api, "_triples", lambda *a, **k: df)
    got = [tuple(r) for r in query(spark, None).collect()]
    con = duckdb.connect()
    con.execute("CREATE TABLE hand_triples (" + ", ".join(
        f"{c} VARCHAR" for c in TRIPLE_COLUMNS) + ")")
    con.executemany("INSERT INTO hand_triples VALUES (" +
                    ", ".join("?" * len(TRIPLE_COLUMNS)) + ")", triples)
    return got, con.execute(oracle("SELECT * FROM hand_triples")).fetchall()


def test_tool_transitions_hand_computed(spark, monkeypatch):
    """Branching transition shares on a hand trajectory corpus (the
    generator's fixed tool cycle gives every tool ONE successor, so
    the oracle gate never sees a split), through the Spark query and
    the DuckDB oracle. Tool-using turns by turnIndex:
      c1: search(1) -> code(3) -> search(5) -> web(7)
      c2: search(2) -> code(4)
      c3: {web, code}(1) -> search(2)   two tools on one turn
      c4: search(6), code(6)            two turns share an index
    Ties on the index order by tool: c3 is code -> web -> search and
    c4 is code -> search. Adjacent tool-turn bigrams: search->code x2,
    search->web x1, code->search x2, code->web x1, web->search x1.
    Out of 'search' and 'code': 3 each -> 666666 / 333333 ppm (floor);
    out of 'web': 1 -> 1000000."""
    from jsonld_js_spark.kg_api import (
        oracle_kg_tool_transitions, q_kg_tool_transitions)
    from jsonld_js_spark.vocab import TR
    turns = [("c1", 1, 1, ["search"]), ("c1", 3, 3, ["code"]),
             ("c1", 5, 5, ["search"]), ("c1", 7, 7, ["web"]),
             ("c2", 2, 2, ["search"]), ("c2", 4, 4, ["code"]),
             ("c3", 1, 1, ["web", "code"]), ("c3", 2, 2, ["search"]),
             ("c4", 1, 6, ["search"]), ("c4", 2, 6, ["code"])]
    triples = []
    for conv, turn, idx, tools in turns:
        subj = f"http://example.org/conv/{conv}/turn/{turn}"
        triples.append((subj, TR + "turnIndex", str(idx), "Literal",
                        None, None, None))
        triples += [(subj, TR + "usesTool", tool, "NamedNode",
                     None, None, None) for tool in tools]
    got, want = _query_and_oracle(spark, monkeypatch, triples,
                                  q_kg_tool_transitions,
                                  oracle_kg_tool_transitions)
    assert got == want == [("code", "search", 2, 666666),
                           ("code", "web", 1, 333333),
                           ("search", "code", 2, 666666),
                           ("search", "web", 1, 333333),
                           ("web", "search", 1, 1000000)]


def test_literal_stats_null_value_matches_oracle(spark, monkeypatch):
    """A NULL obj_value counts toward n but is not a distinct value, as
    in DuckDB's count(DISTINCT ...); a group whose values are all NULL
    still appears, with n_distinct 0."""
    from jsonld_js_spark.kg_api import (
        oracle_kg_literal_stats, q_kg_literal_stats)
    xs = "http://www.w3.org/2001/XMLSchema#string"
    triples = [("s1", "p1", "a", "Literal", xs, None, None),
               ("s2", "p1", "a", "Literal", xs, None, None),
               ("s3", "p1", None, "Literal", xs, None, None),
               ("s4", "p2", None, "Literal", None, None, None)]
    got, want = _query_and_oracle(spark, monkeypatch, triples,
                                  q_kg_literal_stats,
                                  oracle_kg_literal_stats)
    assert got == want == [("p1", "Literal", xs, 3, 1, 1, 1, "a", "a"),
                           ("p2", "Literal", "", 1, 0, None, None,
                            None, None)]


def test_relation_timeline_hand_computed(spark):
    """Temporal-edge contract on a hand corpus: pair (A,B) seen in c1
    (ts 2024-01-01T00:00:00Z) and c3 (2024-03-01T00:00:00Z) ->
    first/last straddle; (A,C) only in c2 falls to min support 2."""
    from jsonld_js_spark.kg_api import relation_timeline
    conv_ents = spark.createDataFrame(
        [("c1", ["A", "B"]), ("c2", ["A", "C"]), ("c3", ["A", "B"])],
        "conv string, ents array<string>")
    conv_ts = spark.createDataFrame(
        [("c1", "2024-01-01T00:00:00Z"), ("c2", "2024-02-01T00:00:00Z"),
         ("c3", "2024-03-01T00:00:00Z")],
        "conv string, conv_ts string")
    got = [tuple(r) for r in
           relation_timeline(conv_ents, conv_ts).collect()]
    assert got == [("A", "B", "2024-01-01T00:00:00Z",
                    "2024-03-01T00:00:00Z", 2)]


def test_bm25_score_hand_computed(spark):
    """Integer-BM25 contract on a 3-doc hand corpus, from the
    definitions: d0='hash join hash', d1='vector scan scan scan',
    d2='the quick fox'; n_docs=3, total_tokens=10, avgdl=10//3=3,
    df=1 for all three query terms -> idf_pm=2000 each.
      d0: denom=300+(900*3)//3=1200; tf_pm(hash)=(2*2.2e6)//3200=1375,
          tf_pm(join)=2.2e6//2200=1000 -> score=2000*(1375+1000)=4750000
      d1: denom=300+(900*4)//3=1500; tf_pm(vector)=2.2e6//2500=880
          -> score=1760000; d2 matches nothing."""
    from jsonld_js_spark.operators.textstats import bm25_topk
    docs = spark.createDataFrame(
        [(0, "hash join hash"), (1, "vector scan scan scan"),
         (2, "the quick fox")], "doc_id long, text string")
    got = [tuple(r) for r in bm25_topk(docs).collect()]
    assert got == [(0, 4750000, 2), (1, 1760000, 1)]


def test_mention_context_snippet_hand_computed(spark):
    """Snippet extents by hand: text = 'x'*40 + '[[Alpha7]]' + 'y'*40.
    First occurrence at 1-based pos 41; start = 41-30 = 11; length =
    30 + len('[[Alpha7]]') + 30 = 70 -> 30 x's, the mention, 30 y's.
    A leading mention clamps start to 1. Repeated surface shares the
    first occurrence's snippet (one row, distinct semantics).
    q_kg_mention_contexts reads the transcripts generator by sf_dir,
    so this drives the same projection expression directly."""
    from pyspark.sql import functions as F
    from jsonld_js_spark.vocab import MENTION_RE

    rows = [("c1", 0, "user", "x" * 40 + "[[Alpha7]]" + "y" * 40,
             None, "2024-01-01 00:00:00"),
            ("c1", 1, "user", "[[Beta3]] tail [[Beta3]]",
             None, "2024-01-01 00:01:00")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string,"
              " tool string, ts string")
    got = (df.select(
        "conv_id", "turn_idx", "text",
        F.explode(F.array_distinct(
            F.regexp_extract_all("text", F.lit(MENTION_RE), 1)))
        .alias("surface"))
        .select("conv_id", "turn_idx", "surface", F.expr(
            "substr(text, greatest(1, "
            "locate(concat('[[', surface, ']]'), text) - 30), "
            "64 + length(surface))").alias("snippet"))
        .orderBy("turn_idx").collect())
    assert len(got) == 2
    assert got[0]["snippet"] == "x" * 30 + "[[Alpha7]]" + "y" * 30
    assert got[1]["snippet"] == "[[Beta3]] tail [[Beta3]]"


def test_role_affinity_share_hand_computed(spark):
    """share_ppm by hand: entity E mentioned 2x by user, 1x by
    assistant -> user 666666, assistant 333333 (floor)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window
    base = spark.createDataFrame(
        [("E", "user", 2), ("E", "assistant", 1)],
        "ent string, role string, n_mentions long")
    w = Window.partitionBy("ent")
    got = {r["role"]: r["share"] for r in base.withColumn(
        "total", F.sum("n_mentions").over(w)).select(
        "role", F.expr("(1000000 * n_mentions) DIV total")
        .alias("share")).collect()}
    assert got == {"user": 666666, "assistant": 333333}
