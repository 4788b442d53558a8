"""Structured Streaming ingestion tests (availableNow one-shot)."""
from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from jsonld_js_spark.pipeline import transcript_triples
from jsonld_js_spark.streaming import (
    stream_mention_counts, stream_transcript_triples,
)
from jsonld_js_spark.transcripts import transcripts_df

N_CONV = 40


@pytest.fixture(scope="module")
def transcript_files(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("stream_in"))
    transcripts_df(spark, n_conv=N_CONV).repartition(4) \
        .write.mode("overwrite").parquet(d)
    return d


def test_stream_triples_matches_batch(spark, transcript_files, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = stream_transcript_triples(spark, transcript_files, out, ckpt)
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in transcript_triples(
        transcripts_df(spark, n_conv=N_CONV)).collect()}
    assert got == want


def test_stream_mention_counts(spark, transcript_files, tmp_path):
    q = stream_mention_counts(spark, transcript_files,
                              str(tmp_path / "ckpt2"))
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM mention_counts").collect()
    assert rows
    total = sum(r["n_mentions"] for r in rows)
    assert total > 0
    assert all(r["window"]["start"] is not None for r in rows)


def test_stream_conversation_sessions(spark, transcript_files, tmp_path):
    from jsonld_js_spark.streaming import stream_conversation_sessions
    q = stream_conversation_sessions(
        spark, transcript_files, str(tmp_path / "ckpt3"),
        gap_seconds=600)
    q.awaitTermination(180)
    rows = spark.sql("SELECT * FROM conversation_sessions").collect()
    # conversations start hours apart, so as the watermark advances
    # across input files earlier sessions must close and emit
    assert rows, "no sessions closed"
    by_conv = {r["conv_id"]: r for r in rows}
    batch = transcripts_df(spark, n_conv=N_CONV).groupBy("conv_id").count()
    expected = {r["conv_id"]: r["count"] for r in batch.collect()}
    for conv_id, r in by_conv.items():
        assert r["n_turns"] == expected[conv_id], conv_id
        assert r["first_ts"] <= r["last_ts"]
        assert r["n_mentions"] >= r["n_turns"]  # >=1 mention per turn


def test_stream_entity_timeline_matches_batch(spark, transcript_files,
                                              tmp_path):
    """The streaming per-entity profile after the stream drains equals
    the batch min/max/count over the same turns, and the state the
    query ever held is exactly one row per distinct entity (the
    vocabulary-bounded claim)."""
    from jsonld_js_spark.streaming.ingest import stream_entity_timeline
    from jsonld_js_spark.vocab import MENTION_RE

    q = stream_entity_timeline(spark, transcript_files,
                               str(tmp_path / "ckpt_tl"),
                               query_name="entity_timeline_t")
    q.awaitTermination(120)
    got = {r["entity"]: (r["first_seen"], r["last_seen"],
                         r["n_mentions"])
           for r in spark.sql(
               "SELECT * FROM entity_timeline_t").collect()}
    batch = (transcripts_df(spark, n_conv=N_CONV)
             .select("ts", F.explode(F.array_distinct(F.transform(
                 F.regexp_extract_all("text", F.lit(MENTION_RE), 1),
                 lambda s: F.concat(
                     F.lit("Entity"),
                     F.regexp_extract(s, r"[0-9]+", 0)))))
                 .alias("entity"))
             .groupBy("entity")
             .agg(F.min("ts").alias("f"), F.max("ts").alias("l"),
                  F.count("*").alias("n")))
    want = {r["entity"]: (r["f"], r["l"], r["n"])
            for r in batch.collect()}
    assert got == want
    ops = q.lastProgress["stateOperators"]
    assert ops and ops[0]["numRowsTotal"] == len(want)


def test_stream_dedup_documents(spark, tmp_path):
    """Duplicates across micro-batches within the watermark are
    dropped; distinct texts all survive."""
    from datetime import datetime
    import time

    from jsonld_js_spark.streaming.ingest import stream_dedup_documents

    in_dir = str(tmp_path / "docs_in")
    rows1 = [(1, "alpha text", datetime(2026, 1, 1, 0, 0)),
             (2, "beta text", datetime(2026, 1, 1, 0, 1)),
             (3, "Alpha   TEXT", datetime(2026, 1, 1, 0, 2))]  # dup of 1
    rows2 = [(4, "beta text", datetime(2026, 1, 1, 0, 3)),      # dup of 2
             (5, "gamma text", datetime(2026, 1, 1, 0, 4))]
    schema = "doc_id long, text string, ts timestamp"
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)

    q = stream_dedup_documents(
        spark, in_dir, str(tmp_path / "ckpt"), watermark="1 hour",
        query_name="dedup_docs_t")
    q.awaitTermination(120)
    for _ in range(20):
        out = spark.sql("SELECT * FROM dedup_docs_t").collect()
        if len(out) >= 3:
            break
        time.sleep(0.5)
    fps = [r["fingerprint"] for r in out]
    assert len(fps) == len(set(fps)) == 3
    texts = {r["text"].lower().split()[0] for r in out}
    assert texts == {"alpha", "beta", "gamma"}


def test_stream_hll_postings_matches_batch(spark, tmp_path):
    """The streaming HLL register table after the whole stream drains
    equals the batch sketch over the same documents — and the state
    the query ever held is bounded by the m=1024 buckets (read from
    the final progress), the claim that makes a count-distinct
    monitor feasible on an unbounded stream."""
    from datetime import datetime
    import time

    from jsonld_js_spark.operators.sketches import HLL_M, hll_registers
    from jsonld_js_spark.streaming.ingest import stream_hll_postings

    in_dir = str(tmp_path / "hll_in")
    schema = "doc_id long, text string, ts timestamp"
    rows = [(i, f"tok{i % 7} tok{i % 31} shared text body {i}",
             datetime(2026, 1, 1, 0, i % 60)) for i in range(300)]
    # several files so the sketch accumulates across micro-batches
    for lo in range(0, 300, 100):
        spark.createDataFrame(rows[lo:lo + 100], schema) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_hll_postings(spark, in_dir, str(tmp_path / "ckpt_hll"),
                            query_name="hll_postings_t")
    q.awaitTermination(120)
    for _ in range(20):
        got = spark.sql(
            "SELECT bucket, max_rho FROM hll_postings_t").collect()
        if got:
            break
        time.sleep(0.5)
    batch_df = spark.createDataFrame(rows, schema)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = (batch_df.select("doc_id",
                             F.explode(F.split(norm, " ")).alias("tok"))
             .select(F.concat_ws(":", "doc_id", "tok").alias("item")))
    want = hll_registers(items).collect()
    as_set = lambda rs: {(r["bucket"], r["max_rho"]) for r in rs}  # noqa: E731
    assert as_set(got) == as_set(want)
    assert len(got) <= HLL_M
    prog = q.lastProgress
    ops = prog["stateOperators"]
    assert ops and all(op["numRowsTotal"] <= HLL_M for op in ops)


def test_stream_nquads_matches_batch(spark, tmp_path):
    """Streaming .nq ingestion == batch read_nquads on the same files,
    including a second micro-batch appending a new file."""
    from jsonld_js_spark.kernel import serialize_nquads
    from jsonld_js_spark.sources import read_nquads
    from jsonld_js_spark.streaming import stream_nquads_triples

    EX = "http://example.org/"
    XS = "http://www.w3.org/2001/XMLSchema#string"
    q1 = [(EX + "s1", EX + "p", 'va "l" 1', "Literal", XS, None, ""),
          ("_:b0", EX + "p", EX + "o", "NamedNode", None, None, EX + "g")]
    q2 = [(EX + "s2", EX + "p", "deux", "Literal",
           "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString",
           "fr", "")]
    in_dir = tmp_path / "nq_in"
    in_dir.mkdir()
    (in_dir / "a.nq").write_text(serialize_nquads(q1))
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream_nquads_triples(spark, str(in_dir), out, ckpt) \
        .awaitTermination(120)
    (in_dir / "b.nq").write_text(serialize_nquads(q2))
    stream_nquads_triples(spark, str(in_dir), out, ckpt) \
        .awaitTermination(120)
    got = {tuple(r) for r in spark.read.parquet(out).collect()}
    want = {tuple(r) for r in read_nquads(spark, str(in_dir)).collect()}
    assert got == want == set(q1) | set(q2)


def test_stream_neardup_matches_batch(spark, tmp_path):
    """Streaming MinHash/LSH near-dup pairs == the batch
    `minhash_pairs` output on the same corpus (watermark/window cover
    the whole input), including near-dups split ACROSS micro-batch
    files and a multi-band pair emitted exactly once."""
    from datetime import datetime, timedelta
    import time as _t

    from jsonld_js_spark.operators.dedup import minhash_pairs
    from jsonld_js_spark.streaming.ingest import stream_neardup_pairs

    base = ("the quick brown fox jumps over the lazy dog while "
            "seventeen curious researchers annotate long transcripts "
            "about distributed graph construction every single day")
    uniq = ("completely different content about orbital mechanics "
            "and the thermodynamics of interstellar dust clouds "
            "measured by nineteen observatories last winter season")
    t0 = datetime(2026, 1, 1, 0, 0)
    rows1 = [(1, base, t0),
             (3, uniq, t0 + timedelta(minutes=2))]
    # near-dup of 1 arrives in a LATER micro-batch file
    rows2 = [(2, base + " with a tiny suffix", t0 + timedelta(minutes=5)),
             (4, base, t0 + timedelta(minutes=7)),  # exact dup: all bands
             (5, uniq + " slightly edited", t0 + timedelta(minutes=9))]
    schema = "doc_id long, text string, ts timestamp"
    in_dir = str(tmp_path / "nd_in")
    spark.createDataFrame(rows1, schema).write.mode("append").parquet(in_dir)
    spark.createDataFrame(rows2, schema).write.mode("append").parquet(in_dir)

    q = stream_neardup_pairs(
        spark, in_dir, str(tmp_path / "nd_ckpt"), watermark="1 hour",
        join_window="1 hour", query_name="neardup_t")
    q.awaitTermination(180)

    docs = spark.createDataFrame(rows1 + rows2, schema)
    want = sorted((r["doc_a"], r["doc_b"], r["jaccard_ppm"]) for r in
                  minhash_pairs(docs.select("doc_id", "text")).collect())
    assert want, "batch reference found no pairs - test corpus broken"
    got = []
    for _ in range(30):
        got = sorted((r["doc_a"], r["doc_b"], r["jaccard_ppm"]) for r in
                     spark.sql("SELECT * FROM neardup_t").collect())
        if len(got) >= len(want):
            break
        _t.sleep(0.5)
    assert got == want
    # the (1,4) exact pair shares ALL 4 bands yet appears once
    assert len([p for p in got if p[:2] == (1, 4)]) == 1


def test_stream_asof_matches_batch(spark, tmp_path):
    """Streaming last-touch attribution == batch asof_attach on the
    same events, covering: match within tolerance, stale match nulled,
    no-prior-right, equal-microsecond rights (larger id wins, as-of
    <= inclusive), out-of-order rows inside a micro-batch, and users
    split across micro-batch files. A far-future dummy view advances
    the watermark so every real left emits."""
    from datetime import datetime, timedelta
    import time as _t

    from jsonld_js_spark.operators.asof import asof_attach
    from jsonld_js_spark.streaming import stream_asof_attach

    t0 = datetime(2026, 1, 1, 0, 0)
    m = timedelta(minutes=1)
    rows1 = [  # user 1, deliberately listed out of event-time order
        (2, t0 + timedelta(seconds=10), 1, "purchase"),  # -> view 1
        (1, t0, 1, "view"),
        (3, t0 + 5 * m, 1, "purchase"),    # lag 290s > 60s tolerance
        (5, t0 + 7 * m, 1, "view"),
        (7, t0 + 7 * m, 1, "view"),        # same us: id 7 wins
        (6, t0 + 7 * m, 1, "purchase"),    # equal-ts inclusive, lag 0
    ]
    rows2 = [  # user 2 in a later file — event times must sit INSIDE
        # the watermark window of file 1 (max 00:07 - 1 min), or the
        # stream correctly drops them as late data
        (20, t0 + 10 * m + timedelta(seconds=30), 2, "purchase"),
        (21, t0 + 11 * m, 2, "view"),
        (22, t0 + 11 * m + timedelta(seconds=20), 2, "purchase"),
        (30, t0 + 12 * m, 2, "click"),     # other types ignored
    ]
    flush = [(999, t0 + timedelta(hours=3), 999, "view")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    in_dir = str(tmp_path / "asof_in")
    for part in (rows1, rows2, flush):
        # one file per logical batch: maxFilesPerTrigger=1 makes each
        # a micro-batch, so the watermark advances in input order
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)

    q = stream_asof_attach(
        spark, in_dir, str(tmp_path / "asof_ckpt"),
        tolerance_us=60 * 1_000_000, watermark="1 minute",
        query_name="asof_t")
    q.awaitTermination(180)

    events = spark.createDataFrame(rows1 + rows2 + flush, schema)
    want = sorted(tuple(r) for r in asof_attach(
        events, tolerance_us=60 * 1_000_000).collect())
    assert want, "batch reference empty - test corpus broken"
    got = []
    for _ in range(30):
        got = sorted(tuple(r) for r in
                     spark.sql("SELECT * FROM asof_t").collect())
        if len(got) >= len(want):
            break
        _t.sleep(0.5)
    assert got == want
    by_id = {r[1]: r for r in got}
    assert by_id[2][3:] == (1, by_id[2][2] - 10_000_000, 10_000_000)
    assert by_id[3][3:] == (None, None, None)      # stale
    assert by_id[20][3:] == (None, None, None)     # no prior
    assert by_id[6][3] == 7 and by_id[6][5] == 0   # equal-us, max id


def test_stream_asof_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume: run the attribution stream, stop it, append
    more weeks plus the watermark flush, and restart from the SAME
    checkpoint — buffered per-user state must survive the restart and
    the final output must equal batch asof_attach on everything."""
    from datetime import datetime, timedelta

    from jsonld_js_spark.operators.asof import asof_attach
    from jsonld_js_spark.streaming import stream_asof_attach

    t0 = datetime(2026, 1, 1, 0, 0)
    m = timedelta(minutes=1)
    rows1 = [(1, t0, 1, "view"),
             (2, t0 + timedelta(seconds=30), 1, "purchase")]
    rows2 = [(3, t0 + 10 * m, 1, "view"),
             (4, t0 + 10 * m + timedelta(seconds=40), 1, "purchase")]
    flush = [(99, t0 + timedelta(hours=2), 99, "view")]
    schema = "event_id long, ts timestamp, user_id long, event_type string"
    in_dir = str(tmp_path / "ar_in")
    ckpt = str(tmp_path / "ar_ckpt")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    out_dir = str(tmp_path / "ar_out")
    q = stream_asof_attach(spark, in_dir, ckpt, tolerance_us=60_000_000,
                           watermark="1 minute", output_dir=out_dir)
    q.awaitTermination(120)

    for part in (rows2, flush):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    q2 = stream_asof_attach(spark, in_dir, ckpt, tolerance_us=60_000_000,
                            watermark="1 minute", output_dir=out_dir)
    q2.awaitTermination(120)

    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    events = spark.createDataFrame(rows1 + rows2 + flush, schema)
    want = sorted(tuple(r) for r in
                  asof_attach(events, tolerance_us=60_000_000).collect())
    assert got == want and len(want) == 2

def test_stream_countmin_matches_batch_and_bounded(spark, tmp_path):
    """The streaming Count-Min counter table after the stream drains
    equals the batch sketch over the same documents; state is bounded
    by the d*w cells (from the final progress) and the planted hot
    token's estimate is one-sided correct."""
    from datetime import datetime
    import time

    from jsonld_js_spark.operators.sketches import (
        CM_D, CM_W, countmin_estimate, countmin_table)
    from jsonld_js_spark.streaming.ingest import stream_countmin_tokens

    in_dir = str(tmp_path / "cm_in")
    schema = "doc_id long, text string, ts timestamp"
    rows = [(i, f"hotzz tok{i % 13} filler{i}",
             datetime(2026, 1, 1, 0, i % 60)) for i in range(300)]
    for lo in range(0, 300, 100):
        spark.createDataFrame(rows[lo:lo + 100], schema) \
            .coalesce(1).write.mode("append").parquet(in_dir)

    q = stream_countmin_tokens(spark, in_dir, str(tmp_path / "ckpt_cm"),
                               query_name="countmin_t")
    q.awaitTermination(120)
    for _ in range(20):
        got = spark.sql("SELECT r, cell, cnt FROM countmin_t").collect()
        if got:
            break
        time.sleep(0.5)
    batch_df = spark.createDataFrame(rows, schema)
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = batch_df.select(F.explode(F.split(norm, " ")).alias("item"))
    want = countmin_table(items).collect()
    as_set = lambda rs: {(r["r"], r["cell"], r["cnt"]) for r in rs}  # noqa: E731
    assert as_set(got) == as_set(want)
    assert len(got) <= CM_D * CM_W
    est = countmin_estimate(got, "hotzz")
    assert 300 <= est <= 300 + int(2.72 * 900 / CM_W) + 1
    prog = q.lastProgress
    ops = prog["stateOperators"]
    assert ops and all(op["numRowsTotal"] <= CM_D * CM_W for op in ops)


def test_stream_tool_transitions_matches_batch(spark, tmp_path):
    """Streaming transition feed == the batch pre-aggregation on the
    same turns, covering: out-of-order rows inside a micro-batch,
    non-tool turns filtered, a conversation split across micro-batch
    files (the carried last-tool state), and the strict-watermark
    boundary. A far-future dummy conversation advances the watermark
    so every real transition emits."""
    from datetime import datetime, timedelta
    import time as _t

    from jsonld_js_spark.kg_api import tool_transitions
    from jsonld_js_spark.streaming import stream_tool_transitions

    t0 = datetime(2026, 1, 1, 0, 0)
    m = timedelta(minutes=1)
    rows1 = [
        ("cA", 2, "tool", "t", "code", t0 + 2 * m),
        ("cA", 0, "tool", "t", "search", t0),       # out of order
        ("cA", 1, "assistant", "t", None, t0 + m),  # non-tool: skipped
        ("cB", 0, "tool", "t", "web", t0 + m),
    ]
    rows2 = [  # later file: event times at/after file 1's watermark
        ("cA", 4, "tool", "t", "files", t0 + 3 * m),
        ("cB", 3, "tool", "t", "search", t0 + 3 * m),
    ]
    flush = [("zz", 0, "tool", "t", "noop", t0 + timedelta(hours=3))]
    schema = ("conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    in_dir = str(tmp_path / "tt_in")
    for part in (rows1, rows2, flush):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)

    q = stream_tool_transitions(
        spark, in_dir, str(tmp_path / "tt_ckpt"),
        watermark="1 minute", query_name="tool_trans_t")
    q.awaitTermination(180)

    want_rows = {("cA", 0, 2, "search", "code"),
                 ("cA", 2, 4, "code", "files"),
                 ("cB", 0, 3, "web", "search")}
    got = set()
    for _ in range(30):
        got = {tuple(r) for r in
               spark.sql("SELECT * FROM tool_trans_t").collect()}
        if len(got) >= len(want_rows):
            break
        _t.sleep(0.5)
    assert got == want_rows

    # aggregated feed == the batch transition table on the real convs
    agg = {}
    for a, b in ((r[3], r[4]) for r in got):
        agg[(a, b)] = agg.get((a, b), 0) + 1
    batch_in = spark.createDataFrame(
        [(c, i, tool) for c, i, _r, _t2, tool, _ts in rows1 + rows2
         if tool is not None],
        "conv string, idx int, tool string")
    batch = {(r["tool_from"], r["tool_to"]): r["n_trans"]
             for r in tool_transitions(batch_in).collect()}
    assert agg == batch
    # bounded per-conv state after EVERY stateful micro-batch, not only
    # whichever one happened to run last
    stateful = [p["stateOperators"][0] for p in q.recentProgress
                if p["stateOperators"]]
    assert stateful
    assert all(op["numRowsTotal"] <= 3 for op in stateful), \
        [op["numRowsTotal"] for op in stateful]


def test_stream_tool_transitions_checkpoint_restart(spark, tmp_path):
    """Kill-and-resume: drain the transition stream once (the later
    tool turn still unfinalized), append the continuation plus the
    watermark flush, and restart from the SAME checkpoint — the
    carried last-tool scalar state must survive the restart so the
    cross-restart transition emits exactly once."""
    from datetime import datetime, timedelta

    from jsonld_js_spark.streaming import stream_tool_transitions

    t0 = datetime(2026, 1, 1, 0, 0)
    m = timedelta(minutes=1)
    schema = ("conv_id string, turn_idx int, role string, "
              "text string, tool string, ts timestamp")
    rows1 = [("cA", 0, "tool", "t", "search", t0),
             ("cA", 2, "tool", "t", "code", t0 + 2 * m)]
    rows2 = [("cA", 4, "tool", "t", "web", t0 + 4 * m)]
    flush = [("zz", 0, "tool", "t", "noop", t0 + timedelta(hours=2))]
    in_dir = str(tmp_path / "ttr_in")
    ckpt = str(tmp_path / "ttr_ckpt")
    out_dir = str(tmp_path / "ttr_out")
    spark.createDataFrame(rows1, schema).coalesce(1) \
        .write.mode("append").parquet(in_dir)

    q = stream_tool_transitions(spark, in_dir, ckpt,
                                watermark="1 minute", output_dir=out_dir)
    q.awaitTermination(120)

    for part in (rows2, flush):
        spark.createDataFrame(part, schema).coalesce(1) \
            .write.mode("append").parquet(in_dir)
    q2 = stream_tool_transitions(spark, in_dir, ckpt,
                                 watermark="1 minute",
                                 output_dir=out_dir)
    q2.awaitTermination(120)

    got = sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())
    assert got == [("cA", 0, 2, "search", "code"),
                   ("cA", 2, 4, "code", "web")]
