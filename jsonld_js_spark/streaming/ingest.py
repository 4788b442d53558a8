"""Structured Streaming ingestion for the transcript KG.

The reference is strictly batch (SURVEY.md §2.9) and the north_rule's
resumability comes from checkpointed batch partitions — but a
continuously-arriving transcript feed is the natural 100 TB deployment
shape, and the vectorized triple emission is STATELESS, so the exact
same column plan runs under `readStream` unchanged:

  files → transcript_triples (narrow ops only) → append sink

plus a stateful example: watermarked sliding-window mention counts
(late-arriving turns tolerated up to the watermark).
"""
from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.vectorized import transcript_triples
from ..vocab import MENTION_DIGITS_RE, MENTION_RE

TRANSCRIPT_DDL = ("conv_id string, turn_idx int, role string, "
                  "text string, tool string, ts timestamp")


def read_transcript_stream(spark: SparkSession, input_dir: str,
                           max_files_per_trigger: int = 4) -> DataFrame:
    return (spark.readStream.schema(TRANSCRIPT_DDL)
            .option("maxFilesPerTrigger", max_files_per_trigger)
            .parquet(input_dir))


def _turn_entities(stream: DataFrame) -> DataFrame:
    """(ts, entity): one row per distinct canonical entity a turn
    mentions. The explode sees only the digit tails; the `Entity`
    prefix is added above it, so no higher-order function takes the
    Generate out of codegen."""
    return stream.select(
        "ts",
        F.explode(F.array_distinct(F.regexp_extract_all(
            "text", F.lit(MENTION_DIGITS_RE), 1))).alias("digits")
    ).select("ts", F.concat(F.lit("Entity"), "digits").alias("entity"))


def stream_transcript_triples(spark: SparkSession, input_dir: str,
                              output_dir: str, checkpoint_dir: str,
                              available_now: bool = True):
    """File-stream → triples → parquet append. Exactly-once via the
    streaming checkpoint (source offsets + file-sink manifest)."""
    stream = read_transcript_stream(spark, input_dir)
    triples = transcript_triples(stream)  # stateless: valid on streams
    writer = (triples.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_mention_counts(spark: SparkSession, input_dir: str,
                          checkpoint_dir: str,
                          window: str = "10 minutes",
                          slide: str = "5 minutes",
                          watermark: str = "15 minutes",
                          available_now: bool = True):
    """Stateful: watermarked sliding-window per-entity mention counts
    (the hot-entity monitor). Late turns within the watermark update
    their window; older ones are dropped — bounded state."""
    stream = read_transcript_stream(spark, input_dir)
    mentions = _turn_entities(stream)
    counts = (mentions
              .withWatermark("ts", watermark)
              .groupBy(F.window("ts", window, slide), "entity")
              .agg(F.count("*").alias("n_mentions")))
    writer = (counts.writeStream
              .format("memory")
              .queryName("mention_counts")
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("complete"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_conversation_sessions(spark: SparkSession, input_dir: str,
                                 checkpoint_dir: str,
                                 gap_seconds: int = 3600,
                                 available_now: bool = True):
    """Custom stateful operator via applyInPandasWithState: per-
    conversation session tracking. State accumulates (n_turns,
    min_ts, max_ts, n_mentions) per conv_id; when the event-time
    watermark passes last_ts + gap the session closes and one summary
    row is emitted (append mode, bounded state).

    This is the applyInPandasWithState shape a 10^12-turn live feed
    needs: state is per-conversation (the natural shuffle key), rows
    arrive in any order within the watermark, and output is exactly
    one row per closed conversation session.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    stream = (read_transcript_stream(spark, input_dir)
              .withWatermark("ts", f"{gap_seconds // 2} seconds"))

    output_schema = ("conv_id string, n_turns long, first_ts timestamp, "
                     "last_ts timestamp, n_mentions long")
    state_schema = ("n_turns long, first_ts timestamp, last_ts timestamp, "
                    "n_mentions long")

    def track(key, pdfs, state: GroupState):
        import re
        (conv_id,) = key
        if state.hasTimedOut:
            n_turns, first_ts, last_ts, n_mentions = state.get
            state.remove()
            yield pd.DataFrame([
                (conv_id, n_turns, first_ts, last_ts, n_mentions)],
                columns=["conv_id", "n_turns", "first_ts", "last_ts",
                         "n_mentions"])
            return
        n_turns = 0
        first_ts = None
        last_ts = None
        n_mentions = 0
        if state.exists:
            n_turns, first_ts, last_ts, n_mentions = state.get
        pat = re.compile(MENTION_RE)
        for pdf in pdfs:
            n_turns += len(pdf)
            n_mentions += int(pdf["text"].str.count(pat).sum())
            lo = pdf["ts"].min().to_pydatetime()
            hi = pdf["ts"].max().to_pydatetime()
            first_ts = lo if first_ts is None or lo < first_ts else first_ts
            last_ts = hi if last_ts is None or hi > last_ts else last_ts
        state.update((n_turns, first_ts, last_ts, n_mentions))
        state.setTimeoutTimestamp(
            int(last_ts.timestamp() * 1000) + gap_seconds * 1000)
        return
        yield  # pragma: no cover (generator form)

    sessions = (stream.groupBy("conv_id").applyInPandasWithState(
        track, output_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout))
    writer = (sessions.writeStream
              .format("memory")
              .queryName("conversation_sessions")
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


DOC_DDL = "doc_id long, text string, ts timestamp"


def stream_dedup_documents(spark: SparkSession, input_dir: str,
                           checkpoint_dir: str,
                           watermark: str = "1 hour",
                           available_now: bool = True,
                           output_dir: str | None = None,
                           query_name: str = "dedup_docs"):
    """Streaming exact dedup — the batch `dedup_exact` operator's
    streaming counterpart: md5(normalized text) fingerprint +
    `dropDuplicatesWithinWatermark`, so the dedup state store expires
    with event time instead of growing unboundedly (at 100 TB/day an
    unbounded `dropDuplicates` state would OOM the state store; the
    watermark bounds it to one fingerprint per watermark window).
    Returns the started query; with output_dir=None results go to an
    in-memory table named `query_name` (tests)."""
    stream = (spark.readStream.schema(DOC_DDL)
              .option("maxFilesPerTrigger", 4).parquet(input_dir))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    deduped = (stream
               .withWatermark("ts", watermark)
               .withColumn("fingerprint", F.md5(norm))
               .dropDuplicatesWithinWatermark(["fingerprint"]))
    if output_dir is not None:
        writer = (deduped.writeStream.format("parquet")
                  .option("path", output_dir)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    else:
        writer = (deduped.writeStream.format("memory")
                  .queryName(query_name)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_neardup_pairs(spark: SparkSession, input_dir: str,
                         checkpoint_dir: str,
                         watermark: str = "1 hour",
                         join_window: str = "1 hour",
                         available_now: bool = True,
                         output_dir: str | None = None,
                         query_name: str = "neardup_pairs"):
    """Streaming NEAR-duplicate detection — `dedup_minhash_lsh`'s
    streaming counterpart: as documents arrive, compute the identical
    MinHash(8)/LSH(4×2) band keys (pure column exprs — the batch
    math verbatim, operators/dedup.py minhash_band_rows), then find
    candidate pairs with a band-keyed STREAM-STREAM self-join bounded
    by an event-time range, verify exact Jaccard from the carried
    shingle arrays, and emit (doc_a, doc_b, jaccard_ppm) pairs.

    State boundedness at 100 TB/day: both join sides are watermarked
    and the join condition carries `ts_b BETWEEN ts_a ± join_window`,
    so the state store holds only band rows inside the window —
    near-dups further apart than the window are by-contract out of
    scope (the batch operator sweeps history). The multi-band
    duplicate emission (a pair sharing 2+ bands) is collapsed by a
    chained `dropDuplicatesWithinWatermark` on the pair key — Spark
    4.x supports stateful-after-stateful in append mode.

    Equality contract (tested): with a watermark/window covering the
    whole input, the emitted pair set equals the batch
    `minhash_pairs` output exactly."""
    from ..operators.dedup import (
        JACCARD_PPM_MIN, _jaccard_ppm, minhash_band_rows, shingle_cols)
    stream = (spark.readStream.schema(DOC_DDL)
              .option("maxFilesPerTrigger", 4).parquet(input_dir))
    sh = shingle_cols(stream.withWatermark("ts", watermark),
                      extra_cols=("ts",))
    bands = minhash_band_rows(sh, carry=("ts",), carry_shingles=True)
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("ts").alias("ts_a"),
                     F.col("shingles").alias("sa"),
                     F.col("band").alias("band_a"),
                     F.col("bkey").alias("bkey_a"))
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("ts").alias("ts_b"),
                     F.col("shingles").alias("sb"),
                     F.col("band").alias("band_b"),
                     F.col("bkey").alias("bkey_b"))
    pairs = (a.join(
        b,
        (F.col("band_a") == F.col("band_b")) &
        (F.col("bkey_a") == F.col("bkey_b")) &
        (F.col("doc_a") < F.col("doc_b")) &
        F.expr(f"ts_b BETWEEN ts_a - INTERVAL {join_window} "
               f"AND ts_a + INTERVAL {join_window}"))
        .select("doc_a", "doc_b", "ts_a",
                _jaccard_ppm(F.col("sa"), F.col("sb"))
                .alias("jaccard_ppm"))
        .filter(F.col("jaccard_ppm") >= JACCARD_PPM_MIN)
        # the join output already carries the propagated event-time
        # watermark (redefining it is an error in Spark 4); ts_a stays
        # in the frame as the dedup state's event-time column
        .dropDuplicatesWithinWatermark(["doc_a", "doc_b"])
        .select("doc_a", "doc_b", "jaccard_ppm"))
    if output_dir is not None:
        writer = (pairs.writeStream.format("parquet")
                  .option("path", output_dir)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    else:
        writer = (pairs.writeStream.format("memory")
                  .queryName(query_name)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_nquads_triples(spark: SparkSession, input_dir: str,
                          output_dir: str, checkpoint_dir: str,
                          available_now: bool = True,
                          on_error: str = "raise"):
    """Continuous RDF ingestion: .nq files → triple table. The batch
    N-Quads source's per-line parse (sources/nquads.py
    parse_nquads_lines) is stateless, so the identical plan runs under
    readStream — text file source → kernel_map (one mapInArrow) →
    parquet append, exactly-once via the streaming checkpoint. on_error='skip' keeps a
    malformed file from wedging the stream."""
    from ..sources import parse_nquads_lines
    lines = spark.readStream.text(input_dir)
    triples = parse_nquads_lines(lines, on_error=on_error)
    writer = (triples.writeStream
              .format("parquet")
              .option("path", output_dir)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_hll_postings(spark: SparkSession, input_dir: str,
                        checkpoint_dir: str,
                        available_now: bool = True,
                        query_name: str = "hll_postings"):
    """Live distinct-postings monitor: the HLL register sketch
    (operators/sketches.py) as a streaming aggregation. The register
    table IS the streaming state — groupBy(bucket).max over m = 1024
    buckets — so state is bounded at m rows FOREVER, regardless of
    stream length or key cardinality: the one count-distinct shape
    that never needs a watermark to stay bounded (contrast
    stream_dedup_documents, whose exact-dedup state must expire by
    event time). Complete output mode re-emits the full (tiny)
    register table per trigger; downstream merges across days by
    register max (sketches.hll_merge)."""
    from ..operators.sketches import hll_registers
    stream = (spark.readStream.schema(DOC_DDL)
              .option("maxFilesPerTrigger", 4).parquet(input_dir))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = (stream.select(F.col("doc_id"),
                           F.explode(F.split(norm, " ")).alias("tok"))
             .select(F.concat_ws(":", F.col("doc_id"), F.col("tok"))
                     .alias("item")))
    regs = hll_registers(items)
    writer = (regs.writeStream.format("memory")
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("complete"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_entity_timeline(spark: SparkSession, input_dir: str,
                           checkpoint_dir: str,
                           available_now: bool = True,
                           query_name: str = "entity_timeline"):
    """Live per-entity temporal profile: first_seen / last_seen /
    n_mentions maintained as a streaming upsert aggregate over the
    transcript feed — the continuously-fresh sibling of the batch
    `kg_entity_timeline` (kg_api.py). State is 3 scalars per DISTINCT
    entity — bounded by the entity vocabulary forever, not by stream
    length, so no watermark is needed (min/max/count are monotone
    merges, the same never-expires argument as the HLL registers).
    Complete mode re-emits the profile table per trigger; the
    distinct-conversation leg of the batch query deliberately does NOT
    stream here — exact streaming distinct state grows with
    (entity × conv) pairs, so a deployment pairs this with
    stream_hll_postings keyed ent:conv (fixed registers) instead."""
    stream = read_transcript_stream(spark, input_dir)
    mentions = _turn_entities(stream)
    prof = (mentions.groupBy("entity")
            .agg(F.min("ts").alias("first_seen"),
                 F.max("ts").alias("last_seen"),
                 F.count("*").alias("n_mentions")))
    writer = (prof.writeStream.format("memory")
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("complete"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_countmin_tokens(spark: SparkSession, input_dir: str,
                           checkpoint_dir: str,
                           available_now: bool = True,
                           query_name: str = "countmin_tokens"):
    """Live token-frequency monitor: the Count-Min counter table
    (operators/sketches.py) as a streaming aggregation — the heavy-
    hitter / vocabulary-drift surface a curation pipeline watches
    while a crawl streams in. State is the d*w = 4096 counter cells
    (groupBy(r, cell).count), bounded FOREVER like the HLL registers:
    frequency monitoring needs no watermark because the sketch, not
    the key set, is the state. Complete mode re-emits the tiny table
    per trigger; days merge by cellwise sum (sketches.countmin_merge);
    probe with sketches.countmin_estimate."""
    from ..operators.sketches import countmin_table
    stream = (spark.readStream.schema(DOC_DDL)
              .option("maxFilesPerTrigger", 4).parquet(input_dir))
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = stream.select(F.explode(F.split(norm, " ")).alias("item"))
    table = countmin_table(items)
    writer = (table.writeStream.format("memory")
              .queryName(query_name)
              .option("checkpointLocation", checkpoint_dir)
              .outputMode("complete"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


EVENTS_DDL = ("event_id long, ts timestamp, user_id long, "
              "event_type string")


def stream_asof_attach(spark: SparkSession, input_dir: str,
                       checkpoint_dir: str,
                       left_type: str = "purchase",
                       right_type: str = "view",
                       tolerance_us: int | None = 21600 * 1_000_000,
                       watermark: str = "10 minutes",
                       query_name: str = "asof_attr",
                       available_now: bool = True,
                       max_files_per_trigger: int = 1,
                       output_dir: str | None = None):
    """Streaming last-touch attribution — the live counterpart of
    operators/asof.asof_attach, same output contract (user_id,
    event_id, us, asof_event_id, asof_us, lag_us — int64 micros,
    as-of <= with right-before-left at equal microseconds, larger
    event_id among equal-us rights winning, tolerance nulling stale
    matches).

    Custom stateful operator via applyInPandasWithState keyed by
    user_id. Out-of-order arrival is handled by the watermark-sort
    pattern: rows buffer in per-key state until the event-time
    watermark passes them, then are replayed in (us, side, event_id)
    order — a LEFT event emits exactly once, when no earlier RIGHT
    can still arrive. State is BOUNDED on both axes: the buffer holds
    only rows inside the watermark window, and the carried
    latest-right row expires via event-time timeout once the
    watermark passes last_right_us + tolerance (a right older than
    that can never match a future left, whose us necessarily exceeds
    the watermark) — so state per key is O(window), independent of
    stream length, the applyInPandasWithState shape a 10^12-event
    feed needs."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    stream = (spark.readStream.schema(EVENTS_DDL)
              .option("maxFilesPerTrigger", max_files_per_trigger)
              .parquet(input_dir)
              .filter(F.col("event_type").isin(left_type, right_type))
              .withWatermark("ts", watermark)
              .select("user_id", "event_id",
                      (F.col("event_type") == left_type).alias("is_left"),
                      "ts"))

    output_schema = ("user_id long, event_id long, us long, "
                     "asof_event_id long, asof_us long, lag_us long")
    state_schema = ("pend_us array<long>, pend_id array<long>, "
                    "pend_left array<boolean>, "
                    "last_right_id long, last_right_us long")

    def attach(key, pdfs, state: GroupState):
        (user_id,) = key
        pend = []
        last_rid, last_rus = None, None
        if state.exists:
            pend_us, pend_id, pend_left, last_rid, last_rus = state.get
            pend = list(zip(pend_us, pend_left, pend_id))
        if not state.hasTimedOut:
            for pdf in pdfs:
                for eid, left, ts in zip(pdf["event_id"], pdf["is_left"],
                                         pdf["ts"]):
                    pend.append((int(ts.value) // 1000, bool(left),
                                 int(eid)))
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend.sort()  # (us, right-before-left via False<True, event_id)
        out, keep = [], []
        for us, left, eid in pend:
            # finalize only STRICTLY below the watermark: Spark still
            # admits late rows whose event time EQUALS the watermark,
            # so a right event at us == wm_us may yet arrive for a
            # co-timed left — buffer the boundary row; the timeout
            # (us // 1000 + 1 ms) re-processes it once the watermark
            # strictly passes. Emitting at us == wm_us diverged from
            # batch asof_attach at the exact boundary (ADVICE r4).
            if us >= wm_us:
                keep.append((us, left, eid))
            elif left:
                ok = last_rus is not None and (
                    tolerance_us is None or us - last_rus <= tolerance_us)
                out.append((user_id, eid, us,
                            last_rid if ok else None,
                            last_rus if ok else None,
                            us - last_rus if ok else None))
            else:
                last_rid, last_rus = eid, us
        if keep:
            state.update(([r[0] for r in keep], [r[2] for r in keep],
                          [r[1] for r in keep], last_rid, last_rus))
            state.setTimeoutTimestamp(keep[0][0] // 1000 + 1)
        elif last_rus is not None and (
                tolerance_us is None or wm_us <= last_rus + tolerance_us):
            state.update(([], [], [], last_rid, last_rus))
            if tolerance_us is not None:
                state.setTimeoutTimestamp(
                    max((last_rus + tolerance_us) // 1000 + 1,
                        wm_us // 1000 + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=[
                "user_id", "event_id", "us", "asof_event_id",
                "asof_us", "lag_us"])

    attributed = (stream.groupBy("user_id").applyInPandasWithState(
        attach, output_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout))
    if output_dir is not None:
        # fault-tolerant sink: supports checkpoint RECOVERY (the
        # memory sink does not), so a killed job resumes with its
        # buffered per-key state intact — exactly-once end to end
        writer = (attributed.writeStream
                  .format("parquet")
                  .option("path", output_dir)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    else:
        writer = (attributed.writeStream
                  .format("memory")
                  .queryName(query_name)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_tool_transitions(spark: SparkSession, input_dir: str,
                            checkpoint_dir: str,
                            watermark: str = "10 minutes",
                            gap_us: int | None = 6 * 3600 * 1_000_000,
                            query_name: str = "tool_trans",
                            available_now: bool = True,
                            max_files_per_trigger: int = 1,
                            output_dir: str | None = None):
    """Streaming agent-trajectory transition feed — the live
    counterpart of kg_api.tool_transitions' pre-aggregation: emits one
    (conv_id, idx_from, idx_to, tool_from, tool_to) row per adjacent
    pair of tool-using turns in turn_idx order, exactly once, as the
    event-time watermark finalizes the LATER turn. Downstream, the
    vocabulary-bounded (tool_from, tool_to) count/share table is the
    batch aggregation (or a trivial streaming agg over this feed).

    Ordering contract: within a conversation, ts is monotone
    non-decreasing in turn_idx (true of transcript feeds — turns are
    appended as they happen); rows buffer in per-conv state until the
    watermark STRICTLY passes them (the us == wm_us boundary rule,
    ADVICE r4), then replay in turn_idx order, and the last finalized
    tool turn rides state as 3 scalars so transitions span
    micro-batches. Defensively, finalization stops at the first held
    row in idx order, so a contract-violating feed can delay but
    never reorder or double-emit a transition.

    State per conversation = the watermark-window buffer + 3 scalars,
    and an event-time timeout clears conversations idle past gap_us —
    bounded on both axes for an unbounded feed (the
    applyInPandasWithState shape of stream_asof_attach)."""
    import pandas as pd
    from pyspark.sql.streaming.state import (
        GroupState, GroupStateTimeout,
    )

    stream = (read_transcript_stream(spark, input_dir,
                                     max_files_per_trigger)
              .filter(F.col("tool").isNotNull())
              .withWatermark("ts", watermark)
              .select("conv_id", "turn_idx", "tool", "ts"))

    output_schema = ("conv_id string, idx_from int, idx_to int, "
                     "tool_from string, tool_to string")
    state_schema = ("pend_idx array<int>, pend_us array<long>, "
                    "pend_tool array<string>, "
                    "last_idx int, last_tool string, last_us long")

    def attach(key, pdfs, state: GroupState):
        (conv_id,) = key
        pend = []
        last_idx = last_tool = last_us = None
        if state.exists:
            (pend_idx, pend_us, pend_tool,
             last_idx, last_tool, last_us) = state.get
            pend = list(zip(pend_idx, pend_us, pend_tool))
        if not state.hasTimedOut:
            for pdf in pdfs:
                for ti, tool, ts in zip(pdf["turn_idx"], pdf["tool"],
                                        pdf["ts"]):
                    pend.append((int(ti), int(ts.value) // 1000, tool))
        wm_us = state.getCurrentWatermarkMs() * 1000
        pend.sort()  # turn_idx order; ts monotone per the contract
        out, keep = [], []
        for ti, us, tool in pend:
            if keep or us >= wm_us:
                keep.append((ti, us, tool))
                continue
            if last_tool is not None:
                out.append((conv_id, last_idx, ti, last_tool, tool))
            last_idx, last_tool, last_us = ti, tool, us
        if keep:
            state.update(([r[0] for r in keep], [r[1] for r in keep],
                          [r[2] for r in keep],
                          last_idx, last_tool, last_us))
            state.setTimeoutTimestamp(keep[0][1] // 1000 + 1)
        elif last_tool is not None and (
                gap_us is None or wm_us <= last_us + gap_us):
            state.update(([], [], [], last_idx, last_tool, last_us))
            if gap_us is not None:
                state.setTimeoutTimestamp(
                    max((last_us + gap_us) // 1000 + 1,
                        wm_us // 1000 + 1))
        elif state.exists:
            state.remove()
        if out:
            yield pd.DataFrame(out, columns=[
                "conv_id", "idx_from", "idx_to",
                "tool_from", "tool_to"])

    trans = (stream.groupBy("conv_id").applyInPandasWithState(
        attach, output_schema, state_schema, "append",
        GroupStateTimeout.EventTimeTimeout))
    if output_dir is not None:
        writer = (trans.writeStream
                  .format("parquet")
                  .option("path", output_dir)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    else:
        writer = (trans.writeStream
                  .format("memory")
                  .queryName(query_name)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
