"""General-path transcript→triples: per-conversation JSON-LD documents
through the pure-Python kernel inside Arrow-batched mapInPandas.

This is the path that handles ARBITRARY JSON-LD (any context, nested
nodes, lists, named graphs) — the fixed-shape hot path in
`vectorized.py` is its specialization. It doubles as the differential
oracle: tests assert both paths emit identical triple sets.

Why mapInPandas and not applyInPandas: grouping is still by conv_id
(we repartition + sortWithinPartitions so each conversation's turns are
contiguous in partition order), but one Python call processes a whole
Arrow batch (~10k rows ≈ hundreds of conversations) instead of paying
per-group invocation overhead for median-10-turn conversations. A
conversation larger than one Arrow batch is handled by carrying the
partial tail between batches — partition-local, deterministic.

Mention detection + entity-link scoring run vectorized on the pandas
batch (Series.str ops over Arrow columns — no per-row Python), per the
north_star contract; only the JSON-LD tree recursion itself is
per-conversation Python, which is exactly the semantics the reference
defines recursively (ref lib/expand.js:68, lib/nodeMap.js:47).
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

import re

from ..kernel import to_rdf
from ..vocab import (
    ENT_NS, MENTION_DIGITS_RE, TRANSCRIPT_CONTEXT, conv_iri, turn_iri,
)

_MENTION_DIGITS_RE = re.compile(MENTION_DIGITS_RE)
_ENT_PREFIX = ENT_NS + "Entity"

TRIPLE_SCHEMA = StructType([
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj_value", StringType()),
    StructField("obj_termtype", StringType()),
    StructField("obj_datatype", StringType()),
    StructField("obj_language", StringType()),
    StructField("graph", StringType()),
])


def build_conversation_doc(conv_id: str, turns: list[dict]) -> dict:
    """One conversation (turn dicts sorted by turn_idx) → JSON-LD doc.
    A NULL text is omitted, as JSON-LD expansion drops a null value."""
    turn_nodes = []
    for t in turns:
        node = {
            "@id": turn_iri(conv_id, t["turn_idx"]),
            "@type": "Turn",
            "turnIndex": int(t["turn_idx"]),
            "role": t["role"],
            "ts": t["ts_lex"],
        }
        if t["text"] is not None:
            node["text"] = t["text"]
        if t.get("tool"):
            node["usesTool"] = "tool:" + t["tool"]
        if t["mention_iris"]:
            node["mentions"] = t["mention_iris"]
        turn_nodes.append(node)
    return {
        "@context": TRANSCRIPT_CONTEXT,
        "@id": conv_iri(conv_id),
        "@type": "Conversation",
        "hasTurn": turn_nodes,
    }


_SHARED_CTX = None


def _shared_active_ctx():
    """The resolve-once context (north_star 'immutable context cache'):
    processed one time per Python worker, reused by every conversation.
    On a real cluster this dict rides the UDF closure / a broadcast."""
    global _SHARED_CTX
    if _SHARED_CTX is None:
        from ..kernel.context import initial_context, process_context
        opts = {"processingMode": "json-ld-1.1", "base": None}
        _SHARED_CTX = process_context(
            initial_context(opts), TRANSCRIPT_CONTEXT, opts)
    return _SHARED_CTX


def _emit_conversations(pdf: pd.DataFrame, doc_transform=None,
                        quad_filter=None,
                        expansion_map=None) -> pd.DataFrame:
    """Vectorized prep + per-conversation kernel run over one batch.

    Rows arrive sorted by (conv_id, turn_idx) (sortWithinPartitions
    upstream), so conversations are contiguous slices — iterate plain
    Python lists (pandas to_dict/itertuples overhead is ~40% of batch
    time at this grain).
    """
    # batched mention detection + entity linking (vectorized str ops;
    # a NULL text has no mentions). MENTION_DIGITS_RE matches exactly
    # the MENTION_RE surface but captures only the digit tail, so the
    # per-mention char-level digit scrape (a genexpr per character —
    # measured ~15% of batch prep) collapses to one string concat;
    # numpy's ISO datetime writer replaces strftime's per-row format
    # interpreter (same second-truncated lexical form, ~6x faster).
    mention_iris = pdf["text"].fillna("").str.findall(
        _MENTION_DIGITS_RE).apply(lambda ms: [_ENT_PREFIX + m for m in ms])
    import numpy as np
    ts_lex = np.char.add(
        np.datetime_as_string(pdf["ts"].to_numpy(dtype="datetime64[s]"),
                              unit="s"), "Z")

    conv_ids = pdf["conv_id"].tolist()
    cols = (pdf["turn_idx"].tolist(), pdf["role"].tolist(),
            pdf["text"].tolist(), pdf["tool"].tolist(),
            ts_lex.tolist(), mention_iris.tolist())

    options = {"activeCtx": _shared_active_ctx(), "skipCopy": True,
               "processingMode": "json-ld-1.1"}
    if expansion_map is not None:
        # per-event callback inside kernel expansion
        # (ref lib/jsonld.js:109-117); NOTE: disables the IRI memo on
        # this worker's shared context — use doc_transform/quad_filter
        # for hot-path rewrites and reserve this for event-level hooks
        options["expansionMap"] = expansion_map
    out: list[tuple] = []
    n = len(conv_ids)
    start = 0
    while start < n:
        end = start
        cid = conv_ids[start]
        while end < n and conv_ids[end] == cid:
            end += 1
        turns = [
            {"turn_idx": cols[0][k], "role": cols[1][k],
             "text": cols[2][k], "tool": cols[3][k],
             "ts_lex": cols[4][k], "mention_iris": cols[5][k]}
            for k in range(start, end)]
        doc = build_conversation_doc(cid, turns)
        del doc["@context"]  # context pre-processed (activeCtx)
        if doc_transform is not None:
            doc = doc_transform(doc)
        # set-semantics dedup is per-node in the node map; emit raw
        quads = to_rdf(doc, options)
        if quad_filter is not None:
            quads = [q for q in quads if quad_filter(q)]
        out.extend(quads)
        start = end
    return pd.DataFrame(out, columns=TRIPLE_SCHEMA.fieldNames())


def batched_by_key(key: str, emit):
    """Wrap a per-batch `emit(pdf) -> pdf` into a mapInPandas generator
    that carries the partial last-`key` group across Arrow batch
    boundaries (partition-local, deterministic).

    Arrow slices a partition into fixed-size record batches with no
    regard for group boundaries; a group whose rows straddle two
    batches would otherwise be processed twice and emitted as
    duplicate/partial results. Precondition (guaranteed by the
    upstream repartition+sortWithinPartitions): rows with equal `key`
    are contiguous within the partition.
    """
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tail: pd.DataFrame | None = None
        for pdf in batches:
            if tail is not None:
                pdf = pd.concat([tail, pdf], ignore_index=True)
            if len(pdf) == 0:
                tail = None
                continue
            last = pdf[key].iloc[-1]
            head = pdf[pdf[key] != last]
            tail = pdf[pdf[key] == last]
            if len(head):
                yield emit(head)
        if tail is not None and len(tail):
            yield emit(tail)
    return run


def _batched(doc_transform=None, quad_filter=None, expansion_map=None):
    """Build the mapInPandas function, capturing optional hooks (the
    engine's counterpart of the reference's expansionMap/compactionMap
    callback surface, ref lib/jsonld.js:109-117: arbitrary Python
    callables ride the UDF closure to the executors)."""
    return batched_by_key(
        "conv_id",
        lambda pdf: _emit_conversations(pdf, doc_transform, quad_filter,
                                        expansion_map))


def kernel_transcript_triples(transcripts: DataFrame,
                              num_partitions: int | None = None,
                              dedup: bool = False,
                              doc_transform=None,
                              quad_filter=None,
                              expansion_map=None,
                              assume_grouped: bool = False) -> DataFrame:
    """transcripts → triples via the generic JSON-LD kernel.

    The only shuffle is the repartition by conv_id (co-locating a
    conversation's turns); the hot-conversation skew knob is absorbed
    because a 500-turn conversation is still tiny next to a partition.
    With `assume_grouped=True` (valid when the source is already
    conversation-contiguous — an Iceberg table bucketed/sorted by
    (conv_id, turn_idx), or our generator) the shuffle is skipped
    entirely and the whole path is narrow. CAUTION: the precondition
    is not checked; if any conversation's rows straddle a PARTITION
    boundary (tail-carry is partition-local) or appear non-contiguously
    within one, that conversation's triples are emitted per fragment.
    When the layout is unverified, either leave assume_grouped=False
    (one shuffle restores the invariant) or pass dedup=True, which
    makes fragmented emission harmless: per-turn triples are
    fragment-local and conversation-level triples (rdf:type, hasTurn)
    are identical across fragments, so a global dropDuplicates
    restores the exact triple set (test_pipeline.py covers this).

    The kernel's node map dedups per (node, property) via addValue
    (ref lib/util.js:249-306) and node IRIs are conversation-scoped,
    so cross-conversation duplicates cannot occur → no global dedup
    shuffle by default (dedup=True adds a dropDuplicates for
    multi-source merges).
    """
    if assume_grouped:
        part = transcripts
    else:
        n = num_partitions or             transcripts.sparkSession.sparkContext.defaultParallelism
        part = (transcripts
                .repartition(n, "conv_id")
                .sortWithinPartitions("conv_id", "turn_idx"))
    triples = part.mapInPandas(
        _batched(doc_transform, quad_filter, expansion_map),
        schema=TRIPLE_SCHEMA)
    if dedup:
        triples = triples.dropDuplicates(TRIPLE_SCHEMA.fieldNames())
    return triples
