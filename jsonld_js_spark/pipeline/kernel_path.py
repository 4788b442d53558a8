"""General-path transcript→triples: per-conversation JSON-LD documents
through the pure-Python kernel inside Arrow-batched mapInArrow.

This is the path that handles ARBITRARY JSON-LD (any context, nested
nodes, lists, named graphs) — the fixed-shape hot path in
`vectorized.py` is its specialization. It doubles as the differential
oracle: tests assert both paths emit identical triple sets.

Why mapInArrow and not applyInPandas: grouping is still by conv_id
(we repartition + sortWithinPartitions so each conversation's turns are
contiguous in partition order), but one Python call processes a whole
Arrow batch (~10k rows ≈ hundreds of conversations) instead of paying
per-group invocation overhead for median-10-turn conversations. A
conversation larger than one Arrow batch is handled by carrying the
partial tail between batches — partition-local, deterministic.

Per-row prep (the lexical timestamp, mention detection) runs in the
JVM, in a Project under the Python node; the batch reaches Python as
Arrow columns turned into plain lists, with no pandas frame at either
end. Only the JSON-LD tree recursion itself is per-conversation Python,
which is exactly the semantics the reference defines recursively (ref
lib/expand.js:68, lib/nodeMap.js:47). Output leaves in record batches
of about CHUNK_QUADS quads, so a worker's memory does not grow with the
input batch size.
"""
from __future__ import annotations

from typing import Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..kernel import to_rdf
from ..vocab import (
    ENT_NS, MENTION_DIGITS_RE, TRANSCRIPT_CONTEXT, conv_iri, turn_iri,
)

_ENT_PREFIX = ENT_NS + "Entity"

# quads pending in a Python worker before they are yielded as one
# output record batch
CHUNK_QUADS = 8192

TRIPLE_SCHEMA = StructType([
    StructField("subj", StringType()),
    StructField("pred", StringType()),
    StructField("obj_value", StringType()),
    StructField("obj_termtype", StringType()),
    StructField("obj_datatype", StringType()),
    StructField("obj_language", StringType()),
    StructField("graph", StringType()),
])
_QUAD_TYPE = pa.struct([(name, pa.string())
                        for name in TRIPLE_SCHEMA.fieldNames()])


def build_conversation_doc(conv_id: str, turns: list[dict]) -> dict:
    """One conversation (turn dicts sorted by turn_idx) → JSON-LD doc.
    A NULL text is omitted, as JSON-LD expansion drops a null value."""
    return {
        "@context": TRANSCRIPT_CONTEXT,
        "@id": conv_iri(conv_id),
        "@type": "Conversation",
        "hasTurn": [_turn_node(conv_id, t["turn_idx"], t["role"], t["text"],
                               t.get("tool"), t["ts_lex"], t["mention_iris"])
                    for t in turns],
    }


def _turn_node(conv_id, turn_idx, role, text, tool, ts_lex,
               mention_iris) -> dict:
    """The JSON-LD node of one turn of build_conversation_doc."""
    node = {
        "@id": turn_iri(conv_id, turn_idx),
        "@type": "Turn",
        "turnIndex": int(turn_idx),
        "role": role,
        "ts": ts_lex,
    }
    if text is not None:
        node["text"] = text
    if tool:
        node["usesTool"] = "tool:" + tool
    if mention_iris:
        node["mentions"] = mention_iris
    return node


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


def _last_group_start(keys) -> int:
    """Index where the run of rows sharing the last key begins (0 for
    no rows). Equal keys are contiguous (upstream sort), so the scan
    stops at the first different key."""
    i = len(keys)
    if i:
        last = keys[i - 1]
        i -= 1
        while i and keys[i - 1] == last:
            i -= 1
    return i


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
            cut = _last_group_start(pdf[key].to_numpy())
            if cut:
                yield emit(pdf.iloc[:cut])
            tail = pdf.iloc[cut:] if len(pdf) else None
        if tail is not None:
            yield emit(tail)
    return run


def _whole_conversations(batches: Iterator[pa.RecordBatch]):
    """Yield `(columns, end)` per Arrow batch, the columns as Python
    lists: rows [0, end) are whole conversations. The partial last
    conversation is carried into the next batch, and yielded whole
    after the partition's last batch (partition-local, deterministic;
    conversations are contiguous, as in batched_by_key)."""
    carry = None
    for batch in batches:
        # via numpy: Array.to_pylist boxes every value in a scalar
        # object first, ~10x slower on these string and int columns
        cols = [c.to_numpy(zero_copy_only=False).tolist()
                for c in batch.columns]
        if carry is not None:
            cols = [old + new for old, new in zip(carry, cols)]
        cut = _last_group_start(cols[0])
        yield cols, cut
        carry = [c[cut:] for c in cols]
    if carry is not None and carry[0]:
        yield carry, len(carry[0])


def _conversation_quads(cols, end: int, options: dict,
                        doc_transform, quad_filter):
    """Kernel quads of each whole conversation in rows [0, end), one
    list per conversation. Rows are sorted by (conv_id, turn_idx), so
    a conversation is a contiguous slice of the column lists."""
    conv_ids, turn_idx, role, text, tool, ts_lex, mention_tails = cols
    start = 0
    while start < end:
        cid = conv_ids[start]
        stop = start + 1
        while stop < end and conv_ids[stop] == cid:
            stop += 1
        # build_conversation_doc's document, built straight from the
        # columns; no @context, which is pre-processed (activeCtx)
        doc = {"@id": conv_iri(cid), "@type": "Conversation", "hasTurn": [
            _turn_node(cid, turn_idx[k], role[k], text[k], tool[k],
                       ts_lex[k], [_ENT_PREFIX + d for d in
                                   (mention_tails[k] or "").split()])
            for k in range(start, stop)]}
        if doc_transform is not None:
            doc = doc_transform(doc)
        # set-semantics dedup is per-node in the node map; emit raw
        quads = to_rdf(doc, options)
        if quad_filter is not None:
            quads = [q for q in quads if quad_filter(q)]
        yield quads
        start = stop


def _quad_batch(quads: list[tuple]) -> pa.RecordBatch:
    return pa.RecordBatch.from_struct_array(pa.array(quads, type=_QUAD_TYPE))


def _kernel_batches(doc_transform=None, quad_filter=None,
                    expansion_map=None):
    """Build the mapInArrow function, capturing optional hooks (the
    engine's counterpart of the reference's expansionMap/compactionMap
    callback surface, ref lib/jsonld.js:109-117: arbitrary Python
    callables ride the UDF closure to the executors).

    Output is bounded: after a conversation, the pending quads are
    yielded as one record batch once there are at least CHUNK_QUADS,
    so a batch holds at most CHUNK_QUADS - 1 plus one conversation's
    quads, whatever the input batch size."""
    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        options = {"activeCtx": _shared_active_ctx(), "skipCopy": True,
                   "processingMode": "json-ld-1.1"}
        if expansion_map is not None:
            # per-event callback inside kernel expansion
            # (ref lib/jsonld.js:109-117); NOTE: expansion then bypasses
            # every memo and plan of this worker's shared context (the
            # IRI, value, key and node-shape memos) — use
            # doc_transform/quad_filter for hot-path rewrites and
            # reserve this for event-level hooks
            options["expansionMap"] = expansion_map
        pending: list[tuple] = []
        for cols, end in _whole_conversations(batches):
            for quads in _conversation_quads(cols, end, options,
                                             doc_transform, quad_filter):
                pending.extend(quads)
                if len(pending) >= CHUNK_QUADS:
                    yield _quad_batch(pending)
                    pending = []
        if pending:
            yield _quad_batch(pending)
    return run


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
    # per-row prep runs in the JVM, in a Project directly under the
    # Python node: the vectorized path's lexical timestamp, and the
    # mention digit tails (the canonical entity is "Entity" + tail; a
    # NULL text has no mentions), space-joined so that every column
    # reaching Python is flat. Column order is what
    # _conversation_quads unpacks.
    rows = part.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_lex"),
        F.array_join(F.regexp_extract_all("text", F.lit(MENTION_DIGITS_RE),
                                          1), " ").alias("mention_tails"))
    triples = rows.mapInArrow(
        _kernel_batches(doc_transform, quad_filter, expansion_map),
        schema=TRIPLE_SCHEMA)
    if dedup:
        triples = triples.dropDuplicates(TRIPLE_SCHEMA.fieldNames())
    return triples
