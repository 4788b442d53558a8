"""General-path transcript→triples: per-conversation JSON-LD documents
through the pure-Python kernel inside Arrow-batched mapInArrow, and
`kernel_map`, the one Arrow loop through which every kernel-backed
query (compaction, framing, the fromRDF round trip, the schemaless
JSON-LD column, the N-Quads source) crosses into Python.

This is the path that handles ARBITRARY JSON-LD (any context, nested
nodes, lists, named graphs) — the fixed-shape hot path in
`vectorized.py` is its specialization. It doubles as the differential
oracle: tests assert both paths emit identical triple sets.

Why mapInArrow and not applyInPandas: grouping is still by key (an
upstream repartition + sortWithinPartitions makes each group's rows
contiguous in partition order), but one Python call processes a whole
Arrow batch (~10k rows ≈ hundreds of conversations) instead of paying
per-group invocation overhead for median-10-turn conversations. A
group larger than one Arrow batch is handled by carrying the partial
tail between batches — partition-local, deterministic.

Per-row prep (the lexical timestamp, mention detection) runs in the
JVM, in a Project under the Python node; the batch reaches Python as
Arrow columns turned into plain lists, with no pandas frame at either
end. Only the JSON-LD tree recursion itself is per-group Python, which
is exactly the semantics the reference defines recursively (ref
lib/expand.js:68, lib/nodeMap.js:47). Output leaves in record batches
of about CHUNK_QUADS rows, so a worker's memory does not grow with the
input batch size.
"""
from __future__ import annotations

from typing import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from ..kernel import to_rdf
from ..vocab import (
    ENT_NS, MENTION_DIGITS_RE, TRANSCRIPT_CONTEXT, conv_iri, turn_iri,
)

_ENT_PREFIX = ENT_NS + "Entity"

# rows pending in a Python worker before they are yielded as one
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


def _whole_groups(batches: Iterator[pa.RecordBatch], key_at):
    """Yield `(columns, end)` per Arrow batch, the columns as Python
    lists: rows [0, end) are whole groups of equal `columns[key_at]`.
    The partial last group is carried into the next batch, and yielded
    whole after the partition's last batch (partition-local,
    deterministic). With key_at None every row is a whole group."""
    carry = None
    for batch in batches:
        # via numpy: Array.to_pylist boxes every value in a scalar
        # object first, ~10x slower on these string and int columns
        cols = [c.to_numpy(zero_copy_only=False).tolist()
                for c in batch.columns]
        if carry:
            cols = [old + new for old, new in zip(carry, cols)]
        n = len(cols[0])
        cut = n if key_at is None else _last_group_start(cols[key_at])
        yield cols, cut
        carry = [c[cut:] for c in cols] if cut < n else None
    if carry:
        yield carry, len(carry[0])


def _group_bounds(keys, end: int):
    """`(start, stop)` of each run of equal keys in rows [0, end); with
    keys None, of each row."""
    if keys is None:
        yield from zip(range(end), range(1, end + 1))
        return
    start = 0
    while start < end:
        key = keys[start]
        stop = start + 1
        while stop < end and keys[stop] == key:
            stop += 1
        yield start, stop
        start = stop


def _map_groups(batches: Iterator[pa.RecordBatch], key_at, groups,
                out_type: pa.StructType) -> Iterator[pa.RecordBatch]:
    """The Arrow loop behind every kernel-backed query. `groups(cols,
    end)` yields one list of output tuples per whole group in rows
    [0, end). Output is bounded: after a group, the pending rows are
    yielded as one record batch once there are at least CHUNK_QUADS,
    so a batch holds at most CHUNK_QUADS - 1 plus one group's rows,
    whatever the input batch size."""
    pending: list[tuple] = []
    for cols, end in _whole_groups(batches, key_at):
        for rows in groups(cols, end):
            pending.extend(rows)
            if len(pending) >= CHUNK_QUADS:
                yield _record_batch(pending, out_type)
                pending = []
    if pending:
        yield _record_batch(pending, out_type)


def _record_batch(rows: list[tuple], out_type) -> pa.RecordBatch:
    return pa.RecordBatch.from_struct_array(pa.array(rows, type=out_type))


def _struct_type(schema: StructType) -> pa.StructType:
    return pa.struct(list(to_arrow_schema(schema)))


_QUAD_TYPE = _struct_type(TRIPLE_SCHEMA)


def kernel_map(df: DataFrame, key, per_group, schema: StructType
               ) -> DataFrame:
    """`df` → `schema` rows through `per_group(cols, start, stop)`, which
    returns the output tuples (in `schema` order) of rows [start, stop)
    of the column lists `cols` (in `df`'s column order). Each group of
    equal `key` reaches it whole: Arrow slices a partition into
    record batches with no regard for groups, so the partial last
    group of a batch is carried into the next one. Precondition: equal
    keys are contiguous within a partition (an upstream
    repartition + sortWithinPartitions, or a source laid out that
    way). With key None every row is its own group (stateless maps).

    Arrow in and Arrow out, with no pandas frame at either end; output
    leaves in record batches of about CHUNK_QUADS rows."""
    key_at = None if key is None else df.columns.index(key)
    return df.mapInArrow(_group_map(key_at, per_group, _struct_type(schema)),
                         schema=schema)


def _group_map(key_at, per_group, out_type):
    """kernel_map's mapInArrow function."""
    def groups(cols, end):
        keys = None if key_at is None else cols[key_at]
        return (per_group(cols, start, stop)
                for start, stop in _group_bounds(keys, end))
    return lambda batches: _map_groups(batches, key_at, groups, out_type)


def conversation_doc(cols, start: int, stop: int) -> dict:
    """build_conversation_doc's document for rows [start, stop) of
    `turn_rows` columns (one conversation), without the @context."""
    conv_ids, turn_idx, role, text, tool, ts_lex, mention_tails = cols
    cid = conv_ids[start]
    return {"@id": conv_iri(cid), "@type": "Conversation", "hasTurn": [
        _turn_node(cid, turn_idx[k], role[k], text[k], tool[k], ts_lex[k],
                   [_ENT_PREFIX + d for d in (mention_tails[k] or "").split()])
        for k in range(start, stop)]}


def _conversation_quads(cols, end: int, options: dict,
                        doc_transform, quad_filter):
    """Kernel quads of each whole conversation in rows [0, end), one
    list per conversation. Rows are sorted by (conv_id, turn_idx), so
    a conversation is a contiguous slice of the column lists."""
    for start, stop in _group_bounds(cols[0], end):
        # the @context is pre-processed (activeCtx)
        doc = conversation_doc(cols, start, stop)
        if doc_transform is not None:
            doc = doc_transform(doc)
        # set-semantics dedup is per-node in the node map; emit raw
        quads = to_rdf(doc, options)
        if quad_filter is not None:
            quads = [q for q in quads if quad_filter(q)]
        yield quads


def _kernel_batches(doc_transform=None, quad_filter=None,
                    expansion_map=None):
    """Build the mapInArrow function, capturing optional hooks (the
    engine's counterpart of the reference's expansionMap/compactionMap
    callback surface, ref lib/jsonld.js:109-117: arbitrary Python
    callables ride the UDF closure to the executors). It is the
    kernel_map loop, keyed by conv_id, over one worker-shared
    processed context."""
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
        return _map_groups(
            batches, 0,
            lambda cols, end: _conversation_quads(
                cols, end, options, doc_transform, quad_filter),
            _QUAD_TYPE)
    return run


def turn_rows(transcripts: DataFrame) -> DataFrame:
    """The per-row prep, run in the JVM in a Project directly under the
    Python node: the vectorized path's lexical timestamp, and the
    mention digit tails (the canonical entity is "Entity" + tail; a
    NULL text has no mentions), space-joined so that every column
    reaching Python is flat. Column order is what conversation_doc
    unpacks."""
    return transcripts.select(
        "conv_id", "turn_idx", "role", "text", "tool",
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_lex"),
        F.array_join(F.regexp_extract_all("text", F.lit(MENTION_DIGITS_RE),
                                          1), " ").alias("mention_tails"))


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
        n = num_partitions or \
            transcripts.sparkSession.sparkContext.defaultParallelism
        part = (transcripts
                .repartition(n, "conv_id")
                .sortWithinPartitions("conv_id", "turn_idx"))
    triples = turn_rows(part).mapInArrow(
        _kernel_batches(doc_transform, quad_filter, expansion_map),
        schema=TRIPLE_SCHEMA)
    if dedup:
        triples = triples.dropDuplicates(TRIPLE_SCHEMA.fieldNames())
    return triples
