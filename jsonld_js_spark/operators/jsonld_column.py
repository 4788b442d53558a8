"""Generic JSON-LD column processing: any DataFrame column holding
JSON-LD document text → triples, via the kernel inside the Arrow loop
`pipeline.kernel_path.kernel_map`, one document per row. The schemaless
counterpart of the fixed-shape transcript pipeline — this is what "run
jsonld.toRDF over a 100 TB table of JSON documents" compiles to.

Demonstrated on events.props (tiny JSON objects): each event's props
document is expanded under a broadcast-style shared context with the
event IRI as @id, and the resulting quads are exploded to triple rows.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from ..pipeline.kernel_path import TRIPLE_SCHEMA, kernel_map

EX = "http://example.org/props#"
EVT_NS = "http://example.org/event/"


def jsonld_column_to_triples(df, id_col: str, json_col: str,
                             context: dict, id_ns: str = "",
                             expansion_map=None,
                             scope_bnodes: bool = False):
    """(id, json_doc) columns → triple rows. The context is processed
    ONCE, here, and rides the function to the executors
    (resolve-once pattern); every document expands under it.
    `expansion_map` threads the kernel's per-event callback (ref
    lib/jsonld.js:109-117) into the schemaless path; it disables the
    IRI memo, so reserve it for event-level hooks.

    `scope_bnodes=True` rewrites each document's issued labels
    `_:b{j}` → `_:b{id}-b{j}` — the reference's own multi-document
    scoping scheme (jsonld.merge prefixes each doc's issuer with
    `_:b{i}-`, ref lib/jsonld.js:805-807). REQUIRED whenever documents
    can contain @id-less nodes and outputs land in one table:
    per-document issuers all start at _:b0, so unscoped labels from
    different documents would collide."""
    import json

    from ..kernel import to_rdf
    from ..kernel.context import initial_context, process_context

    opts0 = {"processingMode": "json-ld-1.1", "base": None}
    options = {"activeCtx": process_context(initial_context(opts0),
                                            dict(context), opts0),
               "skipCopy": True}
    if expansion_map is not None:
        options["expansionMap"] = expansion_map

    def scope(term, id_val):
        if isinstance(term, str) and term.startswith("_:"):
            return f"_:b{id_val}-{term[2:]}"
        return term

    def doc_triples(cols, row, _stop):
        id_val = cols[0][row]
        doc = json.loads(cols[1][row])
        if not scope_bnodes and isinstance(doc, dict) and "@id" not in doc:
            doc["@id"] = f"{id_ns}{id_val}"
        quads = to_rdf(doc, options)
        if scope_bnodes:
            quads = [
                (scope(s, id_val), p,
                 scope(ov, id_val) if tt == "BlankNode" else ov,
                 tt, dt, lg, scope(g, id_val))
                for (s, p, ov, tt, dt, lg, g) in quads]
        return quads

    src = df.select(F.col(id_col).cast("string").alias("_id"),
                    F.col(json_col).alias("_doc"))
    return kernel_map(src, None, doc_triples, TRIPLE_SCHEMA)


def canonical_bnode_relabel(triples, order_exprs):
    """Opt-in final pass: rewrite every blank-node label to the dense
    `_:b{k}` sequence, with k assigned in first-encounter order under
    the deterministic row order given by `order_exprs` — the
    distributed analog of relabelBlankNodes + a fresh IdentifierIssuer
    (ref lib/util.js:365-369,440-464; rdf-canonize issuer contract).
    With order_exprs matching the reference's emission order this
    reproduces a single-process jsonld.js run's labels byte-for-byte.

    Scale shape: one groupBy(label).min(row-key) over the bnode rows,
    one distributed sort of the DISTINCT labels + zipWithIndex (no
    unpartitioned window — rank via per-partition counts and driver
    prefix sums, which is what zipWithIndex does), then two/three
    broadcast-or-shuffle joins to rewrite subj/obj/graph."""
    lab_rows = _bnode_label_rows(triples, order_exprs)
    first = lab_rows.groupBy("lab").agg(F.min("_rk").alias("_frk"))
    spark = triples.sparkSession
    mapping = spark.createDataFrame(
        first.orderBy("_frk", "lab").rdd.zipWithIndex()
        .map(lambda t: (t[0]["lab"], f"_:b{t[1]}")),
        "lab string, new_lab string")

    def sub(col, cond, m_col):
        return F.when(cond, F.coalesce(m_col, col)).otherwise(col)

    # the mapping is one short row per distinct label — broadcast it
    # (for label sets past broadcast size, drop the hint and let AQE
    # pick a shuffle join; the rewrite is the same)
    m_s = F.broadcast(mapping.select(F.col("lab").alias("subj"),
                                     F.col("new_lab").alias("_ns")))
    m_o = F.broadcast(mapping.select(F.col("lab").alias("obj_value"),
                                     F.col("new_lab").alias("_no")))
    m_g = F.broadcast(mapping.select(F.col("lab").alias("graph"),
                                     F.col("new_lab").alias("_ng")))
    out = (triples.join(m_s, "subj", "left")
           .join(m_o, "obj_value", "left")
           .join(m_g, "graph", "left")
           .select(
               sub(F.col("subj"), F.col("subj").startswith("_:"),
                   F.col("_ns")).alias("subj"),
               F.col("pred"),
               sub(F.col("obj_value"),
                   F.col("obj_termtype") == "BlankNode",
                   F.col("_no")).alias("obj_value"),
               F.col("obj_termtype"), F.col("obj_datatype"),
               F.col("obj_language"),
               sub(F.col("graph"), F.col("graph").startswith("_:"),
                   F.col("_ng")).alias("graph")))
    return out


def _bnode_label_rows(triples, order_exprs):
    """One `(lab, _rk)` row per blank-node label in subj, obj_value or
    graph, with `_rk` the row's order key. ONE pass over the input for
    all three label positions (a union-of-filters would re-evaluate
    the source per branch — expensive when it is a Python-UDF stage;
    pass a cached or committed table for best results). The three
    slots are exploded and the NULL ones filtered above the Generate:
    no higher-order function under it, so it stays in whole-stage
    codegen."""
    rk = F.struct(*[e.alias(f"k{i}") for i, e in enumerate(order_exprs)])
    slots = F.array(
        F.when(F.col("subj").startswith("_:"), F.col("subj")),
        F.when(F.col("obj_termtype") == "BlankNode", F.col("obj_value")),
        F.when(F.col("graph").startswith("_:"), F.col("graph")))
    return (triples.withColumn("_rk", rk)
            .select(F.explode_outer(slots).alias("lab"), "_rk")
            .filter(F.col("lab").isNotNull()))


def q_jsonld_props_triples(spark, sf_dir):
    """events.props (JSON text) → triples under a shared @vocab
    context, subject = the event IRI."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    return (jsonld_column_to_triples(
        e, "event_id", "props", {"@vocab": EX}, id_ns=EVT_NS)
        .orderBy("subj", "pred", "obj_value"))


def q_jsonld_props_bnode_triples(spark, sf_dir):
    """The @id-LESS variant: each props doc expands to a blank-node
    root, labels scoped per document (`_:b{event_id}-b{j}`, the
    reference's merge scheme), then globally relabeled to canonical
    dense `_:b{k}` in source order by canonical_bnode_relabel — the
    output a single-process jsonld.js run over the concatenated docs
    would emit."""
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    scoped = jsonld_column_to_triples(
        e, "event_id", "props", {"@vocab": EX}, scope_bnodes=True).cache()
    order = [
        F.regexp_extract("subj", r"^_:b(\d+)-", 1).cast("long"),
        F.col("pred"), F.col("obj_value")]
    return (canonical_bnode_relabel(scoped, order)
            .orderBy("subj", "pred", "obj_value"))


ORACLE_JSONLD_PROPS = f"""
SELECT '{EVT_NS}' || event_id AS subj,
       '{EX}k' AS pred,
       cast(cast(json_extract(props, '$.k') as bigint) as string)
         AS obj_value,
       'Literal' AS obj_termtype,
       'http://www.w3.org/2001/XMLSchema#integer' AS obj_datatype,
       cast(NULL as string) AS obj_language,
       '' AS graph
FROM events ORDER BY subj, pred, obj_value
"""

ORACLE_JSONLD_PROPS_BNODE = f"""
SELECT '_:b' || cast(row_number() OVER (ORDER BY event_id) - 1
                     as varchar) AS subj,
       '{EX}k' AS pred,
       cast(cast(json_extract(props, '$.k') as bigint) as string)
         AS obj_value,
       'Literal' AS obj_termtype,
       'http://www.w3.org/2001/XMLSchema#integer' AS obj_datatype,
       cast(NULL as string) AS obj_language,
       '' AS graph
FROM events ORDER BY subj, pred, obj_value
"""
