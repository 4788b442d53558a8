"""Vectorized transcript→triples pipeline (the 100 TB hot path).

The fixed transcript vocabulary means the reference's
expand→createNodeMap→toRDF chain (ref lib/expand.js:68, lib/nodeMap.js:47,
lib/toRdf.js:88) specializes to a per-row projection + explode:

- every turn is a node with a deterministic IRI (no blank nodes on the
  hot path → no issuer coordination across executors),
- literal canonicalization (ref lib/toRdf.js:230-261) for our column
  types is integer/string/dateTime formatting — plain column exprs,
- node-map merge + quad dedup (ref lib/util.js:249-306 addValue with
  allowDuplicate:false) is document-local: `array_distinct` on each
  turn's mention list before the explode.

Everything stays inside whole-stage codegen, and the default
`dedup="local"` plan has no shuffle at all. Only `dedup="global"`
adds one: a `dropDuplicates` over the 7 triple columns, which
collapses identical rows map-side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..vocab import (
    CONV_NS, ENT_NS, MENTION_RE, RDF_TYPE, TOOL_NS, TR,
    XSD_DATETIME, XSD_INTEGER, XSD_STRING,
)

TRIPLE_COLUMNS = ["subj", "pred", "obj_value", "obj_termtype",
                  "obj_datatype", "obj_language", "graph"]


def transcript_triples(transcripts: DataFrame,
                       dedup: bool | str = "local",
                       link_entities: bool = True) -> DataFrame:
    """(conv_id, turn_idx, role, text, tool, ts) → deduplicated triple
    table (subj, pred, obj_value, obj_termtype, obj_datatype,
    obj_language, graph), graph='' (default graph, ref lib/toRdf.js:59).

    dedup:
      "local"  (default) — document-local dedup: the ONLY duplicates
        this source can produce are repeated mentions within one turn
        (turn/conv triples are unique by construction since turn_idx is
        unique per conv_id), so `array_distinct` on the mention list
        before explode yields exactly the deduplicated triple set with
        ZERO shuffle. This also matches the reference semantics: its
        dedup (`addValue` with allowDuplicate:false,
        ref lib/util.js:249-306) is node-local, never cross-document.
      "global"/True — belt-and-braces `dropDuplicates` over all 7
        columns (needed when merging triples from multiple sources);
        one uniform-key shuffle with map-side partial aggregation.
      False — raw emission.

    link_entities=False keeps each mention's SURFACE form as the entity
    IRI (ent:entity12 vs ent:Entity12 stay distinct nodes) instead of
    resolving to the canonical form at emit time — the input shape for
    post-hoc identity resolution (kg_api.sameas_closure), which must
    reproduce the linked KG exactly (tested + oracle-gated).
    """
    lit = F.lit
    conv_iri = F.concat(lit(CONV_NS), F.col("conv_id"))
    turn_iri = F.concat(conv_iri, lit("/turn/"),
                        F.col("turn_idx").cast("string"))
    ts_lex = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")

    named = lit("NamedNode")
    literal = lit("Literal")
    no_dt = lit(None).cast("string")

    def trip(subj, pred, obj_value, termtype, datatype):
        return F.struct(
            subj.alias("subj"), pred.alias("pred"),
            obj_value.alias("obj_value"), termtype.alias("obj_termtype"),
            datatype.alias("obj_datatype"))

    # mention detection: JVM-side regex; entity linking = canonical-form
    # IRI resolution (surface 'entity12'/'Entity12' → ent:Entity12)
    raw_mentions = F.regexp_extract_all("text", lit(MENTION_RE), 1)
    if link_entities:
        mention_entities = F.transform(
            raw_mentions,
            lambda s: F.concat(lit("Entity"),
                               F.regexp_extract(s, r"[0-9]+", 0)))
    else:
        mention_entities = raw_mentions
    if dedup == "local":
        mention_entities = F.array_distinct(mention_entities)

    # ONE array of every triple this row contributes → ONE source scan
    # and ONE Generate (a union-of-branches plan would rescan the
    # source once per branch — 4x the I/O at the real Iceberg scan).
    # Nulls (absent tool, non-first turn) drop via array_compact; the
    # conversation-type triple rides on turn 0 (every conversation has
    # one) so no distinct/shuffle is needed.
    all_triples = F.array_compact(F.concat(
        F.array(
            trip(turn_iri, lit(RDF_TYPE), lit(TR + "Turn"), named, no_dt),
            trip(turn_iri, lit(TR + "role"), F.col("role"), literal,
                 lit(XSD_STRING)),
            trip(turn_iri, lit(TR + "text"), F.col("text"), literal,
                 lit(XSD_STRING)),
            trip(turn_iri, lit(TR + "turnIndex"),
                 F.col("turn_idx").cast("string"), literal,
                 lit(XSD_INTEGER)),
            trip(turn_iri, lit(TR + "ts"), ts_lex, literal,
                 lit(XSD_DATETIME)),
            F.when(F.col("tool").isNotNull(), trip(
                turn_iri, lit(TR + "usesTool"),
                F.concat(lit(TOOL_NS), F.col("tool")), named, no_dt)),
            trip(conv_iri, lit(TR + "hasTurn"), turn_iri, named, no_dt),
            F.when(F.col("turn_idx") == 0, trip(
                conv_iri, lit(RDF_TYPE), lit(TR + "Conversation"),
                named, no_dt)),
        ),
        F.transform(mention_entities, lambda e: trip(
            turn_iri, lit(TR + "mentions"), F.concat(lit(ENT_NS), e),
            named, no_dt)),
    ))

    triples = (transcripts
               .select(F.explode(all_triples).alias("t"))
               .select("t.subj", "t.pred", "t.obj_value",
                       "t.obj_termtype", "t.obj_datatype",
                       F.lit(None).cast("string").alias("obj_language"),
                       F.lit("").alias("graph")))

    if dedup in (True, "global"):
        # cross-source set-semantics merge (ref lib/util.js:249-306)
        triples = triples.dropDuplicates(TRIPLE_COLUMNS)
    return triples


def entity_canonical_map(transcripts: DataFrame) -> DataFrame:
    """Distinct mention surface forms → canonical entity IRI + link
    score (exact surface 1.0, case-variant 0.9). Output:
    (surface, canonical_iri, link_score, n_mentions).

    Hot entities make `surface` a skewed key; the count uses a salted
    two-phase aggregation (SURVEY.md §4) so no reducer sees a full hot
    key's rows.
    """
    surfaces = transcripts.select(
        F.explode(F.regexp_extract_all("text", F.lit(MENTION_RE), 1))
         .alias("surface"))
    salted = surfaces.groupBy(
        "surface", (F.spark_partition_id() % 16).alias("_salt"),
    ).agg(F.count("*").alias("_c"))
    counts = salted.groupBy("surface").agg(F.sum("_c").alias("n_mentions"))
    canonical = F.concat(F.lit("Entity"),
                         F.regexp_extract("surface", r"[0-9]+", 0))
    return counts.select(
        "surface",
        F.concat(F.lit(ENT_NS), canonical).alias("canonical_iri"),
        F.when(F.col("surface") == canonical, F.lit(1.0))
         .otherwise(F.lit(0.9)).alias("link_score"),
        "n_mentions")
