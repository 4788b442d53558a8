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

The plan is three operators, all in ONE whole-stage-codegen stage:

1. a Project computes the per-row values once (conv/turn IRI,
   turnIndex string, dateTime lexical form, tool IRI) plus a small
   `array<string>` of slot tags: `#type #role [#text] #idx #ts [#tool]
   #has [#conv]`, then the turn's mention values (digit tails, or raw
   surfaces under link_entities=False). Optional slots are a
   `when(…, array(tag)).otherwise(empty array)`;
2. a Generate explodes the tags;
3. a CASE projection maps each tag to (subj, pred, obj_value,
   obj_termtype, obj_datatype); a tag without `#` is a mention.

No higher-order function (`transform`, `filter`, `array_compact`)
appears anywhere: one inside the generator's expression takes the
whole Generate out of codegen and re-evaluates its captured
expressions per element. The default `dedup="local"` plan has no
shuffle at all. Only `dedup="global"` adds one: a `dropDuplicates`
over the 7 triple columns, which collapses identical rows map-side.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..vocab import (
    CONV_NS, ENT_NS, MENTION_DIGITS_RE, MENTION_RE, RDF_TYPE, TOOL_NS, TR,
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

    A NULL `text` is dropped as JSON-LD expansion drops a null value:
    that turn gets no text triple and no mentions, and keeps the rest.
    """
    lit, col = F.lit, F.col
    no_tags = F.array().cast("array<string>")

    def tag_if(cond, tag):
        return F.when(cond, F.array(lit(tag))).otherwise(no_tags)

    # mention detection: JVM-side regex; entity linking = canonical-form
    # IRI resolution (surface 'entity12'/'Entity12' → ent:Entity12), so
    # the linked path extracts only the digit tail and the CASE below
    # prefixes it
    mentions = F.regexp_extract_all(
        "text", lit(MENTION_DIGITS_RE if link_entities else MENTION_RE), 1)
    if dedup == "local":
        mentions = F.array_distinct(mentions)
    tags = F.concat(
        F.array(lit("#type"), lit("#role")),
        tag_if(col("text").isNotNull(), "#text"),
        F.array(lit("#idx"), lit("#ts")),
        tag_if(col("tool").isNotNull(), "#tool"),
        F.array(lit("#has")),
        tag_if(col("turn_idx") == 0, "#conv"),
        F.coalesce(mentions, no_tags))

    # ONE scan and ONE Generate (a union-of-branches plan would rescan
    # the source once per branch — 4x the I/O at the real Iceberg
    # scan). The conversation-type triple rides on turn 0 (every
    # conversation has one) so no distinct/shuffle is needed.
    conv_iri = F.concat(lit(CONV_NS), col("conv_id"))
    idx = col("turn_idx").cast("string")
    rows = transcripts.select(
        conv_iri.alias("conv_iri"),
        F.concat(conv_iri, lit("/turn/"), idx).alias("turn_iri"),
        "role", "text", idx.alias("idx"),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_lex"),
        F.concat(lit(TOOL_NS), col("tool")).alias("tool_iri"),
        tags.alias("tags"))

    # tag → (predicate, object, object datatype; None = NamedNode object)
    slots = {
        "#type": (RDF_TYPE, lit(TR + "Turn"), None),
        "#role": (TR + "role", col("role"), XSD_STRING),
        "#text": (TR + "text", col("text"), XSD_STRING),
        "#idx": (TR + "turnIndex", col("idx"), XSD_INTEGER),
        "#ts": (TR + "ts", col("ts_lex"), XSD_DATETIME),
        "#tool": (TR + "usesTool", col("tool_iri"), None),
        "#has": (TR + "hasTurn", col("turn_iri"), None),
        "#conv": (RDF_TYPE, lit(TR + "Conversation"), None),
    }
    tag = col("tag")

    def by_tag(field, mention_value):
        # F.when opens the CASE, Column.when adds each further branch;
        # mention values never start with '#', so they take the ELSE
        expr = F
        for t, slot in slots.items():
            if slot[field] is not None:
                expr = expr.when(tag == t, lit(slot[field]))
        return expr.otherwise(mention_value)

    literal_tags = [t for t, slot in slots.items() if slot[2] is not None]
    mention_iri = F.concat(
        lit(ENT_NS + "Entity" if link_entities else ENT_NS), tag)
    # explode_outer: `tags` is never empty, and a plain explode of a
    # column makes Catalyst infer a `size(tags) > 0` Filter and push it
    # below the Project, which evaluates the regex twice per row
    triples = (rows
               .select("*", F.explode_outer("tags").alias("tag"))
               .select(
                   F.when(tag.isin("#has", "#conv"), col("conv_iri"))
                    .otherwise(col("turn_iri")).alias("subj"),
                   by_tag(0, lit(TR + "mentions")).alias("pred"),
                   by_tag(1, mention_iri).alias("obj_value"),
                   F.when(tag.isin(*literal_tags), lit("Literal"))
                    .otherwise(lit("NamedNode")).alias("obj_termtype"),
                   by_tag(2, lit(None).cast("string")).alias("obj_datatype"),
                   lit(None).cast("string").alias("obj_language"),
                   lit("").alias("graph")))

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
