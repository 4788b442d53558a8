"""Secondary JSON-LD API surface over Spark (SURVEY.md §2.6-2.8
capability parity): framing-as-filter, flatten/node-map views, fromRDF
grouping, compaction (kernel path), plus KG construction from
relational sources (broadcast dim joins) and windowed analytics.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .frame_spark import frame_embed, frame_subjects
from .oracles import MENTION_RE_DUCK
from .pipeline import (
    entity_canonical_map, kernel_transcript_triples, transcript_triples,
)
from .supersteps import truncate
from .transcripts import transcripts_df
from .vocab import (
    ENT_NS, MENTION_RE, RDF_TYPE, TR, XSD_DATETIME, XSD_STRING,
)


def _triples(spark, sf_dir, cache=False):
    t = transcript_triples(transcripts_df(spark, sf_dir=sf_dir))
    return t.cache() if cache else t


def _transcripts(spark, sf_dir):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return transcripts_df(spark, sf_dir=sf_dir)


# ---------------------------------------------------------------------------
# KG construction over the transcript table. The triple-set queries share
# one oracle, oracles._triples_select.

def q_kg_transcript_triples(spark, sf_dir):
    return transcript_triples(_transcripts(spark, sf_dir))


def q_kg_transcript_triples_kernel(spark, sf_dir):
    return kernel_transcript_triples(_transcripts(spark, sf_dir))


def q_kg_transcript_triples_grouped(spark, sf_dir):
    """Layout-aware kernel path: the generator (like an Iceberg table
    bucketed/sorted by conv_id, turn_idx) emits conversation-contiguous
    partitions, so the co-locating shuffle is skipped entirely and the
    whole plan is narrow (one scan, zero Exchange) — the production
    shape when the table layout is guaranteed."""
    return kernel_transcript_triples(_transcripts(spark, sf_dir),
                                     assume_grouped=True)


def q_kg_entity_canonical_map(spark, sf_dir):
    return entity_canonical_map(_transcripts(spark, sf_dir))


def _mentions_cte(transcripts_sql: str) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql}),
raw_mentions AS (
  SELECT unnest(regexp_extract_all(text, '{MENTION_RE_DUCK}', 1)) AS surface
  FROM transcripts
),
entity_map AS (
  SELECT surface,
         '{ENT_NS}Entity' || regexp_extract(surface, '[0-9]+', 0)
           AS canonical_iri,
         cast(case when surface =
                        'Entity' || regexp_extract(surface, '[0-9]+', 0)
              then 1.0 else 0.9 end as double) AS link_score,
         count(*) AS n_mentions
  FROM raw_mentions GROUP BY surface
)
"""


def oracle_kg_entity_canonical_map(transcripts_sql: str) -> str:
    return _mentions_cte(transcripts_sql) + "SELECT * FROM entity_map"


def q_kg_predicate_stats(spark, sf_dir):
    return (transcript_triples(_transcripts(spark, sf_dir))
            .groupBy("pred").agg(
                F.count("*").alias("n_triples"),
                F.countDistinct("subj").alias("n_subjects"))
            .orderBy("pred"))


def oracle_kg_predicate_stats(triples_sql: str) -> str:
    return f"""
SELECT pred, count(*) AS n_triples, count(distinct subj) AS n_subjects
FROM ({triples_sql}) GROUP BY pred ORDER BY pred
"""


def q_kg_conv_sizes(spark, sf_dir):
    t = _transcripts(spark, sf_dir)
    return (t.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"),
        F.max("turn_idx").alias("max_turn_idx"))
        .orderBy("conv_id"))


def oracle_kg_conv_sizes(transcripts_sql: str) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql})
SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx
FROM transcripts GROUP BY conv_id ORDER BY conv_id
"""


def q_kg_mentions_topk(spark, sf_dir):
    m = entity_canonical_map(_transcripts(spark, sf_dir))
    return (m.groupBy("canonical_iri")
             .agg(F.sum("n_mentions").alias("n_mentions"))
             .orderBy(F.desc("n_mentions"), "canonical_iri").limit(20))


def oracle_kg_mentions_topk(transcripts_sql: str) -> str:
    return _mentions_cte(transcripts_sql) + """
SELECT canonical_iri, cast(sum(n_mentions) as bigint) AS n_mentions
FROM entity_map GROUP BY canonical_iri
ORDER BY n_mentions DESC, canonical_iri LIMIT 20
"""


# ---------------------------------------------------------------------------
def q_kg_frame_turns(spark, sf_dir):
    """Framing: {"@type": Turn, "mentions": {"@id": ent:Entity0}} with
    the owning conversation joined through the reverse hasTurn edge
    (ref lib/frame.js:488-636 filter + :299-315 @reverse, compiled to
    semi-joins — see frame_spark.py)."""
    # frame evaluation reads the triple table 4x (type match, mention
    # match, embed, reverse-edge join) — cache one materialization
    t = _triples(spark, sf_dir, cache=True)
    subjects = frame_subjects(t, {
        "@type": TR + "Turn",
        TR + "mentions": {"@id": ENT_NS + "Entity0"},
    })
    rows = frame_embed(t, subjects, depth=0)
    props = (rows.groupBy("subj").pivot("pred", [
        TR + "role", TR + "text", TR + "turnIndex"]).agg(
        F.min("obj_value")))
    conv = (t.filter(F.col("pred") == TR + "hasTurn")
            .select(F.col("obj_value").alias("subj"),
                    F.col("subj").alias("conv_iri")))
    return (props.join(conv, "subj")
            .select(F.col("subj").alias("turn_iri"), "conv_iri",
                    F.col(f"`{TR}role`").alias("role"),
                    F.col(f"`{TR}text`").alias("text"),
                    F.col(f"`{TR}turnIndex`").cast("int").alias("turn_idx"))
            .orderBy("turn_iri"))


def oracle_kg_frame_turns(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
matched AS (
  SELECT t1.subj FROM triples t1
  WHERE t1.pred = '{RDF_TYPE}' AND t1.obj_value = '{TR}Turn'
  INTERSECT
  SELECT t2.subj FROM triples t2
  WHERE t2.pred = '{TR}mentions'
    AND t2.obj_value = '{ENT_NS}Entity0'
)
SELECT m.subj AS turn_iri,
       (SELECT subj FROM triples c
        WHERE c.pred = '{TR}hasTurn' AND c.obj_value = m.subj) AS conv_iri,
       (SELECT obj_value FROM triples r
        WHERE r.subj = m.subj AND r.pred = '{TR}role') AS role,
       (SELECT obj_value FROM triples x
        WHERE x.subj = m.subj AND x.pred = '{TR}text') AS text,
       (SELECT cast(obj_value as int) FROM triples i
        WHERE i.subj = m.subj AND i.pred = '{TR}turnIndex') AS turn_idx
FROM matched m ORDER BY turn_iri
"""


# ---------------------------------------------------------------------------
def q_kg_flatten_nodes(spark, sf_dir):
    """Flatten view: the merged node map as (node_id, n_properties,
    n_types) — subject references (no properties) excluded
    (ref lib/flatten.js:24-38)."""
    t = _triples(spark, sf_dir)
    return (t.groupBy(F.col("subj").alias("node_id"))
            .agg(F.countDistinct("pred").alias("n_properties"),
                 F.sum(F.when(F.col("pred") == RDF_TYPE, 1).otherwise(0))
                 .alias("n_types"))
            .orderBy("node_id"))


def oracle_kg_flatten_nodes(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql})
SELECT subj AS node_id, count(distinct pred) AS n_properties,
       cast(sum(case when pred = '{RDF_TYPE}' then 1 else 0 end) as bigint)
         AS n_types
FROM triples GROUP BY subj ORDER BY node_id
"""


# ---------------------------------------------------------------------------
def q_kg_fromrdf_nodemap(spark, sf_dir):
    """fromRDF direction (ref lib/fromRdf.js:45-118): group quads by
    subject back into node-map rows; referencedOnce detection = the
    aggregation the reference tracks imperatively."""
    t = _triples(spark, sf_dir)
    refs = (t.filter(F.col("obj_termtype").isin("NamedNode", "BlankNode"))
            .groupBy(F.col("obj_value").alias("node_id"))
            .agg(F.count("*").alias("n_referenced")))
    nodes = (t.groupBy(F.col("subj").alias("node_id"))
             .agg(F.count("*").alias("n_quads")))
    return (nodes.join(refs, "node_id", "left")
            .select("node_id", "n_quads",
                    F.coalesce("n_referenced", F.lit(0))
                    .alias("n_referenced"),
                    (F.coalesce("n_referenced", F.lit(0)) == 1)
                    .alias("referenced_once"))
            .orderBy("node_id"))


def oracle_kg_fromrdf_nodemap(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
refs AS (
  SELECT obj_value AS node_id, count(*) AS n_referenced
  FROM triples WHERE obj_termtype IN ('NamedNode', 'BlankNode')
  GROUP BY obj_value
),
nodes AS (
  SELECT subj AS node_id, count(*) AS n_quads FROM triples GROUP BY subj
)
SELECT n.node_id, n.n_quads, coalesce(r.n_referenced, 0) AS n_referenced,
       (coalesce(r.n_referenced, 0) = 1) AS referenced_once
FROM nodes n LEFT JOIN refs r ON n.node_id = r.node_id
ORDER BY n.node_id
"""


# ---------------------------------------------------------------------------
CUS_NS = "http://example.org/customer/"
NAT_NS = "http://example.org/nation/"
REG_NS = "http://example.org/region/"


def _customer_graph(spark, sf_dir):
    """KG construction from relational sources: customer ⋈ nation ⋈
    region (dims broadcast — at 100 TB the fact side streams, the two
    dim tables ship to every executor) → triples. Unsorted: the
    determinism orderBy lives only in the gated query so consumers
    (kg_merge_sources) don't drag a global sort into their plans."""
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    n = F.broadcast(spark.read.parquet(f"{sf_dir}/nation.parquet"))
    r = F.broadcast(spark.read.parquet(f"{sf_dir}/region.parquet"))
    j = (c.join(n, c.c_nationkey == n.n_nationkey)
         .join(r, n.n_regionkey == r.r_regionkey))
    cus_iri = F.concat(F.lit(CUS_NS), F.col("c_custkey").cast("string"))
    nat_iri = F.concat(F.lit(NAT_NS), F.col("n_nationkey").cast("string"))
    reg_iri = F.concat(F.lit(REG_NS), F.col("r_regionkey").cast("string"))
    no_dt = F.lit(None).cast("string")

    def trip(s, p, o, tt, dt):
        return F.struct(s.alias("subj"), p.alias("pred"),
                        o.alias("obj_value"), tt.alias("obj_termtype"),
                        dt.alias("obj_datatype"))

    arr = F.array(
        trip(cus_iri, F.lit(RDF_TYPE), F.lit(TR + "Customer"),
             F.lit("NamedNode"), no_dt),
        trip(cus_iri, F.lit(TR + "name"), F.col("c_name"),
             F.lit("Literal"), F.lit(XSD_STRING)),
        trip(cus_iri, F.lit(TR + "inNation"), nat_iri,
             F.lit("NamedNode"), no_dt),
        trip(nat_iri, F.lit(TR + "name"), F.col("n_name"),
             F.lit("Literal"), F.lit(XSD_STRING)),
        trip(nat_iri, F.lit(TR + "inRegion"), reg_iri,
             F.lit("NamedNode"), no_dt),
        trip(reg_iri, F.lit(TR + "name"), F.col("r_name"),
             F.lit("Literal"), F.lit(XSD_STRING)),
    )
    return (j.select(F.explode(arr).alias("t")).select("t.*")
            .dropDuplicates(["subj", "pred", "obj_value"]))


def q_kg_customer_graph(spark, sf_dir):
    return _customer_graph(spark, sf_dir).orderBy(
        "subj", "pred", "obj_value")


ORACLE_KG_CUSTOMER_GRAPH = f"""
WITH j AS (
  SELECT c.c_custkey, c.c_name, n.n_nationkey, n.n_name,
         r.r_regionkey, r.r_name
  FROM customer c
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
),
t AS (
  SELECT '{CUS_NS}' || c_custkey AS subj, '{RDF_TYPE}' AS pred,
         '{TR}Customer' AS obj_value, 'NamedNode' AS obj_termtype,
         cast(NULL as string) AS obj_datatype FROM j
  UNION ALL
  SELECT '{CUS_NS}' || c_custkey, '{TR}name', c_name, 'Literal',
         '{XSD_STRING}' FROM j
  UNION ALL
  SELECT '{CUS_NS}' || c_custkey, '{TR}inNation',
         '{NAT_NS}' || n_nationkey, 'NamedNode', cast(NULL as string) FROM j
  UNION ALL
  SELECT '{NAT_NS}' || n_nationkey, '{TR}name', n_name, 'Literal',
         '{XSD_STRING}' FROM j
  UNION ALL
  SELECT '{NAT_NS}' || n_nationkey, '{TR}inRegion',
         '{REG_NS}' || r_regionkey, 'NamedNode', cast(NULL as string) FROM j
  UNION ALL
  SELECT '{REG_NS}' || r_regionkey, '{TR}name', r_name, 'Literal',
         '{XSD_STRING}' FROM j
)
SELECT DISTINCT subj, pred, obj_value, obj_termtype, obj_datatype
FROM t ORDER BY subj, pred, obj_value
"""


# ---------------------------------------------------------------------------
EVT_NS = "http://example.org/event/"
USR_NS = "http://example.org/user/"
XSD_DOUBLE = "http://www.w3.org/2001/XMLSchema#double"


def _events_graph(spark, sf_dir):
    """events table → triples, exercising CANONICAL DOUBLE literals
    (ref lib/toRdf.js:237-243) as pure column expressions — the
    literal-canonicalization 'hard part' (SURVEY §7) in vectorized
    form, byte-identical to the kernel and the DuckDB oracle.
    Unsorted (see _customer_graph)."""
    from .functions import canonical_double_col
    e = spark.read.parquet(f"{sf_dir}/events.parquet")
    evt = F.concat(F.lit(EVT_NS), F.col("event_id").cast("string"))
    usr = F.concat(F.lit(USR_NS), F.col("user_id").cast("string"))
    ts_lex = F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'")
    no_dt = F.lit(None).cast("string")

    def trip(s, p, o, tt, dt):
        return F.struct(s.alias("subj"), p.alias("pred"),
                        o.alias("obj_value"), tt.alias("obj_termtype"),
                        dt.alias("obj_datatype"))

    arr = F.array(
        trip(evt, F.lit(TR + "eventType"), F.col("event_type"),
             F.lit("Literal"), F.lit(XSD_STRING)),
        trip(evt, F.lit(TR + "byUser"), usr, F.lit("NamedNode"), no_dt),
        trip(evt, F.lit(TR + "value"),
             canonical_double_col(F.col("value")),
             F.lit("Literal"), F.lit(XSD_DOUBLE)),
        trip(evt, F.lit(TR + "ts"), ts_lex, F.lit("Literal"),
             F.lit(XSD_DATETIME)),
    )
    return e.select(F.explode(arr).alias("t")).select("t.*")


def q_kg_events_graph(spark, sf_dir):
    return _events_graph(spark, sf_dir).orderBy(
        "subj", "pred", "obj_value")


def oracle_kg_events_graph() -> str:
    from .functions import canonical_double_sql
    return f"""
WITH t AS (
  SELECT '{EVT_NS}' || event_id AS subj, '{TR}eventType' AS pred,
         event_type AS obj_value, 'Literal' AS obj_termtype,
         '{XSD_STRING}' AS obj_datatype FROM events
  UNION ALL
  SELECT '{EVT_NS}' || event_id, '{TR}byUser',
         '{USR_NS}' || user_id, 'NamedNode', cast(NULL as string)
  FROM events
  UNION ALL
  SELECT '{EVT_NS}' || event_id, '{TR}value',
         {canonical_double_sql('value')}, 'Literal', '{XSD_DOUBLE}'
  FROM events
  UNION ALL
  SELECT '{EVT_NS}' || event_id, '{TR}ts',
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ'), 'Literal', '{XSD_DATETIME}'
  FROM events
)
SELECT * FROM t ORDER BY subj, pred, obj_value
"""


# ---------------------------------------------------------------------------
def q_kg_conv_window(spark, sf_dir):
    """Windowed turn analytics: per-conversation inter-turn gap stats
    (Window.partitionBy(conv_id).orderBy(turn_idx) — SURVEY §2.9)."""
    from pyspark.sql.window import Window
    t = transcripts_df(spark, sf_dir=sf_dir)
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    gaps = t.withColumn(
        "gap_s",
        (F.unix_timestamp("ts") -
         F.unix_timestamp(F.lag("ts").over(w))).cast("long"))
    return (gaps.groupBy("conv_id")
            .agg(F.count("*").alias("n_turns"),
                 F.sum("gap_s").alias("total_gap_s"),
                 F.max("gap_s").alias("max_gap_s"))
            .orderBy("conv_id"))


def oracle_kg_conv_window(transcripts_sql: str) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql}),
g AS (
  SELECT conv_id,
         cast(epoch(ts) - epoch(lag(ts) OVER
              (PARTITION BY conv_id ORDER BY turn_idx)) as bigint) AS gap_s
  FROM transcripts
)
SELECT conv_id, count(*) AS n_turns,
       cast(sum(gap_s) as bigint) AS total_gap_s,
       max(gap_s) AS max_gap_s
FROM g GROUP BY conv_id ORDER BY conv_id
"""


# ---------------------------------------------------------------------------
def _conversation_triples(spark, sf_dir):
    """The triple table plus each row's `conv_iri` (its subject's
    conversation: a conversation IRI itself, or the one a turn IRI
    extends; other rows are dropped), with each conversation's rows
    contiguous within one partition: the kernel_map input of
    compaction and of the fromRDF round trip."""
    conv_of = F.when(
        F.col("subj").rlike("^http://example.org/conv/[^/]+$"),
        F.col("subj")).otherwise(
        F.regexp_extract("subj", r"^(http://example.org/conv/[^/]+)/turn/",
                         1))
    n_part = spark.sparkContext.defaultParallelism
    return (_triples(spark, sf_dir)
            .withColumn("conv_iri", conv_of)
            .filter(F.col("conv_iri") != "")
            .repartition(n_part, "conv_iri")
            .sortWithinPartitions("conv_iri"))


def _group_quads(cols, start, stop):
    """Kernel quad tuples of rows [start, stop) of _conversation_triples
    columns."""
    return list(zip(*(c[start:stop] for c in cols[:7])))


def compact_conversations_df(spark, sf_dir):
    """Compaction (general path): per-conversation compacted JSON-LD
    documents rebuilt from the triple table via the kernel inside
    `kernel_map` (ref lib/compact.js:58-672). Returns one row per
    conversation with the compacted JSON plus SQL-checkable counts.
    kernel_map hands each conversation over whole, also one whose
    triples straddle two Arrow batches."""
    import json

    from pyspark.sql.types import (
        IntegerType, LongType, StringType, StructField, StructType,
    )

    from .kernel import compact, from_rdf
    from .kernel.context import initial_context, process_context
    from .pipeline.kernel_path import kernel_map
    from .vocab import TRANSCRIPT_CONTEXT

    schema = StructType([
        StructField("conv_iri", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("n_triples", LongType()),
        StructField("compact_json", StringType()),
    ])
    # loop-invariant: one processed compaction context rides the
    # function to the executors (kernel api option activeCompactCtx —
    # the reference's processed-context cache plays this role); the
    # from_rdf output is owned, so expansion inside compact() can skip
    # the defensive deepcopy
    base_opts = {"processingMode": "json-ld-1.1", "base": None}
    cctx = process_context(initial_context(base_opts),
                           dict(TRANSCRIPT_CONTEXT), base_opts)

    def compact_conversation(cols, start, stop):
        quads = _group_quads(cols, start, stop)
        doc = from_rdf(quads, {"useNativeTypes": True})
        compacted = compact(doc, dict(TRANSCRIPT_CONTEXT),
                            {"skipCopy": True, "activeCompactCtx": cctx})
        # compacted flattened form: nodes under @graph (or a single
        # node dict when only one node exists)
        nodes = compacted.get("@graph", [compacted])
        n_turns = sum(1 for n in nodes
                      if isinstance(n, dict) and n.get("@type") == "Turn")
        return [(cols[7][start], n_turns, len(quads),
                 json.dumps(compacted, sort_keys=True))]

    return (kernel_map(_conversation_triples(spark, sf_dir), "conv_iri",
                       compact_conversation, schema)
            .orderBy("conv_iri"))


def q_kg_compact_conversations(spark, sf_dir):
    """Driver-checked view of distributed compaction: the JSON text is
    not SQL-expressible, but (conv_iri, n_turns, n_triples) is — those
    go through the DuckDB oracle; the compact_json column is verified
    in tests/test_kg_api.py against the single-node kernel."""
    return compact_conversations_df(spark, sf_dir).select(
        "conv_iri", "n_turns", "n_triples")


def oracle_kg_compact_conversations(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
t AS (
  SELECT case when regexp_matches(subj, '^http://example.org/conv/[^/]+$')
              then subj
              else regexp_extract(subj,
                     '^(http://example.org/conv/[^/]+)/turn/', 1) end
           AS conv_iri,
         pred, obj_value
  FROM triples
)
SELECT conv_iri,
       cast(sum(case when pred = '{RDF_TYPE}'
                      and obj_value = '{TR}Turn' then 1 else 0 end) as int)
         AS n_turns,
       count(*) AS n_triples
FROM t WHERE conv_iri != '' GROUP BY conv_iri ORDER BY conv_iri
"""




# ---------------------------------------------------------------------------
def q_kg_merge_sources(spark, sf_dir):
    """Distributed jsonld.merge analog (ref lib/jsonld.js:766-856):
    union the transcript KG, the customer graph, and the events graph
    into one default graph with GLOBAL set-semantics dedup — the
    cross-source case where document-local dedup is not enough.
    Output: per-predicate stats of the merged graph.

    Production note: this derivation recomputes all three source DAGs
    because the driver gate must be self-contained; at 100 TB the
    merge reads the already-committed triples tables
    (checkpoint.read_committed) and only pays the union + dedup
    shuffle (uniform full-row key, map-side partial agg)."""
    t = _triples(spark, sf_dir).select("subj", "pred", "obj_value",
                                       "obj_termtype", "obj_datatype")
    c = _customer_graph(spark, sf_dir)
    e = _events_graph(spark, sf_dir)
    merged = (t.unionAll(c).unionAll(e)
              .dropDuplicates(["subj", "pred", "obj_value",
                               "obj_termtype", "obj_datatype"]))
    return (merged.groupBy("pred")
            .agg(F.count("*").alias("n_triples"),
                 F.countDistinct("subj").alias("n_subjects"))
            .orderBy("pred"))


def oracle_kg_merge_sources(triples_sql: str) -> str:
    return f"""
WITH tr AS ({triples_sql}),
cu AS ({ORACLE_KG_CUSTOMER_GRAPH.replace("ORDER BY subj, pred, obj_value", "")}),
ev AS ({oracle_kg_events_graph().replace("ORDER BY subj, pred, obj_value", "")}),
merged AS (
  SELECT DISTINCT subj, pred, obj_value, obj_termtype, obj_datatype
  FROM (SELECT subj, pred, obj_value, obj_termtype, obj_datatype FROM tr
        UNION ALL SELECT * FROM cu UNION ALL SELECT * FROM ev)
)
SELECT pred, count(*) AS n_triples, count(distinct subj) AS n_subjects
FROM merged GROUP BY pred ORDER BY pred
"""


# ---------------------------------------------------------------------------
def q_kg_nquads(spark, sf_dir):
    """Canonical N-Quads serialization (ref lib/toRdf.js via
    rdf-canonize NQuads; kernel/rdf.py serialize_nquads) as pure column
    expressions: escape literal strings, wrap IRIs, typed literals.
    Returns one `line` per triple, sorted (deterministic)."""
    t = _triples(spark, sf_dir)
    esc = F.col("obj_value")
    for pat, rep in ((r"\\", r"\\\\"), ('"', r'\\"'),
                     ("\n", r"\\n"), ("\r", r"\\r"),
                     ("\t", r"\\t")):
        esc = F.regexp_replace(esc, pat, rep)
    # one rlike test short-circuits the 5-pass escape chain for the
    # overwhelmingly-common literal with nothing to escape
    esc = F.when(F.col("obj_value").rlike('[\\\\"\n\r\t]'), esc) \
           .otherwise(F.col("obj_value"))
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    obj = (F.when(F.col("obj_termtype") != "Literal", 
                  F.when(F.col("obj_value").startswith("_:"),
                         F.col("obj_value"))
                   .otherwise(F.concat(F.lit("<"), F.col("obj_value"),
                                       F.lit(">"))))
            .when(F.col("obj_datatype").isNotNull() &
                  (F.col("obj_datatype") != xsd_string),
                  F.concat(F.lit('"'), esc, F.lit('"^^<'),
                           F.col("obj_datatype"), F.lit(">")))
            .otherwise(F.concat(F.lit('"'), esc, F.lit('"'))))
    line = F.concat(F.lit("<"), F.col("subj"), F.lit("> <"),
                    F.col("pred"), F.lit("> "), obj, F.lit(" ."))
    return t.select(line.alias("line")).orderBy("line")


def oracle_kg_nquads(triples_sql: str) -> str:
    xsd_string = "http://www.w3.org/2001/XMLSchema#string"
    esc = ("replace(replace(replace(replace(replace(obj_value,"
           " '\\', '\\\\'), '\"', '\\\"'), chr(10), '\\n'),"
           " chr(13), '\\r'), chr(9), '\\t')")
    return f"""
WITH triples AS ({triples_sql})
SELECT '<' || subj || '> <' || pred || '> ' ||
  (case when obj_termtype != 'Literal' then
     (case when obj_value LIKE '_:%' then obj_value
           else '<' || obj_value || '>' end)
   when obj_datatype IS NOT NULL AND obj_datatype != '{xsd_string}'
     then '"' || {esc} || '"^^<' || obj_datatype || '>'
   else '"' || {esc} || '"' end) || ' .' AS line
FROM triples ORDER BY line
"""




# ---------------------------------------------------------------------------
def q_kg_frame_kernel_path(spark, sf_dir):
    """Distributed generic framing: each conversation's JSON-LD doc is
    framed by the full kernel frame engine (kernel/frame.py) inside
    `kernel_map` — the per-document counterpart of the semi-join
    compilation in frame_spark.py. The documents are the kernel path's
    (JVM per-row prep, kernel_path.conversation_doc). The frame selects
    tool-using turns; output (conv_iri, n_matched, first_tool_iri) is
    SQL-checkable."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    from .kernel import frame as kernel_frame
    from .kernel.api import prepare_frame
    from .pipeline.kernel_path import conversation_doc, kernel_map, turn_rows
    from .vocab import TRANSCRIPT_CONTEXT

    schema = StructType([
        StructField("conv_iri", StringType()),
        StructField("n_matched", IntegerType()),
        StructField("first_tool_iri", StringType()),
    ])
    frame_doc = {
        "@context": dict(TRANSCRIPT_CONTEXT),
        "@type": "Turn",
        "@requireAll": True,  # AND: typed Turn AND has usesTool
        "usesTool": {},
    }
    # loop-invariant: expand the constant frame + process its context
    # ONCE; each frame() call deep-copies the tiny expanded frame
    # instead of re-expanding it
    prepared = prepare_frame(frame_doc)

    def frame_conversation(cols, start, stop):
        doc = {"@context": TRANSCRIPT_CONTEXT,
               **conversation_doc(cols, start, stop)}
        conv = doc["@id"]  # skipCopy: framing may rewrite doc
        framed = kernel_frame(doc, frame_doc,
                              {"preparedFrame": prepared, "skipCopy": True})
        if not isinstance(framed, dict):
            framed = {}
        nodes = framed.get("@graph", [framed])
        matched = [n for n in nodes
                   if isinstance(n, dict) and "usesTool" in n]
        tools = []
        for n in matched:
            v = n["usesTool"]
            if isinstance(v, list):
                v = v[0] if v else None
            if isinstance(v, dict):
                v = v.get("@id")
            if isinstance(v, str):
                tools.append(v)
        return [(conv, len(matched), min(tools, default=None))]

    n_part = spark.sparkContext.defaultParallelism
    turns = (transcripts_df(spark, sf_dir=sf_dir)
             .repartition(n_part, "conv_id")
             .sortWithinPartitions("conv_id", "turn_idx"))
    return (kernel_map(turn_rows(turns), "conv_id", frame_conversation,
                       schema)
            .orderBy("conv_iri"))


def oracle_kg_frame_kernel_path(transcripts_sql: str) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql})
SELECT 'http://example.org/conv/' || conv_id AS conv_iri,
       cast(count(tool) as int) AS n_matched,
       min(case when tool is not null then 'tool:' || tool end)
         AS first_tool_iri
FROM transcripts GROUP BY conv_id ORDER BY conv_iri
"""




# ---------------------------------------------------------------------------
def q_kg_fromrdf_roundtrip(spark, sf_dir):
    """fromRDF→toRDF round-trip at scale: the triple table is grouped
    per conversation, folded back into JSON-LD node maps by the kernel
    (ref lib/fromRdf.js:45-271) and re-emitted (ref lib/toRdf.js) —
    the output must equal the input triple set exactly, which the
    oracle (the original triple derivation) verifies. kernel_map hands
    each conversation over whole: a conversation split across Arrow
    batches would otherwise round-trip twice (duplicate triples) and
    break future list-valued data whose rdf:first/rest chains must not
    split."""
    from .kernel import from_rdf, to_rdf
    from .pipeline.kernel_path import TRIPLE_SCHEMA, kernel_map

    def round_trip(cols, start, stop):
        doc = from_rdf(_group_quads(cols, start, stop),
                       {"useNativeTypes": False})
        return to_rdf(doc, {"skipCopy": True})

    return kernel_map(_conversation_triples(spark, sf_dir), "conv_iri",
                      round_trip, TRIPLE_SCHEMA)


# ---------------------------------------------------------------------------
def q_kg_nquads_source_roundtrip(spark, sf_dir):
    """Distributed N-Quads sink → source round-trip (sources/nquads.py,
    the scale path for the reference's N-Quads registry, ref
    lib/jsonld.js:988-1015): the triple table is written as splittable
    .nq part files by the column-expression serializer and re-parsed by
    the per-line kernel grammar inside kernel_map. The output must
    equal the original triple set exactly — escapes, language tags and
    datatype elision included — which the plain triple-derivation
    oracle verifies."""
    import tempfile

    from .sources import read_nquads, write_nquads
    t = _triples(spark, sf_dir)
    # unique per call: a fixed /tmp name keyed on the sf basename let
    # two concurrent runs over the same sf (bench + check_oracles)
    # clobber each other's part files mid-read — the same race ADVICE
    # r4 flagged for doc_jsonl_roundtrip (observed live in the r5
    # full sweep: FileNotFoundException on a part file bench had just
    # overwritten)
    path = tempfile.mkdtemp(prefix="jsonld_js_spark_nq_")
    write_nquads(t, path)
    return read_nquads(spark, path)


# ---------------------------------------------------------------------------
def q_kg_incremental_triples(spark, sf_dir):
    """Incremental (delta) ingest — the nightly-batch production
    pattern at 100 TB. An existing store holds triples for
    conversations [0, 60%); a new batch re-processes conversations
    [40%, 100%) (the 40-60% band models late-arriving / re-delivered
    source data). The delta is batch ANTI JOIN store on the full
    7-column triple identity, so re-delivered conversations contribute
    ZERO duplicate triples to the warehouse.

    Scale notes: the anti join is a plain equi-join for Catalyst
    (eqNullSafe on every identity column — obj_datatype/obj_language
    are nullable, so bare `=` would leak NULL-keyed duplicates through
    the anti join); both sides hash-shuffle uniformly on the triple
    identity. In production the store side is bucketed by
    xxhash64(identity) so only the (much smaller) daily delta
    shuffles; AQE converts the probe to a broadcast when a day's
    delta is small.
    """
    from functools import reduce

    from .transcripts import n_conv_for_sf, sf_from_dir
    n_conv = n_conv_for_sf(sf_from_dir(sf_dir))
    lo, hi = int(n_conv * 0.4), int(n_conv * 0.6)
    t = transcripts_df(spark, sf_dir=sf_dir)
    # conv_id is 'conv-<zero-padded ordinal>'; partition on the ordinal
    cid = F.regexp_extract("conv_id", r"([0-9]+)$", 1).cast("bigint")
    store = transcript_triples(t.filter(cid < hi)).alias("s")
    batch = transcript_triples(t.filter(cid >= lo)).alias("b")
    cond = reduce(lambda a, c: a & c,
                  [F.col(f"b.{c}").eqNullSafe(F.col(f"s.{c}"))
                   for c in ("subj", "pred", "obj_value", "obj_termtype",
                             "obj_datatype", "obj_language", "graph")])
    return batch.join(store, cond, "left_anti")


def oracle_kg_incremental_triples(triples_sql: str, n_conv: int) -> str:
    # every triple is conv-scoped (subj embeds its conv id) and the
    # generator is deterministic, so the exact delta is the triples of
    # conversations at or above the store's upper bound — which is
    # precisely what the anti join must reduce the overlapping batch
    # to (any NULL-handling leak in the join surfaces extra rows here)
    hi = int(n_conv * 0.6)
    return f"""
WITH triples AS ({triples_sql})
SELECT subj, pred, obj_value, obj_termtype, obj_datatype, obj_language,
       graph
FROM triples
WHERE cast(regexp_extract(subj, 'conv-([0-9]+)', 1) as bigint) >= {hi}
"""


# ---------------------------------------------------------------------------
def q_kg_degree_stats(spark, sf_dir):
    """KG quality profile: per-node out-degree (+ distinct predicates)
    and in-degree over NamedNode objects; top 50 hubs by total degree.
    The standard post-construction QA query (hub detection, vocabulary
    drift). Scale: two partial-aggregated groupBys on uniform IRI keys
    and one full-outer join; the final top-k is a TakeOrdered, not a
    global sort."""
    t = _triples(spark, sf_dir, cache=True)
    out_d = (t.groupBy(F.col("subj").alias("node"))
             .agg(F.count("*").alias("out_degree"),
                  F.countDistinct("pred").alias("n_preds")))
    in_d = (t.filter(F.col("obj_termtype") == "NamedNode")
            .groupBy(F.col("obj_value").alias("node"))
            .agg(F.count("*").alias("in_degree")))
    return (out_d.join(in_d, "node", "full_outer")
            .select("node",
                    F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
                    F.coalesce("n_preds", F.lit(0)).alias("n_preds"),
                    F.coalesce("in_degree", F.lit(0)).alias("in_degree"))
            .withColumn("total_degree",
                        F.col("out_degree") + F.col("in_degree"))
            .orderBy(F.desc("total_degree"), "node").limit(50))


def oracle_kg_degree_stats(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
outd AS (
  SELECT subj AS node, cast(count(*) as bigint) AS out_degree,
         cast(count(distinct pred) as bigint) AS n_preds
  FROM triples GROUP BY subj
),
ind AS (
  SELECT obj_value AS node, cast(count(*) as bigint) AS in_degree
  FROM triples WHERE obj_termtype = 'NamedNode' GROUP BY obj_value
)
SELECT coalesce(o.node, i.node) AS node,
       cast(coalesce(o.out_degree, 0) as bigint) AS out_degree,
       cast(coalesce(o.n_preds, 0) as bigint) AS n_preds,
       cast(coalesce(i.in_degree, 0) as bigint) AS in_degree,
       cast(coalesce(o.out_degree, 0) + coalesce(i.in_degree, 0) as bigint)
         AS total_degree
FROM outd o FULL OUTER JOIN ind i ON o.node = i.node
ORDER BY total_degree DESC, node LIMIT 50
"""


PAGERANK_ITERS = 5
PR_DAMP_NUM, PR_DAMP_DEN = 85, 100  # d = 0.85 as integer arithmetic


def _named_edges(spark, sf_dir):
    """Distinct (subj, dst) NamedNode edges of the constructed KG — the
    directed graph pagerank, PPR and k-hop run over. Callers cache or
    checkpoint it themselves."""
    return (_triples(spark, sf_dir, cache=True)
            .filter(F.col("obj_termtype") == "NamedNode")
            .select("subj", F.col("obj_value").alias("dst"))
            .distinct())


def q_kg_pagerank(spark, sf_dir):
    """Fixed-iteration integer PageRank over the constructed KG's
    NamedNode→NamedNode edge set — the standard post-construction
    importance ranking. All arithmetic is int64 (rank in ppm, d=85/100
    via DIV; dangling mass redistributed uniformly each superstep) so
    SUM-order never matters and the DuckDB oracle reproduces every
    iteration bit-for-bit.

    Scale shape: each iteration is one edges⋈ranks shuffle on the src
    key + one partial-aggregated groupBy(dst) — the same co-located
    join every Pregel-style engine runs; ranks are 2 longs/node. Top-k
    is a TakeOrdered."""
    edges = _named_edges(spark, sf_dir).cache()
    return (pagerank(edges).orderBy(F.desc("rank"), "node").limit(50))


def pagerank(edges, iters: int = PAGERANK_ITERS, tol_ppm: int | None = None):
    """(subj, dst) distinct edge DataFrame → (node, rank) after up to
    `iters` exact-int64 supersteps, with dangling mass (rank held by
    nodes with no out-edges) redistributed uniformly each superstep:

        rank' = 150000 + d * (inflow + dangling_sum DIV N) DIV 100

    Without the dangling term a sink node's rank leaks out of the
    system every round and hub ranks diverge from standard PageRank
    (round-3 verdict item 4).

    `tol_ppm` (optional, OFF in the gated query to keep the fixed-
    iteration oracle parity) adds an early stop: after each superstep
    a 1-row max|Δrank| action runs and the loop breaks when the max
    per-node change ≤ tol_ppm. The superstep count actually run is
    exposed as `result._pr_supersteps`.

    Hand-computed tiny-graph pytest guards the arithmetic
    independently of BOTH engines (the DuckDB oracle shares the
    formula, so a synchronized defect would pass the gate — the
    MinHash lesson, BENCH/SOAK_DEDUP_r3.md); a dangling-sink graph
    where redistribution and the old leaky variant DIFFER proves the
    new term is live."""
    return _rank_supersteps(edges, None, iters, tol_ppm)


def _rank_supersteps(edges, seeds, iters, tol_ppm=None):
    """The superstep loop of `pagerank` (seeds=None) and
    `personalized_pagerank`. Global PageRank is PPR with every node a
    seed: initial rank 1000000, teleport 150000, dangling divisor N.
    PPR starts each of its k seeds at TOTAL DIV k, teleports
    (15% · TOTAL) DIV k and returns dangling mass DIV k to the seeds
    only. One formula serves both:

        rank' = [seed]·teleport + 85 · (inflow + [seed]·dshare) DIV 100

    In the global case [seed] is the literal 1, so the rank state
    carries no seed column; for PPR the seed flag rides the rank state.

    The dangling term is ONE extra 1-row aggregation per superstep
    (the iteration-invariant dangling flag rides the rank state, so
    the sum is a filter-agg over the rank state — no per-round
    anti-join) COLLECTED to the driver and re-injected as a literal —
    the k-means-centroid pattern: 1 row of driver-side state, never
    data. Keeping it lazy instead (crossJoin of the
    aggregate) nests a rank-dependent broadcast subtree inside every
    superstep plan; the broadcast stages materialize eagerly outside
    the cached-plan reuse and re-derive the full nested lineage each
    round (measured 35.7 s vs 3.4 s at sf0.01). The per-round collect
    also materializes the previous round's truncated rank state. Still
    exact int64, still oracle-expressible as an unrolled CTE."""
    nodes = truncate(edges.select(F.col("subj").alias("node"))
                     .union(edges.select(F.col("dst").alias("node")))
                     .distinct())
    outd = edges.groupBy("subj").agg(F.count("*").alias("outd"))
    # out-degree rides the edge table: ONE join outside the loop
    # instead of an outd join per superstep (5 joins saved)
    edges_w = truncate(edges.join(outd, "subj"))
    if seeds is None:
        k = nodes.count()  # materializes nodes
        if k == 0:  # empty graph: no supersteps, empty rank table
            out = nodes.select("node", F.lit(0).cast("long").alias("rank"))
            out._pr_supersteps = 0
            return out
        init, teleport, seed_col = 1000000, 150000, []
    else:
        k = len(seeds)
        init, teleport = PPR_TOTAL // k, (15 * PPR_TOTAL // 100) // k
        seed_col = [F.col("node").isin(seeds).alias("seed")]

    def seeded(v):  # SQL: v on seed nodes, 0 elsewhere
        return str(v) if seeds is None else \
            f"(CASE WHEN seed THEN {v} ELSE 0 END)"

    # the DANGLING SET is iteration-invariant: flag it once on the
    # node table and let the flag ride the rank state, so the
    # per-superstep dangling sum is a single filter-agg over the rank
    # state — no per-round groupBy/anti-join (measured ~-25% wall)
    nodes_f = truncate(
        nodes.join(outd.select(F.col("subj").alias("node"),
                               F.lit(False).alias("dang")),
                   "node", "left")
        .select("node", F.coalesce("dang", F.lit(True)).alias("dang"),
                *seed_col))
    flags = nodes_f.columns[1:]
    ranks = nodes_f.select(
        "node", F.expr(seeded(init)).cast("long").alias("rank"), *flags)
    steps = 0
    for _ in range(iters):
        contrib = (edges_w.join(ranks, edges_w["subj"] == ranks["node"])
                   .select(F.col("dst").alias("node"),
                           F.expr("rank DIV outd").alias("c")))
        inflow = contrib.groupBy("node").agg(F.sum("c").alias("inflow"))
        # dangling mass: ranks of flagged nodes, shared (floor) across
        # the k nodes it returns to. Collected as ONE int per
        # superstep (driver-side scalar state, not data) — see
        # docstring for why this must not stay a lazy crossJoin.
        dsum = (ranks.agg(F.coalesce(
                    F.sum(F.when(F.col("dang"), F.col("rank"))),
                    F.lit(0)).alias("dsum"))
                .collect()[0]["dsum"])
        dshare = int(dsum) // k
        old, ranks = ranks, truncate(
            nodes_f.join(inflow, "node", "left")
            .select("node",
                    F.expr(f"{seeded(teleport)} + {PR_DAMP_NUM} * "
                           f"(coalesce(inflow, 0) + {seeded(dshare)}) "
                           f"DIV {PR_DAMP_DEN}").cast("long")
                    .alias("rank"),
                    *flags))
        steps += 1
        if tol_ppm is not None:
            delta = (ranks.alias("n").join(old.alias("o"), "node")
                     .agg(F.max(F.abs(F.col("n.rank") - F.col("o.rank"))))
                     .collect()[0][0])
            if delta <= tol_ppm:
                break
    out = ranks.select("node", "rank")
    out._pr_supersteps = steps
    return out


def oracle_kg_pagerank(triples_sql: str) -> str:
    prev = "pr0"
    iters = []
    for i in range(1, PAGERANK_ITERS + 1):
        # dangling share: sum of prev ranks over nodes with no
        # out-edge, floor-divided by the node count BEFORE adding to
        # inflow — the same int64 op order as the Spark supersteps
        iters.append(f"""
d{i} AS (
  SELECT coalesce(sum(p.rank), 0) // (SELECT count(*) FROM nodes)
    AS dshare
  FROM {prev} p WHERE p.node NOT IN (SELECT subj FROM outd)
),
pr{i} AS (
  SELECT n.node,
         cast(150000 + {PR_DAMP_NUM} * (coalesce((
           SELECT sum(p.rank // o.outd)
           FROM edges e JOIN {prev} p ON e.subj = p.node
                        JOIN outd o ON e.subj = o.subj
           WHERE e.dst = n.node), 0)
           + (SELECT dshare FROM d{i}))
           // {PR_DAMP_DEN} as bigint) AS rank
  FROM nodes n
)""")
        prev = f"pr{i}"
    return f"""
WITH triples AS ({triples_sql}),
edges AS (
  SELECT DISTINCT subj, obj_value AS dst FROM triples
  WHERE obj_termtype = 'NamedNode'
),
nodes AS (
  SELECT subj AS node FROM edges UNION SELECT dst FROM edges
),
outd AS (
  SELECT subj, cast(count(*) as bigint) AS outd FROM edges GROUP BY subj
),
pr0 AS (
  SELECT node, cast(1000000 as bigint) AS rank FROM nodes
),{",".join(iters)}
SELECT node, rank FROM {prev} ORDER BY rank DESC, node LIMIT 50
"""


# Quadratic guard for co-mention pairing: a conversation with m
# distinct entities contributes C(m,2) pairs, so ONE open-domain
# mega-conversation at 10^4 entities adds 5·10^7 pairs. 1000 keeps the
# worst single conversation under 5·10^5 pairs (~ the whole sf0.1
# pair budget) while no realistic transcript conversation comes close;
# DEFAULT-ON per round-3 verdict item 1, with the dropped-conversation
# count observed on the plan (no silent caps).
MAX_ENTITIES_PER_CONV = 1000


def q_kg_entity_comention(spark, sf_dir,
                          max_entities_per_conv=MAX_ENTITIES_PER_CONV):
    """Entity co-mention graph: pairs of entities mentioned in the
    SAME conversation, weighted by the number of such conversations —
    the standard KG-enrichment edge a construction pipeline ships next
    to the raw triples. Scale: the per-conversation distinct
    (conv, entity) projection bounds the self-join input by
    conversation length, the join key is conv (AQE skew-split handles
    hot conversations), and each conversation contributes C(m,2) pairs
    for its m distinct entities — `max_entities_per_conv` (default ON,
    MAX_ENTITIES_PER_CONV) drops open-domain conversations above the
    threshold BEFORE the join (one extra conv-keyed partial-agg count,
    same shuffle key), the quadratic-guard at 10^12 turns; the
    entity-pair aggregation gets map-side partial combine and the
    top-k is a TakeOrdered.

    No silent caps: the returned DataFrame carries
    `._comention_guard_df`, a 1-row (dropped_convs, total_convs)
    companion aggregation over the same conv-count projection;
    `comention_guard_stats(df)` runs and logs it. (A `.observe()` on
    the count node would be free, but that node sits below the pair
    self-join and executes TWICE — duplicated CollectMetrics rows
    crash Observation.get in Spark 4.1, so the stats are a separate
    tiny job instead.)"""
    pairs, guard_df = _comention_pairs(spark, sf_dir,
                                       max_entities_per_conv)
    out = (pairs.groupBy("ent_a", "ent_b")
           .agg(F.count("*").alias("n_convs"))
           .orderBy(F.desc("n_convs"), "ent_a", "ent_b")
           .limit(50))
    out._comention_guard_df = guard_df
    return out


def _conv_ents(spark, sf_dir,
               max_entities_per_conv=MAX_ENTITIES_PER_CONV):
    """(conv, sorted distinct entity array) per conversation, with the
    quadratic guard applied; second return is the guard stats frame
    (or None when the guard is off). The per-conversation collect_set
    bounds row size by conversation length, and the guard is a free
    size filter before any pair expansion."""
    t = _triples(spark, sf_dir, cache=True)
    conv_ents = (t.filter(F.col("pred") == TR + "mentions")
                 .select(F.regexp_replace("subj", "/turn/[0-9]+$", "")
                         .alias("conv"),
                         F.col("obj_value").alias("ent"))
                 .groupBy("conv")
                 .agg(F.array_sort(F.collect_set("ent")).alias("ents")))
    guard_df = None
    if max_entities_per_conv is not None:
        guard_df = conv_ents.agg(
            F.coalesce(F.sum((F.size("ents") > max_entities_per_conv)
                             .cast("long")), F.lit(0))
            .alias("dropped_convs"),
            F.count("*").alias("total_convs"))
        conv_ents = conv_ents.filter(
            F.size("ents") <= max_entities_per_conv)
    return conv_ents, guard_df


def _comention_pairs(spark, sf_dir,
                     max_entities_per_conv=MAX_ENTITIES_PER_CONV):
    """Per-conversation entity pairs (ent_a < ent_b), one row per
    (conversation, pair); second return is the quadratic-guard stats
    frame (or None when the guard is off). Shared by
    q_kg_entity_comention and q_kg_triangle_count.

    ONE groupBy(conv) collect_set replaces the old
    distinct → count-join → self-join chain, which re-executed the
    distinct-mentions subtree up to 4x (guard agg, guard join, and
    both self-join sides) — measured 4.0 s -> ~1 s at sf0.1. The
    sorted entity array bounds per-row size by conversation length
    (the same bound the old plan had), the guard is a free
    F.size filter BEFORE any pair is produced, and pair expansion
    is an array lambda — C(m,2) rows only for kept conversations,
    no conv-keyed self-join shuffle at all."""
    conv_ents, guard_df = _conv_ents(spark, sf_dir,
                                     max_entities_per_conv)
    ents = F.col("ents")
    # (x, i) -> pairs of x with every later (= lexically greater,
    # array_sort) element: identical pair set and order semantics to
    # the old `a.ent < b.ent` self-join.
    pair_structs = F.flatten(F.transform(
        ents,
        lambda x, i: F.transform(
            F.slice(ents, i + F.lit(2), F.size(ents) - i - F.lit(1)),
            lambda y: F.struct(x.alias("ent_a"), y.alias("ent_b")))))
    return (conv_ents.select(F.explode(pair_structs).alias("p"))
            .select(F.col("p.ent_a").alias("ent_a"),
                    F.col("p.ent_b").alias("ent_b")),
            guard_df)


def _comention_edges(spark, sf_dir):
    """Directed-both-ways (a, b) edge frame of the co-mention entity
    graph (guard ON), deduplicated — the graph every co-mention
    structure query shares. Callers cache or checkpoint it
    themselves."""
    pairs, _guard = _comention_pairs(spark, sf_dir)
    p = pairs.distinct()
    return (p.select(F.col("ent_a").alias("a"), F.col("ent_b").alias("b"))
            .unionAll(p.select(F.col("ent_b").alias("a"),
                               F.col("ent_a").alias("b"))))


def comention_guard_stats(df) -> dict:
    """Run (and log) the quadratic-guard companion aggregation of a
    q_kg_entity_comention result. Returns
    {'dropped_convs': n, 'total_convs': m}."""
    import logging
    gdf = getattr(df, "_comention_guard_df", None)
    if gdf is None:
        return {"dropped_convs": 0, "total_convs": None}
    row = gdf.collect()[0]
    stats = {"dropped_convs": row["dropped_convs"],
             "total_convs": row["total_convs"]}
    logging.getLogger("jsonld_js_spark.kg_api").info(
        "kg_entity_comention guard: dropped %s of %s conversations "
        "over max_entities_per_conv", stats["dropped_convs"],
        stats["total_convs"])
    return stats


def oracle_kg_entity_comention(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
)
SELECT a.ent AS ent_a, b.ent AS ent_b, cast(count(*) as bigint) AS n_convs
FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
GROUP BY 1, 2 ORDER BY n_convs DESC, ent_a, ent_b LIMIT 50
"""


# ---------------------------------------------------------------------------
# triangle counting over the co-mention graph (degree-ordered
# compact-forward)

def triangle_counts(edges):
    """(ent_a, ent_b) undirected edge rows (any multiplicity) ->
    (ent, n_triangles) for every node in >=1 triangle.

    Degree-ordered orientation (the compact-forward / Schank-Wagner
    strategy, the standard MapReduce triangle plan): orient each edge
    from its lower-(degree, id) endpoint to the higher one, build
    wedges as pairs of out-neighbors, close them with a join back on
    the oriented edge set. Under this orientation every node's
    out-degree is O(sqrt(m)) regardless of raw degree — a celebrity
    hub with 10^7 co-mentions does NOT fan 10^14 wedges, which is what
    an id-ordered orientation would do if the hub happens to sort low.
    Total wedge volume is O(m^1.5); each triangle is generated exactly
    once (at its lowest-order corner). Shuffles: degree agg, two
    oriented-edge joins (keys: wedge apex, then (v, w) pair — both
    uniform after orientation; AQE handles the residue).
    """
    # und / o / tri are edge- and triangle-scale but referenced 2-3x
    # each (src/dst swap, o1/o2/closing, three corner projections) and
    # derive from a corpus-scale scan — Catalyst does not dedupe the
    # shared subtree (CLAUDE.md), so uncached they re-ran it up to 9x
    # (measured 42.3 -> 1.8 s at sf0.1). At 100 TB checkpoint the
    # oriented edge set reliably (supersteps.truncate).
    und = (edges.select(F.col("ent_a").alias("src"),
                        F.col("ent_b").alias("dst"))
           .unionAll(edges.select(F.col("ent_b").alias("src"),
                                  F.col("ent_a").alias("dst")))
           .distinct()).localCheckpoint()
    deg = und.groupBy("src").agg(F.count("*").alias("d")) \
        .select(F.col("src").alias("node"), "d")
    withd = (und
             .join(deg.select(F.col("node").alias("src"),
                              F.col("d").alias("sd")), "src")
             .join(deg.select(F.col("node").alias("dst"),
                              F.col("d").alias("dd")), "dst"))
    # total order on nodes: (degree, id); keep the dst's order key on
    # each oriented edge so the wedge comparison needs no re-join
    o = (withd.filter(F.struct(F.col("sd"), F.col("src")) <
                      F.struct(F.col("dd"), F.col("dst")))
         .select("src", "dst", "dd")).localCheckpoint()
    o1, o2 = o.alias("o1"), o.alias("o2")
    wedges = (o1.join(o2, (F.col("o1.src") == F.col("o2.src")) &
                      (F.struct(F.col("o1.dd"), F.col("o1.dst")) <
                       F.struct(F.col("o2.dd"), F.col("o2.dst"))))
              .select(F.col("o1.src").alias("u"),
                      F.col("o1.dst").alias("v"),
                      F.col("o2.dst").alias("w")))
    closing = o.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    tri = wedges.join(closing, ["v", "w"]).localCheckpoint()
    corners = (tri.select(F.col("u").alias("ent"))
               .unionAll(tri.select(F.col("v").alias("ent")))
               .unionAll(tri.select(F.col("w").alias("ent"))))
    return (corners.groupBy("ent")
            .agg(F.count("*").alias("n_triangles")))


def q_kg_triangle_count(spark, sf_dir):
    """Per-entity triangle membership counts over the co-mention graph
    (guard ON — shares `_comention_pairs` with kg_entity_comention):
    the local clustering signal KG pipelines ship for community /
    hub-spam detection."""
    pairs, _guard = _comention_pairs(spark, sf_dir)
    # cache: und's src/dst-swap union references the distinct pair set
    # twice, and it derives from a corpus-scale scan
    return (triangle_counts(pairs.distinct().cache())
            .orderBy(F.desc("n_triangles"), "ent"))


def oracle_kg_triangle_count(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
und AS (
  SELECT ent_a AS src, ent_b AS dst FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
deg AS (SELECT src AS node, count(*) AS d FROM und GROUP BY src),
o AS (
  SELECT u.src, u.dst, dd.d AS dd
  FROM und u
  JOIN deg ds ON u.src = ds.node
  JOIN deg dd ON u.dst = dd.node
  WHERE (ds.d, u.src) < (dd.d, u.dst)
),
tri AS (
  SELECT o1.src AS u, o1.dst AS v, o2.dst AS w
  FROM o o1
  JOIN o o2 ON o1.src = o2.src AND (o1.dd, o1.dst) < (o2.dd, o2.dst)
  JOIN o o3 ON o3.src = o1.dst AND o3.dst = o2.dst
),
corners AS (
  SELECT u AS ent FROM tri
  UNION ALL SELECT v FROM tri
  UNION ALL SELECT w FROM tri
)
SELECT ent, cast(count(*) as bigint) AS n_triangles
FROM corners GROUP BY ent
ORDER BY n_triangles DESC, ent
"""


# ---------------------------------------------------------------------------
# community detection over the co-mention graph (synchronous label
# propagation)

LPA_ITERS = 4


def label_propagation(edges, iters: int = LPA_ITERS):
    """Synchronous label propagation (Raghavan et al. 2007) over an
    undirected edge set given in BOTH directions as (a, b): every node
    starts as its own label; each superstep it adopts the most frequent
    label among its neighbors, ties broken by lexicographic-min label.
    Fixed `iters` supersteps + deterministic tie-break make the output
    exactly reproducible (and DuckDB-oracle-expressible as an unrolled
    CTE chain) even on oscillation-prone bipartite structures.

    This is the COMMUNITY signal, distinct from connected components
    (dedup.connected_components finds maximal reachable sets; LPA splits
    a connected graph into densely-linked groups) and from PageRank
    (importance, not membership).

    Scale shape per superstep: one edges⋈labels shuffle on the neighbor
    key, one (node, label) partial-aggregated count, and one per-node
    argmin — expressed as `min_by(label, struct(-cnt, label))` inside a
    single groupBy(node) agg so the vote resolution gets map-side
    partial combine instead of a row_number window sort. Label state is
    2 strings/node."""
    nodes = edges.select(F.col("a").alias("node")).distinct()
    labels = truncate(nodes.select("node", F.col("node").alias("label")))
    for _ in range(iters):
        votes = (edges.join(labels, edges["b"] == labels["node"])
                 .select(edges["a"].alias("node"), "label"))
        counts = (votes.groupBy("node", "label")
                  .agg(F.count("*").alias("cnt")))
        labels = truncate(
            counts.groupBy("node")
            .agg(F.expr("min_by(label, struct(-cnt, label))")
                 .alias("label")))
    return labels


def q_kg_label_propagation(spark, sf_dir):
    """Gated query: 4-superstep label-propagation communities over the
    co-mention graph (guard ON — shares `_comention_pairs` with
    kg_entity_comention), each entity labeled with its community id
    (the component's elected label) and the community size — the
    topic-cluster signal KG pipelines ship for entity grouping."""
    from pyspark.sql import Window
    # cache: vocabulary-scale frame off a corpus-scale scan, referenced
    # by every superstep join plus the node seed (Catalyst
    # no-subplan-reuse; measured 13.5 -> ~2 s at sf0.1)
    edges = _comention_edges(spark, sf_dir).localCheckpoint()
    labels = label_propagation(edges)
    w = Window.partitionBy("community")
    return (labels.select(F.col("node").alias("ent"),
                          F.col("label").alias("community"))
            .withColumn("community_size", F.count("*").over(w))
            .orderBy("community", "ent"))


def oracle_kg_label_propagation(triples_sql: str) -> str:
    prev = "l0"
    iters = []
    for i in range(1, LPA_ITERS + 1):
        iters.append(f"""
c{i} AS (
  SELECT e.a AS node, l.label, count(*) AS cnt
  FROM edges e JOIN {prev} l ON e.b = l.node
  GROUP BY e.a, l.label
),
l{i} AS (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM c{i}) WHERE rn = 1
)""")
        prev = f"l{i}"
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
edges AS (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
l0 AS (
  SELECT DISTINCT a AS node, a AS label FROM edges
),{",".join(iters)}
SELECT node AS ent, label AS community,
       cast(count(*) OVER (PARTITION BY label) as bigint)
         AS community_size
FROM {prev}
ORDER BY community, ent
"""


# ---------------------------------------------------------------------------
# k-hop neighborhood extraction (bounded BFS)

KHOP_K = 3


def khop(edges, seeds, k: int = KHOP_K):
    """Bounded BFS over an undirected (a, b) edge set: every node
    within k hops of the seed set, labeled with its EXACT minimum hop
    distance (level-order construction — a node enters `visited` the
    first level it is reachable, so no min-agg is ever needed).

    The per-level plan is the Pregel shape: frontier ⋈ edges (AQE
    broadcasts the frontier while it is small — the common case for
    seed-neighborhood queries — and falls back to a hash join when a
    hub explodes it), one distinct, one left-anti against visited.
    k is a small constant (subgraph extraction, not reachability).
    Expects `edges` to carry each undirected edge in both directions.
    """
    visited = truncate(seeds.select("node")
                       .withColumn("hops", F.lit(0).cast("long")))
    frontier = visited.select("node")
    for h in range(1, k + 1):
        nxt = (frontier.join(edges, frontier["node"] == edges["a"])
               .select(F.col("b").alias("node")).distinct())
        new = truncate(nxt.join(visited, "node", "left_anti")
                       .withColumn("hops", F.lit(h).cast("long")))
        visited = truncate(visited.unionAll(new))
        frontier = new.select("node")
    return visited


def q_kg_khop(spark, sf_dir):
    """Gated query: the 3-hop neighborhood of ent:Entity0 in the
    constructed KG (turn/conv/tool/entity nodes reached through
    mentions/hasTurn/usesTool edges, either direction) with exact hop
    levels — the standard seed-expansion subgraph every KG application
    (RAG context building, entity cards) runs."""
    fwd = _named_edges(spark, sf_dir)
    # checkpoint: the distinct-ed edge set re-shuffles per BFS level
    # when uncached (Catalyst no-subplan-reuse)
    edges = (fwd.unionAll(fwd.select("dst", "subj")).toDF("a", "b")
             .distinct().localCheckpoint())
    seeds = spark.createDataFrame([(ENT_NS + "Entity0",)], "node string")
    return khop(edges, seeds).orderBy("hops", "node")


def oracle_kg_khop(triples_sql: str) -> str:
    ent0 = f"{ENT_NS}Entity0"
    sql = f"""
WITH triples AS ({triples_sql}),
edges AS (
  SELECT subj AS a, obj_value AS b FROM triples
  WHERE obj_termtype = 'NamedNode'
  UNION
  SELECT obj_value, subj FROM triples
  WHERE obj_termtype = 'NamedNode'
),
n0 AS (SELECT '{ent0}' AS node), v0 AS (SELECT node FROM n0)"""
    prev_r, prev_v = "n0", "v0"
    for h in range(1, KHOP_K + 1):
        sql += f""",
r{h} AS (
  SELECT DISTINCT e.b AS node FROM edges e
  JOIN {prev_r} f ON e.a = f.node
  EXCEPT SELECT node FROM {prev_v}
),
v{h} AS (SELECT node FROM {prev_v} UNION SELECT node FROM r{h})"""
        prev_r, prev_v = f"r{h}", f"v{h}"
    levels = " UNION ALL ".join(
        [f"SELECT node, cast(0 AS bigint) AS hops FROM n0"] +
        [f"SELECT node, cast({h} AS bigint) FROM r{h}"
         for h in range(1, KHOP_K + 1)])
    return sql + f"\nSELECT * FROM ({levels}) ORDER BY hops, node"


# ---------------------------------------------------------------------------
# identity resolution (owl:sameAs smushing)

def sameas_closure(triples, sameas):
    """Knowledge-fusion identity resolution: rewrite the KG through the
    TRANSITIVE closure of a sameAs pair set, collapsing every identity
    component onto its lexicographically-min IRI (the reference's
    single-node analog is node-map merging under a shared @id,
    ref lib/nodeMap.js:47-120 — this is the cross-document, candidate-
    pair-driven generalization it cannot express).

    `sameas`: (a, b) undirected candidate pairs (from any resolver —
    normalization, embedding blocking, explicit owl:sameAs triples).
    Returns the triple table with every subj and every NamedNode
    obj_value mapped to its component canonical, then set-deduplicated
    (merged nodes' duplicate assertions collapse, matching addValue
    allowDuplicate:false semantics, ref lib/util.js:249-306).

    Scale shape: the closure map is sized by the ALIAS PAIR set
    (entity-vocabulary scale, orders below triple scale). Up to
    SAMEAS_SMALL_GRAPH_EDGES distinct pairs it is computed as bounded
    DRIVER STATE (one limit-collect + python union-find — the
    k-means-centroid pattern: the per-round shuffle+checkpoint fixed
    cost of distributed CC dwarfs a vocabulary-scale collect, measured
    6.3 s → 0.4 s on the gated corpus) and rebroadcast as a literal
    DataFrame; past the threshold it switches to the alternating-star
    CC (operators/dedup.py:_cc_star — O(log n) rounds, per-round
    reliable checkpoint, fixpoint by 1-row checksum). The rewrite is
    two joins of triples against the canon map keyed on subj /
    obj_value — broadcast when driver-built, AQE-decided otherwise —
    never all-pairs. Final dedup is one partial-agg shuffle, the same
    op the hot path already pays for "global" dedup. Transitive chains
    (a=b, b=c, … 12 deep) are pytest-covered on BOTH closure paths;
    literal objects are never rewritten even when their lexical form
    equals a mapped IRI."""
    canon = _sameas_canon_map(sameas)
    rewritten = (
        triples
        .join(canon, triples["subj"] == canon["_iri"], "left")
        .select(F.coalesce("_canon", "subj").alias("subj"),
                "pred", "obj_value", "obj_termtype", "obj_datatype",
                "obj_language", "graph")
        .join(canon, (F.col("obj_termtype") == "NamedNode")
              & (F.col("obj_value") == canon["_iri"]), "left")
        .select("subj", "pred",
                F.coalesce("_canon", "obj_value").alias("obj_value"),
                "obj_termtype", "obj_datatype", "obj_language", "graph"))
    return rewritten.dropDuplicates()


SAMEAS_SMALL_GRAPH_EDGES = 100_000


def _sameas_canon_map(sameas):
    """(a, b) pairs → (_iri, _canon) rows for every NON-canonical
    member (component min maps to itself and is omitted — the rewrite
    left-join coalesces). Bounded driver-side union-find under
    SAMEAS_SMALL_GRAPH_EDGES distinct pairs (a few MB of strings),
    distributed star CC above it — both yield component-min labels."""
    pairs = sameas.select("a", "b").distinct()
    # ONE action decides the path AND fetches the small set: limit
    # threshold+1 + collect (a count would pay the derivation scan a
    # second time before the collect)
    small = pairs.limit(SAMEAS_SMALL_GRAPH_EDGES + 1).collect()
    if len(small) <= SAMEAS_SMALL_GRAPH_EDGES:
        parent: dict = {}

        def find(x):
            r = x
            while parent.get(r, r) != r:
                r = parent[r]
            while parent.get(x, x) != x:  # path compression
                parent[x], x = r, parent[x]
            return r

        for row in small:
            ra, rb = find(row["a"]), find(row["b"])
            if ra != rb:
                # union by min keeps roots canonical as we go
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        rows = [(x, find(x)) for x in list(parent)]
        rows = [(x, c) for x, c in rows if x != c]
        spark = sameas.sparkSession
        if not rows:
            return spark.createDataFrame(
                [], "_iri string, _canon string")
        return F.broadcast(spark.createDataFrame(
            rows, "_iri string, _canon string"))
    from .operators.dedup import connected_components
    both = (pairs.select(F.col("a").alias("src"), F.col("b").alias("dst"))
            .unionAll(pairs.select(F.col("b").alias("src"),
                                   F.col("a").alias("dst"))))
    comps = connected_components(both.distinct(), algorithm="star")
    return (comps.filter(F.col("doc_id") != F.col("cluster_id"))
            .select(F.col("doc_id").alias("_iri"),
                    F.col("cluster_id").alias("_canon")))


def resolver_sameas_edges(transcripts):
    """Candidate sameAs pairs for the transcript KG: each distinct
    mention SURFACE is proposed same-as its normalized form
    ('entity12' → 'Entity12'), yielding one star of alias IRIs per
    entity. One distinct over the (small) surface vocabulary — the
    mention scan itself is the same single-pass regexp projection the
    flagship runs."""
    surfaces = (transcripts.select(
        F.explode(F.regexp_extract_all("text", F.lit(MENTION_RE), 1))
         .alias("s")).distinct())
    norm = F.concat(F.lit("Entity"), F.regexp_extract("s", r"[0-9]+", 0))
    return (surfaces.filter(F.col("s") != norm)
            .select(F.concat(F.lit(ENT_NS), F.col("s")).alias("a"),
                    F.concat(F.lit(ENT_NS), norm).alias("b")))


def q_kg_sameas_closure(spark, sf_dir):
    """Gated query: emit the KG WITHOUT emit-time entity linking
    (surface-form IRIs preserved: ent:entity12 ≠ ent:Entity12), derive
    resolver candidate pairs from the corpus, and smush. The oracle is
    the independently-derived LINKED triple set (oracles._triples_select)
    — closure-of-surface-KG == linked-KG is an exact set-equality
    theorem for this resolver, so the gate checks the whole operator
    (CC + rewrite + dedup) value-for-value, the kg_fromrdf_roundtrip
    pattern."""
    # the generated transcript table feeds two derivations (edge
    # collect + triple emission) — cache one materialization, the
    # _triples(cache=True) pattern every multi-pass kg query uses
    t = transcripts_df(spark, sf_dir=sf_dir).cache()
    surface_triples = transcript_triples(t, link_entities=False)
    return sameas_closure(surface_triples, resolver_sameas_edges(t))


# ---------------------------------------------------------------------------
# deterministic random walks (DeepWalk-style graph -> sequence corpus)

WALKS_PER_NODE = 2
WALK_LEN = 4


def random_walks(edges, walks_per_node: int = WALKS_PER_NODE,
                 walk_len: int = WALK_LEN):
    """Graph -> sequence corpus: `walks_per_node` truncated random
    walks of `walk_len` steps from EVERY node of an (a, b) edge set
    given in both directions — the DeepWalk/node2vec preprocessing
    step that turns a KG into skip-gram training sequences. The
    "random" choice is a deterministic portable hash: at step s of
    walk (seed, w), the successor is the neighbor minimizing
    hash60(seed|w|s|neighbor) (ties by neighbor) — an unbiased
    per-step draw both engines reproduce exactly, so the corpus is
    stable under re-runs and incremental rebuilds (the corpus_split
    reproducibility argument applied to graph sequences).

    Scale shape per step: walk state is exactly one row per
    (seed, w) — walks never branch — so each step is ONE state⋈edges
    shuffle on the current node plus a groupBy(seed, w) argmin
    expressed as min_by(b, struct(h, b)) with map-side partial
    combine; the hub-node fan-out (state rows x degree) collapses in
    the combiner before the exchange. Each level is taken from the
    truncated walk state, so the final union does not nest every
    step's lineage again. Walks over a sink node (possible only on
    DIRECTED edge sets) simply end early: absent rows, never nulls.
    """
    from .operators.textstats import hash60
    nodes = edges.select(F.col("a").alias("seed")).distinct()
    walks = nodes.select("seed", F.explode(F.array(
        *[F.lit(w).cast("long") for w in range(walks_per_node)]))
        .alias("w"))
    state = truncate(walks.select("seed", "w",
                                  F.col("seed").alias("node")))
    levels = [state.select(
        "seed", "w", F.lit(0).cast("long").alias("step"), "node")]
    for h in range(1, walk_len + 1):
        key = F.concat_ws("|", F.col("seed"), F.col("w").cast("string"),
                          F.lit(str(h)), F.col("b"))
        state = truncate(
            state.join(edges, state["node"] == edges["a"])
            .select("seed", "w", F.col("b").alias("b"),
                    hash60(key).alias("h"))
            .groupBy("seed", "w")
            .agg(F.expr("min_by(b, struct(h, b))").alias("node")))
        levels.append(state.select(
            "seed", "w", F.lit(h).cast("long").alias("step"), "node"))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionAll(lv)
    return out


def q_kg_random_walks(spark, sf_dir):
    """Gated query: the walk corpus over the co-mention graph (guard
    ON — shares `_comention_pairs` with kg_entity_comention): 2 walks
    x 4 steps from every entity, the sequences a graph-embedding
    trainer consumes."""
    # cache: the edge set is entity-vocabulary-sized but derives from
    # a corpus-scale scan, and the walk loop references it walk_len+1
    # times — Catalyst does not dedupe the subplan (CLAUDE.md), so an
    # uncached edge frame re-runs the mentions scan per step
    # (measured 15.9 s -> 1.9 s at sf0.1).
    edges = _comention_edges(spark, sf_dir).localCheckpoint()
    return random_walks(edges).orderBy("seed", "w", "step")


def _walks_ctes(triples_sql: str) -> tuple[str, str]:
    """(CTE block through the last walk step, per-step UNION ALL
    select) — shared by the walk-corpus oracle and the skip-gram
    oracle."""
    from .operators.textstats import hash60_sql
    sql = f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
edges AS (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
s0 AS (
  SELECT DISTINCT a AS seed, w, a AS node
  FROM edges CROSS JOIN (SELECT unnest(range({WALKS_PER_NODE})) AS w)
)"""
    prev = "s0"
    for h in range(1, WALK_LEN + 1):
        hkey = hash60_sql(
            f"concat_ws('|', s.seed, cast(s.w as varchar), '{h}', e.b)")
        sql += f""",
p{h} AS (
  SELECT s.seed, s.w, e.b, {hkey} AS h
  FROM {prev} s JOIN edges e ON e.a = s.node
),
s{h} AS (
  SELECT seed, w, node FROM (
    SELECT seed, w, b AS node,
           row_number() OVER (PARTITION BY seed, w ORDER BY h, b) AS r
    FROM p{h}) WHERE r = 1
)"""
        prev = f"s{h}"
    steps = " UNION ALL ".join(
        f"SELECT seed, cast(w as bigint) AS w, cast({h} as bigint) AS step, "
        f"node FROM s{h}"
        for h in range(0, WALK_LEN + 1))
    return sql, steps


def oracle_kg_random_walks(triples_sql: str) -> str:
    sql, steps = _walks_ctes(triples_sql)
    return sql + f"\nSELECT * FROM ({steps}) ORDER BY seed, w, step"


# ---------------------------------------------------------------------------
# skip-gram co-occurrence pairs from the walk corpus

SKIPGRAM_WINDOW = 2


def skipgram_pairs(walks, window: int = SKIPGRAM_WINDOW):
    """(seed, w, step, node) walk corpus -> symmetric skip-gram
    co-occurrence counts (center, context, n_pairs) with |Δstep| <=
    window within each walk — the training-pair artifact a
    DeepWalk/word2vec embedding trainer actually consumes. One
    walk-keyed self-join with a step band condition (walks are
    walk_len+1 rows each, so the band join fans at most window rows
    per row), then a partial-combining groupBy on the pair key."""
    a = walks.select("seed", "w", F.col("step").alias("sa"),
                     F.col("node").alias("center"))
    b = walks.select("seed", "w", F.col("step").alias("sb"),
                     F.col("node").alias("context"))
    fwd = (a.join(b, ["seed", "w"])
           .filter((F.col("sb") > F.col("sa")) &
                   (F.col("sb") <= F.col("sa") + window))
           .select("center", "context"))
    sym = fwd.unionAll(fwd.select(F.col("context").alias("center"),
                                  F.col("center").alias("context")))
    return (sym.groupBy("center", "context")
            .agg(F.count("*").alias("n_pairs")))


def q_kg_skipgram_pairs(spark, sf_dir):
    """Gated query: skip-gram pairs over the kg_random_walks corpus
    (window 2) — graph-embedding training data. The walk corpus is
    localCheckpoint-ed, not just cached: the self-join references it
    twice, and caching alone leaves the walk loop's deep iterative
    lineage (a union of walk_len joined-and-aggregated branches) in
    BOTH join subtrees — Catalyst re-analyzes the doubled tree every
    run (measured 11.0 -> ~7 s at sf0.1 cold; the remainder is the
    walk loop itself — per-step fixed stage costs on a
    vocabulary-scale graph, which amortize at real scale).
    """
    edges = _comention_edges(spark, sf_dir).cache()
    walks = random_walks(edges).localCheckpoint()
    return skipgram_pairs(walks).orderBy("center", "context")


def oracle_kg_skipgram_pairs(triples_sql: str) -> str:
    sql, steps = _walks_ctes(triples_sql)
    return sql + f""",
walks AS (SELECT * FROM ({steps})),
sg_fwd AS (
  SELECT a.node AS center, b.node AS context
  FROM walks a JOIN walks b
    ON a.seed = b.seed AND a.w = b.w
   AND b.step > a.step AND b.step <= a.step + {SKIPGRAM_WINDOW}
),
sym AS (
  SELECT center, context FROM sg_fwd
  UNION ALL SELECT context, center FROM sg_fwd
)
SELECT center, context, cast(count(*) as bigint) AS n_pairs
FROM sym GROUP BY center, context ORDER BY center, context"""


# ---------------------------------------------------------------------------
# node similarity (neighbor-overlap Jaccard) — link prediction

SIM_TOPK = 50

# Quadratic guard for the wedge join: a shared-neighbor hub of degree
# d contributes C(d,2) wedge rows, and hub degree in the co-mention
# graph is UNBOUNDED (the per-conversation comention guard caps
# entities per conversation, not an entity's degree ACROSS
# conversations — one celebrity entity at 10^5 degree is 10^10
# wedges). 1000 keeps the worst single hub under 5·10^5 wedges, the
# same budget rationale as MAX_ENTITIES_PER_CONV. DEFAULT-ON per
# round-4 verdict item 2; dropped-hub count is a companion stats
# frame (no silent caps), same pattern as the comention guard.
MAX_HUB_DEGREE = 1000


def neighbor_jaccard(edges, topk: int = SIM_TOPK,
                     max_hub_degree: int | None = MAX_HUB_DEGREE):
    """(a, b) both-direction edge rows -> top-`topk` entity pairs by
    neighbor-set Jaccard (ppm) — the link-prediction / sameAs-candidate
    signal a KG-enrichment pipeline feeds into sameas_closure. Pairs
    are generated through shared neighbors (wedge join on the common
    neighbor), so disconnected pairs are never materialized.

    Scale: per-hub wedge volume is C(deg(hub), 2), so shared-neighbor
    nodes above `max_hub_degree` are excluded as wedge CENTERS
    (stop-word semantics — a 10^5-degree hub carries almost no
    similarity signal but 10^10 wedges; its edges still count toward
    dx/dy, so the Jaccard denominator stays exact and only n_shared
    for pairs meeting THROUGH a dropped hub undercounts). The degree
    filter is one extra join on the wedge key `a` — already the
    shuffle key of the self-join, no new Exchange shape. The returned
    DataFrame carries `._jaccard_guard_df`, a 1-row (dropped_hubs,
    total_nodes) companion aggregation; `neighbor_jaccard_guard_stats`
    runs and logs it. Jaccard is exact integer ppm:
    floor(shared * 1e6 / (deg_a + deg_c - shared))."""
    und = edges.distinct().cache()
    deg = und.groupBy("a").agg(F.count("*").alias("d")) \
        .select(F.col("a").alias("node"), "d")
    guard_df = None
    wedge_src = und
    if max_hub_degree is not None:
        guard_df = deg.agg(
            F.coalesce(F.sum((F.col("d") > max_hub_degree)
                             .cast("long")), F.lit(0))
            .alias("dropped_hubs"),
            F.count("*").alias("total_nodes"))
        wedge_src = und.join(
            deg.filter(F.col("d") <= max_hub_degree)
               .select(F.col("node").alias("a")), "a")
    shared = (wedge_src.alias("e1").join(
        wedge_src.alias("e2"),
        (F.col("e1.a") == F.col("e2.a")) &
        (F.col("e1.b") < F.col("e2.b")))
        .groupBy(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
        .agg(F.count("*").alias("n_shared")))
    out = (shared
           .join(deg.select(F.col("node").alias("x"),
                            F.col("d").alias("dx")), "x")
           .join(deg.select(F.col("node").alias("y"),
                            F.col("d").alias("dy")), "y")
           .select("x", "y", "n_shared",
                   F.floor(F.col("n_shared") * F.lit(1000000.0) /
                           (F.col("dx") + F.col("dy") -
                            F.col("n_shared"))).cast("long")
                   .alias("jaccard_ppm")))
    res = out.orderBy(F.desc("jaccard_ppm"), "x", "y").limit(topk)
    res._jaccard_guard_df = guard_df
    return res


def neighbor_jaccard_guard_stats(df) -> dict:
    """Run (and log) the hub-degree-guard companion aggregation of a
    neighbor_jaccard result. Returns
    {'dropped_hubs': n, 'total_nodes': m}."""
    import logging
    gdf = getattr(df, "_jaccard_guard_df", None)
    if gdf is None:
        return {"dropped_hubs": 0, "total_nodes": None}
    row = gdf.collect()[0]
    stats = {"dropped_hubs": row["dropped_hubs"],
             "total_nodes": row["total_nodes"]}
    logging.getLogger("jsonld_js_spark.kg_api").info(
        "kg_neighbor_jaccard guard: dropped %s of %s nodes as wedge "
        "centers over max_hub_degree", stats["dropped_hubs"],
        stats["total_nodes"])
    return stats


def q_kg_neighbor_jaccard(spark, sf_dir):
    """Gated query: top-50 co-mention entity pairs by neighbor-set
    Jaccard (guard ON — shares `_comention_pairs`)."""
    return neighbor_jaccard(_comention_edges(spark, sf_dir))


def oracle_kg_neighbor_jaccard(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
und AS (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
deg AS (SELECT a AS node, count(*) AS d FROM und GROUP BY a),
wedge_src AS (
  SELECT e.a, e.b FROM und e
  JOIN deg g ON g.node = e.a AND g.d <= {MAX_HUB_DEGREE}
),
shared AS (
  SELECT e1.b AS x, e2.b AS y, count(*) AS n_shared
  FROM wedge_src e1 JOIN wedge_src e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY e1.b, e2.b
)
SELECT s.x, s.y, cast(s.n_shared as bigint) AS n_shared,
       cast(floor(s.n_shared * 1000000.0 /
                  (dx.d + dy.d - s.n_shared)) as bigint) AS jaccard_ppm
FROM shared s JOIN deg dx ON dx.node = s.x JOIN deg dy ON dy.node = s.y
ORDER BY jaccard_ppm DESC, s.x, s.y LIMIT {SIM_TOPK}
"""


LIFT_MIN_SUPPORT = 2  # pairs seen once are lift noise (a singleton
#                       pair of two rare entities maxes the score)


def q_kg_cooccur_lift(spark, sf_dir):
    """Association-ranked co-mention pairs: observed/expected lift

        lift(x, y) = N · c_xy / (c_x · c_y)

    in exact integer ppm — the significance layer over
    kg_entity_comention's raw counts (raw counts rank hub pairs first;
    lift surfaces the pairs that co-occur far MORE than their
    individual popularity predicts, the relation-discovery signal).

    Exactness: ppm is computed in the documented left-to-right int64
    order ((1_000_000 · N) DIV c_x · c_xy) DIV c_y — ent_a's count
    divides first; c_xy ≤ c_x keeps every intermediate ≤ 10^6 · N, so
    the arithmetic is int64-safe up to N ≈ 9·10^12 kept conversations.
    Min support {LIFT_MIN_SUPPORT} drops singleton pairs. N is a 1-row
    collect (driver scalar, the k-means pattern).

    Scale shape: one conv-keyed collect_set (shared `_conv_ents`,
    guard default-ON), array-lambda pair expansion (no self-join), one
    partial-aggregated groupBy(pair), two ent-keyed joins against the
    per-entity conv-count dim — the jaccard deg-join shape — and a
    TakeOrdered."""
    conv_ents, _guard = _conv_ents(spark, sf_dir)
    return cooccur_lift(conv_ents)


def cooccur_lift(conv_ents, min_support: int = LIFT_MIN_SUPPORT,
                 topk: int = 50):
    """Lift core over a (conv, ents sorted-array) frame — see
    `q_kg_cooccur_lift` for formula/exactness/scale notes. Pinned by a
    hand-computed tiny-corpus truth in tests/test_arithmetic_truths.py
    (the oracle shares the formula, so the gate alone can't see a
    synchronized defect)."""
    conv_ents = conv_ents.localCheckpoint()  # 3 consumers below
    n_convs_total = conv_ents.count()
    if n_convs_total == 0:
        n_convs_total = 1
    kept = conv_ents.select("conv", F.explode("ents").alias("ent"))
    cx = kept.groupBy("ent").agg(F.count("*").alias("c"))
    ents = F.col("ents")
    pair_structs = F.flatten(F.transform(
        ents,
        lambda x, i: F.transform(
            F.slice(ents, i + F.lit(2), F.size(ents) - i - F.lit(1)),
            lambda y: F.struct(x.alias("ent_a"), y.alias("ent_b")))))
    cxy = (conv_ents.select(F.explode(pair_structs).alias("p"))
           .groupBy(F.col("p.ent_a").alias("ent_a"),
                    F.col("p.ent_b").alias("ent_b"))
           .agg(F.count("*").alias("n_convs"))
           .filter(F.col("n_convs") >= min_support))
    return (cxy
            .join(cx.select(F.col("ent").alias("ent_a"),
                            F.col("c").alias("c_a")), "ent_a")
            .join(cx.select(F.col("ent").alias("ent_b"),
                            F.col("c").alias("c_b")), "ent_b")
            .select("ent_a", "ent_b",
                    F.col("n_convs").cast("long").alias("n_convs"),
                    # the 10^6·N numerator is computed driver-side as
                    # ONE literal: two int literals would multiply in
                    # int32 and overflow past N = 2147 (ANSI error at
                    # sf0.1's N=10^4; a >int32 literal parses as
                    # BIGINT, and c_a/n_convs/c_b are already bigint)
                    F.expr(f"(({1000000 * n_convs_total}) DIV c_a "
                           f"* n_convs) DIV c_b").cast("long")
                    .alias("lift_ppm"))
            .orderBy(F.desc("lift_ppm"), "ent_a", "ent_b").limit(topk))


def oracle_kg_cooccur_lift(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
n AS (SELECT greatest(count(DISTINCT conv), 1) AS n FROM kept),
cx AS (SELECT ent, cast(count(*) AS bigint) AS c FROM kept GROUP BY ent),
cxy AS (
  SELECT a.ent AS ent_a, b.ent AS ent_b,
         cast(count(*) AS bigint) AS n_convs
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
  GROUP BY 1, 2
  HAVING count(*) >= {LIFT_MIN_SUPPORT}
)
SELECT p.ent_a, p.ent_b, p.n_convs,
       cast(((1000000 * (SELECT n FROM n)) // ca.c * p.n_convs) // cb.c
            AS bigint) AS lift_ppm
FROM cxy p JOIN cx ca ON ca.ent = p.ent_a JOIN cx cb ON cb.ent = p.ent_b
ORDER BY lift_ppm DESC, p.ent_a, p.ent_b LIMIT 50
"""


def q_kg_entity_timeline(spark, sf_dir):
    """Per-entity temporal profile over the constructed KG: first/last
    mention timestamp, mention count, distinct-conversation count —
    the freshness/coverage table a KG serving layer keeps per entity
    (staleness eviction, trending detection).

    Portability: the generator's xsd:dateTime literals are
    second-granularity ISO-8601 Z strings, which sort lexicographically
    identically to their instants — first/last seen are exact string
    MIN/MAX, no timestamp parsing or TZ surface on either engine
    (CLAUDE.md: never return raw timestamp columns).

    Scale shape: mentions ⋈ ts on the TURN key (uniform — turn ids
    never skew even when an entity is hot), then ONE partial-aggregated
    groupBy(ent) for min/max/count plus a two-phase exact distinct-conv
    count (distinct (ent, conv) dedups map-side before the count —
    never countDistinct's expand over a celebrity entity's raw mention
    stream). At 100 TB the distinct-conv leg can swap to the HLL
    register path (operators/sketches.py) without touching callers."""
    t = _triples(spark, sf_dir, cache=True)
    m = (t.filter(F.col("pred") == TR + "mentions")
         .select("subj", F.col("obj_value").alias("ent")))
    ts = (t.filter(F.col("pred") == TR + "ts")
          .select("subj", F.col("obj_value").alias("ts")))
    rows = m.join(ts, "subj").select(
        "ent", "ts",
        F.regexp_replace("subj", "/turn/[0-9]+$", "").alias("conv"))
    base = rows.groupBy("ent").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        F.count("*").alias("n_mentions"))
    nconv = (rows.select("ent", "conv").distinct()
             .groupBy("ent").agg(F.count("*").alias("n_convs")))
    return (base.join(nconv, "ent")
            .select("ent", "first_seen", "last_seen",
                    F.col("n_mentions").cast("long").alias("n_mentions"),
                    F.col("n_convs").cast("long").alias("n_convs"))
            .orderBy("ent"))


def oracle_kg_entity_timeline(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
m AS (
  SELECT subj, obj_value AS ent,
         regexp_replace(subj, '/turn/[0-9]+$', '') AS conv
  FROM triples WHERE pred = '{TR}mentions'
),
ts AS (
  SELECT subj, obj_value AS ts FROM triples WHERE pred = '{TR}ts'
),
rows_ AS (SELECT m.ent, ts.ts, m.conv FROM m JOIN ts ON m.subj = ts.subj)
SELECT ent, min(ts) AS first_seen, max(ts) AS last_seen,
       cast(count(*) AS bigint) AS n_mentions,
       cast(count(DISTINCT conv) AS bigint) AS n_convs
FROM rows_ GROUP BY ent ORDER BY ent
"""


def q_kg_tool_transitions(spark, sf_dir):
    """Agent-trajectory mining over the constructed KG: tool-call
    bigram transitions. For each conversation, order its tool-using
    turns by turnIndex and count (tool_from -> tool_to) adjacencies —
    the Markov transition table an agent-behavior dashboard keeps
    (which tool follows which, and with what share of tool_from's
    outgoing calls).

    Exactness: share_ppm = (1_000_000 * n_trans) DIV total_from —
    int64 floor division on non-negative operands (bit-portable to
    DuckDB); turnIndex literals cast to int on both engines.

    Scale shape: the usesTool/turnIndex triple filters join on the
    TURN key (uniform — turn IRIs never skew), ONE conv-keyed window
    (lead) whose partitions are bounded by conversation length (the
    generator caps at 500 turns; a real feed bounds by session), then
    a vocabulary-bounded groupBy(tool_from, tool_to) with map-side
    partial combine and a tiny window over the aggregated table for
    the per-source totals. No corpus-scale self-join anywhere."""
    t = _triples(spark, sf_dir, cache=True)
    tools = (t.filter(F.col("pred") == TR + "usesTool")
             .select("subj", F.col("obj_value").alias("tool")))
    idx = (t.filter(F.col("pred") == TR + "turnIndex")
           .select("subj", F.col("obj_value").cast("int").alias("idx")))
    rows = tools.join(idx, "subj").select(
        F.regexp_replace("subj", "/turn/[0-9]+$", "").alias("conv"),
        "idx", "tool")
    return tool_transitions(rows)


def tool_transitions(rows):
    """Transition core over a (conv, idx, tool) frame — see
    `q_kg_tool_transitions` for formula/exactness/scale notes. Pinned
    by a hand-computed branching-corpus truth in
    tests/test_arithmetic_truths.py (the generator's fixed tool cycle
    gives every tool exactly one successor, so the gate alone cannot
    exercise branching shares)."""
    from pyspark.sql.window import Window
    # tool breaks idx ties (several tools on one turn, or a repeated
    # turnIndex), so lead() is deterministic and matches the oracle
    w = Window.partitionBy("conv").orderBy("idx", "tool")
    trans = (rows.withColumn("tool_to", F.lead("tool").over(w))
             .filter(F.col("tool_to").isNotNull())
             .groupBy(F.col("tool").alias("tool_from"), "tool_to")
             .agg(F.count(F.lit(1)).alias("n_trans")))
    wt = Window.partitionBy("tool_from")
    return (trans
            .withColumn("total_from", F.sum("n_trans").over(wt))
            .select("tool_from", "tool_to",
                    F.col("n_trans").cast("long").alias("n_trans"),
                    F.expr("(1000000 * n_trans) DIV total_from")
                    .cast("long").alias("share_ppm"))
            .orderBy("tool_from", "tool_to"))


def oracle_kg_tool_transitions(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
tools AS (
  SELECT subj, obj_value AS tool FROM triples
  WHERE pred = '{TR}usesTool'
),
idx AS (
  SELECT subj, cast(obj_value AS int) AS idx FROM triples
  WHERE pred = '{TR}turnIndex'
),
rows_ AS (
  SELECT regexp_replace(tools.subj, '/turn/[0-9]+$', '') AS conv,
         idx.idx, tools.tool
  FROM tools JOIN idx ON tools.subj = idx.subj
),
trans AS (
  SELECT tool AS tool_from,
         lead(tool) OVER (PARTITION BY conv ORDER BY idx, tool)
           AS tool_to
  FROM rows_
),
agg AS (
  SELECT tool_from, tool_to, cast(count(*) AS bigint) AS n_trans
  FROM trans WHERE tool_to IS NOT NULL GROUP BY 1, 2
)
SELECT tool_from, tool_to, n_trans,
       cast((1000000 * n_trans) //
            sum(n_trans) OVER (PARTITION BY tool_from) AS bigint)
         AS share_ppm
FROM agg ORDER BY tool_from, tool_to
"""


def q_kg_relation_timeline(spark, sf_dir):
    """Temporal co-mention edges: for every entity pair co-mentioned
    in >= {LIFT_MIN_SUPPORT} conversations, the first/last time the
    relation was observed plus its support — the time-stamped edge
    table a temporal KG materializes (relation freshness, emerging /
    dormant association detection), the timeline sibling of
    kg_entity_comention.

    A pair's observation time in a conversation is the conversation's
    FIRST turn timestamp (min of the second-granularity ISO-8601 Z
    literals — lexicographic min/max equal instant order, zero
    timestamp parsing on either engine, the kg_entity_timeline rule).

    Scale shape: the shared guarded `_conv_ents` collect_set frame
    (hub conversations dropped BEFORE any pair expansion), one
    conv-keyed min-agg for the conversation timestamp, one uniform
    conv-keyed join, array-lambda pair expansion (no self-join), ONE
    partial-aggregated groupBy(pair). Support filter bounds output to
    recurring relations."""
    conv_ents, _guard = _conv_ents(spark, sf_dir)
    t = _triples(spark, sf_dir, cache=True)
    conv_ts = (t.filter(F.col("pred") == TR + "ts")
               .groupBy(F.regexp_replace("subj", "/turn/[0-9]+$", "")
                        .alias("conv"))
               .agg(F.min(F.col("obj_value")).alias("conv_ts")))
    return relation_timeline(conv_ents, conv_ts)


def relation_timeline(conv_ents, conv_ts,
                      min_support: int = LIFT_MIN_SUPPORT):
    """Temporal-edge core over (conv, ents sorted-array) and
    (conv, conv_ts) frames — see `q_kg_relation_timeline` for
    contract/scale notes. Pinned by a hand corpus in
    tests/test_arithmetic_truths.py."""
    ents = F.col("ents")
    pair_structs = F.flatten(F.transform(
        ents,
        lambda x, i: F.transform(
            F.slice(ents, i + F.lit(2), F.size(ents) - i - F.lit(1)),
            lambda y: F.struct(x.alias("ent_a"), y.alias("ent_b")))))
    return (conv_ents.join(conv_ts, "conv")
            .select(F.explode(pair_structs).alias("p"), "conv_ts")
            .groupBy(F.col("p.ent_a").alias("ent_a"),
                     F.col("p.ent_b").alias("ent_b"))
            .agg(F.min("conv_ts").alias("first_seen"),
                 F.max("conv_ts").alias("last_seen"),
                 F.count(F.lit(1)).alias("n_convs"))
            .filter(F.col("n_convs") >= min_support)
            .select("ent_a", "ent_b", "first_seen", "last_seen",
                    F.col("n_convs").cast("long").alias("n_convs"))
            .orderBy("ent_a", "ent_b"))


def oracle_kg_relation_timeline(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
cts AS (
  SELECT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         min(obj_value) AS conv_ts
  FROM triples WHERE pred = '{TR}ts' GROUP BY 1
)
SELECT a.ent AS ent_a, b.ent AS ent_b,
       min(cts.conv_ts) AS first_seen, max(cts.conv_ts) AS last_seen,
       cast(count(*) AS bigint) AS n_convs
FROM kept a
JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
JOIN cts ON cts.conv = a.conv
GROUP BY 1, 2 HAVING count(*) >= {LIFT_MIN_SUPPORT}
ORDER BY ent_a, ent_b
"""


def q_kg_conv_profile(spark, sf_dir):
    """Per-conversation curation feature table over the constructed
    KG: turn count, tool-turn count, distinct entities, distinct
    tools, first/last timestamp — the conversation-shape features an
    SFT-data curation pass filters on (too short, tool-free,
    entity-sparse, stale) before any text-level scoring.

    Exactness: counts are exact int64 conditional aggregates;
    first/last are lexicographic MIN/MAX of the second-granularity
    ISO-8601 Z literals (the kg_entity_timeline rule — zero timestamp
    parsing on either engine). The two conditional DISTINCT counts are
    bounded per group by conversation length, so the aggregate expand
    never touches corpus-scale cardinality (unlike a global
    countDistinct).

    Scale shape: ONE conv-keyed groupBy over a single triple-table
    projection — partial-combined, no joins, no windows; conv keys are
    bounded by max conversation length so no salting is needed."""
    t = _triples(spark, sf_dir, cache=True)
    p = F.col("pred")
    rows = t.select(
        F.regexp_replace("subj", "/turn/[0-9]+$", "").alias("conv"),
        "pred", "obj_value")
    return (rows.groupBy("conv").agg(
        F.sum((p == TR + "turnIndex").cast("long")).alias("n_turns"),
        F.sum((p == TR + "usesTool").cast("long")).alias("n_tool_turns"),
        F.count_distinct(
            F.when(p == TR + "mentions", F.col("obj_value")))
        .cast("long").alias("n_entities"),
        F.count_distinct(
            F.when(p == TR + "usesTool", F.col("obj_value")))
        .cast("long").alias("n_tools"),
        F.min(F.when(p == TR + "ts", F.col("obj_value")))
        .alias("first_ts"),
        F.max(F.when(p == TR + "ts", F.col("obj_value")))
        .alias("last_ts"))
        .orderBy("conv"))


def oracle_kg_conv_profile(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
rows_ AS (
  SELECT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         pred, obj_value
  FROM triples
)
SELECT conv,
       cast(sum(CASE WHEN pred = '{TR}turnIndex' THEN 1 ELSE 0 END)
            AS bigint) AS n_turns,
       cast(sum(CASE WHEN pred = '{TR}usesTool' THEN 1 ELSE 0 END)
            AS bigint) AS n_tool_turns,
       cast(count(DISTINCT CASE WHEN pred = '{TR}mentions'
                                THEN obj_value END) AS bigint)
         AS n_entities,
       cast(count(DISTINCT CASE WHEN pred = '{TR}usesTool'
                                THEN obj_value END) AS bigint)
         AS n_tools,
       min(CASE WHEN pred = '{TR}ts' THEN obj_value END) AS first_ts,
       max(CASE WHEN pred = '{TR}ts' THEN obj_value END) AS last_ts
FROM rows_ GROUP BY conv ORDER BY conv
"""


def q_kg_components(spark, sf_dir):
    """Weakly-connected components over the co-mention graph — the
    entity-side sibling of dedup_clusters (same tested
    `connected_components` min-label machinery, string labels):
    component id = lexicographic-min entity IRI. The component table
    partitions the KG into independent subgraphs — the unit of
    per-tenant extraction, graph-partitioned storage, and
    "is this entity connected to that one at all" triage.

    Scale shape: guarded `_comention_pairs` edge frame (hub
    conversations dropped before pair expansion), then diameter-bounded
    min-label rounds (one edges⋈labels shuffle + grouped min per
    round; RAISES past CC_MAX_ITERS rather than returning wrong
    labels). Co-mention graphs are dense — diameter stays small; an
    adversarial-chain corpus swaps algorithm='star' (O(log n) rounds)
    without touching callers."""
    from .operators.dedup import connected_components
    edges = _comention_edges(spark, sf_dir).toDF("src", "dst")
    return (connected_components(edges)
            .select(F.col("doc_id").alias("ent"),
                    F.col("cluster_id").alias("component"))
            .orderBy("ent"))


def oracle_kg_components(triples_sql: str) -> str:
    return f"""
WITH RECURSIVE triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
edges AS (
  SELECT ent_a AS src, ent_b AS dst FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
reach(node, r) AS (
  SELECT DISTINCT src, src FROM edges
  UNION
  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.node
)
SELECT node AS ent, min(r) AS component
FROM reach GROUP BY node ORDER BY ent
"""


def q_kg_literal_stats(spark, sf_dir):
    """KG quality-monitoring table: per (pred, termtype, datatype)
    value statistics — triple count, distinct-value count, min/max
    value length, lexicographic min/max value. The dashboard a KG
    ingest pipeline watches for schema drift (a new datatype under a
    known predicate, value-length blowups, literal/IRI kind flips).

    Exactness: counts/lengths are exact int64; min/max values compare
    as strings on both engines (ASCII predicate vocabulary). Nullable
    datatype is coalesced to '' so the group key has no cross-engine
    null surface.

    Scale shape: ONE groupBy over a single triple-table projection.
    The distinct-value count is two-phase (distinct on the full group
    key + value dedups map-side before the count — never a
    countDistinct expand over a hot predicate's raw stream); group
    count is vocabulary-bounded (predicates × kinds). At 100 TB the
    exact-distinct leg shuffles ~corpus-size (text literals are
    mostly unique) — swap it for the HLL register path
    (operators/sketches.py) without touching callers, the
    kg_entity_timeline rule."""
    t = _triples(spark, sf_dir, cache=True)
    rows = t.select(
        "pred", F.col("obj_termtype").alias("termtype"),
        F.coalesce("obj_datatype", F.lit("")).alias("datatype"),
        "obj_value")
    base = rows.groupBy("pred", "termtype", "datatype").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.min(F.length("obj_value")).cast("long").alias("min_len"),
        F.max(F.length("obj_value")).cast("long").alias("max_len"),
        F.min("obj_value").alias("min_value"),
        F.max("obj_value").alias("max_value"))
    # count(obj_value), not count(*): a NULL value is not a distinct
    # value (DuckDB's count(DISTINCT ...)), but its group still appears
    nd = (rows.distinct()
          .groupBy("pred", "termtype", "datatype")
          .agg(F.count("obj_value").cast("long").alias("n_distinct")))
    return (base.join(nd, ["pred", "termtype", "datatype"])
            .select("pred", "termtype", "datatype", "n", "n_distinct",
                    "min_len", "max_len", "min_value", "max_value")
            .orderBy("pred", "termtype", "datatype"))


def oracle_kg_literal_stats(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
rows_ AS (
  SELECT pred, obj_termtype AS termtype,
         coalesce(obj_datatype, '') AS datatype, obj_value
  FROM triples
)
SELECT pred, termtype, datatype,
       cast(count(*) AS bigint) AS n,
       cast(count(DISTINCT obj_value) AS bigint) AS n_distinct,
       cast(min(length(obj_value)) AS bigint) AS min_len,
       cast(max(length(obj_value)) AS bigint) AS max_len,
       min(obj_value) AS min_value,
       max(obj_value) AS max_value
FROM rows_ GROUP BY pred, termtype, datatype
ORDER BY pred, termtype, datatype
"""


def q_kg_predicate_cooccur(spark, sf_dir):
    """Schema induction over the constructed KG: which predicate
    pairs co-occur on the same subject, and on how many subjects —
    the signal that discovers implicit node types (Turn subjects
    carry role+text+turnIndex together; Conversation subjects carry
    hasTurn+type) and flags schema violations (a predicate pair that
    should never share a subject).

    Scale shape: ONE subject-keyed collect_set (per-subject predicate
    count is bounded by the vocabulary, so rows are tiny), array_sort
    + array-lambda pair expansion (the `_conv_ents` pattern — no
    subject self-join), ONE partial-aggregated groupBy(pair) whose
    key space is <= |vocabulary|² — vocabulary-bounded output no
    matter the corpus size."""
    t = _triples(spark, sf_dir, cache=True)
    sp = (t.select("subj", "pred").distinct()
          .groupBy("subj")
          .agg(F.array_sort(F.collect_set("pred")).alias("preds")))
    preds = F.col("preds")
    pair_structs = F.flatten(F.transform(
        preds,
        lambda x, i: F.transform(
            F.slice(preds, i + F.lit(2), F.size(preds) - i - F.lit(1)),
            lambda y: F.struct(x.alias("pred_a"), y.alias("pred_b")))))
    return (sp.select(F.explode(pair_structs).alias("p"))
            .groupBy(F.col("p.pred_a").alias("pred_a"),
                     F.col("p.pred_b").alias("pred_b"))
            .agg(F.count(F.lit(1)).cast("long").alias("n_subjects"))
            .orderBy("pred_a", "pred_b"))


def oracle_kg_predicate_cooccur(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
sp AS (SELECT DISTINCT subj, pred FROM triples)
SELECT a.pred AS pred_a, b.pred AS pred_b,
       cast(count(*) AS bigint) AS n_subjects
FROM sp a JOIN sp b ON a.subj = b.subj AND a.pred < b.pred
GROUP BY 1, 2 ORDER BY pred_a, pred_b
"""


MENTION_CTX_CHARS = 30


def q_kg_mention_contexts(spark, sf_dir):
    """Mention-context extraction — the entity-linking training-data
    table: for every (turn, distinct surface form) mention, a
    +-{MENTION_CTX_CHARS}-char snippet around the FIRST occurrence of
    the bracketed mention in the turn text. This is the supervised
    example a linker/NER trainer consumes (surface + local context →
    entity id), extracted at corpus scale.

    Contract: repeated identical surfaces in one turn share the first
    occurrence's snippet (dedup semantics — one training row per
    (turn, surface)); positions via 1-based locate/strpos and
    substr, identical semantics on both engines; snippet length =
    {MENTION_CTX_CHARS} + len('[[surface]]') + {MENTION_CTX_CHARS}.

    Scale shape: ONE transcripts scan → regexp_extract_all +
    array_distinct + explode (rows bounded by mentions per turn) →
    pure string projection. No shuffle at all before the output sort;
    at 100 TB this is scan-bandwidth-bound exactly like the flagship."""
    t = transcripts_df(spark, sf_dir=sf_dir)
    rows = t.select(
        "conv_id", "turn_idx", "text",
        F.explode(F.array_distinct(
            F.regexp_extract_all("text", F.lit(MENTION_RE), 1)))
        .alias("surface"))
    c = MENTION_CTX_CHARS
    return (rows.select(
        "conv_id", "turn_idx", "surface",
        F.expr(
            f"substr(text, greatest(1, "
            f"locate(concat('[[', surface, ']]'), text) - {c}), "
            f"{2 * c + 4} + length(surface))").alias("snippet"))
        .orderBy("conv_id", "turn_idx", "surface"))


def oracle_kg_mention_contexts(transcripts_sql: str) -> str:
    c = MENTION_CTX_CHARS
    return f"""
WITH transcripts AS ({transcripts_sql}),
m AS (
  SELECT conv_id, turn_idx, text,
         unnest(list_distinct(
             regexp_extract_all(text, '{MENTION_RE}', 1))) AS surface
  FROM transcripts
)
SELECT conv_id, turn_idx, surface,
       substr(text,
              greatest(1, strpos(text, '[[' || surface || ']]') - {c}),
              {2 * c + 4} + length(surface)) AS snippet
FROM m ORDER BY conv_id, turn_idx, surface
"""


def q_kg_degree_distribution(spark, sf_dir):
    """Power-law audit of the co-mention graph: node count per log2
    degree bucket (bucket = floor(log2(deg)) + 1 = the bit length of
    the degree, computed as the length of the base-2 string — exact
    integer on both engines, no float log), with min/max degree per
    bucket. The capacity-planning histogram behind every hub-cap
    parameter in this repo (MAX_HUB_DEGREE, comention guard).

    Scale shape: guarded pair frame → degree agg (partial-combined)
    → vocabulary-bounded bucket agg (≤ 63 buckets). Nothing after
    the degree agg touches corpus scale."""
    return degree_distribution(_comention_edges(spark, sf_dir))


def degree_distribution(und):
    """Bucket-histogram core over a both-direction (a, b) edge frame —
    see `q_kg_degree_distribution` for contract/scale notes. Pinned
    by a random-graph brute force in tests/test_graph_random_truth.py."""
    deg = (und.distinct().groupBy("a")
           .agg(F.count(F.lit(1)).cast("long").alias("d")))
    return (deg.select(
        F.length(F.conv(F.col("d").cast("string"), 10, 2))
        .cast("long").alias("bucket"), "d")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"),
             F.min("d").alias("min_deg"), F.max("d").alias("max_deg"))
        .orderBy("bucket"))


def oracle_kg_degree_distribution(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
und AS (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION SELECT ent_b, ent_a FROM pairs
),
deg AS (SELECT a, cast(count(*) AS bigint) AS d FROM und GROUP BY a)
SELECT cast(length(bin(d)) AS bigint) AS bucket,
       cast(count(*) AS bigint) AS n_nodes,
       min(d) AS min_deg, max(d) AS max_deg
FROM deg GROUP BY bucket ORDER BY bucket
"""


def q_kg_entity_role_affinity(spark, sf_dir):
    """Which roles talk about which entities: per (entity, role)
    mention counts with the entity's per-role share in exact ppm —
    separates user-driven entities from assistant-introduced ones and
    tool-referenced ones (the provenance signal an entity-linking
    curation pass weighs).

    Scale shape: mentions ⋈ role on the TURN key (uniform), ONE
    partial-combined groupBy(ent, role), and the per-entity total is
    a window over the aggregated table (≤ |entities|·|roles| rows —
    never a second corpus agg, the no-subplan-dedupe rule)."""
    from pyspark.sql.window import Window
    t = _triples(spark, sf_dir, cache=True)
    m = (t.filter(F.col("pred") == TR + "mentions")
         .select("subj", F.col("obj_value").alias("ent")))
    r = (t.filter(F.col("pred") == TR + "role")
         .select("subj", F.col("obj_value").alias("role")))
    base = (m.join(r, "subj")
            .groupBy("ent", "role")
            .agg(F.count(F.lit(1)).cast("long").alias("n_mentions")))
    w = Window.partitionBy("ent")
    return (base
            .withColumn("total", F.sum("n_mentions").over(w))
            .select("ent", "role", "n_mentions",
                    F.expr("(1000000 * n_mentions) DIV total")
                    .cast("long").alias("share_ppm"))
            .orderBy("ent", "role"))


def oracle_kg_entity_role_affinity(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
m AS (
  SELECT subj, obj_value AS ent FROM triples
  WHERE pred = '{TR}mentions'
),
r AS (
  SELECT subj, obj_value AS role FROM triples
  WHERE pred = '{TR}role'
),
base AS (
  SELECT m.ent, r.role, cast(count(*) AS bigint) AS n_mentions
  FROM m JOIN r ON m.subj = r.subj GROUP BY 1, 2
)
SELECT ent, role, n_mentions,
       cast((1000000 * n_mentions) //
            sum(n_mentions) OVER (PARTITION BY ent) AS bigint)
         AS share_ppm
FROM base ORDER BY ent, role
"""


def q_kg_entity_aliases(spark, sf_dir):
    """Alias dictionary per canonical entity — the lookup table an
    entity-linking system ships: every distinct surface form observed
    for the entity (joined '|'-sorted for a stable scalar column),
    alias count, and total mention mass. The inverse of
    entity_canonical_map's (surface -> canonical) resolution, and the
    QA view that catches both under-merging (one entity, surfaces
    split across two canonicals) and over-merging (alias lists that
    suddenly jump).

    Scale shape: ONE aggregation over the already-aggregated
    canonical map (one row per distinct surface — vocabulary-scale,
    not corpus-scale; the map itself uses the salted two-phase count
    under it). collect_set is bounded by aliases-per-entity."""
    from .pipeline.vectorized import entity_canonical_map
    m = entity_canonical_map(transcripts_df(spark, sf_dir=sf_dir))
    return (m.groupBy("canonical_iri")
            .agg(F.array_join(F.array_sort(F.collect_set("surface")),
                              "|").alias("aliases"),
                 F.count(F.lit(1)).cast("long").alias("n_surfaces"),
                 F.sum("n_mentions").cast("long").alias("n_mentions"))
            .orderBy("canonical_iri"))


def oracle_kg_entity_aliases(transcripts_sql: str) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql}),
surfaces AS (
  SELECT unnest(regexp_extract_all(text, '{MENTION_RE}', 1))
           AS surface
  FROM transcripts
),
counts AS (
  SELECT surface, cast(count(*) AS bigint) AS n_mentions
  FROM surfaces GROUP BY surface
),
mapped AS (
  SELECT surface,
         '{ENT_NS}' || 'Entity' || regexp_extract(surface, '[0-9]+', 0)
           AS canonical_iri,
         n_mentions
  FROM counts
)
SELECT canonical_iri,
       array_to_string(list_sort(list(surface)), '|') AS aliases,
       cast(count(*) AS bigint) AS n_surfaces,
       cast(sum(n_mentions) AS bigint) AS n_mentions
FROM mapped GROUP BY canonical_iri ORDER BY canonical_iri
"""


def link_prediction_ra(edges, topk: int = SIM_TOPK,
                       max_hub_degree: int | None = MAX_HUB_DEGREE):
    """(a, b) both-direction edge rows → top-`topk` NON-adjacent
    entity pairs by Resource Allocation index (Zhou/Lü/Zhang 2009) —
    the degree-discounted link-prediction score that beats raw
    common-neighbor counts because a shared hub is weak evidence:

        ra_ppm(x, y) = Σ_{z ∈ N(x)∩N(y)}  1_000_000 DIV deg(z)

    Exact int64 (ppm contribution per wedge center, floor division on
    non-negative operands — bit-portable to DuckDB). Pairs already
    connected are anti-joined away: the output IS the prediction set.

    Scale shape = `neighbor_jaccard`: wedge join on the shared
    neighbor with the same default-ON hub-degree cap (a dropped
    10^5-degree hub would have contributed ≤ 10 ppm per pair anyway —
    RA's own discount makes the cap's signal loss quantifiably tiny,
    unlike raw counts), one groupBy(x, y), one anti-join, TakeOrdered.
    The center weight rides the wedge source, so no extra join inside
    the self-join."""
    und = edges.distinct().cache()
    deg = und.groupBy("a").agg(F.count("*").alias("d")) \
        .select(F.col("a").alias("node"), "d")
    src = deg if max_hub_degree is None else \
        deg.filter(F.col("d") <= max_hub_degree)
    ws = (und.join(src.select(F.col("node").alias("a"), "d"), "a")
          .select("a", "b", F.expr("1000000 DIV d").alias("w")))
    scored = (ws.alias("e1").join(
        ws.alias("e2"),
        (F.col("e1.a") == F.col("e2.a")) &
        (F.col("e1.b") < F.col("e2.b")))
        .groupBy(F.col("e1.b").alias("x"), F.col("e2.b").alias("y"))
        .agg(F.count("*").alias("n_shared"),
             F.sum("e1.w").alias("ra_ppm")))
    existing = (und.filter(F.col("a") < F.col("b"))
                .select(F.col("a").alias("x"), F.col("b").alias("y")))
    out = (scored.join(existing, ["x", "y"], "left_anti")
           .select("x", "y", "n_shared",
                   F.col("ra_ppm").cast("long").alias("ra_ppm"))
           .orderBy(F.desc("ra_ppm"), "x", "y"))
    return out if topk is None else out.limit(topk)


def q_kg_link_prediction(spark, sf_dir):
    """Gated query: top-50 predicted (absent) co-mention entity links
    by Resource Allocation index (hub guard ON — shares
    `_comention_pairs`)."""
    return link_prediction_ra(_comention_edges(spark, sf_dir))


def oracle_kg_link_prediction(triples_sql: str) -> str:
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
und AS (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),
deg AS (SELECT a AS node, count(*) AS d FROM und GROUP BY a),
ws AS (
  SELECT e.a, e.b, 1000000 // g.d AS w FROM und e
  JOIN deg g ON g.node = e.a AND g.d <= {MAX_HUB_DEGREE}
),
scored AS (
  SELECT e1.b AS x, e2.b AS y,
         cast(count(*) as bigint) AS n_shared,
         cast(sum(e1.w) as bigint) AS ra_ppm
  FROM ws e1 JOIN ws e2 ON e1.a = e2.a AND e1.b < e2.b
  GROUP BY e1.b, e2.b
)
SELECT s.x, s.y, s.n_shared, s.ra_ppm
FROM scored s
WHERE NOT EXISTS (SELECT 1 FROM pairs p
                  WHERE p.ent_a = s.x AND p.ent_b = s.y)
ORDER BY s.ra_ppm DESC, s.x, s.y LIMIT {SIM_TOPK}
"""


# ---------------------------------------------------------------------------
# k-core decomposition (iterative degeneracy peel) over the co-mention
# graph — the densest-subgraph signal KG pipelines ship for entity
# importance / community seeding (no reference analog: the reference
# is a JSON-LD processor with no graph surface).

KCORE_K = 3
KCORE_MAX_ROUNDS = 30


def kcore_edges(edges, k: int = KCORE_K,
                max_rounds: int = KCORE_MAX_ROUNDS):
    """Edge set of the k-core of an undirected graph (edges carried in
    both directions as (a, b)). Iterative peel: drop nodes of degree
    < k, drop their edges, repeat.

    Peeling is MONOTONE — once a round removes nothing, every later
    round is a no-op — so early-exit at the edge-count fixpoint (one
    1-row action per round, the pagerank pattern) is output-identical
    to running all `max_rounds`. The DuckDB oracle runs exactly
    `max_rounds` chained MATERIALIZED rounds; equality holds whether
    or not the peel converges early, because past `max_rounds` both
    sides stop. Per round: one degree agg + two semi-joins (keys
    uniform after the first peel). Driver state is a 1-row count per
    round."""
    cur = truncate(edges.distinct())
    n_edges = cur.count()
    for _ in range(max_rounds):
        if n_edges == 0:
            break
        keep = (cur.groupBy("a").agg(F.count("*").alias("d"))
                .filter(F.col("d") >= k)
                .select(F.col("a").alias("node")))
        nxt = truncate(cur.join(keep.select(F.col("node").alias("a")),
                                "a", "left_semi")
                       .join(keep.select(F.col("node").alias("b")),
                             "b", "left_semi"))
        m = nxt.count()
        if m == n_edges:
            break
        cur, n_edges = nxt, m
    return cur


def q_kg_kcore(spark, sf_dir):
    """Gated query: the {KCORE_K}-core of the co-mention entity graph
    (guard ON — shares `_comention_pairs`), one row per surviving
    entity with its within-core degree."""
    core = kcore_edges(_comention_edges(spark, sf_dir))
    return (core.groupBy("a").agg(F.count("*").alias("core_degree"))
            .select(F.col("a").alias("ent"), "core_degree")
            .orderBy(F.desc("core_degree"), "ent"))


def oracle_kg_kcore(triples_sql: str) -> str:
    rounds = []
    prev = "e0"
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        # MATERIALIZED is load-bearing: e{i} references e{i-1} three
        # times; inlined CTEs would re-expand the whole chain
        # exponentially (the curate-oracle lesson)
        rounds.append(f"""
k{i} AS MATERIALIZED (
  SELECT a AS node FROM {prev} GROUP BY a HAVING count(*) >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN k{i} ka ON e.a = ka.node
  JOIN k{i} kb ON e.b = kb.node
)""")
        prev = f"e{i}"
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
pairs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
e0 AS MATERIALIZED (
  SELECT ent_a AS a, ent_b AS b FROM pairs
  UNION ALL SELECT ent_b, ent_a FROM pairs
),{",".join(rounds)}
SELECT a AS ent, cast(count(*) as bigint) AS core_degree
FROM {prev} GROUP BY a
ORDER BY core_degree DESC, ent
"""


# ---------------------------------------------------------------------------
# neighborhood function N(h) — exact definition + HyperANF scale path

ANF_H = 3                    # hops measured / supersteps run
ANF_P = 6                    # 2^6 = 64 registers per node (~13% err)
_ANF_W_MOD = 1 << (60 - ANF_P)
_ANF_RHO_MAX = (60 - ANF_P) + 1


def neighborhood_growth(edges, h_max: int = ANF_H) -> list:
    """EXACT neighborhood function: [(h, # ordered node pairs with
    dist <= h)] for h = 0..h_max, by materializing the pair sets —
    the definitional computation. This is the TEST-SCALE formulation
    (and the oracle's): the pair frame is Theta(sum_u |ball(u, h)|),
    which explodes on low-diameter graphs — `anf_registers` below is
    the fixed-state path a 100 TB run uses, and pytest pins its
    estimates to THIS exact function. Per level: one join + one
    distinct (both keyed on node ids)."""
    edges = truncate(edges.distinct())
    nodes = edges.select(F.col("a").alias("node")).distinct()
    pairs = truncate(nodes.select(F.col("node").alias("src"),
                                  F.col("node").alias("dst")))
    counts = [(0, pairs.count())]
    for h in range(1, h_max + 1):
        grown = (pairs.join(edges, F.col("dst") == F.col("a"))
                 .select("src", F.col("b").alias("dst")))
        pairs = truncate(pairs.unionAll(grown).distinct())
        counts.append((h, pairs.count()))
    return counts


def q_kg_neighborhood_growth(spark, sf_dir):
    """Gated query: the exact neighborhood function of the co-mention
    entity graph — how many (u, v) pairs are within h hops, h <= 3.
    The curve every graph-health dashboard reads (effective diameter,
    connectivity onset); driver state is h_max+1 scalar counts (the
    k-means pattern)."""
    counts = neighborhood_growth(_comention_edges(spark, sf_dir))
    return spark.createDataFrame(counts, "hops long, n_pairs long") \
                .orderBy("hops")


def anf_registers(edges, h_max: int = ANF_H):
    """HyperANF (Boldi-Rosa-Vigna, WWW'11 / Palmer et al. ANF,
    KDD'02) register state after `h_max` supersteps: for every node,
    the HLL register table of its distance-<= h_max ball.

    THE scale path for neighborhood structure: per-node state is a
    fixed 2^p-register sketch, a superstep is one edge join + a
    (node, bucket) max-agg (partial-combined map-side), and register
    max is idempotent — supersteps merge duplicates for free, shards
    merge by the same max. Nothing is ever quadratic: where the exact
    `neighborhood_growth` materializes every (u, v) pair, this moves
    |E| * 2^p rows per superstep, independent of ball sizes.

    Bit-exactness (what the DuckDB oracle checks): max-propagation for
    h rounds yields, at each node, EXACTLY the HLL registers of its
    true h-ball member hashes — HLL union is lossless on registers —
    so the oracle computes the balls definitionally (chained pair
    CTEs) and hashes them, and the tables must match register for
    register. The float ESTIMATOR on top is judged in pytest against
    the exact counts."""
    from .operators.textstats import hash60
    edges = truncate(edges.distinct())
    nodes = edges.select(F.col("a").alias("node")).distinct()
    regs = truncate(
        nodes.select("node", hash60(F.col("node")).alias("h"))
        .select("node",
                F.expr(f"h DIV {_ANF_W_MOD}").alias("bucket"),
                F.when(F.col("h") % F.lit(_ANF_W_MOD) == 0,
                       F.lit(_ANF_RHO_MAX))
                .otherwise(F.lit(_ANF_RHO_MAX) -
                           F.length(F.bin(F.col("h") %
                                          F.lit(_ANF_W_MOD))))
                .cast("long").alias("rho")))
    for _ in range(h_max):
        nbr = (edges.join(regs, F.col("b") == F.col("node"))
               .select(F.col("a").alias("node"), "bucket", "rho"))
        regs = truncate(regs.unionAll(nbr)
                        .groupBy("node", "bucket")
                        .agg(F.max("rho").alias("rho")))
    return regs


def anf_estimates(register_rows, p: int = ANF_P) -> dict:
    """Collected (node, bucket, rho|max_rho) rows -> {node: estimated
    |ball(node, h)|} via the standard HLL estimator (driver-side, a
    few float ops per node)."""
    from .operators.sketches import hll_estimate
    by_node: dict = {}
    for r in register_rows:
        key = "max_rho" if "max_rho" in r else "rho"
        by_node.setdefault(r["node"], []).append(
            {"bucket": r["bucket"], "max_rho": r[key]})
    return {n: hll_estimate(rows, m=1 << p)
            for n, rows in by_node.items()}


def q_kg_anf_registers(spark, sf_dir):
    """Gated query: the HyperANF register table after {ANF_H}
    supersteps on the co-mention entity graph — the fixed-size state
    from which every node's h-ball size (and the whole neighborhood
    function) reads off driver-side."""
    regs = anf_registers(_comention_edges(spark, sf_dir))
    return (regs.select("node", "bucket",
                        F.col("rho").alias("max_rho"))
            .orderBy("node", "bucket"))


def _comention_pairs_sql(triples_sql: str, h_max: int) -> str:
    """Shared oracle prelude: co-mention e0 + chained exact
    distance-<= h pair CTEs p0..p{h_max} (MATERIALIZED — each level
    references the previous one twice)."""
    levels = []
    for h in range(1, h_max + 1):
        levels.append(f"""
p{h} AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM p{h - 1}
    UNION ALL
    SELECT p.src, e.b FROM p{h - 1} p JOIN e0 e ON p.dst = e.a) u
)""")
    return f"""
WITH triples AS ({triples_sql}),
me AS (
  SELECT DISTINCT regexp_replace(subj, '/turn/[0-9]+$', '') AS conv,
         obj_value AS ent
  FROM triples WHERE pred = '{TR}mentions'
),
kept AS (
  SELECT me.conv, me.ent FROM me
  JOIN (SELECT conv FROM me GROUP BY conv
        HAVING count(*) <= {MAX_ENTITIES_PER_CONV}) k
    ON me.conv = k.conv
),
prs AS (
  SELECT DISTINCT a.ent AS ent_a, b.ent AS ent_b
  FROM kept a JOIN kept b ON a.conv = b.conv AND a.ent < b.ent
),
e0 AS MATERIALIZED (
  SELECT ent_a AS a, ent_b AS b FROM prs
  UNION ALL SELECT ent_b, ent_a FROM prs
),
nodes AS MATERIALIZED (SELECT DISTINCT a AS node FROM e0),
p0 AS MATERIALIZED (SELECT node AS src, node AS dst FROM nodes),{",".join(levels)}"""


def oracle_kg_neighborhood_growth(triples_sql: str) -> str:
    counts = " UNION ALL ".join(
        f"SELECT cast({h} as bigint) AS hops, "
        f"cast((SELECT count(*) FROM p{h}) as bigint) AS n_pairs"
        for h in range(ANF_H + 1))
    return (_comention_pairs_sql(triples_sql, ANF_H) +
            f"\nSELECT * FROM ({counts}) ORDER BY hops")


def oracle_kg_anf_registers(triples_sql: str) -> str:
    from .operators.textstats import hash60_sql
    return (_comention_pairs_sql(triples_sql, ANF_H) + f""",
hh AS (SELECT src, {hash60_sql('dst')} AS h FROM p{ANF_H})
SELECT src AS node, h // {_ANF_W_MOD} AS bucket,
       cast(max(CASE WHEN h % {_ANF_W_MOD} = 0 THEN {_ANF_RHO_MAX}
                     ELSE {_ANF_RHO_MAX} -
                          length(bin(h % {_ANF_W_MOD})) END)
            as bigint) AS max_rho
FROM hh GROUP BY src, h // {_ANF_W_MOD}
ORDER BY node, bucket
""")


# ---------------------------------------------------------------------------
# Personalized PageRank: seed-relevance scoring over the constructed
# KG — the ranking a RAG context builder runs to pull the subgraph
# most relevant to a seed entity set (Page et al. 1999 §6 /
# Jeh & Widom 2003). No reference analog (jsonld.js has no graph
# analytics); engine-native Spark-first design.

PPR_ITERS = 5
PPR_N_SEEDS = 5
PPR_TOTAL = 10**12  # total walk mass (picoshares): int64-safe, and
#                     coarse enough that DIV floor noise stays ≪ rank


def personalized_pagerank(edges, seeds: list, iters: int = PPR_ITERS):
    """(subj, dst) distinct edge DataFrame + driver-side seed list →
    (node, rank) after `iters` exact-int64 supersteps of PPR with
    teleport restricted to the seed set S:

        rank'(v) = [v∈S]·(15% · TOTAL DIV |S|)
                 + 85 · (inflow(v) + [v∈S]·(dangling_sum DIV |S|))
                   DIV 100

    Dangling mass returns to the SEEDS (the PPR convention — a walker
    that falls off the graph restarts at a seed), so total mass is
    conserved up to DIV floors and unreachable nodes stay at exactly
    0 — the result is the seed-relevance distribution, not global
    importance.

    Scale shape = `pagerank` (the same superstep loop). `seeds` is
    bounded driver state (PPR_N_SEEDS rows, like the centroid list)."""
    if not seeds:
        return edges.sparkSession.createDataFrame(
            [], "node string, rank long")
    return _rank_supersteps(edges, list(seeds), iters)


def q_kg_ppr(spark, sf_dir):
    """Gated query: PPR from the {PPR_N_SEEDS} highest-out-degree KG
    nodes (deterministic seed rule both engines can derive: out-degree
    DESC, node ASC) — top 50 touched nodes by (rank DESC, node).
    Unreachable nodes (rank 0) are excluded: PPR's output IS the
    relevance set."""
    edges = _named_edges(spark, sf_dir).cache()
    seeds = [r["subj"] for r in
             (edges.groupBy("subj").agg(F.count("*").alias("d"))
              .orderBy(F.desc("d"), "subj").limit(PPR_N_SEEDS)
              .collect())]
    return (personalized_pagerank(edges, seeds)
            .filter(F.col("rank") > 0)
            .orderBy(F.desc("rank"), "node").limit(50))


def oracle_kg_ppr(triples_sql: str) -> str:
    """Unrolled-CTE oracle reproducing every superstep bit-for-bit
    (the kg_pagerank pattern). Seed count is the ACTUAL seed-CTE
    cardinality (< PPR_N_SEEDS on tiny graphs), greatest(,1)-guarded
    so empty graphs stay evaluable."""
    teleport = f"(15 * {PPR_TOTAL} // 100) // (SELECT k FROM ns)"
    prev = "pr0"
    iters = []
    for i in range(1, PPR_ITERS + 1):
        iters.append(f"""
d{i} AS (
  SELECT coalesce(sum(p.rank), 0) // (SELECT k FROM ns) AS dshare
  FROM {prev} p WHERE p.node NOT IN (SELECT subj FROM outd)
),
pr{i} AS (
  SELECT n.node,
         cast((CASE WHEN n.node IN (SELECT node FROM seeds)
                    THEN {teleport} ELSE 0 END)
              + {PR_DAMP_NUM} * (coalesce((
                  SELECT sum(p.rank // o.outd)
                  FROM edges e JOIN {prev} p ON e.subj = p.node
                               JOIN outd o ON e.subj = o.subj
                  WHERE e.dst = n.node), 0)
                + (CASE WHEN n.node IN (SELECT node FROM seeds)
                        THEN (SELECT dshare FROM d{i}) ELSE 0 END))
                // {PR_DAMP_DEN} as bigint) AS rank
  FROM nodes n
)""")
        prev = f"pr{i}"
    return f"""
WITH triples AS ({triples_sql}),
edges AS (
  SELECT DISTINCT subj, obj_value AS dst FROM triples
  WHERE obj_termtype = 'NamedNode'
),
nodes AS (
  SELECT subj AS node FROM edges UNION SELECT dst FROM edges
),
outd AS (
  SELECT subj, cast(count(*) as bigint) AS outd FROM edges GROUP BY subj
),
seeds AS MATERIALIZED (
  SELECT subj AS node FROM outd
  ORDER BY outd DESC, subj LIMIT {PPR_N_SEEDS}
),
ns AS (SELECT greatest(count(*), 1) AS k FROM seeds),
pr0 AS (
  SELECT n.node,
         cast(CASE WHEN n.node IN (SELECT node FROM seeds)
                   THEN {PPR_TOTAL} // (SELECT k FROM ns)
                   ELSE 0 END as bigint) AS rank
  FROM nodes n
),{",".join(iters)}
SELECT node, rank FROM {prev} WHERE rank > 0
ORDER BY rank DESC, node LIMIT 50
"""

