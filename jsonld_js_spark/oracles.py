"""DuckDB oracle SQL for the KG-construction queries.

Each oracle independently re-derives the expected result in ANSI SQL
from the same deterministic transcript CTE (transcripts.py) — the
driver (and tests/test_pipeline.py) compare them value-for-value
against the Spark DataFrame results.
"""
from __future__ import annotations

from .transcripts import transcripts_sql
from .vocab import (
    CONV_NS, ENT_NS, RDF_TYPE, TOOL_NS, TR,
    XSD_DATETIME, XSD_INTEGER, XSD_STRING,
)

# DuckDB string literals do not process backslash escapes; Spark's do.
MENTION_RE_DUCK = r"\[\[([A-Za-z]+[0-9]+)\]\]"


def _triples_select(n_conv: int) -> str:
    """DISTINCT triple set — mirrors pipeline/vectorized.py semantics."""
    return f"""
WITH transcripts AS ({transcripts_sql(n_conv, 'duckdb')}),
base AS (
  SELECT '{CONV_NS}' || conv_id AS conv_iri,
         '{CONV_NS}' || conv_id || '/turn/' || cast(turn_idx as string)
           AS turn_iri,
         turn_idx, role, text, tool,
         strftime(ts, '%Y-%m-%dT%H:%M:%SZ') AS ts_lex
  FROM transcripts
),
all_triples AS (
  SELECT turn_iri AS subj, '{RDF_TYPE}' AS pred, '{TR}Turn' AS obj_value,
         'NamedNode' AS obj_termtype, cast(NULL as string) AS obj_datatype
  FROM base
  UNION ALL
  SELECT turn_iri, '{TR}role', role, 'Literal', '{XSD_STRING}' FROM base
  UNION ALL
  SELECT turn_iri, '{TR}text', text, 'Literal', '{XSD_STRING}' FROM base
  WHERE text IS NOT NULL
  UNION ALL
  SELECT turn_iri, '{TR}turnIndex', cast(turn_idx as string), 'Literal',
         '{XSD_INTEGER}' FROM base
  UNION ALL
  SELECT turn_iri, '{TR}ts', ts_lex, 'Literal', '{XSD_DATETIME}' FROM base
  UNION ALL
  SELECT turn_iri, '{TR}usesTool', '{TOOL_NS}' || tool, 'NamedNode',
         cast(NULL as string) FROM base WHERE tool IS NOT NULL
  UNION ALL
  SELECT turn_iri, '{TR}mentions',
         '{ENT_NS}Entity' || regexp_extract(m, '[0-9]+', 0),
         'NamedNode', cast(NULL as string)
  FROM (SELECT turn_iri,
               unnest(regexp_extract_all(text, '{MENTION_RE_DUCK}', 1)) AS m
        FROM base)
  UNION ALL
  SELECT conv_iri, '{TR}hasTurn', turn_iri, 'NamedNode',
         cast(NULL as string) FROM base
  UNION ALL
  SELECT conv_iri, '{RDF_TYPE}', '{TR}Conversation', 'NamedNode',
         cast(NULL as string) FROM base WHERE turn_idx = 0
)
SELECT DISTINCT subj, pred, obj_value, obj_termtype, obj_datatype,
       cast(NULL as string) AS obj_language, '' AS graph
FROM all_triples
"""


def _mentions_cte(n_conv: int) -> str:
    return f"""
WITH transcripts AS ({transcripts_sql(n_conv, 'duckdb')}),
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


def kg_oracles(n_conv: int) -> dict[str, str]:
    triples = _triples_select(n_conv)
    return {
        "kg_transcript_triples": triples,
        "kg_transcript_triples_kernel": triples,
        "kg_transcript_triples_grouped": triples,
        "kg_entity_canonical_map":
            _mentions_cte(n_conv) + "SELECT * FROM entity_map",
        "kg_predicate_stats": f"""
SELECT pred, count(*) AS n_triples, count(distinct subj) AS n_subjects
FROM ({triples}) GROUP BY pred ORDER BY pred
""",
        "kg_conv_sizes": f"""
WITH transcripts AS ({transcripts_sql(n_conv, 'duckdb')})
SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx
FROM transcripts GROUP BY conv_id ORDER BY conv_id
""",
        "kg_mentions_topk":
            _mentions_cte(n_conv) + """
SELECT canonical_iri, cast(sum(n_mentions) as bigint) AS n_mentions
FROM entity_map GROUP BY canonical_iri
ORDER BY n_mentions DESC, canonical_iri LIMIT 20
""",
    }
