"""The DuckDB triple set that the KG-construction oracles build on.

`_triples_select(n_conv)` independently re-derives the vectorized
pipeline's DISTINCT triple set in ANSI SQL from the same deterministic
transcript CTE (transcripts.py); the `oracle_kg_*` builders in kg_api.py
query it, and registry.py pairs them with their Spark queries.
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

