"""Driver contract for the spark-graft builder (PySpark target).

`queries()` and `oracle_sql()` are views of one table,
`jsonld_js_spark.registry.GATED`: each gated query and the
DuckDB-equivalent SQL the driver runs side-by-side at sf=0.01.

The KG-construction queries run over the deterministic synthetic
transcript table (BASELINE.json input_hint — synthesized in-engine, see
jsonld_js_spark/transcripts.py, byte-identical between Spark and
DuckDB). Data-pipeline operators (dedup / similarity / text analysis)
run over the driver-provided documents/embeddings parquet tables.
"""
from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF_CORRECTNESS = 0.01  # driver runs oracles at sf0.01


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full KG-construction pipeline (vectorized hot path) on
    the sf0.001-scale transcript table."""
    from jsonld_js_spark.kg_api import q_kg_transcript_triples
    return q_kg_transcript_triples(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from jsonld_js_spark.registry import GATED
    return {name: row.query for name, row in GATED.items()}


def _oracle_sql(n_conv: int) -> dict[str, str]:
    from jsonld_js_spark.registry import GATED
    return {name: row.sql(n_conv) for name, row in GATED.items()}


def oracle_sql() -> dict[str, str]:
    from jsonld_js_spark.transcripts import n_conv_for_sf
    return _oracle_sql(n_conv_for_sf(SF_CORRECTNESS))
