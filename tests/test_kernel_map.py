"""The one Arrow boundary of the kernel-backed queries
(`jsonld_js_spark.pipeline.kernel_path.kernel_map`): its stateless
mode, the plans of the queries that cross it, and a source scan that
keeps pandas off that boundary."""
from __future__ import annotations

import ast
from pathlib import Path

import pyarrow as pa

PKG = Path(__file__).resolve().parent.parent / "jsonld_js_spark"

# modules whose Python crossings all go through kernel_map
BOUNDARY = [*sorted((PKG / "pipeline").glob("*.py")),
            *sorted((PKG / "sources").glob("*.py")),
            PKG / "kg_api.py", PKG / "operators" / "jsonld_column.py"]


def test_no_pandas_at_the_kernel_boundary():
    """No module on the boundary imports pandas or calls mapInPandas."""
    offenders = []
    for path in BOUNDARY:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                names = [node.module or ""]
            elif isinstance(node, ast.Attribute):
                names = ["pandas"] if node.attr == "mapInPandas" else []
            else:
                continue
            offenders += [(path.name, node.lineno) for name in names
                          if name.split(".")[0] == "pandas"]
    assert offenders == []


def test_kernel_backed_queries_plan_map_in_arrow(spark, tmp_path):
    """Every kernel-backed query crosses into Python as MapInArrow,
    never MapInPandas."""
    from jsonld_js_spark import kg_api
    from jsonld_js_spark.operators.jsonld_column import (
        jsonld_column_to_triples,
    )
    from jsonld_js_spark.sources import read_nquads

    (tmp_path / "a.nq").write_text('<http://s> <http://p> "o" .\n')
    # the transcript queries generate their input; only the scale
    # factor in the directory name is read
    sf = str(tmp_path / "sf0.001")
    docs = spark.createDataFrame([(1, '{"k": 1}')], "id long, doc string")
    queries = {
        "compact": kg_api.compact_conversations_df(spark, sf),
        "frame": kg_api.q_kg_frame_kernel_path(spark, sf),
        "roundtrip": kg_api.q_kg_fromrdf_roundtrip(spark, sf),
        "jsonld_column": jsonld_column_to_triples(
            docs, "id", "doc", {"@vocab": "http://e/"}),
        "nquads": read_nquads(spark, str(tmp_path / "a.nq")),
    }
    for name, df in queries.items():
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "MapInArrow" in plan, (name, plan)
        assert "MapInPandas" not in plan, (name, plan)


def test_stateless_map_chunks_every_row():
    """With no key each row is its own group: every row reaches
    per_group once, in order, and output batches stay bounded."""
    from jsonld_js_spark.pipeline.kernel_path import (
        CHUNK_QUADS, _group_map, _struct_type,
    )
    from pyspark.sql.types import LongType, StructField, StructType

    schema = StructType([StructField("n", LongType())])
    batches = [pa.RecordBatch.from_pydict({"n": list(range(i, i + 100))})
               for i in range(0, 30000, 100)]

    def per_row(cols, row, stop):
        assert stop == row + 1
        n = cols[0][row]
        return [(n,)] * (n % 3)

    out = list(_group_map(None, per_row, _struct_type(schema))(iter(batches)))
    assert all(b.num_rows < CHUNK_QUADS + 2 for b in out)
    got = [r["n"] for b in out for r in b.to_pylist()]
    assert got == [n for n in range(30000) for _ in range(n % 3)]
