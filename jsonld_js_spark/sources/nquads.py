"""Distributed N-Quads source/sink.

The reference consumes and emits N-Quads through its RDF parser
registry (ref lib/jsonld.js:988-1015 registerRDFParser, rdf-canonize
NQuads at lib/toRdf.js:9); the single-node counterparts here are
kernel/rdf.py parse_nquads / serialize_nquads. This module is the
100 TB path for the same capability: .nq files are LINE-SPLITTABLE
(one self-contained statement per line), so Spark's text source gives
embarrassingly-parallel partitioned reads and the per-line kernel
parser runs inside the Arrow loop `pipeline.kernel_path.kernel_map`,
one line per row, with zero shuffles; the sink is a pure
column-expression serializer (JVM codegen, no Python) writing the
exact dialect quad_to_nquad emits.

Blank-node labels are DOCUMENT-scoped per the N-Quads spec: one
logical dataset split across many part files keeps one label scope
(Spark's text source reads a whole directory as one dataset, matching
that semantics); merging *independent* .nq documents needs a per-file
relabel first, which is what jsonld.merge / scope_bnodes
(operators/jsonld_column.py) provide.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..pipeline.kernel_path import TRIPLE_SCHEMA, kernel_map

XSD_STRING = "http://www.w3.org/2001/XMLSchema#string"


def nquads_lines(triples: DataFrame):
    """Quad rows → canonical N-Quads `line` column (the exact dialect
    of kernel/rdf.py quad_to_nquad: 5-char escape set, xsd:string
    datatype omitted, @lang tags, optional graph term, bnode subjects/
    predicates/graphs pass through raw). Pure column expressions —
    whole-stage codegen, no Python."""
    esc = F.col("obj_value")
    for pat, rep in ((r"\\", r"\\\\"), ('"', r'\\"'),
                     ("\n", r"\\n"), ("\r", r"\\r"),
                     ("\t", r"\\t")):
        esc = F.regexp_replace(esc, pat, rep)
    # one rlike test short-circuits the 5-pass escape chain for the
    # overwhelmingly-common literal with nothing to escape
    esc = F.when(F.col("obj_value").rlike('[\\\\"\n\r\t]'), esc) \
           .otherwise(F.col("obj_value"))

    def term(col):
        return F.when(col.startswith("_:"), col) \
                .otherwise(F.concat(F.lit("<"), col, F.lit(">")))

    lit = F.concat(F.lit('"'), esc, F.lit('"'))
    lit = F.when(F.col("obj_language").isNotNull() &
                 (F.col("obj_language") != ""),
                 F.concat(lit, F.lit("@"), F.col("obj_language"))) \
           .when(F.col("obj_datatype").isNotNull() &
                 (F.col("obj_datatype") != XSD_STRING),
                 F.concat(lit, F.lit("^^<"), F.col("obj_datatype"),
                          F.lit(">"))) \
           .otherwise(lit)
    obj = F.when(F.col("obj_termtype") != "Literal",
                 term(F.col("obj_value"))).otherwise(lit)
    g = F.when(F.col("graph").isNotNull() & (F.col("graph") != ""),
               F.concat(term(F.col("graph")), F.lit(" "))) \
         .otherwise(F.lit(""))
    return F.concat(term(F.col("subj")), F.lit(" "),
                    term(F.col("pred")), F.lit(" "),
                    obj, F.lit(" "), g, F.lit("."))


def write_nquads(triples: DataFrame, path: str, mode: str = "overwrite",
                 sort: bool = False) -> None:
    """Sink: quad rows → a directory of .nq part files. `sort=True`
    gives the reference's canonical global order (serialize_nquads
    sorts lines) at the cost of one range-partitioned sort; unsorted
    is the scale default — N-Quads datasets are order-insensitive."""
    lines = triples.select(nquads_lines(triples).alias("value"))
    if sort:
        lines = lines.orderBy("value")
    lines.write.mode(mode).text(path)


def parse_nquads_lines(lines: DataFrame,
                       on_error: str = "raise") -> DataFrame:
    """`value` text-line rows → quad rows via the kernel's per-line
    grammar (kernel/rdf.py parse_nquad_line) inside `kernel_map`, one
    line per row. STATELESS, so the same plan serves batch reads and
    Structured Streaming ingestion (streaming/ingest.py
    stream_nquads_triples). on_error='skip' drops unparsable lines
    instead of failing the job (quarantine-and-continue ingestion);
    default is fail-fast."""
    from ..kernel.rdf import parse_nquad_line

    if on_error not in ("raise", "skip"):
        raise ValueError(f"on_error must be raise|skip, got {on_error!r}")
    skip_bad = on_error == "skip"

    def parse(cols, row, _stop):
        try:
            quad = parse_nquad_line(cols[0][row])
        except Exception:
            if skip_bad:
                return ()
            raise
        return () if quad is None else (quad,)

    return kernel_map(lines.select("value"), None, parse, TRIPLE_SCHEMA)


def read_nquads(spark, path, dedup: bool = False,
                on_error: str = "raise") -> DataFrame:
    """Source: .nq file(s)/directory → quad rows (TRIPLE_SCHEMA).

    spark.read.text splits by line, so partitions parse independently
    (narrow plan, no shuffle) — see parse_nquads_lines.

    dedup=True adds the rdf-canonize statement-dedup semantics
    parse_nquads applies within a document; distributed that is a
    global dropDuplicates (one shuffle), so it is opt-in.
    """
    out = parse_nquads_lines(spark.read.text(path), on_error=on_error)
    if dedup:
        out = out.dropDuplicates(TRIPLE_SCHEMA.fieldNames())
    return out
