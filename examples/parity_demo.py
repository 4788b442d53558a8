"""API-parity walkthrough: every public jsonld.js entry point, its
call here, and the distributed counterpart.

    python examples/parity_demo.py          # single-node kernel surface
    python examples/parity_demo.py --spark  # + the distributed pipeline

| jsonld.js (reference)       | this engine (single-node)          | distributed                         |
|-----------------------------|------------------------------------|-------------------------------------|
| jsonld.expand(doc)          | kernel.expand(doc)                 | specialization in pipeline/vectorized.py; generic via mapInArrow |
| jsonld.compact(doc, ctx)    | kernel.compact(doc, ctx)           | kg_api.q_kg_compact_conversations   |
| jsonld.flatten(doc, ctx)    | kernel.flatten(doc, ctx)           | kg_api.q_kg_flatten_nodes           |
| jsonld.frame(doc, frame)    | kernel.frame(doc, frame)           | frame_spark (semi-joins) / kg_frame_kernel_path |
| jsonld.toRDF(doc)           | kernel.to_rdf(doc)                 | pipeline.transcript_triples         |
| jsonld.fromRDF(quads)       | kernel.from_rdf(quads)             | kg_api.q_kg_fromrdf_roundtrip       |
| jsonld.merge(docs)          | kernel.merge(docs)                 | kg_api.q_kg_merge_sources           |
"""
from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def kernel_demo() -> None:
    from jsonld_js_spark import kernel as jld

    doc = {
        "@context": {
            "@vocab": "http://schema.org/",
            "knows": {"@type": "@id"},
        },
        "@id": "http://example.org/alice",
        "@type": "Person",
        "name": "Alice",
        "age": 30,
        "knows": "http://example.org/bob",
        "address": {"streetAddress": "1 Main St"},
    }

    print("== expand ==")
    expanded = jld.expand(doc)
    print(json.dumps(expanded, indent=1)[:400], "...\n")

    print("== toRDF (N-Quads) ==")
    print(jld.to_rdf(doc, {"format": "application/n-quads"}))

    print("== flatten ==")
    print(json.dumps(jld.flatten(doc), indent=1)[:400], "...\n")

    print("== compact (round-trip) ==")
    compacted = jld.compact(expanded, doc["@context"])
    print(json.dumps(compacted, indent=1)[:400], "...\n")

    print("== frame ==")
    framed = jld.frame(doc, {
        "@context": doc["@context"],
        "@type": "Person",
        "knows": {"@embed": "@never"},
    })
    print(json.dumps(framed, indent=1)[:400], "...\n")

    print("== fromRDF (round-trip) ==")
    quads = jld.to_rdf(doc)
    back = jld.from_rdf(quads, {"useNativeTypes": True})
    print(json.dumps(back, indent=1)[:300], "...\n")

    print("== merge ==")
    merged = jld.merge([
        doc,
        {"@context": doc["@context"], "@id": "http://example.org/alice",
         "jobTitle": "Engineer"},
    ])
    print(json.dumps(merged, indent=1)[:300], "...\n")


def spark_demo() -> None:
    from pyspark.sql import SparkSession

    from jsonld_js_spark.pipeline import (
        entity_canonical_map, transcript_triples,
    )
    from jsonld_js_spark.transcripts import transcripts_df

    spark = (SparkSession.builder.master("local[4]")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false").getOrCreate())
    t = transcripts_df(spark, n_conv=50)
    triples = transcript_triples(t)
    print("== distributed toRDF: triple table ==")
    triples.show(6, truncate=60)
    print("triples:", triples.count())
    print("== entity canonical map ==")
    entity_canonical_map(t).show(6, truncate=40)
    spark.stop()


if __name__ == "__main__":
    kernel_demo()
    if "--spark" in sys.argv:
        spark_demo()
