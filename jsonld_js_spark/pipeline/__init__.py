"""Spark pipeline stages for the transcript knowledge graph.

Two parallel implementations of the same semantics:

- `vectorized` — the hot path. Because the transcript document shape is
  fixed, JSON-LD expansion + node-map + toRDF specialize to pure
  DataFrame column operations (SURVEY.md §2.3): 100% JVM/whole-stage
  codegen, no Python in the per-row path.
- `kernel_path` — the general path: per-conversation JSON-LD documents
  run through the pure-Python kernel inside Arrow-batched
  `mapInArrow`. Handles arbitrary documents/contexts; also the
  differential oracle for the vectorized path.
"""
from .vectorized import (  # noqa: F401
    transcript_triples, entity_canonical_map, TRIPLE_COLUMNS,
)
from .kernel_path import kernel_transcript_triples  # noqa: F401
