"""Large-scale training-data pipeline operators (dedup, similarity,
text analysis, multimodal plumbing) over the documents/embeddings
tables. Each module defines `q_*` queries and their DuckDB oracles;
registry.py pairs them into the gated-query table."""
