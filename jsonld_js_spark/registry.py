"""The gated-query table: every Spark query whose result must equal a
DuckDB oracle, one `Gated` row each.

`query(spark, sf_dir)` builds the DataFrame. `oracle` is the DuckDB SQL
itself when the query reads a fixed input table, or a function of
`n_conv` when it reads the synthesized transcript table (transcripts.py),
whose size follows the scale factor. `__spark_entry__.queries()` and
`oracle_sql()` are views of this table; a query is gated by adding its
row here and nowhere else.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from . import kg_api as kg
from .operators import (
    asof, bpe, classifier, dedup, jsonld_column, lm, multimodal, packing,
    relational, sampling, sessions, similarity, sketches, textstats,
)
from .oracles import _triples_select
from .pipeline import curate
from .transcripts import transcripts_sql


class Gated(NamedTuple):
    """`query(spark, sf_dir)` must equal the DuckDB result of `oracle`."""
    name: str
    query: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[int], str]

    def sql(self, n_conv: int) -> str:
        """The oracle SQL for a transcript table of `n_conv` conversations."""
        if isinstance(self.oracle, str):
            return self.oracle
        return self.oracle(n_conv)


def on_triples(build: Callable[[str], str]) -> Callable[[int], str]:
    """An oracle over the DISTINCT triple set of the transcript table."""
    return lambda n_conv: build(_triples_select(n_conv))


def on_transcripts(build: Callable[[str], str]) -> Callable[[int], str]:
    """An oracle over the transcript table itself."""
    return lambda n_conv: build(transcripts_sql(n_conv, "duckdb"))


def index(rows: Iterable[Gated]) -> dict[str, Gated]:
    """Rows by name. A name listed twice is an error, never an overwrite."""
    out: dict[str, Gated] = {}
    for row in rows:
        if row.name in out:
            raise ValueError(f"gated query {row.name!r} is listed twice")
        out[row.name] = row
    return out


GATED = index([
    # KG construction and analytics over the transcript table. The
    # round-trip and identity-resolution queries must reproduce the
    # triple set exactly, so the triple set is their oracle.
    Gated("kg_transcript_triples", kg.q_kg_transcript_triples,
          _triples_select),
    Gated("kg_transcript_triples_kernel", kg.q_kg_transcript_triples_kernel,
          _triples_select),
    Gated("kg_transcript_triples_grouped",
          kg.q_kg_transcript_triples_grouped, _triples_select),
    Gated("kg_entity_canonical_map", kg.q_kg_entity_canonical_map,
          on_transcripts(kg.oracle_kg_entity_canonical_map)),
    Gated("kg_predicate_stats", kg.q_kg_predicate_stats,
          on_triples(kg.oracle_kg_predicate_stats)),
    Gated("kg_conv_sizes", kg.q_kg_conv_sizes,
          on_transcripts(kg.oracle_kg_conv_sizes)),
    Gated("kg_mentions_topk", kg.q_kg_mentions_topk,
          on_transcripts(kg.oracle_kg_mentions_topk)),
    Gated("kg_frame_turns", kg.q_kg_frame_turns,
          on_triples(kg.oracle_kg_frame_turns)),
    Gated("kg_flatten_nodes", kg.q_kg_flatten_nodes,
          on_triples(kg.oracle_kg_flatten_nodes)),
    Gated("kg_fromrdf_nodemap", kg.q_kg_fromrdf_nodemap,
          on_triples(kg.oracle_kg_fromrdf_nodemap)),
    Gated("kg_customer_graph", kg.q_kg_customer_graph,
          kg.ORACLE_KG_CUSTOMER_GRAPH),
    Gated("kg_events_graph", kg.q_kg_events_graph,
          kg.oracle_kg_events_graph()),
    Gated("kg_conv_window", kg.q_kg_conv_window,
          on_transcripts(kg.oracle_kg_conv_window)),
    Gated("kg_merge_sources", kg.q_kg_merge_sources,
          on_triples(kg.oracle_kg_merge_sources)),
    Gated("kg_nquads", kg.q_kg_nquads, on_triples(kg.oracle_kg_nquads)),
    Gated("kg_frame_kernel_path", kg.q_kg_frame_kernel_path,
          on_transcripts(kg.oracle_kg_frame_kernel_path)),
    Gated("kg_fromrdf_roundtrip", kg.q_kg_fromrdf_roundtrip,
          _triples_select),
    # SQL-checkable counts; the JSON text itself is verified in
    # tests/test_kg_api.py against the single-node kernel
    Gated("kg_compact_conversations", kg.q_kg_compact_conversations,
          on_triples(kg.oracle_kg_compact_conversations)),
    Gated("kg_nquads_source_roundtrip", kg.q_kg_nquads_source_roundtrip,
          _triples_select),
    Gated("kg_incremental_triples", kg.q_kg_incremental_triples,
          lambda n_conv: kg.oracle_kg_incremental_triples(
              _triples_select(n_conv), n_conv)),
    Gated("kg_degree_stats", kg.q_kg_degree_stats,
          on_triples(kg.oracle_kg_degree_stats)),
    Gated("kg_entity_comention", kg.q_kg_entity_comention,
          on_triples(kg.oracle_kg_entity_comention)),
    Gated("kg_pagerank", kg.q_kg_pagerank, on_triples(kg.oracle_kg_pagerank)),
    # the normalizing resolver over the surface-form KG must reproduce
    # the independently derived linked triple set (set equality)
    Gated("kg_sameas_closure", kg.q_kg_sameas_closure, _triples_select),
    Gated("kg_khop", kg.q_kg_khop, on_triples(kg.oracle_kg_khop)),
    Gated("kg_triangle_count", kg.q_kg_triangle_count,
          on_triples(kg.oracle_kg_triangle_count)),
    Gated("kg_label_propagation", kg.q_kg_label_propagation,
          on_triples(kg.oracle_kg_label_propagation)),
    Gated("kg_random_walks", kg.q_kg_random_walks,
          on_triples(kg.oracle_kg_random_walks)),
    Gated("kg_skipgram_pairs", kg.q_kg_skipgram_pairs,
          on_triples(kg.oracle_kg_skipgram_pairs)),
    Gated("kg_neighbor_jaccard", kg.q_kg_neighbor_jaccard,
          on_triples(kg.oracle_kg_neighbor_jaccard)),
    Gated("kg_kcore", kg.q_kg_kcore, on_triples(kg.oracle_kg_kcore)),
    Gated("kg_neighborhood_growth", kg.q_kg_neighborhood_growth,
          on_triples(kg.oracle_kg_neighborhood_growth)),
    Gated("kg_anf_registers", kg.q_kg_anf_registers,
          on_triples(kg.oracle_kg_anf_registers)),
    Gated("kg_ppr", kg.q_kg_ppr, on_triples(kg.oracle_kg_ppr)),
    Gated("kg_link_prediction", kg.q_kg_link_prediction,
          on_triples(kg.oracle_kg_link_prediction)),
    Gated("kg_entity_timeline", kg.q_kg_entity_timeline,
          on_triples(kg.oracle_kg_entity_timeline)),
    Gated("kg_cooccur_lift", kg.q_kg_cooccur_lift,
          on_triples(kg.oracle_kg_cooccur_lift)),
    Gated("kg_tool_transitions", kg.q_kg_tool_transitions,
          on_triples(kg.oracle_kg_tool_transitions)),
    Gated("kg_relation_timeline", kg.q_kg_relation_timeline,
          on_triples(kg.oracle_kg_relation_timeline)),
    Gated("kg_conv_profile", kg.q_kg_conv_profile,
          on_triples(kg.oracle_kg_conv_profile)),
    Gated("kg_components", kg.q_kg_components,
          on_triples(kg.oracle_kg_components)),
    Gated("kg_literal_stats", kg.q_kg_literal_stats,
          on_triples(kg.oracle_kg_literal_stats)),
    Gated("kg_predicate_cooccur", kg.q_kg_predicate_cooccur,
          on_triples(kg.oracle_kg_predicate_cooccur)),
    Gated("kg_mention_contexts", kg.q_kg_mention_contexts,
          on_transcripts(kg.oracle_kg_mention_contexts)),
    Gated("kg_degree_distribution", kg.q_kg_degree_distribution,
          on_triples(kg.oracle_kg_degree_distribution)),
    Gated("kg_entity_role_affinity", kg.q_kg_entity_role_affinity,
          on_triples(kg.oracle_kg_entity_role_affinity)),
    Gated("kg_entity_aliases", kg.q_kg_entity_aliases,
          on_transcripts(kg.oracle_kg_entity_aliases)),

    # pipeline operators over the fixed documents / embeddings / events /
    # TPC-H tables
    Gated("events_asof_join", asof.q_events_asof_join,
          asof.ORACLE_EVENTS_ASOF),
    Gated("events_asof_join_salted", asof.q_events_asof_join_salted,
          asof.ORACLE_EVENTS_ASOF),
    Gated("vocab_bpe_merges", bpe.q_vocab_bpe_merges,
          bpe.oracle_vocab_bpe_merges()),
    Gated("vocab_bpe_tokenize", bpe.q_vocab_bpe_tokenize,
          bpe.oracle_vocab_bpe_tokenize()),
    Gated("vocab_bpe_tokenize_scale", bpe.q_vocab_bpe_tokenize_scale,
          bpe.oracle_vocab_bpe_tokenize()),
    Gated("text_chunks_bpe", bpe.q_text_chunks_bpe,
          bpe.oracle_text_chunks_bpe()),
    Gated("rel_pricing_summary", relational.q_rel_pricing_summary,
          relational.ORACLE_REL_PRICING),
    Gated("rel_top_orders", relational.q_rel_top_orders,
          relational.ORACLE_REL_TOP_ORDERS),
    Gated("rel_pricing_rollup", relational.q_rel_pricing_rollup,
          relational.ORACLE_REL_ROLLUP),
    Gated("sketch_hll_postings", sketches.q_sketch_hll_postings,
          sketches.ORACLE_SKETCH_HLL),
    Gated("sketch_hll_by_source", sketches.q_sketch_hll_by_source,
          sketches.ORACLE_SKETCH_HLL_BY_SOURCE),
    Gated("sketch_countmin_tokens", sketches.q_sketch_countmin_tokens,
          sketches.ORACLE_SKETCH_COUNTMIN),
    Gated("sketch_quantile_doclen", sketches.q_sketch_quantile_doclen,
          sketches.ORACLE_SKETCH_QUANTILE),
    Gated("sketch_bloom_fingerprints", sketches.q_sketch_bloom_fingerprints,
          sketches.ORACLE_SKETCH_BLOOM),
    Gated("sketch_oph_sources", sketches.q_sketch_oph_sources,
          sketches.ORACLE_SKETCH_OPH),
    Gated("text_classifier_score", classifier.q_text_classifier_score,
          classifier.ORACLE_CLASSIFIER_SCORE),
    Gated("dedup_exact", dedup.q_dedup_exact, dedup.ORACLE_DEDUP_EXACT),
    Gated("dedup_minhash_lsh", dedup.q_dedup_minhash_lsh,
          dedup.ORACLE_DEDUP_MINHASH),
    Gated("dedup_cross_corpus", dedup.q_dedup_cross_corpus,
          dedup.ORACLE_DEDUP_CROSS_CORPUS),
    Gated("dedup_ngram_jaccard", dedup.q_dedup_ngram_jaccard,
          dedup.ORACLE_DEDUP_NGRAM),
    Gated("dedup_simhash", dedup.q_dedup_simhash,
          dedup.ORACLE_DEDUP_SIMHASH),
    Gated("dedup_clusters", dedup.q_dedup_clusters,
          dedup.ORACLE_DEDUP_CLUSTERS),
    Gated("dedup_clusters_star", dedup.q_dedup_clusters_star,
          dedup.ORACLE_DEDUP_CLUSTERS),
    Gated("corpus_boilerplate_stats", dedup.q_corpus_boilerplate_stats,
          dedup.ORACLE_CORPUS_BOILERPLATE),
    Gated("dedup_substring", dedup.q_dedup_substring,
          dedup.ORACLE_DEDUP_SUBSTRING),
    Gated("corpus_contamination", dedup.q_corpus_contamination,
          dedup.ORACLE_CORPUS_CONTAMINATION),
    Gated("dedup_substring_scrub", dedup.q_dedup_substring_scrub,
          dedup.ORACLE_DEDUP_SUBSTRING_SCRUB),
    Gated("corpus_decontaminate", dedup.q_corpus_decontaminate,
          dedup.ORACLE_CORPUS_DECONTAMINATE),
    Gated("dedup_keep_best", dedup.q_dedup_keep_best,
          dedup.ORACLE_DEDUP_KEEP_BEST),
    Gated("corpus_line_dedup", dedup.q_corpus_line_dedup,
          dedup.ORACLE_CORPUS_LINE_DEDUP),
    Gated("ann_cosine_topk", similarity.q_ann_cosine_topk,
          similarity.ORACLE_ANN_COSINE),
    Gated("ann_lsh_topk", similarity.q_ann_lsh_topk,
          similarity._oracle_ann_lsh()),
    Gated("ann_ivf_topk", similarity.q_ann_ivf_topk,
          similarity._oracle_ann_ivf()),
    Gated("dedup_embedding_cosine", similarity.q_dedup_embedding_cosine,
          similarity._oracle_neardup()),
    Gated("dedup_semantic", similarity.q_dedup_semantic,
          similarity._oracle_dedup_semantic()),
    Gated("text_tokens", textstats.q_text_tokens,
          textstats.ORACLE_TEXT_TOKENS),
    Gated("text_quality", textstats.q_text_quality,
          textstats.ORACLE_TEXT_QUALITY),
    Gated("text_langid", textstats.q_text_langid,
          textstats.ORACLE_TEXT_LANGID),
    Gated("text_fingerprint", textstats.q_text_fingerprint,
          textstats.ORACLE_TEXT_FINGERPRINT),
    Gated("text_chunks", textstats.q_text_chunks,
          textstats.ORACLE_TEXT_CHUNKS),
    Gated("corpus_quality_filter", textstats.q_corpus_quality_filter,
          textstats.ORACLE_CORPUS_FILTER),
    Gated("text_pii_scrub", textstats.q_text_pii_scrub,
          textstats.ORACLE_TEXT_PII_SCRUB),
    Gated("text_tfidf_topk", textstats.q_text_tfidf_topk,
          textstats.ORACLE_TEXT_TFIDF),
    Gated("text_bm25_topk", textstats.q_text_bm25_topk,
          textstats.ORACLE_TEXT_BM25),
    Gated("corpus_ngram_topk", textstats.q_corpus_ngram_topk,
          textstats.ORACLE_CORPUS_NGRAM_TOPK),
    Gated("text_repetition", textstats.q_text_repetition,
          textstats.ORACLE_TEXT_REPETITION),
    Gated("corpus_length_percentiles", textstats.q_corpus_length_percentiles,
          textstats.ORACLE_CORPUS_LENGTH_PCTS),
    Gated("doc_jsonl_roundtrip", textstats.q_doc_jsonl_roundtrip,
          textstats.ORACLE_DOC_JSONL_ROUNDTRIP),
    Gated("corpus_split", sampling.q_corpus_split,
          sampling.ORACLE_CORPUS_SPLIT),
    Gated("corpus_sample_stratified", sampling.q_corpus_sample_stratified,
          sampling.ORACLE_CORPUS_SAMPLE),
    Gated("corpus_sample_weighted", sampling.q_corpus_sample_weighted,
          sampling.ORACLE_CORPUS_SAMPLE_WEIGHTED),
    Gated("corpus_domain_mix", sampling.q_corpus_domain_mix,
          sampling.ORACLE_CORPUS_DOMAIN_MIX),
    Gated("corpus_domain_mix_bpe", sampling.q_corpus_domain_mix_bpe,
          sampling.oracle_domain_mix_bpe()),
    Gated("corpus_mix_upsample", sampling.q_corpus_mix_upsample,
          sampling.ORACLE_CORPUS_MIX_UPSAMPLE),
    Gated("corpus_mix_upsample_bpe", sampling.q_corpus_mix_upsample_bpe,
          sampling.oracle_mix_upsample_bpe()),
    Gated("corpus_pack_sequences", packing.q_corpus_pack_sequences,
          packing.ORACLE_PACK),
    Gated("corpus_pack_sequences_bpe", packing.q_corpus_pack_sequences_bpe,
          packing.oracle_pack_bpe()),
    Gated("corpus_token_budget_sample", packing.q_corpus_token_budget_sample,
          packing.ORACLE_BUDGET),
    Gated("corpus_token_budget_sample_bpe",
          packing.q_corpus_token_budget_sample_bpe,
          packing.oracle_budget_bpe()),
    Gated("text_lm_score", lm.q_text_lm_score, lm.ORACLE_LM_SCORE),
    Gated("multimodal_decode", multimodal.q_multimodal_decode,
          multimodal.ORACLE_MULTIMODAL_DECODE),
    Gated("multimodal_decode_real", multimodal.q_multimodal_decode_real,
          multimodal.ORACLE_MULTIMODAL_DECODE_REAL),
    Gated("multimodal_resize", multimodal.q_multimodal_resize,
          multimodal.ORACLE_MULTIMODAL_RESIZE),
    Gated("multimodal_frame_sample", multimodal.q_multimodal_frame_sample,
          multimodal.ORACLE_MULTIMODAL_FRAMES),
    Gated("multimodal_dedup", multimodal.q_multimodal_dedup,
          multimodal.ORACLE_MULTIMODAL_DEDUP),
    Gated("multimodal_neardup", multimodal.q_multimodal_neardup,
          multimodal._oracle_multimodal_neardup()),
    Gated("multimodal_audio_features", multimodal.q_multimodal_audio_features,
          multimodal.ORACLE_MULTIMODAL_AUDIO_FEATURES),
    Gated("multimodal_phash", multimodal.q_multimodal_phash,
          multimodal.ORACLE_MULTIMODAL_PHASH),
    Gated("multimodal_phash_neardup", multimodal.q_multimodal_phash_neardup,
          multimodal.ORACLE_MULTIMODAL_PHASH_NEARDUP),
    Gated("events_sessionize", sessions.q_events_sessionize,
          sessions.ORACLE_EVENTS_SESSIONIZE),
    Gated("events_funnel", sessions.q_events_funnel,
          sessions._oracle_events_funnel()),
    Gated("events_retention", sessions.q_events_retention,
          sessions.ORACLE_EVENTS_RETENTION),
    Gated("events_anomaly", sessions.q_events_anomaly,
          sessions.ORACLE_EVENTS_ANOMALY),
    Gated("jsonld_props_triples", jsonld_column.q_jsonld_props_triples,
          jsonld_column.ORACLE_JSONLD_PROPS),
    Gated("jsonld_props_bnode_triples",
          jsonld_column.q_jsonld_props_bnode_triples,
          jsonld_column.ORACLE_JSONLD_PROPS_BNODE),
    Gated("corpus_curate_pipeline", curate.q_corpus_curate_pipeline,
          curate.ORACLE_CORPUS_CURATE),
])
