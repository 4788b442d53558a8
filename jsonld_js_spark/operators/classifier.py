"""Hashed linear-classifier quality scoring (the fastText-style
"quality classifier filter" every production curation pipeline runs:
GPT-3's LR-over-features keep/drop, LLaMA's fastText filter).

The container has no trained model, so the gated query scores under a
DETERMINISTIC synthetic weight table (w_j = (j·2654435761) mod 2001,
j < 4096 — reproducible bit-for-bit in both engines with no external
data); the operator itself takes ANY (j, w) weight DataFrame, which is
exactly the shape a real exported fastText/LR model loads as.

Inference is the standard hashing-trick bag-of-ngrams:

  features  = unigrams + bigrams of the normalized token stream
              (with multiplicity — bag, not set)
  bucket    = hash60(ngram) mod D          (portable 60-bit md5 hash)
  score     = Σ w_bucket · 1000 div n_features   (exact int64 milli)
  keep      = score ≥ 1000·1000            (the neutral expectation)

All arithmetic is non-negative int64 (`div`/`//` agree), so the DuckDB
oracle matches bit-for-bit; a pure-python hand truth guards the shared
formula (tests/test_classifier.py — the gate proves agreement, not
correctness).

Scale shape: one corpus scan → token-array projection (bound once —
the shingles_col let-binding rule) → explode → broadcast hash join
against the D-row weight table (a model is KBs; never a shuffle) →
one partial-aggregated groupBy(doc_id). Uniform md5 buckets, no skew,
zero Python in the row path.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .textstats import _NORM_SQL, _docs, _norm, hash60, hash60_sql

D_FEATURES = 4096
WEIGHT_MIX = 2654435761  # Knuth multiplicative constant
WEIGHT_MOD = 2001        # weights in [0, 2000], neutral mean 1000


def synthetic_weights(spark, d: int = D_FEATURES):
    """Deterministic (j, w) model table — stands in for a real
    exported classifier; same formula as the oracle's range() CTE."""
    return spark.range(d).select(
        F.col("id").alias("j"),
        ((F.col("id") * WEIGHT_MIX) % WEIGHT_MOD).alias("w"))


def hashed_features(docs, d: int = D_FEATURES):
    """(doc_id, j) — one row per unigram/bigram occurrence, bucketed
    by the portable 60-bit hash. The token split is materialized as
    its own projection column so the bigram lambda reads the ARRAY
    (inlined split re-runs per element_at: O(tokens²), the
    shingles_col lesson)."""
    toks = docs.select(
        "doc_id", F.split(_norm(F.col("text")), " ").alias("t"))
    n = F.size("t")
    bigrams = F.expr(
        "transform(sequence(0, size(t) - 2),"
        " i -> concat(element_at(t, i + 1), '_',"
        "             element_at(t, i + 2)))")
    feats = F.concat(
        F.col("t"),
        F.when(n >= 2, bigrams).otherwise(F.slice("t", 1, 0)))
    return (toks.select("doc_id", F.explode(feats).alias("ng"))
            .select("doc_id", (hash60(F.col("ng")) % d).alias("j")))


def classifier_score(docs, weights, d: int = D_FEATURES):
    """Score every document under a (j, w) linear model: exact-int64
    mean feature weight in milli units + the keep decision at the
    neutral threshold."""
    scored = hashed_features(docs, d).join(F.broadcast(weights), "j")
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_features"),
                 F.expr("(sum(w) * 1000) div count(*)")
                  .alias("score_milli"))
            .select("doc_id", "n_features", "score_milli",
                    (F.col("score_milli") >= 1000 * 1000).alias("keep"))
            .orderBy("doc_id"))


def q_text_classifier_score(spark, sf_dir):
    return classifier_score(_docs(spark, sf_dir),
                            synthetic_weights(spark))


ORACLE_CLASSIFIER_SCORE = f"""
WITH weights AS (
  SELECT j, (j * {WEIGHT_MIX}) % {WEIGHT_MOD} AS w
  FROM range({D_FEATURES}) t(j)),
toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents),
feats AS (
  SELECT doc_id, unnest(list_concat(t,
    CASE WHEN len(t) >= 2 THEN
      list_transform(range(1, len(t)), i -> t[i] || '_' || t[i + 1])
    ELSE [] END)) AS ng
  FROM toks),
hashed AS (
  SELECT doc_id, {hash60_sql('ng')} % {D_FEATURES} AS j FROM feats),
scored AS (
  SELECT doc_id, cast(count(*) AS bigint) AS n_features,
         cast((sum(w) * 1000) // count(*) AS bigint) AS score_milli
  FROM hashed JOIN weights USING (j) GROUP BY doc_id)
SELECT doc_id, n_features, score_milli,
       score_milli >= 1000000 AS keep
FROM scored ORDER BY doc_id
"""
