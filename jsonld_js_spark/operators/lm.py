"""Corpus-level n-gram language-model quality scoring (CCNet-style).

CCNet ranks web documents by perplexity under a KenLM model; the
container has no KenLM, so the model here is the corpus's own bigram
transition table — a two-pass, fully distributed equivalent:

  pass 1 (model): count every bigram c(w1 w2) across the corpus and
          derive the per-head mass c(w1) = Σ_w2 c(w1 w2). Both are
          plain groupBy/agg — map-side partial aggregation, uniform
          Zipf-bounded keys.
  pass 2 (score): join each document's bigrams back to the model and
          average the transition probability, reported as exact
          integer ppm: score = Σ floor(c2·10^6 / c1) div n_bigrams.

Fluent text full of common transitions scores high; shuffled or
gibberish text scores low. All arithmetic is int64 (`div` in Spark,
`//` in DuckDB — identical on the non-negative operands here), so the
oracle matches bit-for-bit; no float ever touches a reported value.

Scale shape: two shuffles (model groupBy, score join) on the bigram
string key. The model side is vocabulary-bounded (Zipf: far smaller
than the corpus) and partially aggregated map-side; the score join is
a plain hash join on a high-cardinality uniform key. Nothing is
per-row Python and nothing collects to the driver.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .textstats import _NORM_SQL, _docs, _norm

PPM = 1_000_000


def _doc_bigrams(spark, sf_dir):
    """(doc_id, bigram) — one row per token transition; docs with a
    single token have no transitions and drop out here."""
    toks = (_docs(spark, sf_dir)
            .select("doc_id",
                    F.split(_norm(F.col("text")), " ").alias("t"))
            .filter(F.size("t") >= 2))
    return toks.select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(0, size(t) - 2),"
            " i -> concat(element_at(t, i + 1), ' ',"
            "             element_at(t, i + 2)))")).alias("bigram"))


def q_text_lm_score(spark, sf_dir):
    """Mean bigram transition probability per document, in exact
    integer ppm, under the corpus's own bigram model."""
    from pyspark.sql import Window
    bg = _doc_bigrams(spark, sf_dir)
    m2 = bg.groupBy("bigram").agg(F.count("*").alias("c2"))
    # head mass c(w1) as a window over the bigram table, NOT a second
    # aggregation from the raw corpus: the corpus-wide explode+count
    # runs once; the extra exchange is over the vocabulary-bounded
    # model rows only (Catalyst does not reuse the m2 subplan when the
    # same counts are re-aggregated as a separate DataFrame).
    w1 = F.split(F.col("bigram"), " ").getItem(0)
    model = m2.withColumn(
        "c1", F.sum("c2").over(Window.partitionBy(w1)))
    scored = (bg.join(model, "bigram")
              .select("doc_id",
                      F.expr(f"(c2 * {PPM}) div c1").alias("ppm")))
    return (scored.groupBy("doc_id")
            .agg(F.count("*").alias("n_bigrams"),
                 F.expr("sum(ppm) div count(*)").alias("score_ppm"))
            .orderBy("doc_id"))


ORACLE_LM_SCORE = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
  WHERE len(string_split({_NORM_SQL}, ' ')) >= 2),
bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])) AS bigram
  FROM toks),
m2 AS (SELECT bigram, cast(count(*) AS bigint) AS c2
       FROM bg GROUP BY bigram),
m1 AS (SELECT split_part(bigram, ' ', 1) AS w1,
              cast(sum(c2) AS bigint) AS c1
       FROM m2 GROUP BY 1),
model AS (
  SELECT m2.bigram, m2.c2, m1.c1
  FROM m2 JOIN m1 ON split_part(m2.bigram, ' ', 1) = m1.w1),
scored AS (
  SELECT bg.doc_id, (model.c2 * {PPM}) // model.c1 AS ppm
  FROM bg JOIN model USING (bigram))
SELECT doc_id, cast(count(*) AS bigint) AS n_bigrams,
       cast(sum(ppm) // count(*) AS bigint) AS score_ppm
FROM scored GROUP BY doc_id ORDER BY doc_id
"""
