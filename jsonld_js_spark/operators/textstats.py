"""Text-analysis operators over the `documents` table: token counting,
quality scoring, language ID, fingerprinting.

Every operator is pure JVM column expressions (no Python in the row
path) with an independently-written DuckDB oracle. Both sides share the
same integer/string arithmetic so results match exactly.
"""
from __future__ import annotations

from pyspark.sql import functions as F

# language marker words (looked up in ' '||normalized||' ')
LANG_MARKERS = {
    "en": [" the ", " and ", " of "],
    "de": [" der ", " und ", " die "],
    "fr": [" le ", " et ", " la "],
    "es": [" el ", " y ", " los "],
}
EN_STOPWORDS = [" the ", " a ", " and ", " of ", " to "]
WORD_RE = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _norm(col):
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


_NORM_SQL = "regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')"


def _count_occurrences(padded, marker):
    return ((F.length(padded) -
             F.length(F.replace(padded, F.lit(marker), F.lit("")))) /
            F.lit(len(marker))).cast("int")


def _count_occ_sql(padded, marker):
    return (f"cast((length({padded}) - "
            f"length(replace({padded}, '{marker}', ''))) / "
            f"{len(marker)} as int)")


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------------------
def q_text_tokens(spark, sf_dir):
    """Whitespace + BPE-ish regex token counts, distinct-token count."""
    d = _docs(spark, sf_dir)
    norm = _norm(F.col("text"))
    tokens = F.split(norm, " ")
    return d.select(
        "doc_id",
        F.size(tokens).alias("n_tokens"),
        F.size(F.array_distinct(tokens)).alias("n_distinct_tokens"),
        F.size(F.regexp_extract_all(norm, F.lit(WORD_RE), 0))
         .alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_actual"),
    ).orderBy("doc_id")


ORACLE_TEXT_TOKENS = f"""
SELECT doc_id,
       len(string_split({_NORM_SQL}, ' ')) AS n_tokens,
       len(list_distinct(string_split({_NORM_SQL}, ' ')))
         AS n_distinct_tokens,
       len(regexp_extract_all({_NORM_SQL}, '{WORD_RE}'))
         AS n_bpe_tokens,
       length(text) AS n_chars_actual
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
def quality_frame(d):
    """(doc_id, text) -> per-doc quality stats: stopword ratio, mean
    token length, length factor → composite score. All ratios are
    exact integer parts-per-million (cross-engine float rounding of
    ties is not portable — Spark round() is decimal HALF_UP, DuckDB
    rounds the binary double). Shared by q_text_quality and the dedup
    keep-best canonical selection (`dedup.keep_best`)."""
    # staged like q_text_langid: normalize once, count from the column
    normed = d.select(
        "doc_id", _norm(F.col("text")).alias("_norm"))
    padded = F.concat(F.lit(" "), F.col("_norm"), F.lit(" "))
    stop_hits = None
    for m in EN_STOPWORDS:
        c = _count_occurrences(padded, m)
        stop_hits = c if stop_hits is None else stop_hits + c
    counted = normed.select(
        "doc_id",
        F.size(F.split(F.col("_norm"), " ")).alias("n_tokens"),
        stop_hits.alias("_stop_hits"),
        F.length(F.replace(F.col("_norm"), F.lit(" "), F.lit("")))
         .alias("_n_chars"))
    n_tokens = F.col("n_tokens")
    # exact integer arithmetic (all intermediates < 2^53 → floor stable)
    stop_ppm = F.floor(F.col("_stop_hits") * F.lit(1000000.0) /
                       n_tokens).cast("long")
    mean_tok_ppm = F.floor(F.col("_n_chars") * F.lit(1000000.0) /
                           n_tokens).cast("long")
    length_ppm = F.least(F.lit(1000000), (n_tokens * 10000).cast("long"))
    ppm = counted.select(
        "doc_id", "n_tokens",
        stop_ppm.alias("stopword_ratio_ppm"),
        mean_tok_ppm.alias("mean_token_len_ppm"),
        length_ppm.alias("length_factor_ppm"))
    score_ppm = (
        F.floor(F.col("length_factor_ppm") * 0.4).cast("long") +
        F.floor(F.col("stopword_ratio_ppm") * 0.4).cast("long") +
        F.least(F.lit(200000),
                F.floor(F.col("mean_token_len_ppm") * 0.2 / 8.0)
                 .cast("long")))
    return ppm.select(
        "doc_id", "n_tokens", "stopword_ratio_ppm",
        "mean_token_len_ppm", "length_factor_ppm",
        score_ppm.alias("quality_score_ppm"),
    )


def q_text_quality(spark, sf_dir):
    """Gate entry for `quality_frame` over the documents table."""
    return quality_frame(_docs(spark, sf_dir)).orderBy("doc_id")


_PADDED_SQL = f"(' ' || {_NORM_SQL} || ' ')"
_NTOK_SQL = f"len(string_split({_NORM_SQL}, ' '))"
_STOPHITS_SQL = " + ".join(
    _count_occ_sql(_PADDED_SQL, m) for m in EN_STOPWORDS)
def quality_sql(src: str) -> str:
    """DuckDB mirror of `quality_frame` over table/CTE `src` — a plain
    derived-table SELECT so it composes inside other WITH chains."""
    return f"""SELECT doc_id, n_tokens, stopword_ratio_ppm, mean_token_len_ppm,
       length_factor_ppm,
       cast(floor(length_factor_ppm * 0.4e0) as bigint) +
       cast(floor(stopword_ratio_ppm * 0.4e0) as bigint) +
       least(200000,
             cast(floor(mean_token_len_ppm * 0.2e0 / 8.0e0) as bigint))
         AS quality_score_ppm
FROM (
  SELECT doc_id,
         {_NTOK_SQL} AS n_tokens,
         cast(floor(({_STOPHITS_SQL}) * 1000000.0 / {_NTOK_SQL}) as bigint)
           AS stopword_ratio_ppm,
         cast(floor(length(replace({_NORM_SQL}, ' ', '')) * 1000000.0 /
                    {_NTOK_SQL}) as bigint) AS mean_token_len_ppm,
         least(1000000, cast({_NTOK_SQL} * 10000 as bigint))
           AS length_factor_ppm
  FROM {src}
) t"""


ORACLE_TEXT_QUALITY = quality_sql("documents") + "\nORDER BY doc_id"


# ---------------------------------------------------------------------------
def _lang_score_exprs(padded) -> dict:
    """Per-language marker-count Columns over a padded-normalized text
    Column."""
    scores = {}
    for lang, markers in LANG_MARKERS.items():
        s = None
        for m in markers:
            c = _count_occurrences(padded, m)
            s = c if s is None else s + c
        scores[lang] = s
    return scores


def _lang_pred_from_cols():
    """lang_pred CASE over already-projected score_{lang} columns."""
    sc = {lang: F.col(f"score_{lang}") for lang in LANG_MARKERS}
    best = F.greatest(*sc.values())
    return (F.when(best == 0, "und")
             .when(sc["en"] == best, "en")
             .when(sc["de"] == best, "de")
             .when(sc["fr"] == best, "fr")
             .otherwise("es"))


def q_text_langid(spark, sf_dir):
    """Marker-word language ID; `lang_match` compares against the
    table's lang column (the generator's ground truth)."""
    d = _docs(spark, sf_dir)
    # STAGED projections: the padded-normalized text is aliased once
    # and the 12 marker counts reference the COLUMN, not the inlined
    # regexp chain. CollapseProject keeps the boundary (non-cheap alias
    # used more than once), so the regex runs once per row instead of
    # 12x, and no single generated method exceeds janino's 64KB limit
    # (the fully-inlined tree disabled whole-stage codegen).
    padded = d.select(
        "doc_id", "lang",
        F.concat(F.lit(" "), _norm(F.col("text")), F.lit(" "))
         .alias("_padded"))
    scores = _lang_score_exprs(F.col("_padded"))
    scored = padded.select(
        "doc_id", "lang",
        *[scores[lang].alias(f"score_{lang}") for lang in LANG_MARKERS])
    pred = _lang_pred_from_cols()
    return scored.select(
        "doc_id", F.col("lang").alias("lang_expected"),
        *[f"score_{lang}" for lang in LANG_MARKERS],
        pred.alias("lang_pred"),
        (pred == F.col("lang")).alias("lang_match"),
    ).orderBy("doc_id")


_SCORE_SQL = {
    lang: "(" + " + ".join(_count_occ_sql(_PADDED_SQL, m)
                           for m in markers) + ")"
    for lang, markers in LANG_MARKERS.items()}
_BEST_SQL = ("greatest(" + ", ".join(_SCORE_SQL[lang]
                                     for lang in LANG_MARKERS) + ")")
ORACLE_TEXT_LANGID = f"""
SELECT doc_id, lang AS lang_expected,
       {_SCORE_SQL['en']} AS score_en, {_SCORE_SQL['de']} AS score_de,
       {_SCORE_SQL['fr']} AS score_fr, {_SCORE_SQL['es']} AS score_es,
       case when {_BEST_SQL} = 0 then 'und'
            when {_SCORE_SQL['en']} = {_BEST_SQL} then 'en'
            when {_SCORE_SQL['de']} = {_BEST_SQL} then 'de'
            when {_SCORE_SQL['fr']} = {_BEST_SQL} then 'fr'
            else 'es' end AS lang_pred,
       (case when {_BEST_SQL} = 0 then 'und'
            when {_SCORE_SQL['en']} = {_BEST_SQL} then 'en'
            when {_SCORE_SQL['de']} = {_BEST_SQL} then 'de'
            when {_SCORE_SQL['fr']} = {_BEST_SQL} then 'fr'
            else 'es' end = lang) AS lang_match
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# portable 60-bit hash: first 15 hex digits of md5, as bigint
def hash60(col):
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def hash60_sql(expr: str) -> str:
    return f"cast(('0x' || substr(md5({expr}), 1, 15)) as bigint)"


def q_text_fingerprint(spark, sf_dir):
    """Document fingerprinting: exact md5 of normalized text + a
    rolling-hash-style min-chargram sketch (min 60-bit hash over
    char 8-grams at stride 4)."""
    d = _docs(spark, sf_dir)
    norm = _norm(F.col("text"))
    grams = F.transform(
        F.sequence(F.lit(0),
                   F.greatest(F.lit(0),
                              F.floor((F.length(norm) - 8) / 4)).cast("int")),
        lambda i: norm.substr(i * 4 + 1, F.lit(8)))
    return d.select(
        "doc_id",
        F.md5(norm).alias("md5_fingerprint"),
        F.array_min(F.transform(grams, hash60)).alias("min_chargram_hash"),
    ).orderBy("doc_id")


ORACLE_TEXT_FINGERPRINT = f"""
SELECT doc_id,
       md5({_NORM_SQL}) AS md5_fingerprint,
       list_min(list_transform(
         range(0, cast(greatest(0, floor((length({_NORM_SQL}) - 8) / 4))
                       as bigint) + 1),
         i -> {hash60_sql(f"substr({_NORM_SQL}, cast(i*4+1 as int), 8)")}))
         AS min_chargram_hash
FROM documents ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# fixed-token chunking — the pre-tokenization pass of a training/RAG
# pipeline: every document explodes into overlapping CHUNK_TOKENS-token
# windows at CHUNK_STRIDE. Narrow plan (no shuffle): one scan, one
# split, one explode — at 100 TB this is scan-bandwidth-bound and
# embarrassingly partition-parallel; the orderBy exists only for the
# deterministic driver gate.
CHUNK_TOKENS = 64
CHUNK_STRIDE = 48  # 16-token overlap between consecutive chunks


def q_text_chunks(spark, sf_dir):
    """Overlapping fixed-token chunks per document: (doc_id, chunk_idx,
    n_chunk_tokens, chunk_hash). Chunk boundaries are token offsets
    0, STRIDE, 2·STRIDE… < n_tokens; the final window clamps."""
    d = _docs(spark, sf_dir)
    norm = _norm(F.col("text"))
    toks = F.split(norm, " ")
    n = F.size(toks)
    n_chunks = (F.floor((n - 1) / CHUNK_STRIDE) + 1).cast("int")
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("int").alias("chunk_idx"),
            F.concat_ws(" ", F.slice(toks, i * CHUNK_STRIDE + 1,
                                     CHUNK_TOKENS)).alias("chunk_text")))
    return (d.select("doc_id", F.explode(chunks).alias("c"))
            .select("doc_id",
                    F.col("c.chunk_idx").alias("chunk_idx"),
                    F.size(F.split(F.col("c.chunk_text"), " "))
                    .alias("n_chunk_tokens"),
                    hash60(F.col("c.chunk_text")).alias("chunk_hash"))
            .orderBy("doc_id", "chunk_idx"))


_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
ORACLE_TEXT_CHUNKS = f"""
WITH d AS (SELECT doc_id, {_TOKS_SQL} AS toks FROM documents),
idx AS (
  SELECT doc_id, toks,
         unnest(range(0, cast(floor((len(toks)-1) / {CHUNK_STRIDE})
                              as bigint) + 1)) AS i
  FROM d
),
c AS (
  SELECT doc_id, cast(i as int) AS chunk_idx,
         array_to_string(list_slice(toks, cast(i*{CHUNK_STRIDE}+1 as bigint),
                                    cast(i*{CHUNK_STRIDE}+{CHUNK_TOKENS}
                                         as bigint)), ' ') AS chunk_text
  FROM idx
)
SELECT doc_id, chunk_idx,
       len(string_split(chunk_text, ' ')) AS n_chunk_tokens,
       {hash60_sql('chunk_text')} AS chunk_hash
FROM c ORDER BY doc_id, chunk_idx
"""


# ---------------------------------------------------------------------------
# composed corpus curation: quality + language + exact-dedup-canonical
# in one pass — the operators above wired into the end-to-end training
# corpus filter. Scale shape: two narrow scoring scans (fused by
# Catalyst into one), one md5-keyed aggregation for canonical-copy
# election (uniform key, map-side combine), broadcast-sized joins at
# sf, shuffle joins on doc_id at 100 TB.
QF_MIN_SCORE_PPM = 350000


def q_corpus_quality_filter(spark, sf_dir):
    """Keep documents that (a) score >= {QF_MIN_SCORE_PPM} ppm, (b)
    language-ID as 'en', and (c) are the canonical (min doc_id) copy
    of their exact-duplicate group.

    Plan shape: ONE scan, staged scoring projections, ONE shuffle (by
    md5 fingerprint) for a window-min canonical election, then the
    filter on plain columns. The previous formulation (three reads of
    the table self-joined on doc_id) also let Catalyst push the
    lang_pred predicate through every projection, re-inlining the full
    scoring tree into a single Filter — which blew janino's 64KB
    method limit (whole-stage codegen disabled) AND re-ran the
    normalization regex ~24x per row. The Window is a pushdown
    barrier for non-partition-key predicates, so the staging
    survives."""
    from pyspark.sql.window import Window
    d = _docs(spark, sf_dir)
    normed = d.select("doc_id", _norm(F.col("text")).alias("_norm"))
    padded = F.concat(F.lit(" "), F.col("_norm"), F.lit(" "))
    stop_hits = None
    for m in EN_STOPWORDS:
        c = _count_occurrences(padded, m)
        stop_hits = c if stop_hits is None else stop_hits + c
    lang_scores = _lang_score_exprs(padded)
    counted = normed.select(
        "doc_id",
        F.md5(F.col("_norm")).alias("fp"),
        F.size(F.split(F.col("_norm"), " ")).alias("n_tokens"),
        stop_hits.alias("_stop_hits"),
        F.length(F.replace(F.col("_norm"), F.lit(" "), F.lit("")))
         .alias("_n_chars"),
        *[lang_scores[lang].alias(f"score_{lang}")
          for lang in LANG_MARKERS])
    n_tokens = F.col("n_tokens")
    stop_ppm = F.floor(F.col("_stop_hits") * F.lit(1000000.0) /
                       n_tokens).cast("long")
    mean_tok_ppm = F.floor(F.col("_n_chars") * F.lit(1000000.0) /
                           n_tokens).cast("long")
    length_ppm = F.least(F.lit(1000000), (n_tokens * 10000).cast("long"))
    score_ppm = (
        F.floor(length_ppm * 0.4).cast("long") +
        F.floor(stop_ppm * 0.4).cast("long") +
        F.least(F.lit(200000),
                F.floor(mean_tok_ppm * 0.2 / 8.0).cast("long")))
    scored = counted.select(
        "doc_id", "fp",
        score_ppm.alias("quality_score_ppm"),
        _lang_pred_from_cols().alias("lang_pred"))
    canon = scored.withColumn(
        "canonical_doc_id",
        F.min("doc_id").over(Window.partitionBy("fp")))
    return (canon
            .filter((F.col("doc_id") == F.col("canonical_doc_id")) &
                    (F.col("quality_score_ppm") >= QF_MIN_SCORE_PPM) &
                    (F.col("lang_pred") == "en"))
            .select("doc_id", "lang_pred", "quality_score_ppm")
            .orderBy("doc_id"))


ORACLE_CORPUS_FILTER = f"""
WITH q AS (SELECT * FROM ({ORACLE_TEXT_QUALITY.replace("ORDER BY doc_id", "")})),
l AS (SELECT * FROM ({ORACLE_TEXT_LANGID.replace("ORDER BY doc_id", "")})),
fps AS (SELECT doc_id, md5({_NORM_SQL}) AS fp FROM documents),
canon AS (SELECT fp, min(doc_id) AS canonical_doc_id FROM fps GROUP BY fp)
SELECT q.doc_id, l.lang_pred, q.quality_score_ppm
FROM q JOIN l ON l.doc_id = q.doc_id
JOIN fps ON fps.doc_id = q.doc_id
JOIN canon ON canon.fp = fps.fp
WHERE fps.doc_id = canon.canonical_doc_id
  AND q.quality_score_ppm >= {QF_MIN_SCORE_PPM}
  AND l.lang_pred = 'en'
ORDER BY q.doc_id
"""


# ---------------------------------------------------------------------------
# PII scrubbing — the redaction pass of a training-data pipeline:
# detect + replace emails / fixed-shape phone numbers / 9-digit id
# runs, count what was redacted, fingerprint the scrubbed text. Pure
# JVM column expressions (three regexp passes over one scan — narrow,
# no shuffle, scan-bandwidth-bound at 100 TB). The synthetic
# `documents` corpus contains no PII, so both engines INJECT
# deterministic PII derived from doc_id first — the oracle then
# verifies detection, replacement order, and the scrubbed hash
# non-trivially. Patterns are restricted to the regex subset Java
# (Spark) and RE2 (DuckDB) evaluate identically.
PII_EMAIL_RE = r"[a-z0-9._%+\-]+@[a-z0-9.\-]+\.[a-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,2}-[0-9]{3}-[0-9]{3}-[0-9]{4}"
PII_ID_RE = r"\b[0-9]{9}\b"


def _pii_augmented(doc_id, text):
    """text + deterministic injected PII (Spark side)."""
    email = F.concat(F.lit(" contact user"), doc_id.cast("string"),
                     F.lit("@mail.example.com"))
    phone = F.concat(F.lit(" call +1-555-"),
                     F.lpad((doc_id % 1000).cast("string"), 3, "0"),
                     F.lit("-"),
                     F.lpad((doc_id % 10000).cast("string"), 4, "0"))
    ident = F.concat(F.lit(" account "),
                     F.lpad((doc_id % 1000000000).cast("string"), 9, "0"))
    return F.concat(
        text,
        F.when(doc_id % 3 == 0, email).otherwise(F.lit("")),
        F.when(doc_id % 5 == 0, phone).otherwise(F.lit("")),
        F.when(doc_id % 7 == 0, ident).otherwise(F.lit("")))


_PII_AUG_SQL = """text
  || (case when doc_id % 3 = 0
        then ' contact user' || cast(doc_id as varchar)
             || '@mail.example.com' else '' end)
  || (case when doc_id % 5 = 0
        then ' call +1-555-' || lpad(cast(doc_id % 1000 as varchar), 3, '0')
             || '-' || lpad(cast(doc_id % 10000 as varchar), 4, '0')
        else '' end)
  || (case when doc_id % 7 = 0
        then ' account ' || lpad(cast(doc_id % 1000000000 as varchar), 9, '0')
        else '' end)"""


def q_text_pii_scrub(spark, sf_dir):
    """(doc_id, n_emails, n_phones, n_ids, scrubbed_md5): counts per
    PII class and the md5 of the text after ordered redaction
    (emails -> [EMAIL], then phones -> [PHONE], then bare 9-digit
    runs -> [ID]; order matters — the earlier passes must not leave
    digit runs the later passes re-match)."""
    d = _docs(spark, sf_dir)
    aug = _pii_augmented(F.col("doc_id"), F.col("text"))
    scrubbed = F.regexp_replace(aug, PII_EMAIL_RE, "[EMAIL]")
    scrubbed = F.regexp_replace(scrubbed, PII_PHONE_RE, "[PHONE]")
    scrubbed = F.regexp_replace(scrubbed, PII_ID_RE, "[ID]")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), 0))
         .alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RE), 0))
         .alias("n_phones"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_ID_RE), 0))
         .alias("n_ids"),
        F.md5(scrubbed).alias("scrubbed_md5"),
    ).orderBy("doc_id")


ORACLE_TEXT_PII_SCRUB = f"""
WITH a AS (SELECT doc_id, {_PII_AUG_SQL} AS aug FROM documents)
SELECT doc_id,
       cast(len(regexp_extract_all(aug, '{PII_EMAIL_RE}')) as int)
         AS n_emails,
       cast(len(regexp_extract_all(aug, '{PII_PHONE_RE}')) as int)
         AS n_phones,
       cast(len(regexp_extract_all(aug, '{PII_ID_RE}')) as int)
         AS n_ids,
       md5(regexp_replace(regexp_replace(regexp_replace(aug,
             '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
             '{PII_PHONE_RE}', '[PHONE]', 'g'),
             '{PII_ID_RE}', '[ID]', 'g')) AS scrubbed_md5
FROM a ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus TF-IDF: per-document distinctive terms. Integer-exact variant
# (score = tf * 1e6 DIV df — linear inverse document frequency instead
# of log) so both engines rank identically: ln() can differ in the
# last ulp between libm implementations, and a flipped tie would fail
# the hash gate. Scale shape: one scan → explode → two-level agg
# ((doc,token) count has map-side partial combine; token df aggregates
# the already-reduced tf table) → shuffle join on token (AQE handles
# the hot-stopword skew; the join input is the tf table, already one
# row per (doc,token)) → per-doc window top-k.
TFIDF_TOP_K = 5


def q_text_tfidf_topk(spark, sf_dir):
    """Top-{TFIDF_TOP_K} distinctive tokens per document by
    tf * 1e6 DIV df (integer-exact tf-idf flavor), ties broken by
    token."""
    from pyspark.sql.window import Window
    d = _docs(spark, sf_dir)
    toks = d.select(
        "doc_id",
        F.explode(F.split(_norm(F.col("text")), " ")).alias("token"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf"))
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    scored = (tf.join(df, "token")
              .select("doc_id", "token", "tf", "df",
                      F.expr("tf * 1000000L DIV df").alias("score_ppm")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_ppm"), F.asc("token"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_TOP_K)
            .select("doc_id", "rank", "token", "tf", "df", "score_ppm")
            .orderBy("doc_id", "rank"))


ORACLE_TEXT_TFIDF = f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, cast(count(*) as bigint) AS tf
  FROM toks GROUP BY doc_id, token
),
df AS (
  SELECT token, cast(count(*) as bigint) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         cast((tf.tf * 1000000) // df.df as bigint) AS score_ppm
  FROM tf JOIN df USING (token)
),
ranked AS (
  SELECT doc_id, token, tf, df, score_ppm,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY score_ppm DESC, token) AS rank
  FROM scored
)
SELECT doc_id, rank, token, tf, df, score_ppm FROM ranked
WHERE rank <= {TFIDF_TOP_K} ORDER BY doc_id, rank
"""


# ---------------------------------------------------------------------------
# BM25-flavor retrieval ranking: top-k documents for a fixed query
# term set under an ALL-INTEGER scoring contract (the tfidf precedent,
# one level up):
#
#   avgdl    = total_tokens DIV n_docs          (>= 1)
#   denom_m  = 300 + (900 * dl) DIV avgdl       (k1=1.2, b=0.75,
#                                                milli-units of
#                                                k1*(1-b+b*dl/avgdl))
#   tf_pm    = (tf * 2_200_000) DIV (tf * 1000 + denom_m)
#                                               (permille of the
#                                                (k1+1)-saturating tf
#                                                term, cap 2200)
#   idf_pm   = (1000 * (n_docs - df)) DIV df    (linear idf permille —
#                                                ln() differs in the
#                                                last ulp across libm
#                                                builds and a flipped
#                                                tie fails the hash
#                                                gate)
#   score    = sum over matched terms of idf_pm * tf_pm
#
# Every DIV sits on non-negative int64 operands (portable floor);
# intermediates stay < 2^63 up to ~10^12 documents (idf_pm <= 10^3 *
# n_docs, tf_pm <= 2200). Scale shape: ONE corpus scan — a staged
# projection tokenizes once per row (CollapseProject keeps the stage,
# the ngram_topk precedent) and computes dl + per-query-term tf as
# array sizes (JVM-side, no explode, no (doc,token) shuffle at all);
# the corpus-level stats (n_docs, total_tokens, per-term df) are ONE
# 1-row aggregation broadcast back over the cached narrow base (the
# k-means-scalar pattern — Catalyst would otherwise re-scan the
# corpus per derived frame), and scoring is a pure projection into a
# TakeOrdered. Zero wide shuffles for any corpus size; the per-term
# columns bound the query to explicit term sets (retrieval queries
# are short — a scored term set beyond ~32 terms should explode to
# postings instead).
BM25_QUERY_TERMS = ("hash", "join", "vector")
BM25_TOP_K = 20


def bm25_topk(docs, terms=BM25_QUERY_TERMS, k=BM25_TOP_K):
    """Integer-BM25 core over a (doc_id, text) frame — contract above;
    pinned by a hand-computed truth in tests/test_arithmetic_truths.py
    (oracle shares the formula, so the gate proves agreement only)."""
    toks = docs.select(
        "doc_id", F.split(_norm(F.col("text")), " ").alias("t"))
    t = F.col("t")

    # closure factory, NOT a defaulted second lambda param — a 2-arg
    # lambda is PySpark's (element, index) form and would bind the
    # term to the array index
    def _eq(trm):
        return lambda x: x == F.lit(trm)

    base = toks.select(
        "doc_id", F.size(t).cast("long").alias("dl"),
        *[F.size(F.filter(t, _eq(trm))).cast("long").alias(f"tf{i}")
          for i, trm in enumerate(terms)]).cache()
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").alias("total_tokens"),
        *[F.sum((F.col(f"tf{i}") > 0).cast("long")).alias(f"df{i}")
          for i in range(len(terms))])
    # greatest(df,1): a term absent from the whole corpus has tf=0 in
    # every row, so its zero contribution never reads the guarded DIV
    score_terms = " + ".join(
        f"(if(tf{i} = 0, 0, "
        f"(1000 * (n_docs - df{i})) DIV greatest(df{i}, 1)) "
        f"* ((tf{i} * 2200000) DIV (tf{i} * 1000 + 300 + "
        f"(900 * dl) DIV greatest(total_tokens DIV n_docs, 1))))"
        for i in range(len(terms)))
    n_matched = " + ".join(f"if(tf{i} > 0, 1, 0)"
                           for i in range(len(terms)))
    return (base.crossJoin(F.broadcast(stats))
            .select("doc_id",
                    F.expr(score_terms).cast("long").alias("score"),
                    F.expr(n_matched).cast("long").alias("n_terms"))
            .filter(F.col("n_terms") > 0)
            .orderBy(F.desc("score"), "doc_id").limit(k))


def q_text_bm25_topk(spark, sf_dir):
    """Top-{BM25_TOP_K} documents for the fixed query
    {BM25_QUERY_TERMS} under the integer-BM25 contract above — the
    retrieval primitive behind contamination probes and
    quality-by-retrievability curation."""
    return bm25_topk(_docs(spark, sf_dir))


_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in BM25_QUERY_TERMS)

ORACLE_TEXT_BM25 = f"""
WITH lens AS (
  SELECT doc_id,
         cast(len(string_split({_NORM_SQL}, ' ')) as bigint) AS dl
  FROM documents
),
stats AS (
  SELECT cast(count(*) as bigint) AS n_docs,
         cast(sum(dl) as bigint) AS total_tokens
  FROM lens
),
toks AS (
  SELECT doc_id, unnest(string_split({_NORM_SQL}, ' ')) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, token, cast(count(*) as bigint) AS tf
  FROM toks WHERE token IN ({_BM25_TERMS_SQL})
  GROUP BY doc_id, token
),
dfreq AS (
  SELECT token, cast(count(*) as bigint) AS df FROM tf GROUP BY token
),
scored AS (
  SELECT tf.doc_id,
         (1000 * (s.n_docs - d.df)) // d.df AS idf_pm,
         (tf.tf * 2200000) // (tf.tf * 1000 + 300 +
             (900 * l.dl) // greatest(s.total_tokens // s.n_docs, 1))
           AS tf_pm
  FROM tf JOIN dfreq d USING (token)
          JOIN lens l USING (doc_id), stats s
)
SELECT doc_id, cast(sum(idf_pm * tf_pm) as bigint) AS score,
       cast(count(*) as bigint) AS n_terms
FROM scored GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT {BM25_TOP_K}
"""


# ---------------------------------------------------------------------------
# Corpus-level top-k bigrams by DOCUMENT frequency. Scale shape: one
# scan → per-doc distinct bigram list (bounded by doc length, built
# JVM-side) → explode → count. The bigram-key aggregation gets
# map-side partial combine, so the shuffle carries one row per
# (partition, bigram) — hot stopword bigrams reduce before the wire,
# the classic word-count skew answer. Output is top-k only; the
# orderBy sorts K rows, not the corpus.
NGRAM_TOP_K = 20


def q_corpus_ngram_topk(spark, sf_dir):
    """Top-{NGRAM_TOP_K} word bigrams by document frequency, ties
    broken lexicographically."""
    # staged projection: tokenize ONCE per row (CollapseProject keeps
    # the stage because `t` is expensive and referenced 4×; inlined,
    # the normalize+split tree ran 4× per row — same janino/codegen
    # trap as text_langid, see module notes)
    toks = _docs(spark, sf_dir).select(
        F.split(_norm(F.col("text")), " ").alias("t"))
    t = F.col("t")
    bigrams = F.when(
        F.size(t) >= 2,
        F.array_distinct(F.transform(
            F.sequence(F.lit(0), F.size(t) - 2),
            lambda i: F.concat(F.element_at(t, i + 1), F.lit(" "),
                               F.element_at(t, i + 2))))
    ).otherwise(F.array().cast("array<string>"))
    return (toks.select(F.explode(bigrams).alias("ngram"))
            .groupBy("ngram").agg(F.count(F.lit(1)).alias("df"))
            .orderBy(F.desc("df"), F.asc("ngram"))
            .limit(NGRAM_TOP_K))


ORACLE_CORPUS_NGRAM_TOPK = f"""
WITH toks AS (
  SELECT doc_id, string_split({_NORM_SQL}, ' ') AS t FROM documents
),
bi AS (
  SELECT unnest(list_distinct(list_transform(
           range(1, len(t)), i -> t[i] || ' ' || t[i + 1]))) AS ngram
  FROM toks
)
SELECT ngram, cast(count(*) as bigint) AS df
FROM bi GROUP BY ngram
ORDER BY df DESC, ngram LIMIT {NGRAM_TOP_K}
"""


# ---------------------------------------------------------------------------
# Intra-document repetition stats (the Gopher-rules repetition family,
# Rae et al. 2021 App. A1.1): unlike the cross-document dedup ops,
# these measure how much a document repeats ITSELF — the dominant
# quality signal for machine-generated / template spam that whole-doc
# and near-dup passes cannot see. Three exact integer-ppm signals:
#
#   dup_token_ppm   — (n_tokens - n_distinct) / n_tokens
#   top_bigram_ppm  — tokens covered by the single most frequent
#                     word bigram (count*2 / n_tokens, clamped 1e6)
#   dup_5gram_ppm   — distinct token POSITIONS inside any 5-gram that
#                     occurs >= 2 times in the doc (position-union,
#                     chars counted once, per the Gopher definition)
#
# Scale shape: every groupBy keys on (doc_id) or (doc_id, gram) —
# intra-document, so keys are bounded by single-doc size and uniform;
# partial aggregation combines map-side. The position-explode for the
# 5-gram coverage is x5 the gram count of DUPLICATED grams only.
# `repetitive` (0/1 bigint) applies the documented thresholds.

REP_TOP2_MAX_PPM = 180000   # Gopher: top-2-gram fraction > 0.18 -> drop
REP_DUP5_MAX_PPM = 150000   # Gopher: dup-5-gram char fraction > 0.15
REP_MIN_TOKENS = 20         # ratios are meaningless on tiny docs (a
                            # single bigram in an 8-token doc is 25%);
                            # Gopher applies repetition rules after
                            # its length screens


def _pos_grams(tokcol, n):
    """array of struct(pos, gram) for all n-grams of a token array."""
    return F.transform(
        F.sequence(F.lit(0).cast("long"), (F.size(tokcol) - n).cast("long")),
        lambda i: F.struct(
            i.alias("pos"),
            F.concat_ws(" ", F.slice(tokcol, i + 1, n)).alias("g")))


def q_text_repetition(spark, sf_dir):
    """Gopher-style intra-doc repetition signals, exact integer ppm."""
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.split(_norm(F.col("text")), " ").alias("toks"))
    base = toks.select(
        "doc_id", F.size("toks").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("toks")).cast("long").alias("_nd"))
    big = (toks.filter(F.size("toks") >= 2)
           .select("doc_id",
                   F.explode(_pos_grams(F.col("toks"), 2)).alias("pg"))
           .select("doc_id", F.col("pg.g").alias("g")))
    top2 = (big.groupBy("doc_id", "g").count()
            .groupBy("doc_id").agg(F.max("count").alias("_top2")))
    g5 = (toks.filter(F.size("toks") >= 5)
          .select("doc_id",
                  F.explode(_pos_grams(F.col("toks"), 5)).alias("pg"))
          .select("doc_id", F.col("pg.pos").alias("pos"),
                  F.col("pg.g").alias("g")))
    d5 = (g5.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
          .filter(F.col("c") >= 2).select("doc_id", "g"))
    cov = (g5.join(d5, ["doc_id", "g"])
           .select("doc_id", F.explode(F.sequence(
               F.col("pos"), F.col("pos") + 4)).alias("p"))
           .groupBy("doc_id")
           .agg(F.countDistinct("p").alias("_cov5")))
    n = F.col("n_tokens")
    dup_token = F.floor((n - F.col("_nd")) * F.lit(1000000.0) / n)
    top_bigram = F.least(
        F.lit(1000000).cast("long"),
        F.floor(F.coalesce(F.col("_top2"), F.lit(0)) * 2
                * F.lit(1000000.0) / n).cast("long"))
    dup5 = F.floor(F.coalesce(F.col("_cov5"), F.lit(0))
                   * F.lit(1000000.0) / n)
    return (base.join(top2, "doc_id", "left").join(cov, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                dup_token.cast("long").alias("dup_token_ppm"),
                top_bigram.alias("top_bigram_ppm"),
                dup5.cast("long").alias("dup_5gram_ppm"))
            .withColumn("repetitive", (
                (F.col("n_tokens") >= REP_MIN_TOKENS) &
                ((F.col("top_bigram_ppm") > REP_TOP2_MAX_PPM) |
                 (F.col("dup_5gram_ppm") > REP_DUP5_MAX_PPM)))
                .cast("long"))
            .orderBy("doc_id"))


_TOKS_SQL = f"string_split({_NORM_SQL}, ' ')"
ORACLE_TEXT_REPETITION = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents
),
base AS (
  SELECT doc_id, cast(len(toks) as bigint) AS n_tokens,
         cast(len(list_distinct(toks)) as bigint) AS nd
  FROM toks
),
big AS (
  SELECT doc_id, array_to_string(toks[i+1:i+2], ' ') AS g
  FROM toks, unnest(range(0, len(toks) - 1)) u(i)
  WHERE len(toks) >= 2
),
top2 AS (
  SELECT doc_id, max(c) AS top2 FROM (
    SELECT doc_id, g, count(*) AS c FROM big GROUP BY 1, 2
  ) GROUP BY doc_id
),
g5 AS (
  SELECT doc_id, i AS pos, array_to_string(toks[i+1:i+5], ' ') AS g
  FROM toks, unnest(range(0, len(toks) - 4)) u(i)
  WHERE len(toks) >= 5
),
d5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2 HAVING count(*) >= 2),
cov AS (
  SELECT doc_id, count(distinct p) AS cov5 FROM (
    SELECT x.doc_id, x.pos + j AS p
    FROM g5 x JOIN d5 d ON x.doc_id = d.doc_id AND x.g = d.g,
         unnest(range(0, 5)) v(j)
  ) GROUP BY doc_id
),
ppm AS (
  SELECT b.doc_id, b.n_tokens,
         cast(floor((b.n_tokens - b.nd) * 1000000.0 / b.n_tokens)
              as bigint) AS dup_token_ppm,
         least(cast(1000000 as bigint),
               cast(floor(coalesce(t.top2, 0) * 2 * 1000000.0
                          / b.n_tokens) as bigint)) AS top_bigram_ppm,
         cast(floor(coalesce(c.cov5, 0) * 1000000.0 / b.n_tokens)
              as bigint) AS dup_5gram_ppm
  FROM base b
  LEFT JOIN top2 t ON b.doc_id = t.doc_id
  LEFT JOIN cov c ON b.doc_id = c.doc_id
)
SELECT doc_id, n_tokens, dup_token_ppm, top_bigram_ppm, dup_5gram_ppm,
       cast(CASE WHEN n_tokens >= {REP_MIN_TOKENS}
                  AND (top_bigram_ppm > {REP_TOP2_MAX_PPM}
                       OR dup_5gram_ppm > {REP_DUP5_MAX_PPM})
            THEN 1 ELSE 0 END as bigint) AS repetitive
FROM ppm ORDER BY doc_id
"""


# ---------------------------------------------------------------------------
# corpus profiling: exact nearest-rank token-length percentiles per
# source — the dataset-card statistics a curation pipeline publishes.
# Exactness: percentile = the value at rank ceil(p*n/100) over the
# group sorted by (n_tokens, doc_id) — pure integer rank arithmetic
# ((n*p + 99) div 100), no float interpolation, so DuckDB reproduces
# it bit-for-bit (Spark's percentile()/percentile_approx interpolate
# in float / are approximate — neither is oracle-exact).
# Scale shape: ONE window sort keyed by source + one partial-agg
# groupBy. Few huge groups = the skew ceiling of any EXACT percentile
# (it fundamentally needs a per-group sort); at 100 TB the profiler
# either sub-buckets (source, salt) with a merge of sorted runs, or
# switches to approx_percentile/t-digest — this op is the exact
# small-group profiler and says so.

PCTS = (50, 90, 99)


def length_percentiles(docs):
    from pyspark.sql import Window
    norm = _norm(F.col("text"))
    toks = docs.select("source", "doc_id",
                       F.size(F.split(norm, " ")).alias("n_tokens"))
    w = Window.partitionBy("source").orderBy("n_tokens", "doc_id")
    wn = Window.partitionBy("source")
    ranked = toks.select(
        "source", "n_tokens",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"))
    aggs = [F.max("n").alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens")]
    for p in PCTS:
        aggs.append(F.max(F.when(
            F.col("rn") == F.expr(f"(n * {p} + 99) div 100"),
            F.col("n_tokens"))).alias(f"p{p}_tokens"))
    return ranked.groupBy("source").agg(*aggs)


def q_corpus_length_percentiles(spark, sf_dir):
    return (length_percentiles(_docs(spark, sf_dir))
            .orderBy("source"))


_PCT_COLS_SQL = ",\n       ".join(
    f"cast(max(case when rn = (n * {p} + 99) // 100 then n_tokens end) "
    f"as bigint) AS p{p}_tokens" for p in PCTS)

ORACLE_CORPUS_LENGTH_PCTS = f"""
WITH toks AS (
  SELECT source, doc_id,
         cast(len(string_split({_NORM_SQL}, ' ')) as bigint) AS n_tokens
  FROM documents
),
ranked AS (
  SELECT source, n_tokens,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_tokens, doc_id) AS rn,
         count(*) OVER (PARTITION BY source) AS n
  FROM toks
)
SELECT source,
       cast(max(n) as bigint) AS n_docs,
       cast(min(n_tokens) as bigint) AS min_tokens,
       cast(max(n_tokens) as bigint) AS max_tokens,
       {_PCT_COLS_SQL}
FROM ranked GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# JSONL shard round-trip: documents -> .jsonl part files -> documents,
# byte-exact (sources/jsonl.py). The oracle is the original table —
# the round-trip theorem pattern of kg_nquads_source_roundtrip: any
# escaping or type-widening loss in either direction breaks the hash.

def q_doc_jsonl_roundtrip(spark, sf_dir):
    import tempfile

    from ..sources import read_jsonl, write_jsonl
    d = _docs(spark, sf_dir)
    # unique per call: a fixed /tmp name keyed on the sf_dir basename
    # let two concurrent runs over same-named corpora (parallel pytest
    # + check_oracles, overlapping fuzz seeds) clobber each other
    # mid-read (ADVICE r4)
    path = tempfile.mkdtemp(prefix="jsonld_js_spark_jsonl_")
    write_jsonl(d, path)
    return (read_jsonl(spark, path)
            .select("doc_id", "text", "lang", "source", "n_chars")
            .orderBy("doc_id"))


ORACLE_DOC_JSONL_ROUNDTRIP = """
SELECT doc_id, text, lang, source, n_chars
FROM documents ORDER BY doc_id
"""
