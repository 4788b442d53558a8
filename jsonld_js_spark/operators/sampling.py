"""Deterministic corpus sampling / splitting operators.

Reproducibility is the 100 TB requirement: split membership must be a
pure function of document identity — re-runs, late-arriving shards,
retried tasks, and incremental ingests all land every document in the
same split. `rand()` (or anything seeded per-partition) breaks all of
that, so both operators bucket on the portable 60-bit md5 hash shared
with the DuckDB oracle (CLAUDE.md portability rules).

Scale shape: pure JVM column expressions over one narrow scan — no
shuffle at all except the driver gate's determinism orderBy; the
stratified filter is pushed to the scan. Works identically on one
executor or a thousand because nothing depends on partitioning.
"""
from __future__ import annotations

from pyspark.sql import functions as F

from .textstats import _docs, hash60, hash60_sql

# hash buckets are per-mille; salts decorrelate the two operators
SPLIT_SALT = "split:"
SAMPLE_SALT = "sample:"
TRAIN_LT, VAL_LT = 900, 950  # train < 900 <= val < 950 <= test

# stratified per-mille keep rates: downsample the dominant language,
# keep the tail (the standard rebalancing move for training corpora)
SAMPLE_RATES = {"en": 250, "de": 800, "fr": 800, "es": 800, "zh": 800}
SAMPLE_DEFAULT = 1000  # unknown languages kept whole


def _bucket(salt: str):
    return F.pmod(
        hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string"))),
        F.lit(1000))


def _bucket_sql(salt: str) -> str:
    return (hash60_sql(f"'{salt}' || cast(doc_id as varchar)")
            + " % 1000")


def q_corpus_split(spark, sf_dir):
    """Deterministic train/val/test assignment (90/5/5) keyed on the
    salted portable hash of doc_id."""
    b = _bucket(SPLIT_SALT)
    return (_docs(spark, sf_dir)
            .select("doc_id", b.alias("bucket"),
                    F.when(b < TRAIN_LT, "train")
                     .when(b < VAL_LT, "val")
                     .otherwise("test").alias("split"))
            .orderBy("doc_id"))


ORACLE_CORPUS_SPLIT = f"""
SELECT doc_id,
       {_bucket_sql(SPLIT_SALT)} AS bucket,
       CASE WHEN {_bucket_sql(SPLIT_SALT)} < {TRAIN_LT} THEN 'train'
            WHEN {_bucket_sql(SPLIT_SALT)} < {VAL_LT} THEN 'val'
            ELSE 'test' END AS split
FROM documents ORDER BY doc_id
"""


def _rate_expr():
    expr = F.lit(SAMPLE_DEFAULT)
    for lang, rate in SAMPLE_RATES.items():
        expr = F.when(F.col("lang") == lang, F.lit(rate)).otherwise(expr)
    return expr


def q_corpus_sample_stratified(spark, sf_dir):
    """Deterministic stratified downsample: per-language keep rates
    (per-mille) applied by salted-hash bucket, so the sample is stable
    under re-runs and incremental ingest."""
    b = _bucket(SAMPLE_SALT)
    return (_docs(spark, sf_dir)
            .select("doc_id", "lang", b.alias("bucket"),
                    _rate_expr().alias("keep_rate"))
            .filter(F.col("bucket") < F.col("keep_rate"))
            .orderBy("doc_id"))


_RATE_SQL = ("CASE lang "
             + " ".join(f"WHEN '{lang}' THEN {rate}"
                        for lang, rate in SAMPLE_RATES.items())
             + f" ELSE {SAMPLE_DEFAULT} END")

ORACLE_CORPUS_SAMPLE = f"""
SELECT doc_id, lang,
       {_bucket_sql(SAMPLE_SALT)} AS bucket,
       {_RATE_SQL} AS keep_rate
FROM documents
WHERE {_bucket_sql(SAMPLE_SALT)} < {_RATE_SQL}
ORDER BY doc_id
"""

# ---------------------------------------------------------------------------
# Domain-mixture sampling: the standard "data mix" step of a training
# pipeline — given target mixture weights per domain (per-mille, sum
# 1000) and the observed per-domain token supply, compute the largest
# no-upsampling corpus whose token composition matches the weights,
# then sample each domain toward its allocation with the same
# deterministic salted-hash bucketing as the other sampling ops.
#
#   budget  = min_d( T_d * 1000 DIV w_d )       (bottleneck domain)
#   alloc_d = budget * w_d DIV 1000             (<= T_d by construction)
#   keep_pm = alloc_d * 1000 DIV T_d            (per-mille doc keep rate)
#
# All int64, floor division on non-negative operands only (CLAUDE.md
# portability rules; per-MILLE weights keep T_d * 1000 inside int64 up
# to ~9e15 tokens — at larger corpora switch the constant, not the
# design). Domains present in the weights but absent from the corpus
# are out of scope by the inner join (a zero-supply domain would pin
# the budget to 0; callers wanting upsampling/epochs > 1.0 relax the
# min to a quantile and report epochs — documented extension).
#
# Scale shape: per-domain supply is one map-side-combined groupBy over
# a 3-column pruned scan (|domains| rows out); the budget is a 1-row
# aggregation of THAT (driver-scale, like the k-means centroid state,
# kept lazy via crossJoin-broadcast); the plan broadcasts back onto
# the corpus for the kept-side aggregation. The corpus itself never
# shuffles — both passes are partial-agg scans.

MIX_SALT = "mix:"
MIX_WEIGHTS = {"en": 700, "de": 75, "fr": 75, "es": 75, "zh": 75}


def domain_mix_plan(docs, weights=None, domain_col: str = "lang",
                    salt: str = MIX_SALT):
    """(doc_id, <domain_col>, n_tokens) DataFrame -> per-domain plan
    (domain, n_docs, n_tokens, weight_pm, alloc_tokens, keep_pm,
    kept_docs, kept_tokens)."""
    weights = weights or MIX_WEIGHTS
    d = (docs.filter(F.col(domain_col).isin(*weights.keys()))
         .select(F.col(domain_col).alias("domain"), "doc_id",
                 F.col("n_tokens").cast("long").alias("n_tokens")))
    # The plan is <= |domains| rows — driver-scale state, collected
    # like the k-means centroids (similarity.py). Keeping it lazy as
    # crossJoin(broadcast(...)) chains is WRONG here: Catalyst does
    # not dedupe the supply subplan across the budget scalar, the
    # keep_pm broadcast, and the final join, so the corpus was
    # scanned+tokenized ~8x (measured 13 s vs 2.6 s at 400k docs).
    # With the literal plan the query is exactly two partial-agg
    # corpus scans: supply and kept.
    supply = {r["domain"]: (r["n_docs"], r["n_tokens"]) for r in
              d.groupBy("domain")
              .agg(F.count("*").alias("n_docs"),
                   F.sum("n_tokens").alias("n_tokens")).collect()}
    schema = ("domain string, n_docs long, n_tokens long, "
              "weight_pm long, alloc_tokens long, keep_pm long")
    spark = docs.sparkSession
    # a domain whose token supply is 0 (possible under BPE counts —
    # every doc may lack [a-z] words) can neither anchor the budget
    # nor receive an allocation: drop it from the plan (its keep rate
    # is undefined, 0/0)
    supply = {dom: (nd, t) for dom, (nd, t) in supply.items() if t > 0}
    if not supply:
        plan_rows = []
    else:
        budget = min(t * 1000 // weights[dom]
                     for dom, (_, t) in supply.items())
        plan_rows = []
        for dom, (nd, t) in sorted(supply.items()):
            alloc = budget * weights[dom] // 1000
            plan_rows.append((dom, nd, t, weights[dom], alloc,
                              alloc * 1000 // t))
    plan = spark.createDataFrame(plan_rows, schema)
    b = F.pmod(hash60(F.concat(F.lit(salt),
                               F.col("doc_id").cast("string"))),
               F.lit(1000))
    kept = (d.join(F.broadcast(plan.select("domain", "keep_pm")),
                   "domain")
            .filter(b < F.col("keep_pm"))
            .groupBy("domain")
            .agg(F.count("*").alias("kept_docs"),
                 F.sum("n_tokens").alias("kept_tokens")))
    return (plan.join(kept, "domain", "left")
            .select("domain", "n_docs", "n_tokens", "weight_pm",
                    "alloc_tokens", "keep_pm",
                    F.coalesce("kept_docs", F.lit(0)).cast("long")
                    .alias("kept_docs"),
                    F.coalesce("kept_tokens", F.lit(0)).cast("long")
                    .alias("kept_tokens")))


def q_corpus_domain_mix(spark, sf_dir):
    """Language-domain mixture plan over the documents table with the
    MIX_WEIGHTS targets (en-dominant 70/7.5×4 mix): en is the
    bottleneck supply, so its keep_pm is ~1000 and every tail language
    is downsampled toward its target share."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.size(F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                        r"\s+", " "), " "))
        .alias("n_tokens"))
    return domain_mix_plan(d).orderBy("domain")


_MIX_W_SQL = ("CASE lang "
              + " ".join(f"WHEN '{dom}' THEN {pm}"
                         for dom, pm in MIX_WEIGHTS.items())
              + " END")
_MIX_LANGS_SQL = ", ".join(f"'{k}'" for k in MIX_WEIGHTS)
_MIX_NTOK_SQL = ("len(string_split(regexp_replace(lower(trim(text)), "
                 "'\\s+', ' ', 'g'), ' '))")
_MIX_BUCKET_SQL = (hash60_sql("'" + MIX_SALT + "' || cast(doc_id as varchar)")
                   + " % 1000")

ORACLE_CORPUS_DOMAIN_MIX = f"""
WITH d AS (
  SELECT lang AS domain, doc_id, {_MIX_BUCKET_SQL} AS bucket,
         cast({_MIX_NTOK_SQL} as bigint) AS n_tokens,
         {_MIX_W_SQL} AS weight_pm
  FROM documents WHERE lang IN ({_MIX_LANGS_SQL})
),
supply AS (
  SELECT domain, cast(count(*) as bigint) AS n_docs,
         cast(sum(n_tokens) as bigint) AS n_tokens,
         min(weight_pm) AS weight_pm
  FROM d GROUP BY 1
  HAVING sum(n_tokens) > 0
),
b AS (SELECT min(n_tokens * 1000 // weight_pm) AS budget FROM supply),
plan AS (
  SELECT s.domain, s.n_docs, s.n_tokens, s.weight_pm,
         (SELECT budget FROM b) * s.weight_pm // 1000 AS alloc_tokens,
         ((SELECT budget FROM b) * s.weight_pm // 1000) * 1000
           // s.n_tokens AS keep_pm
  FROM supply s
),
kept AS (
  SELECT d.domain, cast(count(*) as bigint) AS kept_docs,
         cast(sum(d.n_tokens) as bigint) AS kept_tokens
  FROM d JOIN plan p ON d.domain = p.domain
  WHERE d.bucket < p.keep_pm GROUP BY 1
)
SELECT p.domain, p.n_docs, p.n_tokens, p.weight_pm, p.alloc_tokens,
       p.keep_pm,
       cast(coalesce(k.kept_docs, 0) as bigint) AS kept_docs,
       cast(coalesce(k.kept_tokens, 0) as bigint) AS kept_tokens
FROM plan p LEFT JOIN kept k ON p.domain = k.domain
ORDER BY p.domain
"""

# ---------------------------------------------------------------------------
# Mixture UPSAMPLING: the epochs counterpart of `domain_mix_plan`.
# Where domain_mix computes the largest no-upsampling corpus matching
# the weights, this rebalances to the weights at a caller-chosen
# TARGET token total — scarce domains run > 1 epoch (docs repeat),
# abundant domains < 1 (hash-sampled), exactly the LLaMA-style "data
# mix with per-source epochs". Per-domain:
#
#   alloc_d    = target * w_d DIV 1000
#   epochs_pm  = alloc_d * 1000 DIV T_d        (per-mille, may be >1000)
#   n_copies(doc) = epochs_pm DIV 1000
#                 + (1 if bucket(salt, doc_id) < epochs_pm % 1000)
#
# so E[tokens emitted for d] = alloc_d exactly, every decision a pure
# int64 function of (domain supply, doc_id) — re-run/ingest stable,
# reproducible on any partitioning. Default target = the observed
# total token mass ("rebalance at constant size": dominant domains
# dip below 1 epoch, tails rise above it).

UPSAMPLE_SALT = "mixup:"


def mix_upsample_plan(docs, weights=None, domain_col: str = "lang",
                      target_tokens: int | None = None,
                      salt: str = UPSAMPLE_SALT):
    """(doc_id, <domain_col>, n_tokens) -> per-doc copy counts
    (doc_id, domain, n_tokens, epochs_pm, n_copies), n_copies >= 0."""
    weights = weights or MIX_WEIGHTS
    d = (docs.filter(F.col(domain_col).isin(*weights.keys()))
         .select(F.col(domain_col).alias("domain"), "doc_id",
                 F.col("n_tokens").cast("long").alias("n_tokens")))
    supply = {r["domain"]: r["t"] for r in
              d.groupBy("domain").agg(F.sum("n_tokens").alias("t"))
              .collect()}
    # zero-supply domains (possible under BPE counts) have undefined
    # epochs (0/0) — dropped, like domain_mix_plan
    supply = {dom: t for dom, t in supply.items() if t > 0}
    spark = docs.sparkSession
    target = (target_tokens if target_tokens is not None
              else sum(supply.values()))
    plan_rows = []
    for dom, t in sorted(supply.items()):
        alloc = target * weights[dom] // 1000
        plan_rows.append((dom, alloc * 1000 // t))
    plan = spark.createDataFrame(plan_rows,
                                 "domain string, epochs_pm long")
    b = F.pmod(hash60(F.concat(F.lit(salt),
                               F.col("doc_id").cast("string"))),
               F.lit(1000))
    return (d.join(F.broadcast(plan), "domain")
            .select("doc_id", "domain", "n_tokens", "epochs_pm",
                    (F.expr("epochs_pm DIV 1000")
                     + (b < F.col("epochs_pm") % 1000).cast("long"))
                    .alias("n_copies")))


def q_corpus_mix_upsample(spark, sf_dir):
    """Rebalance the documents corpus to MIX_WEIGHTS at constant total
    token mass: en (dominant supply, weight 700) runs slightly over
    one epoch; each tail language runs under one. Every doc row
    reports its exact integer copy count."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "lang",
        F.size(F.split(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                        r"\s+", " "), " "))
        .alias("n_tokens"))
    return mix_upsample_plan(d).orderBy("doc_id")


_UP_BUCKET_SQL = (hash60_sql("'" + UPSAMPLE_SALT
                             + "' || cast(doc_id as varchar)") + " % 1000")

ORACLE_CORPUS_MIX_UPSAMPLE = f"""
WITH d AS (
  SELECT lang AS domain, doc_id,
         cast({_MIX_NTOK_SQL} as bigint) AS n_tokens,
         {_MIX_W_SQL} AS weight_pm,
         {_UP_BUCKET_SQL} AS bucket
  FROM documents WHERE lang IN ({_MIX_LANGS_SQL})
),
supply AS (
  SELECT domain, cast(sum(n_tokens) as bigint) AS t,
         min(weight_pm) AS weight_pm
  FROM d GROUP BY 1
  HAVING sum(n_tokens) > 0
),
tgt AS (SELECT cast(sum(t) as bigint) AS target FROM supply),
plan AS (
  SELECT s.domain,
         ((SELECT target FROM tgt) * s.weight_pm // 1000) * 1000 // s.t
           AS epochs_pm
  FROM supply s
)
SELECT d.doc_id, d.domain, d.n_tokens, p.epochs_pm,
       p.epochs_pm // 1000
         + CASE WHEN d.bucket < p.epochs_pm % 1000 THEN 1 ELSE 0 END
         AS n_copies
FROM d JOIN plan p ON d.domain = p.domain
ORDER BY d.doc_id
"""

def q_corpus_mix_upsample_bpe(spark, sf_dir):
    """Per-domain epoch counts with token mass in BPE tokens — the
    upsampling half of tokenizer-true mixing (copy counts, like
    budgets and allocations, denominated in what the trainer
    consumes)."""
    from .bpe import bpe_merges, bpe_tokenize_counts_scale
    d = _docs(spark, sf_dir)
    rules = [tuple(r) for r in bpe_merges(d).collect()]
    counts = bpe_tokenize_counts_scale(d, rules)
    keyed = (d.select("doc_id", "lang").join(counts, "doc_id")
             .select("doc_id", "lang",
                     F.col("n_bpe_tokens").alias("n_tokens")))
    return mix_upsample_plan(keyed).orderBy("doc_id")


def oracle_mix_upsample_bpe() -> str:
    from .bpe import oracle_vocab_bpe_tokenize
    return f"""
WITH bpe AS MATERIALIZED ({oracle_vocab_bpe_tokenize()}),
d AS MATERIALIZED (
  SELECT doc.lang AS domain, doc.doc_id,
         bp.n_bpe_tokens AS n_tokens,
         {_MIX_W_SQL.replace("CASE lang", "CASE doc.lang")} AS weight_pm,
         {hash60_sql("'" + UPSAMPLE_SALT +
                     "' || cast(doc.doc_id as varchar)")} % 1000 AS bucket
  FROM documents doc JOIN bpe bp ON doc.doc_id = bp.doc_id
  WHERE doc.lang IN ({_MIX_LANGS_SQL})
),
supply AS (
  SELECT domain, cast(sum(n_tokens) as bigint) AS t,
         min(weight_pm) AS weight_pm
  FROM d GROUP BY 1
  HAVING sum(n_tokens) > 0
),
tgt AS (SELECT cast(sum(t) as bigint) AS target FROM supply),
plan AS (
  SELECT s.domain,
         ((SELECT target FROM tgt) * s.weight_pm // 1000) * 1000 // s.t
           AS epochs_pm
  FROM supply s
)
SELECT d.doc_id, d.domain, d.n_tokens, p.epochs_pm,
       p.epochs_pm // 1000
         + CASE WHEN d.bucket < p.epochs_pm % 1000 THEN 1 ELSE 0 END
         AS n_copies
FROM d JOIN plan p ON d.domain = p.domain
ORDER BY d.doc_id
"""


def q_corpus_domain_mix_bpe(spark, sf_dir):
    """Domain-mixture plan with token mass in BPE tokens (the
    tokenizer-true variant — with pack/budget this completes the
    trio: packing, budgets and mixing all denominated in what the
    trainer consumes). Same two-scan plan; the counts join on doc_id
    is the tokenizer pass."""
    from .bpe import bpe_merges, bpe_tokenize_counts_scale
    d = _docs(spark, sf_dir)
    rules = [tuple(r) for r in bpe_merges(d).collect()]
    counts = bpe_tokenize_counts_scale(d, rules)
    keyed = (d.select("doc_id", "lang").join(counts, "doc_id")
             .select("doc_id", "lang",
                     F.col("n_bpe_tokens").alias("n_tokens")))
    return domain_mix_plan(keyed).orderBy("domain")


def oracle_domain_mix_bpe() -> str:
    from .bpe import oracle_vocab_bpe_tokenize
    # d is referenced twice (supply + kept); without MATERIALIZED,
    # DuckDB inlines the whole correlated BPE chain into both and the
    # per-doc scalar subquery goes quadratic (observed: minutes at
    # 500 docs vs ~10 s single-reference)
    return f"""
WITH bpe AS MATERIALIZED ({oracle_vocab_bpe_tokenize()}),
d AS MATERIALIZED (
  SELECT doc.lang AS domain, doc.doc_id,
         {hash60_sql("'" + MIX_SALT + "' || cast(doc.doc_id as varchar)")}
           % 1000 AS bucket,
         bp.n_bpe_tokens AS n_tokens,
         {_MIX_W_SQL.replace("CASE lang", "CASE doc.lang")} AS weight_pm
  FROM documents doc JOIN bpe bp ON doc.doc_id = bp.doc_id
  WHERE doc.lang IN ({_MIX_LANGS_SQL})
),
supply AS (
  SELECT domain, cast(count(*) as bigint) AS n_docs,
         cast(sum(n_tokens) as bigint) AS n_tokens,
         min(weight_pm) AS weight_pm
  FROM d GROUP BY 1
  HAVING sum(n_tokens) > 0
),
b AS (SELECT min(n_tokens * 1000 // weight_pm) AS budget FROM supply),
plan AS (
  SELECT s.domain, s.n_docs, s.n_tokens, s.weight_pm,
         (SELECT budget FROM b) * s.weight_pm // 1000 AS alloc_tokens,
         ((SELECT budget FROM b) * s.weight_pm // 1000) * 1000
           // s.n_tokens AS keep_pm
  FROM supply s
),
kept AS (
  SELECT d.domain, cast(count(*) as bigint) AS kept_docs,
         cast(sum(d.n_tokens) as bigint) AS kept_tokens
  FROM d JOIN plan p ON d.domain = p.domain
  WHERE d.bucket < p.keep_pm GROUP BY 1
)
SELECT p.domain, p.n_docs, p.n_tokens, p.weight_pm, p.alloc_tokens,
       p.keep_pm,
       cast(coalesce(k.kept_docs, 0) as bigint) AS kept_docs,
       cast(coalesce(k.kept_tokens, 0) as bigint) AS kept_tokens
FROM plan p LEFT JOIN kept k ON p.domain = k.domain
ORDER BY p.domain
"""


# ---------------------------------------------------------------------------
# deterministic weighted priority sampling (Duffield/Lund/Thorup-style
# priority sample, integer-portable variant): pick the K docs per
# language with the smallest priority = hash60(salted doc_id) DIV w,
# w = the doc's size. P(priority < t) ~= t*w / 2^60, so inclusion
# probability scales with weight — "sample by bytes, not by docs", the
# sample every curation dashboard and eval-slice builder actually
# wants (uniform-by-doc oversamples tiny docs). Determinism is the
# same 100 TB argument as corpus_split: membership is a pure function
# of doc identity, so retries / re-ingests / incremental shards agree.
#
# Portability: priority is pure integer arithmetic — hash60 is
# non-negative and w >= 1, so Spark's truncate-toward-zero DIV and
# DuckDB's floor // agree (the CLAUDE.md bucketing rule); ties break
# on doc_id. No float ever touches the selection boundary.
#
# Scale shape: one narrow scan + one window partitioned by lang (a
# bounded, known group set). The window's per-group sort is the gate
# formulation; at 100 TB swap the window for the two-phase top-K
# (per-partition partial top-K, then re-agg — TakeOrderedAndProject's
# shape) which never materializes a per-language global sort.

WSAMPLE_SALT = "wsample:"
WSAMPLE_K = 25               # survivors per language


def q_corpus_sample_weighted(spark, sf_dir):
    """Gated query: the K = {WSAMPLE_K} size-weighted priority
    survivors per language, with their integer priorities."""
    from pyspark.sql import Window
    d = _docs(spark, sf_dir)
    w = F.greatest(F.lit(1), F.col("n_chars"))
    h = hash60(F.concat(F.lit(WSAMPLE_SALT),
                        F.col("doc_id").cast("string")))
    scored = (d.select("doc_id", "lang", w.alias("w"), h.alias("h"))
              .select("doc_id", "lang", "w",
                      F.expr("h DIV w").alias("priority")))
    win = Window.partitionBy("lang").orderBy("priority", "doc_id")
    return (scored
            .withColumn("rn", F.row_number().over(win))
            .filter(F.col("rn") <= WSAMPLE_K)
            .select("doc_id", "lang", "w", "priority")
            .orderBy("lang", "priority", "doc_id"))


ORACLE_CORPUS_SAMPLE_WEIGHTED = f"""
WITH scored AS (
  SELECT doc_id, lang, greatest(1, n_chars) AS w,
         {hash60_sql(f"'{WSAMPLE_SALT}' || cast(doc_id as varchar)")}
           // greatest(1, n_chars) AS priority
  FROM documents
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY lang
                               ORDER BY priority, doc_id) AS rn
  FROM scored
)
SELECT doc_id, lang, cast(w as bigint) AS w,
       cast(priority as bigint) AS priority
FROM ranked WHERE rn <= {WSAMPLE_K}
ORDER BY lang, priority, doc_id
"""
