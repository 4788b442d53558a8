"""Distributed cardinality sketches: a portable HyperLogLog register
table plus its driver-side estimator and shard merge.

Exact count-distinct is the canonical scale bomb: every key must
shuffle once (the groupBy(key) hiding under distinct()), so counting
distinct postings over a 10^12-turn corpus moves the entire key set
across the network. The HLL register table is the scale path: ONE
corpus scan, a map-side partial max into m = 2^p buckets, and a fixed
m-row result that merges across shards / days / incremental ingests
by elementwise register max — history never re-scanned. Duplicates
never need pre-collapsing either (max is idempotent), so there is no
distinct() anywhere in the plan.

Portability: register construction is pure integer arithmetic on the
shared portable 60-bit md5-prefix hash (textstats.hash60): bucket =
top p bits via DIV (operands non-negative — hash60 ∈ [0, 2^60) — so
Spark's truncate-toward-zero and DuckDB's floor agree, per the
CLAUDE.md bucketing rule), and rho = leading-zero rank of the low
(60-p) bits via length(bin(w)) — both engines print minimal-width
binary with bin(0) = '0'. The DuckDB oracle therefore reproduces the
register TABLE bit-for-bit and the driver gate covers the whole
sketch construction.

The ESTIMATOR is a few float ops over the m collected register rows
(driver-side scalar state, the k-means-centroid pattern — never data)
and is judged in pytest against exact distinct counts: an equality
gate cannot grade an approximation (the planted-truth lesson,
BENCH/SOAK_DEDUP_r3.md). Formulation: Flajolet et al. 2007 raw
estimator with the standard small-range linear-counting correction.
"""
from __future__ import annotations

import math

from pyspark.sql import functions as F

from .textstats import _NORM_SQL, hash60, hash60_sql

HLL_P = 10                   # 2^10 = 1024 registers
HLL_M = 1 << HLL_P           # relative error ~ 1.04/sqrt(m) = 3.25%
HLL_W_BITS = 60 - HLL_P      # low bits that feed the leading-zero rank
_W_MOD = 1 << HLL_W_BITS     # 2^50
_RHO_MAX = HLL_W_BITS + 1    # rho when the low bits are all zero


def hll_registers(items, item_col: str = "item"):
    """DataFrame with a string `item_col` -> the (bucket, max_rho)
    register table (≤ m rows; empty buckets are absent and the
    estimator accounts for them). One narrow projection + one
    1024-group partial-combined aggregation — the whole sketch."""
    h = hash60(F.col(item_col))
    d = items.select(h.alias("h"))
    bucket = F.expr(f"h DIV {_W_MOD}")
    w = F.col("h") % F.lit(_W_MOD)
    rho = (F.when(w == F.lit(0), F.lit(_RHO_MAX))
           .otherwise(F.lit(_RHO_MAX) - F.length(F.bin(w))))
    return (d.select(bucket.alias("bucket"),
                     rho.cast("long").alias("rho"))
            .groupBy("bucket")
            .agg(F.max("rho").alias("max_rho")))


def hll_registers_by(items, group_col: str, item_col: str = "item"):
    """Grouped register tables: one HLL per value of `group_col` in a
    single pass — the \"distinct X per group\" shape (per-source
    vocabulary, per-day users) whose exact form is the worst shuffle
    in analytics (groupBy(group, key) over EVERY key). Output is
    <= |groups| * m rows keyed (group, bucket); merge across shards
    with a (group, bucket) max. Skew-immune by construction: a group
    with 10^9 distinct keys still contributes at most m rows past the
    map-side combiner."""
    h = hash60(F.col(item_col))
    d = items.select(F.col(group_col), h.alias("h"))
    bucket = F.expr(f"h DIV {_W_MOD}")
    w = F.col("h") % F.lit(_W_MOD)
    rho = (F.when(w == F.lit(0), F.lit(_RHO_MAX))
           .otherwise(F.lit(_RHO_MAX) - F.length(F.bin(w))))
    return (d.select(group_col, bucket.alias("bucket"),
                     rho.cast("long").alias("rho"))
            .groupBy(group_col, "bucket")
            .agg(F.max("rho").alias("max_rho")))


def hll_merge(*register_dfs):
    """Merge shard register tables: elementwise max per bucket. The
    union is m rows per shard — merging a year of daily sketches is a
    few MB, not a re-scan."""
    out = register_dfs[0]
    for r in register_dfs[1:]:
        out = out.unionAll(r)
    return out.groupBy("bucket").agg(F.max("max_rho").alias("max_rho"))


def hll_estimate(register_rows, m: int = HLL_M) -> int:
    """Collected (bucket, max_rho) rows -> estimated cardinality.
    Raw HLL harmonic-mean estimator; linear counting below 2.5m when
    empty registers remain (the HLL++ small-range correction)."""
    regs = {r["bucket"]: r["max_rho"] for r in register_rows}
    n_zero = m - len(regs)
    z = float(n_zero) + sum(2.0 ** -rho for rho in regs.values())
    alpha = 0.7213 / (1.0 + 1.079 / m)
    est = alpha * m * m / z
    if est <= 2.5 * m and n_zero > 0:
        est = m * math.log(m / n_zero)
    return int(est)


def q_sketch_hll_postings(spark, sf_dir):
    """Gated query: the HLL register table for the corpus's distinct
    (doc_id, token) postings — the statistic that sizes a TF-IDF /
    inverted-index build. No distinct(), no key shuffle: one scan,
    one explode, 1024 groups."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = (d.select(F.col("doc_id"), F.explode(F.split(norm, " "))
                      .alias("tok"))
             .select(F.concat_ws(":", F.col("doc_id"), F.col("tok"))
                     .alias("item")))
    return hll_registers(items).orderBy("bucket")


ORACLE_SKETCH_HLL = f"""
WITH items AS (
  SELECT doc_id || ':' || unnest(string_split({_NORM_SQL}, ' ')) AS item
  FROM documents
),
h AS (SELECT {hash60_sql('item')} AS h FROM items)
SELECT h // {_W_MOD} AS bucket,
       cast(max(CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX}
                     ELSE {_RHO_MAX} - length(bin(h % {_W_MOD})) END)
            as bigint) AS max_rho
FROM h GROUP BY bucket ORDER BY bucket
"""


def q_sketch_hll_by_source(spark, sf_dir):
    """Gated query: per-source distinct-TOKEN registers (per-source
    vocabulary size) — one pass, <= |sources| * m rows, immune to a
    source with a giant vocabulary (the skewed-group count-distinct
    that melts the exact plan)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = d.select(F.col("source"),
                     F.explode(F.split(norm, " ")).alias("item"))
    return (hll_registers_by(items, "source")
            .orderBy("source", "bucket"))


ORACLE_SKETCH_HLL_BY_SOURCE = f"""
WITH items AS (
  SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS item
  FROM documents
),
h AS (SELECT source, {hash60_sql('item')} AS h FROM items)
SELECT source, h // {_W_MOD} AS bucket,
       cast(max(CASE WHEN h % {_W_MOD} = 0 THEN {_RHO_MAX}
                     ELSE {_RHO_MAX} - length(bin(h % {_W_MOD})) END)
            as bigint) AS max_rho
FROM h GROUP BY source, bucket ORDER BY source, bucket
"""


# ---------------------------------------------------------------------------
# Count-Min: the mergeable FREQUENCY sketch (HLL answers "how many
# distinct", CM answers "how often is X") — d independent hash rows of
# w counters; est(x) = min over rows of the counter x hashes to, which
# is >= the true count always and <= true + (e/w)*N w.h.p. Same scale
# argument as HLL: the exact answer is a full key shuffle, the sketch
# is one scan + a partial-combined d*w-group aggregation, and daily
# tables merge by cellwise SUM. Row seeds are string prefixes into the
# same portable hash, cells via % on non-negative operands — the
# DuckDB oracle reproduces the counter table bit-for-bit.

CM_D = 4                     # hash rows: P(overshoot) ~ e^-d per query
CM_W = 1024                  # counters/row: overshoot <= (e/w)*N w.h.p.


def countmin_table(items, item_col: str = "item",
                   d: int = CM_D, w: int = CM_W):
    """DataFrame with a string `item_col` -> the (r, cell, cnt)
    Count-Min counter table (<= d*w rows; absent cells are zero).
    The d-way expansion collapses in the map-side combiner — at most
    d*w groups ever cross the exchange."""
    cells = F.array(*[
        F.struct(
            F.lit(i).cast("long").alias("r"),
            (hash60(F.concat_ws(":", F.lit(str(i)), F.col(item_col)))
             % F.lit(w)).alias("cell"))
        for i in range(d)])
    return (items.select(F.explode(cells).alias("rc"))
            .groupBy(F.col("rc.r").alias("r"),
                     F.col("rc.cell").alias("cell"))
            .agg(F.count("*").alias("cnt")))


def countmin_merge(*tables):
    """Merge shard counter tables: cellwise sum (the sketch is a
    linear projection of the count vector, so shards add)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionAll(t)
    return (out.groupBy("r", "cell").agg(F.sum("cnt").alias("cnt")))


def countmin_estimate(table_rows, item: str,
                      d: int = CM_D, w: int = CM_W) -> int:
    """Collected (r, cell, cnt) rows -> frequency estimate for `item`:
    min over the d counters it hashes to (>= truth, one-sided)."""
    import hashlib
    t = {(r["r"], r["cell"]): r["cnt"] for r in table_rows}
    est = None
    for i in range(d):
        h = int(hashlib.md5(f"{i}:{item}".encode()).hexdigest()[:15],
                16) % w
        c = t.get((i, h), 0)
        est = c if est is None else min(est, c)
    return int(est)


def q_sketch_countmin_tokens(spark, sf_dir):
    """Gated query: the Count-Min counter table over the corpus token
    stream — the mergeable per-token frequency surface a streaming
    vocabulary/stopword monitor consumes. One scan, one explode, d*w
    groups; no per-token key shuffle."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = docs.select(F.explode(F.split(norm, " ")).alias("item"))
    return countmin_table(items).orderBy("r", "cell")


ORACLE_SKETCH_COUNTMIN = f"""
WITH items AS (
  SELECT unnest(string_split({_NORM_SQL}, ' ')) AS item FROM documents
),
cells AS (
  {" UNION ALL ".join(
      f"SELECT cast({i} as bigint) AS r, "
      f"{hash60_sql(chr(39) + str(i) + ':' + chr(39) + ' || item')} "
      f"% {CM_W} AS cell FROM items"
      for i in range(CM_D))}
)
SELECT r, cell, cast(count(*) as bigint) AS cnt
FROM cells GROUP BY r, cell ORDER BY r, cell
"""


# ---------------------------------------------------------------------------
# Log-linear quantile histogram (HDR-histogram bucketing): the
# mergeable DISTRIBUTION sketch that completes the family (HLL =
# distinct, CM = frequency). corpus_length_percentiles is exact but
# fundamentally needs a per-group sort (its PLANS.md note defers the
# 100 TB profiler to a sketch — this is that sketch): values 0..15
# get exact buckets, larger values 16 linear sub-buckets per power of
# two, so relative error <= 2^-4 = 6.25% with <= ~900 buckets total
# for the full int64 range. One scan + a <=900-group partial-combined
# agg — no sort, no key shuffle; shards/days merge by cellwise sum.
# Bucketing is pure integer arithmetic (bit length via length(bin(n)),
# top-5-bits via DIV by a shifted 1 — operands non-negative) so the
# DuckDB oracle reproduces the bucket TABLE bit-for-bit; the quantile
# ESTIMATOR is a driver-side walk over the collected rows, judged in
# pytest against exact percentiles with the provable error bound
# (est <= v and v - est <= v/16).

QH_SUB_BITS = 4
QH_LIN = 1 << QH_SUB_BITS    # 16 sub-buckets per octave

_QH_BUCKET_SPARK = (
    "CASE WHEN n < 16 THEN n ELSE (length(bin(n)) - 5) * 16 + "
    "(n DIV shiftleft(cast(1 as bigint), "
    "cast(length(bin(n)) - 5 as int))) END")
_QH_BUCKET_DUCK = (
    "CASE WHEN n < 16 THEN n ELSE (length(bin(n)) - 5) * 16 + "
    "(n // (cast(1 as bigint) << (length(bin(n)) - 5))) END")


def qhist_table(values, value_col: str = "n"):
    """DataFrame with a non-negative bigint `value_col` -> the
    (bucket, cnt) log-linear histogram. For n in [2^k, 2^(k+1)) the
    bucket keeps the top 5 bits (sub in [16,31]), giving
    bucket = (k-4)*16 + sub — contiguous and monotone in n, so rank
    order is preserved exactly and a quantile walk lands in the true
    element's bucket."""
    d = values.select(F.col(value_col).cast("long").alias("n"))
    return (d.select(F.expr(_QH_BUCKET_SPARK).alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("cnt")))


def qhist_merge(*tables):
    """Merge shard histograms: cellwise sum (linear in the counts)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionAll(t)
    return out.groupBy("bucket").agg(F.sum("cnt").alias("cnt"))


def qhist_lower(bucket: int) -> int:
    """Inclusive lower bound of a bucket's value range: octave
    o = max(0, bucket div 16 - 1), sub = bucket - o*16, lb = sub<<o.
    For bucket < 32 this degenerates to lb = bucket (exact)."""
    o = max(0, bucket // QH_LIN - 1)
    return (bucket - o * QH_LIN) << o


def qhist_quantile(table_rows, pct: int) -> int:
    """Collected (bucket, cnt) rows -> nearest-rank percentile
    estimate (the corpus_length_percentiles rank convention:
    rank = (n*pct + 99) div 100). Returns the lower bound of the
    true element's bucket: est <= v < est + step with step <= v/16,
    i.e. a one-sided <=6.25% underestimate."""
    rows = sorted((r["bucket"], r["cnt"]) for r in table_rows)
    total = sum(c for _, c in rows)
    rank = (total * pct + 99) // 100
    cum = 0
    for bucket, cnt in rows:
        cum += cnt
        if cum >= rank:
            return qhist_lower(bucket)
    return qhist_lower(rows[-1][0]) if rows else 0


def q_sketch_quantile_doclen(spark, sf_dir):
    """Gated query: the log-linear histogram of per-document token
    lengths — the mergeable length profile a 100 TB curation run
    keeps per shard where the exact percentile sort is infeasible.
    One scan, one <=900-group agg, no sort."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    lens = d.select(F.size(F.split(norm, " ")).cast("long").alias("n"))
    return qhist_table(lens).orderBy("bucket")


ORACLE_SKETCH_QUANTILE = f"""
WITH lens AS (
  SELECT cast(len(string_split({_NORM_SQL}, ' ')) as bigint) AS n
  FROM documents
)
SELECT {_QH_BUCKET_DUCK} AS bucket, cast(count(*) as bigint) AS cnt
FROM lens GROUP BY 1 ORDER BY bucket
"""


# ---------------------------------------------------------------------------
# Counting Bloom filter: the mergeable MEMBERSHIP sketch (fourth of
# the family: HLL = distinct, CM = frequency, qhist = distribution,
# Bloom = "have we seen X"). The incremental-ingest use: a new shard
# asks "which of my doc fingerprints has the store seen?" without
# joining against the store — ship the store's <= m-row counter table
# (a few hundred KB), probe locally, and only the maybe-seen minority
# pays the exact anti-join (kg_incremental_triples). Guarantees: NO
# false negative ever (a seen item's k cells are all > 0 by
# construction); false positives at rate ~(1 - e^(-kn/m))^k, paid for
# by a needless exact check, never by data loss. Counting cells (not
# bits) make shard tables merge by cellwise SUM — same linearity as
# CM. Cell arithmetic is hash60 % m on non-negative operands, so the
# DuckDB oracle reproduces the counter table bit-for-bit; the
# no-false-negative and FP-rate properties are judged in pytest with
# planted member/non-member sets.

BF_K = 6                     # hash probes per item
BF_M = 1 << 16               # cells; FP ~ (1 - e^(-kn/m))^k


def bloom_table(items, item_col: str = "item",
                k: int = BF_K, m: int = BF_M):
    """DataFrame with a string `item_col` -> the (cell, cnt) counting
    Bloom table (<= m rows; absent cells are zero). The k-way
    expansion collapses in the map-side combiner — at most m groups
    cross the exchange regardless of corpus size."""
    cells = F.array(*[
        (hash60(F.concat_ws(":", F.lit(f"bf{i}"), F.col(item_col)))
         % F.lit(m)).alias(f"c{i}")
        for i in range(k)])
    return (items.select(F.explode(cells).alias("cell"))
            .groupBy("cell").agg(F.count("*").alias("cnt")))


def bloom_merge(*tables):
    """Merge shard tables: cellwise sum (linear, like CM)."""
    out = tables[0]
    for t in tables[1:]:
        out = out.unionAll(t)
    return out.groupBy("cell").agg(F.sum("cnt").alias("cnt"))


def bloom_contains(table_rows, item: str,
                   k: int = BF_K, m: int = BF_M) -> bool:
    """Collected (cell, cnt) rows -> membership probe: True iff all k
    cells the item hashes to are set. False means DEFINITELY unseen;
    True means seen-or-false-positive."""
    import hashlib
    cells = {r["cell"] for r in table_rows if r["cnt"] > 0}
    for i in range(k):
        h = int(hashlib.md5(f"bf{i}:{item}".encode()).hexdigest()[:15],
                16) % m
        if h not in cells:
            return False
    return True


def q_sketch_bloom_fingerprints(spark, sf_dir):
    """Gated query: the counting Bloom table over normalized document
    fingerprints (the text_fingerprint identity) — the shippable
    "has the store seen this doc" surface an incremental shard probes
    before paying the exact anti-join. One scan, <= m groups."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = d.select(norm.alias("item"))
    return bloom_table(items).orderBy("cell")


ORACLE_SKETCH_BLOOM = f"""
WITH items AS (
  SELECT {_NORM_SQL} AS item FROM documents
),
cells AS (
  {" UNION ALL ".join(
      f"SELECT {hash60_sql(chr(39) + f'bf{i}:' + chr(39) + ' || item')} "
      f"% {BF_M} AS cell FROM items"
      for i in range(BF_K))}
)
SELECT cell, cast(count(*) as bigint) AS cnt
FROM cells GROUP BY cell ORDER BY cell
"""


# ---------------------------------------------------------------------------
# One-permutation-hashing MinHash (OPH, Li et al. 2012): the mergeable
# SET-RESEMBLANCE sketch. HLL answers "how many distinct", OPH answers
# "how SIMILAR are two corpora" (Jaccard of their token/shingle sets)
# and doubles as a distinct estimator. dedup_cross_corpus FINDS the
# overlapping document pairs (a join); this MEASURES overlap with O(k)
# state per corpus and never pairs anything — the pre-flight a curation
# run does before deciding whether decontamination is worth a join at
# all, and the per-shard signature that detects a crawler re-ingesting
# yesterday's partition.
#
# Construction: one shared portable hash, bucket = h % k (a k-way
# partition standing in for k permutations), register = min(h) per
# bucket. One scan, a partial-combined <= k-group agg; shard/day tables
# merge by elementwise MIN (idempotent — duplicates and re-ingests are
# free). Pure integer arithmetic on non-negative operands, so the
# DuckDB oracle reproduces the register table bit-for-bit.
#
# Estimators (driver-side over <= k collected rows, judged in pytest
# against exact Jaccard / distinct counts): each bucket non-empty in
# the union holds the union's min — a uniform sample of that bucket's
# slice of the union — so P(register_A = register_B) = J; empty-in-one
# buckets are genuine mismatches (the union min is missing from one
# side). No densification needed because both sides share the same
# bucket partition.

OPH_K = 256                  # Jaccard std err ~ 1/sqrt(k) = 6.25%
_H_MAX = 1 << 60             # hash60 range, for the distinct estimator


def oph_table(items, item_col: str = "item", k: int = OPH_K):
    """DataFrame with a string `item_col` -> the (bucket, min_h)
    register table (<= k rows; empty buckets absent)."""
    h = hash60(F.col(item_col))
    return (items.select(h.alias("h"))
            .select((F.col("h") % F.lit(k)).alias("bucket"), "h")
            .groupBy("bucket").agg(F.min("h").alias("min_h")))


def oph_table_by(items, group_col: str, item_col: str = "item",
                 k: int = OPH_K):
    """Per-group register tables: <= |groups| * k rows, immune to a
    group with a giant item set (same argument as hll_registers_by)."""
    h = hash60(F.col(item_col))
    return (items.select(F.col(group_col), h.alias("h"))
            .select(group_col, (F.col("h") % F.lit(k)).alias("bucket"),
                    "h")
            .groupBy(group_col, "bucket")
            .agg(F.min("h").alias("min_h")))


def oph_merge(*register_dfs):
    """Merge shard tables: elementwise min (idempotent — safe under
    replays and overlapping shards)."""
    out = register_dfs[0]
    for t in register_dfs[1:]:
        out = out.unionAll(t)
    return out.groupBy("bucket").agg(F.min("min_h").alias("min_h"))


def oph_jaccard(rows_a, rows_b) -> float:
    """Collected register rows for two sets -> Jaccard estimate:
    matching registers / buckets non-empty in the union."""
    a = {r["bucket"]: r["min_h"] for r in rows_a}
    b = {r["bucket"]: r["min_h"] for r in rows_b}
    union = set(a) | set(b)
    if not union:
        return 0.0
    match = sum(1 for bk in union if a.get(bk) == b.get(bk))
    return match / len(union)


def oph_estimate_distinct(register_rows, k: int = OPH_K) -> int:
    """Collected (bucket, min_h) rows -> distinct-count estimate.
    Small range (empty buckets exist): linear counting on the
    occupancy, exactly HLL's correction. Large range: each register
    is the min of ~n/k uniforms on [0, 2^60), E[min] = M/(u+1), so
    n ~= k * (M/mean_min - 1)."""
    n_filled = len(register_rows)
    if n_filled == 0:
        return 0
    n_empty = k - n_filled
    if n_empty > 0:
        return int(k * math.log(k / n_empty))
    mean_min = sum(r["min_h"] for r in register_rows) / n_filled
    return int(k * (_H_MAX / (mean_min + 1.0) - 1.0))


def q_sketch_oph_sources(spark, sf_dir):
    """Gated query: per-source OPH MinHash registers over the token
    vocabulary — the fixed-size signature from which any pair of
    sources' vocabulary Jaccard (and each source's distinct count)
    reads off driver-side, without ever joining source against
    source. One scan, <= |sources| * k groups."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    norm = F.regexp_replace(F.lower(F.trim(F.col("text"))), r"\s+", " ")
    items = d.select(F.col("source"),
                     F.explode(F.split(norm, " ")).alias("item"))
    return (oph_table_by(items, "source")
            .orderBy("source", "bucket"))


ORACLE_SKETCH_OPH = f"""
WITH items AS (
  SELECT source, unnest(string_split({_NORM_SQL}, ' ')) AS item
  FROM documents
),
h AS (SELECT source, {hash60_sql('item')} AS h FROM items)
SELECT source, h % {OPH_K} AS bucket,
       cast(min(h) as bigint) AS min_h
FROM h GROUP BY source, bucket ORDER BY source, bucket
"""
