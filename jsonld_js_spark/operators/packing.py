"""Sequence packing + token-budget sampling for LLM pre-training.

`corpus_pack_sequences` is the standard concat-and-chunk packing pass:
lay every document out along one deterministic global token axis and
cut fixed-length training sequences of SEQ_LEN tokens. The distributed
problem is the global prefix sum — a naive
`Window.orderBy(...)` over the whole corpus collapses to ONE partition
(Exchange SinglePartition) and dies at scale. We use the classic
two-level scan instead:

  1. bucket every doc by its salted portable hash (uniform, B buckets),
  2. cumsum WITHIN each bucket (parallel window, B-way),
  3. cumsum the B per-bucket totals (B rows — driver-scale), and
  4. broadcast-join the bucket base offsets back.

Total shuffled state beyond the narrow scan: one B-way hash exchange
for the window plus a B-row broadcast — this is the treeAggregate
shape, and it holds at 1000 executors because step 3 is O(B), not
O(corpus). The same machinery drives `corpus_token_budget_sample`
(per-language data-mixing budgets: keep docs in salted-hash order
until each language's token budget is exhausted), with the windows
partitioned by (lang, bucket) and the offset scan by lang.

Determinism is the other 100 TB requirement (same reasoning as
sampling.py): the packing order is a pure function of doc identity —
(bucket, hash, doc_id) — so re-runs, retried tasks, and incremental
ingests reproduce byte-identical pack assignments.

Both operators share exact integer arithmetic with their DuckDB
oracles (`div` / `//` on non-negative int64 — no float on a decision
boundary, per the portability rules).
"""
from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from .textstats import _NORM_SQL, _docs, _norm, hash60, hash60_sql

SEQ_LEN = 512        # tokens per packed training sequence
N_BUCKETS = 32       # two-level-scan fan-out; O(N_BUCKETS) driver state
PACK_SALT = "pack:"
BUDGET_SALT = "budget:"

# per-language token budgets (data mixing): en is downweighted hard,
# zh deliberately exceeds its corpus mass at test scale (the
# budget-not-binding path), everything else shares a default.
LANG_BUDGETS = {"en": 6000, "zh": 100000}
BUDGET_DEFAULT = 2500


def keyed_tokens_from(d, salt: str):
    """(doc_id, lang, text) frame -> (doc_id, lang, n_tokens, h,
    bucket) — the narrow projection both operators start from; shared
    with the curation pipeline's pack stage."""
    h = hash60(F.concat(F.lit(salt), F.col("doc_id").cast("string")))
    return d.select(
        "doc_id", "lang",
        F.size(F.split(_norm(F.col("text")), " ")).alias("n_tokens"),
        h.alias("h"),
        F.pmod(h, F.lit(N_BUCKETS)).alias("bucket"))


def _keyed_tokens(spark, sf_dir, salt: str):
    return keyed_tokens_from(_docs(spark, sf_dir), salt)


def _keyed_sql(salt: str) -> str:
    h = hash60_sql(f"'{salt}' || cast(doc_id as varchar)")
    return (f"SELECT doc_id, lang, "
            f"len(string_split({_NORM_SQL}, ' ')) AS n_tokens, "
            f"{h} AS h, ({h}) % {N_BUCKETS} AS bucket FROM documents")


def q_corpus_pack_sequences(spark, sf_dir):
    """Assign every document its token extent on the packed-sequence
    axis: offset (tokens before it in the global deterministic order),
    first/last pack of SEQ_LEN tokens it lands in, packs spanned."""
    return pack_extents(_keyed_tokens(spark, sf_dir, PACK_SALT))


def pack_extents(t):
    """The two-level distributed prefix sum over a
    (doc_id, n_tokens, h, bucket) frame — shared by the gated
    standalone query and the curation pipeline's pack stage. Never a
    single-partition global window: per-bucket cumsum + an
    N_BUCKETS-row broadcast base table."""
    w_in = (Window.partitionBy("bucket").orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = t.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
    # per-bucket totals: N_BUCKETS rows — the tiny top-level scan
    w_b = (Window.orderBy("bucket")
           .rowsBetween(Window.unboundedPreceding, -1))
    base = (t.groupBy("bucket").agg(F.sum("n_tokens").alias("btot"))
            .select("bucket",
                    F.coalesce(F.sum("btot").over(w_b), F.lit(0))
                     .alias("base")))
    return (cum.join(F.broadcast(base), "bucket")
            .select(
                "doc_id", "n_tokens",
                (F.col("base") + F.col("cum_in")).alias("tok_offset"))
            .select(
                "doc_id", "n_tokens", "tok_offset",
                F.expr(f"tok_offset div {SEQ_LEN}").alias("pack_first"),
                F.expr(f"(tok_offset + n_tokens - 1) div {SEQ_LEN}")
                 .alias("pack_last"))
            .withColumn("packs_spanned",
                        F.col("pack_last") - F.col("pack_first")
                        + F.lit(1))
            .orderBy("doc_id"))


ORACLE_PACK = f"""
WITH t AS ({_keyed_sql(PACK_SALT)}),
o AS (
  SELECT doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           ORDER BY bucket, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bigint) AS tok_offset
  FROM t)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {SEQ_LEN} AS pack_first,
       (tok_offset + n_tokens - 1) // {SEQ_LEN} AS pack_last,
       (tok_offset + n_tokens - 1) // {SEQ_LEN}
         - tok_offset // {SEQ_LEN} + 1 AS packs_spanned
FROM o ORDER BY doc_id
"""


def _budget_expr():
    expr = F.lit(BUDGET_DEFAULT)
    for lang, b in LANG_BUDGETS.items():
        expr = F.when(F.col("lang") == lang, F.lit(b)).otherwise(expr)
    return expr


_BUDGET_SQL = ("CASE lang "
               + " ".join(f"WHEN '{lang}' THEN {b}"
                          for lang, b in LANG_BUDGETS.items())
               + f" ELSE {BUDGET_DEFAULT} END")


def q_corpus_token_budget_sample(spark, sf_dir):
    """Per-language token-budget sample: walk each language's docs in
    salted-hash order and keep them while the language's cumulative
    token count stays under its budget (data-mixing rebalance by
    token mass, not doc count). Same two-level scan as packing, keyed
    by (lang, bucket)."""
    t = _keyed_tokens(spark, sf_dir, BUDGET_SALT)
    w_in = (Window.partitionBy("lang", "bucket").orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = t.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
    w_b = (Window.partitionBy("lang").orderBy("bucket")
           .rowsBetween(Window.unboundedPreceding, -1))
    base = (t.groupBy("lang", "bucket")
            .agg(F.sum("n_tokens").alias("btot"))
            .select("lang", "bucket",
                    F.coalesce(F.sum("btot").over(w_b), F.lit(0))
                     .alias("base")))
    return (cum.join(F.broadcast(base), ["lang", "bucket"])
            .select("doc_id", "lang", "n_tokens",
                    (F.col("base") + F.col("cum_in"))
                    .alias("lang_tok_offset"))
            .filter(F.col("lang_tok_offset") < _budget_expr())
            .orderBy("doc_id"))


ORACLE_BUDGET = f"""
WITH t AS ({_keyed_sql(BUDGET_SALT)}),
o AS (
  SELECT doc_id, lang, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY bucket, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bigint) AS lang_tok_offset
  FROM t)
SELECT doc_id, lang, n_tokens, lang_tok_offset
FROM o WHERE lang_tok_offset < {_BUDGET_SQL}
ORDER BY doc_id
"""

def q_corpus_pack_sequences_bpe(spark, sf_dir):
    """Packing under the ACTUAL tokenizer: per-doc BPE token counts
    (learned vocabulary applied through the broadcast-rules scale
    applier) replace whitespace counts on the packed-token axis —
    the round-4 verdict's point that tokenizer-true counts gate
    packing/budget/mixing. Zero-token docs (no [a-z]+ words) occupy
    no extent and are excluded from the axis on BOTH sides: a
    0-length extent would evaluate (tok_offset - 1) div SEQ_LEN,
    where Spark's div truncates toward zero and DuckDB's // floors
    (the documented non-negative-operands rule)."""
    from .bpe import bpe_merges, bpe_tokenize_counts_scale
    d = _docs(spark, sf_dir)
    rules = [tuple(r) for r in bpe_merges(d).collect()]
    counts = bpe_tokenize_counts_scale(d, rules)
    h = hash60(F.concat(F.lit(PACK_SALT), F.col("doc_id").cast("string")))
    t = (counts.filter(F.col("n_bpe_tokens") > 0)
         .select("doc_id",
                 F.col("n_bpe_tokens").alias("n_tokens"),
                 h.alias("h"),
                 F.pmod(h, F.lit(N_BUCKETS)).alias("bucket")))
    return pack_extents(t)


def oracle_pack_bpe() -> str:
    """Composed oracle: the self-contained BPE tokenize oracle as a
    CTE (re-learns the merge chain in SQL), then the identical pack
    prefix-sum over its counts."""
    from .bpe import oracle_vocab_bpe_tokenize
    h = hash60_sql(f"'{PACK_SALT}' || cast(doc_id as varchar)")
    return f"""
WITH bpe AS ({oracle_vocab_bpe_tokenize()}),
t AS (
  SELECT doc_id, n_bpe_tokens AS n_tokens,
         {h} AS h, ({h}) % {N_BUCKETS} AS bucket
  FROM bpe WHERE n_bpe_tokens > 0),
o AS (
  SELECT doc_id, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           ORDER BY bucket, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bigint) AS tok_offset
  FROM t)
SELECT doc_id, n_tokens, tok_offset,
       tok_offset // {SEQ_LEN} AS pack_first,
       (tok_offset + n_tokens - 1) // {SEQ_LEN} AS pack_last,
       (tok_offset + n_tokens - 1) // {SEQ_LEN}
         - tok_offset // {SEQ_LEN} + 1 AS packs_spanned
FROM o ORDER BY doc_id
"""


def q_corpus_token_budget_sample_bpe(spark, sf_dir):
    """Per-language token budgets measured in BPE tokens (the
    tokenizer-true variant of corpus_token_budget_sample — budgets
    and mixing are denominated in what the trainer actually consumes,
    completing the packing/budget pair over the scale applier).
    Same two-level scan keyed (lang, bucket); the only change is the
    token-mass column (counts join on doc_id). Zero-token docs carry
    no mass and are kept-iff-under-budget like any other doc — no
    div/floor hazard here (offsets only, no extent-end arithmetic)."""
    from .bpe import bpe_merges, bpe_tokenize_counts_scale
    d = _docs(spark, sf_dir)
    rules = [tuple(r) for r in bpe_merges(d).collect()]
    counts = bpe_tokenize_counts_scale(d, rules)
    h = hash60(F.concat(F.lit(BUDGET_SALT),
                        F.col("doc_id").cast("string")))
    t = (d.select("doc_id", "lang").join(counts, "doc_id")
         .select("doc_id", "lang",
                 F.col("n_bpe_tokens").alias("n_tokens"),
                 h.alias("h"),
                 F.pmod(h, F.lit(N_BUCKETS)).alias("bucket")))
    w_in = (Window.partitionBy("lang", "bucket").orderBy("h", "doc_id")
            .rowsBetween(Window.unboundedPreceding, -1))
    cum = t.withColumn(
        "cum_in", F.coalesce(F.sum("n_tokens").over(w_in), F.lit(0)))
    w_b = (Window.partitionBy("lang").orderBy("bucket")
           .rowsBetween(Window.unboundedPreceding, -1))
    base = (t.groupBy("lang", "bucket")
            .agg(F.sum("n_tokens").alias("btot"))
            .select("lang", "bucket",
                    F.coalesce(F.sum("btot").over(w_b), F.lit(0))
                     .alias("base")))
    return (cum.join(F.broadcast(base), ["lang", "bucket"])
            .select("doc_id", "lang", "n_tokens",
                    (F.col("base") + F.col("cum_in"))
                    .alias("lang_tok_offset"))
            .filter(F.col("lang_tok_offset") < _budget_expr())
            .orderBy("doc_id"))


def oracle_budget_bpe() -> str:
    from .bpe import oracle_vocab_bpe_tokenize
    h = hash60_sql(f"'{BUDGET_SALT}' || cast(d.doc_id as varchar)")
    return f"""
WITH bpe AS ({oracle_vocab_bpe_tokenize()}),
t AS (
  SELECT d.doc_id, d.lang, b.n_bpe_tokens AS n_tokens,
         {h} AS h, ({h}) % {N_BUCKETS} AS bucket
  FROM documents d JOIN bpe b ON d.doc_id = b.doc_id),
o AS (
  SELECT doc_id, lang, n_tokens,
         cast(coalesce(sum(n_tokens) OVER (
           PARTITION BY lang ORDER BY bucket, h, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS bigint) AS lang_tok_offset
  FROM t)
SELECT doc_id, lang, n_tokens, lang_tok_offset
FROM o WHERE lang_tok_offset < {_BUDGET_SQL}
ORDER BY doc_id
"""
