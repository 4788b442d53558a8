"""Tokenizer induction: distributed BPE merge-rule learning over the
`documents` corpus.

The one tokenizer-side operator a training-data pipeline runs that the
engine lacked: learn the first K byte-pair-encoding merge rules from
corpus statistics (Sennrich et al. 2016, the word-frequency formulation
every production BPE trainer uses). The output is the merge TABLE
(rank, left, right, count) — the artifact a tokenizer builder ships —
not a re-tokenized corpus.

Scale shape: the only corpus-scale stage is the word-frequency
aggregation (one explode + one map-side-combined groupBy over uniform
word keys). Everything after runs on the WORD VOCABULARY (|unique
words| rows — ~10^7-10^8 at web scale, kilobytes at test scale): K
iterations of a vocab-scale pair count + a 1-row argmax collected to
the driver (the k-means-centroid pattern: driver-side state is one
merge rule, never data) + a literal-pattern replace projection.

Exactness/portability contract (CLAUDE.md cross-engine rules):
- words = regexp_extract_all(lower(text), '[a-z]+') — ascii letter
  runs, identical in Java regex and RE2.
- initial symbols: per-character split via regexp_replace '(.)' →
  "c1 c2 ... cn </w>" (the end-of-word marker standard since the
  original BPE paper).
- pair counts are exact int64 sums; the winning pair is
  max by (count DESC, left ASC, right ASC) — total order, no floats.
- merge application is TWO sequential plain-string
  replace(' L R ' → ' LR ') passes over the space-delimited symbol
  string. Plain replace scans left-to-right non-overlapping with
  identical semantics in Spark, DuckDB and Python str.replace, so both
  engines produce byte-identical vocab states. (Textbook greedy BPE
  re-scans runs of identical symbols until fixpoint; a fixpoint loop is
  not expressible per-row in SQL, and on natural-language words runs of
  length ≥ 6 identical symbols are vanishingly rare — the two-pass
  contract is documented, deterministic, and shared by the pytest
  reference implementation, so a drift would fail three ways.)
"""
from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.types import (LongType, StringType, StructField,
                               StructType)

from ..supersteps import truncate

N_MERGES = 6  # gated-query constant; parameterized for real use

MERGE_SCHEMA = StructType([
    StructField("merge_rank", LongType()),
    StructField("left_sym", StringType()),
    StructField("right_sym", StringType()),
    StructField("pair_count", LongType()),
])


def bpe_merges(docs, n_merges: int = N_MERGES):
    """documents(text) → the first `n_merges` BPE merge rules as a
    (merge_rank, left_sym, right_sym, pair_count) DataFrame.

    Stops early (fewer rows) if the vocabulary runs out of adjacent
    pairs — mirrored exactly by the oracle's empty-CTE cascade."""
    spark = docs.sparkSession
    words = docs.select(F.explode(
        F.regexp_extract_all(F.lower("text"), F.lit("[a-z]+"), 0))
        .alias("word"))
    vocab = truncate(
        words.groupBy("word").agg(F.count("*").alias("cnt"))
        .select(F.concat(F.regexp_replace("word", "(.)", "$1 "),
                         F.lit("</w>")).alias("sym"),
                "cnt"))
    merges: list[tuple] = []
    for rank in range(1, n_merges + 1):
        # size guard: a fully-merged single-symbol word has no pairs,
        # and Spark's sequence(1, 0) would run DESCENDING ([1, 0])
        # instead of empty
        pairs = (vocab.select(F.split("sym", " ").alias("s"), "cnt")
                 .filter(F.size("s") >= 2)
                 .select(F.expr(
                     "explode(transform(sequence(1, size(s)-1), "
                     "i -> struct(element_at(s, i) as a, "
                     "element_at(s, i+1) as b)))").alias("p"), "cnt")
                 .groupBy("p.a", "p.b")
                 .agg(F.sum("cnt").alias("c")))
        best = pairs.orderBy(F.desc("c"), "a", "b").limit(1).collect()
        if not best:
            break
        a, b, c = best[0]["a"], best[0]["b"], best[0]["c"]
        merges.append((rank, a, b, int(c)))
        if rank < n_merges:
            pat = F.lit(f" {a} {b} ")
            rep = F.lit(f" {a}{b} ")
            delim = F.concat(F.lit(" "), "sym", F.lit(" "))
            vocab = truncate(vocab.select(
                F.trim(F.replace(F.replace(delim, pat, rep), pat, rep))
                .alias("sym"), "cnt"))
    return spark.createDataFrame(merges, MERGE_SCHEMA)


def q_vocab_bpe_merges(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_merges(docs)


def oracle_vocab_bpe_merges(n_merges: int = N_MERGES) -> str:
    """Unrolled-CTE DuckDB oracle reproducing every iteration
    bit-for-bit (the kg_pagerank pattern). The pair-index table is
    bounded by v0's max symbol count — merges only shrink it."""
    prev = "v0"
    ctes = []
    rows = []
    for i in range(1, n_merges + 1):
        ctes.append(f"""
p{i} AS (
  SELECT t.s[g.i] AS a, t.s[g.i+1] AS b, cast(sum(t.cnt) AS bigint) AS c
  FROM (SELECT string_split(sym, ' ') AS s, cnt FROM {prev}) t
  JOIN idx g ON g.i <= len(t.s) - 1
  GROUP BY 1, 2
),
m{i} AS (SELECT a, b, c FROM p{i} ORDER BY c DESC, a, b LIMIT 1)""")
        rows.append(f"SELECT cast({i} AS bigint) AS merge_rank, "
                    f"a AS left_sym, b AS right_sym, c AS pair_count "
                    f"FROM m{i}")
        if i < n_merges:
            ctes.append(f"""
v{i} AS (
  SELECT trim(replace(replace(' ' || v.sym || ' ',
                              ' ' || m.a || ' ' || m.b || ' ',
                              ' ' || m.a || m.b || ' '),
                      ' ' || m.a || ' ' || m.b || ' ',
                      ' ' || m.a || m.b || ' ')) AS sym, v.cnt
  FROM {prev} v, m{i} m
)""")
            prev = f"v{i}"
    return rf"""
WITH words AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
v0 AS (
  SELECT regexp_replace(word, '(.)', '\1 ', 'g') || '</w>' AS sym,
         cast(count(*) AS bigint) AS cnt
  FROM words GROUP BY word
),
idx AS (
  SELECT unnest(generate_series(1,
      (SELECT max(len(string_split(sym, ' '))) FROM v0) - 1)) AS i
),{",".join(ctes)}
SELECT * FROM ({" UNION ALL ".join(rows)}) ORDER BY merge_rank
"""


# Above this rule count, the column-expression applier's 2K nested
# replace calls stop being plannable (codegen/analysis blowup at
# production vocab sizes) and we switch to the broadcast-rules
# mapInPandas applier — identical output, vocabulary-size-independent
# plan.
SCALE_K_THRESHOLD = 64


def bpe_tokenize_counts_scale(docs, merges: list[tuple]):
    """Scale-path merge application: broadcast the rank-ordered rule
    list and apply the two-pass-replace contract per Arrow batch in
    pure Python (`mapInPandas`) — byte-identical counts to the
    column-expression path for ANY K, and the only path that PLANS at
    a production vocabulary (a 30k-merge tokenizer would otherwise
    become ~60,000 nested replace calls in one expression).

    Per-batch cost is amortized over UNIQUE words (a per-worker memo:
    word -> token count), so the K-rule chain runs once per vocabulary
    entry, not once per occurrence — at web scale the memo is bounded
    by the language's word vocabulary (~10^6), kilobytes per rule
    applied. The plan is one scan + one mapInPandas + no shuffle
    (counts are emitted per input row)."""
    spark = docs.sparkSession
    rules = [(f" {a} {b} ", f" {a}{b} ") for _, a, b, _c in merges]
    bc = spark.sparkContext.broadcast(rules)

    def apply_batches(batches):
        import re

        import pandas as pd
        rls = bc.value
        word_re = re.compile("[a-z]+")
        memo: dict = {}

        def count_word(w):
            n = memo.get(w)
            if n is None:
                s = " " + " ".join(w) + " </w> "
                for pat, rep in rls:
                    s = s.replace(pat, rep).replace(pat, rep)
                n = len(s.strip().split(" "))
                memo[w] = n
            return n

        for pdf in batches:
            counts = [
                sum(count_word(w) for w in word_re.findall(t.lower()))
                if isinstance(t, str) else 0
                for t in pdf["text"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "n_bpe_tokens": counts})

    return (docs.select("doc_id", "text")
            .mapInPandas(apply_batches,
                         "doc_id long, n_bpe_tokens long")
            .orderBy("doc_id"))


def bpe_tokenize_counts(docs, merges: list[tuple]):
    """Apply learned merge rules to the corpus: per-doc BPE token
    count under the learned vocabulary — the number a token-budget
    sampler or packing stage actually needs.

    `merges` is the driver-side rule list from `bpe_merges` (rank,
    left, right, count). For small K (<= SCALE_K_THRESHOLD) the
    application is pure JVM column expressions: symbolize each word,
    chain the K merges in rank order (two-pass replace each, the same
    contract as learning), count symbols — one scan + one explode +
    one partial-aggregated groupBy(doc_id). The 2K nested replace
    calls are plan literals, which is a CEILING, not a feature: past
    ~64 rules analysis/codegen cost dominates, so larger vocabularies
    dispatch to `bpe_tokenize_counts_scale` (broadcast rules +
    mapInPandas, identical output — parity enforced by
    tests/test_bpe.py)."""
    if len(merges) > SCALE_K_THRESHOLD:
        return bpe_tokenize_counts_scale(docs, merges)
    words = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all(F.lower("text"),
                                       F.lit("[a-z]+"), 0))
        .alias("word"))
    sym = F.concat(F.lit(" "),
                   F.regexp_replace("word", "(.)", "$1 "),
                   F.lit("</w> "))
    for _, a, b, _c in merges:
        pat, rep = F.lit(f" {a} {b} "), F.lit(f" {a}{b} ")
        sym = F.replace(F.replace(sym, pat, rep), pat, rep)
    per_word = words.select("doc_id",
                            F.size(F.split(F.trim(sym), " ")).alias("n"))
    counts = per_word.groupBy("doc_id").agg(
        F.sum("n").alias("n_bpe_tokens"))
    return (docs.select("doc_id").join(counts, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_bpe_tokens", F.lit(0)).cast("long")
                    .alias("n_bpe_tokens"))
            .orderBy("doc_id"))


def q_vocab_bpe_tokenize(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = [tuple(r) for r in bpe_merges(docs).collect()]
    return bpe_tokenize_counts(docs, rules)


def q_vocab_bpe_tokenize_scale(spark, sf_dir):
    """Gated query: the SAME learned rules applied through the
    scale-path mapInPandas applier — pins broadcast-rules application
    to the identical DuckDB oracle as the column-expression path."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = [tuple(r) for r in bpe_merges(docs).collect()]
    return bpe_tokenize_counts_scale(docs, rules)


def oracle_vocab_bpe_tokenize(n_merges: int = N_MERGES) -> str:
    """Re-learns the same merge chain (shared CTE builder) and applies
    it with scalar subqueries — no literal smuggling, the oracle is
    self-contained."""
    learn = oracle_vocab_bpe_merges(n_merges)
    # reuse everything up to the final SELECT of the learning oracle
    # (strip its trailing newline, then splice with a comma)
    ctes = learn[: learn.rindex("SELECT * FROM")].rstrip() + ","
    apply_expr = "' ' || regexp_replace(word, '(.)', '\\1 ', 'g') || '</w> '"
    for i in range(1, n_merges + 1):
        pat = f"' ' || (SELECT a FROM m{i}) || ' ' || (SELECT b FROM m{i}) || ' '"
        rep = f"' ' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ' '"
        apply_expr = (f"replace(replace({apply_expr}, {pat}, {rep}), "
                      f"{pat}, {rep})")
    return f"""{ctes}
doc_words AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
  FROM documents
),
per_word AS (
  SELECT doc_id,
         len(string_split(trim({apply_expr}), ' ')) AS n
  FROM doc_words
)
SELECT d.doc_id,
       cast(coalesce((SELECT sum(w.n) FROM per_word w
                      WHERE w.doc_id = d.doc_id), 0) AS bigint)
  AS n_bpe_tokens
FROM documents d ORDER BY d.doc_id
"""


# ---------------------------------------------------------------------------
# tokenizer-true chunking — text_chunks under the LEARNED vocabulary:
# every document explodes into overlapping windows of BPE tokens (the
# unit a training/RAG pipeline actually slices on), completing the
# tokenizer-true family (pack/budget/mix/upsample already count in BPE
# tokens). Narrow plan: one scan + one mapInPandas with the broadcast
# rule list, no shuffle — chunk rows are emitted per input row.
#
# Whole-document merge application equals per-word application: merge
# rules are learned from WITHIN-word pairs only, so no rule's left
# symbol is </w>-terminated and no ' L R ' pattern can ever match
# across a ' </w> ' word boundary — the concatenated symbol string
# evolves exactly as the concatenation of its per-word evolutions
# (the per-worker word memo below exploits precisely this).

def bpe_chunk_rows_scale(docs, merges: list[tuple],
                         chunk_tokens: int, chunk_stride: int):
    """(doc_id, chunk_idx, n_chunk_tokens, chunk_hash) — overlapping
    BPE-token windows at `chunk_stride`, final window clamped; docs
    with no [a-z]+ words emit no chunks. chunk_hash is the portable
    60-bit hash of the space-joined token window."""
    spark = docs.sparkSession
    rules = [(f" {a} {b} ", f" {a}{b} ") for _, a, b, _c in merges]
    bc = spark.sparkContext.broadcast(rules)

    def chunk_batches(batches):
        import hashlib
        import re

        import pandas as pd
        rls = bc.value
        word_re = re.compile("[a-z]+")
        memo: dict = {}

        def toks_word(w):
            t = memo.get(w)
            if t is None:
                s = " " + " ".join(w) + " </w> "
                for pat, rep in rls:
                    s = s.replace(pat, rep).replace(pat, rep)
                t = memo[w] = s.strip().split(" ")
            return t

        for pdf in batches:
            out_doc, out_idx, out_n, out_h = [], [], [], []
            for doc_id, t in zip(pdf["doc_id"], pdf["text"]):
                if not isinstance(t, str):
                    continue
                words = word_re.findall(t.lower())
                if not words:
                    continue
                toks: list = []
                for w in words:
                    toks.extend(toks_word(w))
                n = len(toks)
                for i in range((n - 1) // chunk_stride + 1):
                    seg = toks[i * chunk_stride:
                               i * chunk_stride + chunk_tokens]
                    out_doc.append(doc_id)
                    out_idx.append(i)
                    out_n.append(len(seg))
                    out_h.append(int(hashlib.md5(
                        " ".join(seg).encode()).hexdigest()[:15], 16))
            yield pd.DataFrame({"doc_id": out_doc, "chunk_idx": out_idx,
                                "n_chunk_tokens": out_n,
                                "chunk_hash": out_h})

    return (docs.select("doc_id", "text")
            .mapInPandas(chunk_batches,
                         "doc_id long, chunk_idx int, "
                         "n_chunk_tokens long, chunk_hash long")
            .orderBy("doc_id", "chunk_idx"))


def q_text_chunks_bpe(spark, sf_dir):
    from .textstats import CHUNK_STRIDE, CHUNK_TOKENS
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rules = [tuple(r) for r in bpe_merges(docs).collect()]
    return bpe_chunk_rows_scale(docs, rules, CHUNK_TOKENS, CHUNK_STRIDE)


def oracle_text_chunks_bpe(n_merges: int = N_MERGES) -> str:
    """Self-contained: re-learns the merge chain (shared CTE builder),
    symbolizes each document WHOLE (per-word spaced chars + ' </w> '
    separators — equal to per-word application, see module note),
    applies the K rules, then slices token windows."""
    from .textstats import CHUNK_STRIDE, CHUNK_TOKENS, hash60_sql
    learn = oracle_vocab_bpe_merges(n_merges)
    ctes = learn[: learn.rindex("SELECT * FROM")].rstrip() + ","
    apply_expr = "s"
    for i in range(1, n_merges + 1):
        pat = (f"' ' || (SELECT a FROM m{i}) || ' ' || "
               f"(SELECT b FROM m{i}) || ' '")
        rep = f"' ' || (SELECT a FROM m{i}) || (SELECT b FROM m{i}) || ' '"
        apply_expr = (f"replace(replace({apply_expr}, {pat}, {rep}), "
                      f"{pat}, {rep})")
    seg = (f"list_slice(tk, chunk_idx*{CHUNK_STRIDE}+1, "
           f"least(chunk_idx*{CHUNK_STRIDE}+{CHUNK_TOKENS}, len(tk)))")
    return f"""{ctes}
sym AS (
  SELECT doc_id,
         ' ' || replace(
             regexp_replace(
               array_to_string(regexp_extract_all(lower(text), '[a-z]+'),
                               ' '),
               '(.)', '\\1 ', 'g'),
             '   ', ' </w> ') || '</w> ' AS s
  FROM documents
  WHERE len(regexp_extract_all(lower(text), '[a-z]+')) > 0
),
merged AS (SELECT doc_id, {apply_expr} AS s FROM sym),
tox AS (SELECT doc_id, string_split(trim(s), ' ') AS tk FROM merged),
chunks AS (
  SELECT doc_id, tk,
         unnest(range(((len(tk) - 1) // {CHUNK_STRIDE}) + 1)) AS chunk_idx
  FROM tox
)
SELECT doc_id,
       cast(chunk_idx AS int) AS chunk_idx,
       cast(len({seg}) AS bigint) AS n_chunk_tokens,
       {hash60_sql(f"array_to_string({seg}, ' ')")} AS chunk_hash
FROM chunks ORDER BY doc_id, chunk_idx
"""
