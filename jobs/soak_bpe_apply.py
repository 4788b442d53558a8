"""BPE APPLICATION soak at production vocabulary size: the round-5
scale path (`bpe_tokenize_counts_scale`, broadcast rules +
mapInPandas) applying K >= 2000 merge rules — the regime where the
column-expression applier cannot even be planned (2K nested replace
calls in one expression).

Corpus: a closed-form two-tier synthesis (doc d holds K=40 words;
word id (d*K + j) % 5000, folded to the 50-word hot head on every third
position; words are base-4 'abcd' encodings), so the vocabulary is a
constant 5,000 words with exactly computable frequencies, at N and 4N
documents. Rules: K compositional merges synthesized
deterministically over the corpus alphabet ('abcdx' + '</w>'), so the
chain applies densely (every word is hit by many rules) — rules are
NOT learned here (learning scale is soaked separately); application
under a big externally-supplied vocabulary is exactly the real-user
shape (a shipped 30k-merge tokenizer).

Planted-truth assertions (EXACT, from the pure-Python two-pass
contract reference — never the engine):
  1. per-doc token counts equal the closed form at the small size;
  2. total token count equals the closed form at BOTH sizes;
  3. scale-equivariance: the 4N total is exactly 4x the N total
     (word counts scale by 4, vocabulary constant by construction);
  4. plan+first-byte latency recorded — the applier's plan is
     K-independent (one scan + one mapInPandas), so wall must grow
     ~linearly with N and NOT with K (recorded at K and K/4 for the
     same corpus).

Usage: python jobs/soak_bpe_apply.py [n_small=48000] [factor=4] [k=2000]
One JSON line per (size, k) run + a summary line.
"""
from __future__ import annotations

import json
import os
import random
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession, functions as F

K = 40
VOCAB = 5000
HOT = 50


def encode(i: int) -> str:
    s = ""
    for _ in range(7):
        s = "abcd"[i % 4] + s
        i //= 4
    return "x" + s


def wid(d: int, j: int) -> int:
    w = (d * K + j) % VOCAB
    return w % HOT if j % 3 == 0 else w


def closed_form_counts(n_docs: int) -> Counter:
    c = Counter()
    for d in range(n_docs):
        base = d * K
        for j in range(0, K, 3):
            c[(base + j) % VOCAB % HOT] += 1
        for j in range(K):
            if j % 3:
                c[(base + j) % VOCAB] += 1
    return Counter({encode(i): n for i, n in c.items()})


def ref_tokenize_word(word: str, merges) -> int:
    s = " " + " ".join(word) + " </w> "
    for _, a, b, _c in merges:
        pat, rep = f" {a} {b} ", f" {a}{b} "
        s = s.replace(pat, rep).replace(pat, rep)
    return len(s.strip().split(" "))


def synth_docs(spark, n_docs: int):
    vdf = spark.createDataFrame(
        [(i, encode(i)) for i in range(VOCAB)], "wid long, word string")
    pos = (spark.range(n_docs).select(F.col("id").alias("doc_id"))
           .select("doc_id", F.explode(
               F.sequence(F.lit(0), F.lit(K - 1))).alias("j")))
    pos = pos.withColumn(
        "wid",
        F.when(F.col("j") % 3 == 0,
               (F.col("doc_id") * K + F.col("j")) % VOCAB % HOT)
        .otherwise((F.col("doc_id") * K + F.col("j")) % VOCAB))
    return (pos.join(F.broadcast(vdf), "wid")
            .groupBy("doc_id")
            .agg(F.concat_ws(" ", F.transform(
                F.sort_array(F.collect_list(F.struct("j", "word"))),
                lambda s: s["word"])).alias("text")))


def _jvm_peak_rss_gib():
    best = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/comm") as f:
                if "java" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        best = max(best, int(line.split()[1]))
        except OSError:
            continue
    return round(best / (1024 * 1024), 2)


def synth_rules(k: int, seed: int = 7, max_sym_len: int = 10):
    """Deterministic compositional rule generator (same shape as
    tests/test_bpe.py::_synth_rules, alphabet matched to the soak
    corpus): start from the corpus alphabet, repeatedly merge two
    existing symbols, growing a rank-ordered vocabulary of k rules."""
    rng = random.Random(seed)
    pool = list("abcdx") + ["</w>"]
    rules, seen = [], set()
    while len(rules) < k:
        a, b = rng.choice(pool), rng.choice(pool)
        if len(a) + len(b) > max_sym_len or (a, b) in seen:
            continue
        seen.add((a, b))
        rules.append((len(rules) + 1, a, b, 0))
        pool.append(a + b)
    return rules


def run_one(spark, n_docs: int, rules, truth_small=None) -> dict:
    from jsonld_js_spark.operators.bpe import bpe_tokenize_counts_scale

    docs = synth_docs(spark, n_docs).localCheckpoint()
    rec = {"n_docs": n_docs, "n_words": n_docs * K, "k_rules": len(rules)}

    counts = closed_form_counts(n_docs)
    t0 = time.time()
    per_word_tok = {w: ref_tokenize_word(w, rules) for w in counts}
    rec["wall_python_truth_s"] = round(time.time() - t0, 1)
    expect_total = sum(n * per_word_tok[w] for w, n in counts.items())

    t0 = time.time()
    tok = bpe_tokenize_counts_scale(docs, rules)
    total = tok.agg(F.sum("n_bpe_tokens").alias("t")).collect()[0]["t"]
    rec["wall_apply_s"] = round(time.time() - t0, 1)
    rec["tokenize_total"] = int(total)
    rec["tokenize_total_match"] = int(total) == expect_total
    if truth_small is not None:
        rec["total_scale_equivariant"] = int(total) == 4 * truth_small

    if n_docs <= 60000:  # exact per-doc truth at the small size
        exp = {}
        for d in range(n_docs):
            exp[d] = sum(per_word_tok[encode(wid(d, j))] for j in range(K))
        got_per_doc = {r["doc_id"]: r["n_bpe_tokens"]
                       for r in tok.collect()}
        rec["tokenize_per_doc_match"] = got_per_doc == exp

    rec["peak_jvm_rss_gib"] = _jvm_peak_rss_gib()
    print(json.dumps(rec), flush=True)
    return rec, int(total)


def main():
    n_small = int(sys.argv[1]) if len(sys.argv) > 1 else 48000
    factor = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    k = int(sys.argv[3]) if len(sys.argv) > 3 else 2000
    spark = (SparkSession.builder.master("local[32]")
             .appName("soak_bpe_apply")
             .config("spark.sql.shuffle.partitions", "64")
             .config("spark.driver.memory", "16g")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.session.timeZone", "UTC")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    try:
        rules = synth_rules(k)
        rules_q = synth_rules(max(2, k // 4))
        # K-independence control: same small corpus, K/4 rules
        rec_q, _ = run_one(spark, n_small, rules_q)
        rec_s, total_s = run_one(spark, n_small, rules)
        rec_l, _ = run_one(spark, n_small * factor, rules,
                           truth_small=total_s)
        ok = all([rec_q["tokenize_total_match"],
                  rec_s["tokenize_total_match"],
                  rec_s.get("tokenize_per_doc_match", True),
                  rec_l["tokenize_total_match"],
                  rec_l["total_scale_equivariant"]])
        print(json.dumps({
            "summary": "soak_bpe_apply", "all_match": ok,
            "k": k,
            "wall_ratio_4n": round(rec_l["wall_apply_s"] /
                                   max(rec_s["wall_apply_s"], 1e-9), 2),
            "wall_ratio_k_over_k4": round(rec_s["wall_apply_s"] /
                                          max(rec_q["wall_apply_s"],
                                              1e-9), 2)}),
            flush=True)
        sys.exit(0 if ok else 1)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
