"""Randomized-INPUT oracle fuzzing for the data-pipeline operators.

The driver gate (tools/check_oracles.py) proves Spark==DuckDB on ONE
fixed corpus. Fixed-input equality cannot see input-shape-dependent
divergence: aggregation ties broken differently, empty groups, empty
strings, boundary-length documents, duplicate vectors, equal
timestamps. This tool synthesizes a fresh ADVERSARIAL corpus per seed
(documents + embeddings + events — inside the documented input
contract: ascii text, non-null columns, nonzero vectors, unique ids)
and runs the SAME type-strict compare (check_oracles.compare_one) over
every gated query in jsonld_js_spark/registry.py.

Planted shapes per corpus (probabilistic per seed): exact-duplicate
and near-duplicate docs, empty/whitespace-only text, single-char and
200-char words, shared boilerplate lines, PII strings, digit/punct
noise, case-only variants, heavy token repetition, tiny corpora
(empty-group paths), duplicate + opposite + grid-valued embeddings
(cosine ties), same-timestamp event bursts (as-of/sessionize
tie-break pressure), negative props values.

Usage: python tools/oracle_fuzz.py [n_seeds=5] [seed0=1] [--subset K]
[--only name,name,...]
(--subset runs K randomly chosen queries per seed instead of all —
more input diversity per unit time; --only restricts to the named
queries, for targeted fuzzing after a single-operator change).
Exit 1 on any mismatch.
"""
from __future__ import annotations

import json
import os
import random
import shutil
import string
import sys
import time
from datetime import datetime, timedelta

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from check_oracles import compare_one, connect_duckdb, make_spark

# One work dir PER SEED: queries that .cache() internally are
# plan-keyed — re-writing the same path would serve the previous
# seed's cached frames (observed: every post-first seed froze at the
# first seed's results). Unique dir + clearCache() between seeds
# keeps plan identities distinct.
WORK_ROOT = "/root/repo/.local/oracle_fuzz"

# Every gated query is fuzzed. The data-pipeline operators read only
# the synthesized documents/embeddings/events/TPC-H tables. The kg_*
# queries read the deterministic transcripts generator (plus the
# customer/nation/region dims and events). Their input is randomized
# along the axes the generator contract allows: corpus SIZE (n_conv —
# varies hot-conv count, entity-id mass, empty-tail groups; the work
# dir is named sf{n_conv/1e5} so sf_from_dir() reproduces it and the
# oracle CTE is rebuilt per seed via _oracle_sql(n_conv)) and fully
# randomized dim tables (duplicate names, dangling foreign keys,
# negative balances).
FUZZ_TABLES = ("documents", "embeddings", "events", "orders", "lineitem",
               "customer", "nation", "region")


def _vocab(rng):
    # the BM25 query terms ride every vocab so text_bm25_topk fuzzes
    # non-vacuously (the events_retention 'signup' lesson — a fixed
    # query term set never appears in purely random words)
    return (["hash", "join", "vector"] +
            ["".join(rng.choice(string.ascii_lowercase)
                     for _ in range(rng.randint(1, 9)))
             for _ in range(rng.randint(30, 300))])


def synth_documents(rng):
    n = rng.choice([rng.randint(4, 12), rng.randint(30, 120),
                    rng.randint(150, 400)])
    vocab = _vocab(rng)
    boiler = " ".join(rng.choice(vocab) for _ in range(8))
    texts = []
    for i in range(n):
        r = rng.random()
        if r < 0.04:
            t = ""
        elif r < 0.07:
            t = " " * rng.randint(1, 4)
        elif r < 0.10:
            t = rng.choice(vocab)[0]
        elif r < 0.13:
            t = "x" * rng.randint(150, 220)
        elif r < 0.18 and texts:
            t = rng.choice(texts)  # exact duplicate
        elif r < 0.23 and texts:
            words = rng.choice(texts).split(" ")
            if words:
                words[rng.randrange(len(words))] = rng.choice(vocab)
            t = " ".join(words)  # near duplicate
        elif r < 0.27:
            t = " ".join(str(rng.randint(-999, 9999))
                         for _ in range(rng.randint(2, 12))) + " !?;:"
        else:
            words = [rng.choice(vocab)
                     for _ in range(rng.randint(3, 120))]
            if rng.random() < 0.25:
                words = [boiler] + words
            if rng.random() < 0.15:
                w = rng.choice(vocab)
                words += [w] * rng.randint(5, 40)  # heavy repetition
            if rng.random() < 0.12:
                words.append(f"user{i}@example.com")
            if rng.random() < 0.08:
                words.append("555-0" + str(100 + i))
            t = " ".join(words)
            if rng.random() < 0.10:
                t = t.upper()  # case-only variant pressure
        texts.append(t)
    return [{"doc_id": i, "text": t,
             "lang": rng.choice(["en", "de", "fr", "es", "xx"]),
             "source": rng.choice(["web", "chat", "soak"]),
             "n_chars": len(t)}
            for i, t in enumerate(texts)]


def synth_embeddings(rng):
    n = rng.randint(40, 160)
    dim = 64
    grid = [-0.5, -0.25, 0.25, 0.5]
    rows = []
    for i in range(n):
        r = rng.random()
        if r < 0.15 and rows:
            vec = list(rng.choice(rows)["embedding"])  # duplicate
        elif r < 0.22 and rows:
            vec = [-x for x in rng.choice(rows)["embedding"]]  # opposite
        elif r < 0.40:
            vec = [rng.choice(grid) for _ in range(dim)]  # tie-heavy
        else:
            vec = [round(rng.uniform(-1, 1), 4) for _ in range(dim)]
        if all(abs(x) < 1e-9 for x in vec):
            vec[0] = 0.25  # zero vectors are out of contract
        rows.append({"vec_id": i, "embedding": vec,
                     "label": rng.randint(0, 3)})
    return rows


def synth_events(rng):
    n = rng.randint(150, 1200)
    base = datetime(2024, 1, 1)
    users = rng.randint(3, 30)
    # 'signup' keeps events_retention non-vacuous (its cohorts key on
    # signup events — without them both engines return empty every
    # seed and the fuzz covers nothing, ADVICE r4)
    types = ["view", "click", "purchase", "error", "signup"]
    rows, ts = [], base
    for i in range(n):
        if rng.random() < 0.12:
            pass  # same-timestamp burst: do not advance
        else:
            ts = ts + timedelta(microseconds=rng.randint(1, 4 * 10**8))
        rows.append({"event_id": i, "ts": ts,
                     "user_id": rng.randint(0, users),
                     "event_type": (rng.choice(types)
                                    if rng.random() > 0.05 else "rare"),
                     "value": round(rng.uniform(0, 100), 2),
                     "props": json.dumps(
                         {"k": rng.randint(-50, 200)})})
    return rows


def synth_tpch(rng):
    """Randomized lineitem/orders with dates straddling the Q1/Q3
    cutoffs and 2-decimal doubles (the committed oracles use the same
    IEEE expression trees in both engines, so float cents are
    bit-identical)."""
    n_orders = rng.randint(30, 400)
    base = datetime(1995, 1, 1)
    orders = [{"o_orderkey": i, "o_custkey": rng.randint(0, 99),
               "o_orderstatus": rng.choice(["O", "F", "P"]),
               "o_totalprice": round(rng.uniform(900, 200000), 2),
               "o_orderdate": base + timedelta(
                   seconds=rng.randint(0, 4 * 365 * 86400)),
               "o_orderpriority": rng.choice(
                   ["1-URGENT", "2-HIGH", "3-MEDIUM",
                    "4-NOT SPECIFIED", "5-LOW"])}
              for i in range(n_orders)]
    n_lines = rng.randint(200, 2500)
    lines = [{"l_orderkey": rng.randint(0, n_orders - 1),
              "l_partkey": rng.randint(0, 999),
              "l_suppkey": rng.randint(0, 99),
              "l_linenumber": rng.randint(1, 7),
              "l_quantity": float(rng.randint(1, 50)),
              "l_extendedprice": round(rng.uniform(900, 105000), 2),
              "l_discount": round(rng.randint(0, 10) / 100, 2),
              "l_tax": round(rng.randint(0, 8) / 100, 2),
              "l_returnflag": rng.choice(["R", "A", "N"]),
              "l_linestatus": rng.choice(["O", "F"]),
              "l_shipdate": base + timedelta(
                  seconds=rng.randint(0, 4 * 365 * 86400))}
             for _ in range(n_lines)]
    return orders, lines


def synth_dims(rng):
    """customer/nation/region with adversarial shapes: duplicate
    names (dedup pressure on (subj,pred,obj) triples), dangling
    foreign keys (inner-join drops), negative balances, single-region
    corpora (broadcast of a 1-row dim)."""
    n_reg = rng.randint(1, 5)
    regions = [{"r_regionkey": i,
                "r_name": rng.choice(
                    ["AMERICA", "ASIA", "EUROPE", f"region-{i % 2}"])}
               for i in range(n_reg)]
    n_nat = rng.randint(2, 15)
    nations = [{"n_nationkey": i,
                "n_name": (rng.choice(["FRANCE", "PERU", "CHINA"])
                           if rng.random() < 0.5
                           else f"nation-{rng.randint(0, 3)}"),
                # ~10% dangling regionkey → inner-join drop
                "n_regionkey": (n_reg if rng.random() < 0.1
                                else rng.randint(0, n_reg - 1))}
               for i in range(n_nat)]
    n_cus = rng.randint(10, 250)
    customers = [{"c_custkey": i,
                  # duplicate names across keys
                  "c_name": f"Customer#{rng.randint(0, n_cus // 3 + 1)}",
                  # ~8% dangling nationkey
                  "c_nationkey": (n_nat + 1 if rng.random() < 0.08
                                  else rng.randint(0, n_nat - 1)),
                  "c_acctbal": round(rng.uniform(-999, 9999), 2),
                  "c_mktsegment": rng.choice(
                      ["BUILDING", "AUTOMOBILE", "MACHINERY",
                       "HOUSEHOLD", "FURNITURE"])}
                 for i in range(n_cus)]
    return regions, nations, customers


def write_tables(rng, work):
    import pyarrow as pa
    import pyarrow.parquet as pq
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work, exist_ok=True)
    docs = synth_documents(rng)
    pq.write_table(pa.Table.from_pylist(docs, schema=pa.schema([
        ("doc_id", pa.int64()), ("text", pa.string()),
        ("lang", pa.string()), ("source", pa.string()),
        ("n_chars", pa.int64())])), f"{work}/documents.parquet")
    embs = synth_embeddings(rng)
    pq.write_table(pa.Table.from_pylist(embs, schema=pa.schema([
        ("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())),
        ("label", pa.int32())])), f"{work}/embeddings.parquet")
    evs = synth_events(rng)
    pq.write_table(pa.Table.from_pylist(evs, schema=pa.schema([
        ("event_id", pa.int64()), ("ts", pa.timestamp("us")),
        ("user_id", pa.int64()), ("event_type", pa.string()),
        ("value", pa.float64()), ("props", pa.string())])),
        f"{work}/events.parquet")
    orders, lines = synth_tpch(rng)
    pq.write_table(pa.Table.from_pylist(orders, schema=pa.schema([
        ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string())])),
        f"{work}/orders.parquet")
    pq.write_table(pa.Table.from_pylist(lines, schema=pa.schema([
        ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()), ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us"))])),
        f"{work}/lineitem.parquet")
    regions, nations, customers = synth_dims(rng)
    pq.write_table(pa.Table.from_pylist(regions, schema=pa.schema([
        ("r_regionkey", pa.int32()), ("r_name", pa.string())])),
        f"{work}/region.parquet")
    pq.write_table(pa.Table.from_pylist(nations, schema=pa.schema([
        ("n_nationkey", pa.int32()), ("n_name", pa.string()),
        ("n_regionkey", pa.int32())])), f"{work}/nation.parquet")
    pq.write_table(pa.Table.from_pylist(customers, schema=pa.schema([
        ("c_custkey", pa.int64()), ("c_name", pa.string()),
        ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
        ("c_mktsegment", pa.string())])), f"{work}/customer.parquet")
    return len(docs), len(embs), len(evs)


def main(argv):
    n_seeds = int(argv[0]) if argv else 5
    seed0 = int(argv[1]) if len(argv) > 1 else 1
    subset = 0
    if "--subset" in argv:
        subset = int(argv[argv.index("--subset") + 1])
    only = None
    if "--only" in argv:
        only = argv[argv.index("--only") + 1].split(",")

    import __spark_entry__ as entry
    spark = make_spark()
    qs = entry.queries()
    bad = []
    pool = list(qs)
    if only:
        unknown = [n for n in only if n not in qs]
        if unknown:
            sys.exit(f"not gated: {unknown}")
        pool = only
    for s in range(seed0, seed0 + n_seeds):
        rng = random.Random(s)
        # corpus size is a fuzz axis for the transcripts-backed kg
        # queries: the work dir is sf-named so sf_from_dir() in the
        # Spark queries reproduces n_conv, and the DuckDB oracles are
        # rebuilt per seed with the same n_conv.
        n_conv = rng.choice([rng.randint(20, 80), rng.randint(81, 300),
                             rng.randint(301, 900)])
        from jsonld_js_spark.transcripts import n_conv_for_sf, sf_from_dir
        work = f"{WORK_ROOT}/seed{s}/sf{n_conv / 100000:.5f}"
        assert n_conv_for_sf(sf_from_dir(work)) == n_conv
        oracles = entry._oracle_sql(n_conv)
        spark.catalog.clearCache()
        nd, ne, nv = write_tables(rng, work)
        con = connect_duckdb(work, FUZZ_TABLES)
        names = (rng.sample(pool, subset) if subset
                 else list(pool))
        t0 = time.time()
        fails = []
        for name in names:
            try:
                r = compare_one(spark, con, qs, oracles, name, work)
            except Exception as ex:  # noqa: BLE001 — report, keep going
                r = {"name": name, "error": repr(ex)[:300]}
            if not r.get("ok"):
                fails.append(r)
        con.close()
        shutil.rmtree(f"{WORK_ROOT}/seed{s}", ignore_errors=True)
        status = "OK" if not fails else "MISMATCH"
        print(json.dumps({"seed": s, "docs": nd, "embs": ne,
                          "events": nv, "n_conv": n_conv,
                          "queries": len(names),
                          "status": status,
                          "wall_s": round(time.time() - t0, 1),
                          "fails": fails}), flush=True)
        bad.extend(fails)
    spark.stop()
    print(json.dumps({"summary": "oracle_fuzz", "seeds": n_seeds,
                      "mismatches": len(bad)}), flush=True)
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
