"""Benchmark workloads and the layer probes of their traced runs.

Both workloads are a closed loop with one client: the next job starts
when the previous one has finished.

  vectorized_parquet  transcripts -> vectorized triples -> parquet; the
                      production job (whole-stage codegen + parquet
                      encode, no Python, no shuffle).
  kernel_grouped      transcripts -> JSON-LD kernel in mapInPandas
                      (assume_grouped) -> parquet; Python-worker bound,
                      the control that vectorized and sink changes must
                      not move.

The traced run of each workload adds the probes of layers its job does
not reach: the checkpointed runner (killed at a seed-chosen bucket and
resumed, same n_conv as vectorized_parquet) on vectorized_parquet, and
the graph supersteps (pagerank, personalized_pagerank,
connected_components over a written triple table) on kernel_grouped.

The transcript table is seedless and fixed by n_conv. The seed picks
only the kill bucket, the PPR seed nodes and the kernel-probe sample.

Per workload: `setup()` warms up and computes the expected output,
`job()` is the timed region, `check()` validates the output (untimed),
`probe()` runs the layer-decomposition jobs after each traced job and
`layers()` turns the traced jobs into per-layer metrics.
"""
from __future__ import annotations

import os
import random
import re
import statistics
import time

from pyspark.sql import functions as F

from jsonld_js_spark import kg_api
from jsonld_js_spark.kernel import api as kernel_api
from jsonld_js_spark.oracles import _triples_select
from jsonld_js_spark.operators.dedup import connected_components
from jsonld_js_spark.pipeline.checkpoint import (
    Ledger, read_committed, run_checkpointed_triples,
)
from jsonld_js_spark.pipeline.kernel_path import (
    build_conversation_doc, kernel_transcript_triples,
)
from jsonld_js_spark.pipeline.vectorized import transcript_triples
from jsonld_js_spark.transcripts import transcripts_df, transcripts_sql
from jsonld_js_spark.vocab import MENTION_RE, canonical_entity, entity_iri

from harness import (
    SparkWindow, is_write, parquet_relation, part_files, reset_dir,
    triple_digest,
)
import reference

VECTORIZED_N_CONV = 20000
KERNEL_N_CONV = 10000
GRAPH_N_CONV = 300
N_BUCKETS = 16
WARMUP_JOBS = 2
KERNEL_SAMPLE = 200          # conversations in the in-process kernel probe
PPR_SEEDS = 5


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _sink_size(path: str) -> dict:
    files = part_files(path)
    return {"sink.bytes": float(sum(os.path.getsize(f) for f in files)),
            "sink.files": float(len(files))}


def _dur(span: dict) -> float:
    return span["end"] - span["start"]


def _local(path: str) -> str:
    return path[len("file:"):] if path.startswith("file:") else path


class _SingleWrite:
    """transcripts -> triples -> one parquet write."""

    n_conv: int
    build_span: str

    def __init__(self, work: str, seed: int, con, tracer):
        self.work, self.seed, self.con, self.tr = work, seed, con, tracer
        self.rng = random.Random(seed)
        self.out = os.path.join(work, "out")
        self.notes: dict = {}

    def build(self, src):
        raise NotImplementedError

    def setup(self, spark) -> None:
        self.expected = triple_digest(
            self.con, f"({_triples_select(self.n_conv)})")
        # warm-up: JIT, codegen, Python workers; after a single job the
        # next one still ran about 1.5x slower than the steady state
        for _ in range(WARMUP_JOBS):
            self.job(spark)

    def job(self, spark) -> None:
        with self.tr.span("transcripts.transcripts_df"):
            src = transcripts_df(spark, n_conv=self.n_conv)
        with self.tr.span(self.build_span):
            triples = self.build(src)
        with self.tr.span("sink.parquet"):
            triples.write.mode("overwrite").parquet(self.out)

    def check(self, spark) -> tuple:
        got = triple_digest(self.con, parquet_relation(part_files(self.out)))
        return got == self.expected, got[0]

    def probe(self, spark) -> dict:
        """The job's source, then source + build, into the noop sink.
        With the traced job itself (source + build + parquet) they
        split each traced iteration into layers by difference: scan =
        source, build = noop job - source, write = job - noop job."""
        timed = {}
        for key, df in (("scan", lambda s: s), ("noop", self.build)):
            with self.tr.span(f"probe.{key}") as span:
                _noop(df(transcripts_df(spark, n_conv=self.n_conv)))
            timed[key] = _dur(span)
        return timed

    def common_layers(self, traced: list) -> dict:
        """Source and sink layers of the traced jobs. Each workload's
        `layers(spark, traced)` adds its own layers and probes and
        returns (metrics, [(probe, ok)])."""
        win = traced[-1]["window"]
        out = {
            "transcripts.scan_s": _median([t["probe"]["scan"]
                                           for t in traced]),
            "transcripts.rows_read_ratio":
                win.node_metric("Range", "number of output rows")
                / self.n_conv,
            "sink.write_s": _median(
                [t["wall_s"] - t["probe"]["noop"] for t in traced]),
            **_sink_size(self.out),
        }
        return out


class VectorizedParquet(_SingleWrite):
    n_conv = VECTORIZED_N_CONV
    build_span = "vectorized.transcript_triples"

    def build(self, src):
        return transcript_triples(src)

    def layers(self, spark, traced: list) -> tuple:
        out = self.common_layers(traced)
        out["vectorized.build_s"] = _median(
            [t["probe"]["noop"] - t["probe"]["scan"] for t in traced])
        out["vectorized.exchanges"] = float(max(
            (e["exchanges"] for e in traced[-1]["window"].execs
             if is_write(e)), default=0))
        ok, ckpt = checkpoint_probe(self, spark)
        out.update(ckpt)
        out["checkpoint.job_ratio"] = ckpt["checkpoint.job_s"] / _median(
            [t["wall_s"] for t in traced])
        return out, [("checkpoint", ok)]


class KernelGrouped(_SingleWrite):
    n_conv = KERNEL_N_CONV
    build_span = "kernel_path.kernel_transcript_triples"

    def build(self, src):
        return kernel_transcript_triples(src, assume_grouped=True)

    def layers(self, spark, traced: list) -> tuple:
        out = self.common_layers(traced)
        win = traced[-1]["window"]
        out["kernel_path.python_s"] = _median([
            t["window"].node_metric("MapInPandas",
                                    "time to run Python workers")
            for t in traced])
        out["kernel_path.rows_in"] = win.input_rows("MapInPandas")
        out["kernel_path.rows_out"] = win.node_metric(
            "MapInPandas", "number of output rows")
        out.update(self.kernel_phases())
        ok, graph = graph_probe(self, spark)
        out.update(graph)
        return out, [("graph", ok)]

    def kernel_phases(self) -> dict:
        """context -> expand -> node map -> toRDF through kernel.api on a
        seed-chosen sample of conversation documents, seconds per 1k
        conversations (median of three passes). Context processing is
        timed per document; expansion shares one processed context, as
        each Python worker of the kernel path does. to_rdf_s is the
        serialization left after the node map."""
        ids = sorted(self.rng.sample(range(self.n_conv), KERNEL_SAMPLE))
        conv_ids = ", ".join(f"'conv-{i:06d}'" for i in ids)
        rows = self.con.execute(
            "SELECT conv_id, turn_idx, role, text, tool, "
            "strftime(ts, '%Y-%m-%dT%H:%M:%SZ') "
            f"FROM ({transcripts_sql(self.n_conv, 'duckdb')}) "
            f"WHERE conv_id IN ({conv_ids}) ORDER BY conv_id, turn_idx"
        ).fetchall()
        by_conv: dict = {}
        for cid, idx, role, text, tool, ts in rows:
            by_conv.setdefault(cid, []).append({
                "turn_idx": idx, "role": role, "text": text, "tool": tool,
                "ts_lex": ts,
                "mention_iris": [entity_iri(canonical_entity(s))
                                 for s in re.findall(MENTION_RE, text)]})
        docs = [build_conversation_doc(c, t) for c, t in by_conv.items()]
        tr, passes = self.tr, []
        for _ in range(3):
            with tr.span("kernel.process_context_api") as ctx_s:
                ctxs = [kernel_api.process_context_api(None, d["@context"])
                        for d in docs]
            opts = {"activeCtx": ctxs[0], "skipCopy": True}
            with tr.span("kernel.expand") as exp_s:
                expanded = [kernel_api.expand(
                    {k: v for k, v in d.items() if k != "@context"}, opts)
                    for d in docs]
            with tr.span("kernel.create_node_map") as nm_s:
                for e in expanded:
                    kernel_api.create_node_map(
                        e, {"@default": {}}, "@default",
                        kernel_api.IdentifierIssuer("_:b"))
            with tr.span("kernel.to_rdf") as rdf_s:
                quads = sum(len(kernel_api.to_rdf(e, {"skipExpansion": True}))
                            for e in expanded)
            if quads == 0:
                raise RuntimeError("kernel probe produced no quads")
            nodemap = _dur(nm_s)
            passes.append((_dur(ctx_s), _dur(exp_s), nodemap,
                           _dur(rdf_s) - nodemap))
        per_k = 1000.0 / len(docs)
        names = ("kernel.context_s", "kernel.expand_s", "kernel.nodemap_s",
                 "kernel.to_rdf_s")
        return {n: _median([p[i] for p in passes]) * per_k
                for i, n in enumerate(names)}


WORKLOADS = {
    "vectorized_parquet": VectorizedParquet,
    "kernel_grouped": KernelGrouped,
}


# --------------------------------------------------------------------------
class _Kill(Exception):
    pass


def checkpoint_probe(wl: VectorizedParquet, spark) -> tuple:
    """run_checkpointed_triples over the workload's source in 16
    buckets, killed right after a seed-chosen bucket commits and then
    resumed to completion. The committed set must equal the oracle's:
    no loss, no duplicates. A two-bucket run warms the commit path
    first. Returns (ok, metrics)."""
    tr = wl.tr
    kill_after = wl.rng.randint(1, N_BUCKETS - 1)
    wl.notes["kill_after_buckets"] = kill_after
    src = transcripts_df(spark, n_conv=wl.n_conv)
    wh = os.path.join(wl.work, "ckpt_wh")
    reset_dir(wh)
    run_checkpointed_triples(spark, src, os.path.join(wh, "warm"),
                             n_buckets=2)
    wh = os.path.join(wh, "run")
    marks, leg = [], "first"

    def on_done(k):
        now = time.perf_counter()
        tr.add("checkpoint.bucket", marks[-1], now, bucket=k)
        marks.append(now)
        if leg == "first" and len(marks) == kill_after + 1:
            raise _Kill()

    win = SparkWindow(spark)
    with tr.span("checkpoint.job") as job:
        marks.append(time.perf_counter())
        with tr.span("checkpoint.run_checkpointed_triples", leg=leg):
            try:
                run_checkpointed_triples(spark, src, wh, n_buckets=N_BUCKETS,
                                         on_bucket_done=on_done)
            except _Kill:
                pass
            else:
                raise RuntimeError("kill bucket was never reached")
        leg = "resume"
        marks.append(time.perf_counter())
        with tr.span("checkpoint.run_checkpointed_triples",
                     leg=leg) as resume:
            stats = run_checkpointed_triples(spark, src, wh,
                                             n_buckets=N_BUCKETS,
                                             on_bucket_done=on_done)
    win.close()
    files = [_local(f) for f in read_committed(spark, wh).inputFiles()]
    ok = (stats["skipped"] == kill_after
          and stats["ran"] == N_BUCKETS - kill_after
          and len(Ledger(wh, "triples").committed()) == N_BUCKETS
          and triple_digest(wl.con, parquet_relation(files)) == wl.expected)
    return ok, {
        "checkpoint.job_s": _dur(job),
        "checkpoint.resume_s": _dur(resume),
        "checkpoint.bucket_s": _median(
            [_dur(s) for s in tr.named("checkpoint.bucket")]),
        "checkpoint.readback_s": win.exec_seconds(
            lambda e: not is_write(e) and any(
                n.startswith("Scan parquet") for _, n, _ in e["nodes"])),
        "checkpoint.jobs": float(len(win.jobs)),
        "checkpoint.rows_read_ratio":
            win.node_metric("Range", "number of output rows") / wl.n_conv,
    }


def _edges(spark, table):
    t = spark.read.parquet(table)
    return (t.filter(F.col("obj_termtype") == "NamedNode")
            .select("subj", F.col("obj_value").alias("dst"))
            .distinct().cache())


def _ckpt_rounds(ckpt: str) -> int:
    """Reliable checkpoints written: one per components round."""
    return sum(1 for n in os.listdir(ckpt) if n.startswith("rdd-"))


def graph_probe(wl: KernelGrouped, spark) -> tuple:
    """pagerank, personalized_pagerank (seed-chosen seed nodes) and
    connected_components over the NamedNode edges of a triple table
    written here. Results must equal the pure-Python references built
    from the DuckDB oracle triples. One superstep of each rank loop and
    components on a four-node graph warm up first. Returns (ok, metrics)."""
    tr, con = wl.tr, wl.con
    table = os.path.join(wl.work, "graph_triples")
    transcript_triples(transcripts_df(spark, n_conv=GRAPH_N_CONV)) \
        .write.mode("overwrite").parquet(table)
    triples = f"({_triples_select(GRAPH_N_CONV)})"
    edges = con.execute(
        f"SELECT DISTINCT subj, obj_value FROM {triples} "
        "WHERE obj_termtype = 'NamedNode'").fetchall()
    seeds = sorted(random.Random(wl.seed).sample(
        sorted({s for s, _ in edges}), PPR_SEEDS))
    wl.notes["ppr_seeds"] = seeds
    expected = (reference.pagerank_top(edges),
                reference.ppr_top(edges, seeds),
                reference.components(edges))

    e = _edges(spark, table)
    kg_api.pagerank(e, iters=1).collect()
    kg_api.personalized_pagerank(e, seeds, iters=1).collect()
    connected_components(spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("c", "d"), ("d", "c")],
        "src string, dst string")).collect()
    e.unpersist()

    ckpt = _local(spark.sparkContext.getCheckpointDir())
    rounds0 = _ckpt_rounds(ckpt)
    rank_order = [F.desc("rank"), "node"]
    win = SparkWindow(spark)
    with tr.span("graph.job"):
        e = _edges(spark, table)
        with tr.span("kg_api.pagerank") as s_pr:
            pr = kg_api.pagerank(e)
            top = pr.orderBy(*rank_order).limit(50).collect()
        with tr.span("kg_api.personalized_pagerank") as s_ppr:
            ppr = (kg_api.personalized_pagerank(e, seeds)
                   .filter(F.col("rank") > 0)
                   .orderBy(*rank_order).limit(50).collect())
        with tr.span("operators.dedup.connected_components") as s_cc:
            und = (e.select(F.col("subj").alias("src"), "dst")
                   .unionAll(e.select(F.col("dst").alias("src"),
                                      F.col("subj").alias("dst")))
                   .distinct())
            comps = connected_components(und).collect()
        e.unpersist()
    win.close()
    got = ([tuple(r) for r in top], [tuple(r) for r in ppr],
           {r["doc_id"]: r["cluster_id"] for r in comps})
    return got == expected, {
        "kg_api.pagerank_s": _dur(s_pr),
        "kg_api.ppr_s": _dur(s_ppr),
        "kg_api.components_s": _dur(s_cc),
        "kg_api.supersteps": float(pr._pr_supersteps + kg_api.PPR_ITERS
                                   + _ckpt_rounds(ckpt) - rounds0),
        "kg_api.jobs": float(len(win.jobs)),
        "kg_api.shuffle_write_bytes":
            win.stage_totals()["shuffle_write_bytes"],
    }
