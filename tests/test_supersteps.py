"""The one truncation policy of the iterative loops
(`jsonld_js_spark.supersteps.truncate`): its contract, the loops'
CacheManager hygiene, and a source scan that keeps it the only owner."""
from __future__ import annotations

import os
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import functions as F

from jsonld_js_spark.supersteps import truncate

PKG = Path(__file__).resolve().parent.parent / "jsonld_js_spark"


def _analysed_nodes(df) -> int:
    return len(df._jdf.queryExecution().analyzed().toString().splitlines())


def test_truncate_keeps_the_analysed_plan_one_step_deep(spark):
    """A step applied 10 times through `truncate` analyses to the same
    plan size as one application; `.cache()` would nest all ten."""
    def run(rounds):
        df = truncate(spark.range(20).withColumn("v", F.col("id")))
        for _ in range(rounds):
            df = truncate(df.groupBy((F.col("id") % 7).alias("id"))
                          .agg(F.sum("v").alias("v")))
        return df

    once, ten = run(1), run(10)
    assert _analysed_nodes(once) == _analysed_nodes(ten)
    assert sorted(map(tuple, ten.collect())) == \
        sorted(map(tuple, once.collect()))


def test_truncate_reliable_writes_one_checkpoint_per_call(spark):
    sc = spark.sparkContext

    def n_rdds():
        d = sc.getCheckpointDir()
        if d is None:
            return 0
        return sum(1 for n in os.listdir(urlparse(d).path)
                   if n.startswith("rdd-"))

    df = spark.range(50).withColumn("sq", F.col("id") * F.col("id"))
    before = n_rdds()
    first = truncate(df, reliable=True)
    assert n_rdds() == before + 1
    second = truncate(first.filter(F.col("id") % 2 == 0), reliable=True)
    assert n_rdds() == before + 2
    assert second.count() == 25
    assert "LogicalRDD" in \
        second._jdf.queryExecution().analyzed().toString()


def test_loops_leave_no_cache_manager_entry(spark):
    from jsonld_js_spark.kg_api import kcore_edges, label_propagation, pagerank
    from jsonld_js_spark.operators.dedup import connected_components

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (5, 6)]
    cc = spark.createDataFrame(pairs + [(b, a) for a, b in pairs],
                               "src long, dst long")
    ab = cc.toDF("a", "b")
    runs = [lambda: connected_components(cc),
            lambda: connected_components(cc, algorithm="star"),
            lambda: label_propagation(ab),
            lambda: kcore_edges(ab, k=2),
            lambda: pagerank(cc.toDF("subj", "dst"))]
    for run in runs:
        assert cm.isEmpty()
        run().collect()
        assert cm.isEmpty()


def test_truncate_is_the_only_checkpoint_caller():
    """`.checkpoint(` and lazy `localCheckpoint` appear in no package
    module but supersteps.py: loops do not pick their own policy."""
    offenders = [
        (str(p.relative_to(PKG)), pat)
        for p in sorted(PKG.rglob("*.py")) if p.name != "supersteps.py"
        for pat in (".checkpoint(", "localCheckpoint(eager=False)")
        if pat in p.read_text()]
    assert offenders == []
