"""The one lineage-truncation policy of every iterative loop in the
package: PageRank/PPR, label propagation, k-hop, random walks, k-core,
neighbourhood growth, HyperANF, both connected-components variants and
BPE merge learning."""
from __future__ import annotations

import os
import tempfile


def truncate(df, reliable: bool = False):
    """Cut `df`'s plan at a materialization point. Every frame a loop
    carries between rounds, or reads in every round, goes through here.

    Why not `.cache()`: the cache is substituted only at physical
    planning, so Catalyst still re-analyses the whole logical lineage of
    every round's plan. With a corpus-scale scan at the root that
    re-analysis dominates (sf0.1 PageRank 14.4 → 11.4 s warm once the
    plan itself was truncated).

    Default: a lazy `localCheckpoint`. The next action materializes it
    as part of the round's own job, so each round computes once and no
    extra job runs when a per-round action (a convergence count or a
    collected scalar) follows anyway. The blocks live on the executors.

    `reliable=True`: an eager `checkpoint()` to the checkpoint dir, one
    `rdd-*` directory per call, which survives executor loss. Connected
    components uses it, since a lost executor must not kill a long
    clustering run. The dir defaults to a local temp path; on a cluster
    set SPARK_GRAFT_CHECKPOINT_DIR to an HDFS/S3 URI or call
    `sparkContext.setCheckpointDir` first."""
    if not reliable:
        return df.localCheckpoint(eager=False)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is None:
        sc.setCheckpointDir(os.environ.get(
            "SPARK_GRAFT_CHECKPOINT_DIR",
            tempfile.mkdtemp(prefix="spark-graft-ckpt-")))
    return df.checkpoint(eager=True)
