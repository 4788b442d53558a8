"""Pure-Python expected values for the graph probe, computed at set-up
from the DuckDB oracle triple set. They follow the exact int64
arithmetic of `kg_api.pagerank` / `kg_api.personalized_pagerank` and
the component-min labelling of `operators.dedup.connected_components`,
so the Spark results must match them value for value.

`kg_api.oracle_kg_pagerank` is not used for pagerank: on a 4-core
machine its chain of twenty CTEs runs out of the benchmark's 1 GB
DuckDB memory limit after about 35 s, even on the triples of 50
conversations.
"""
from __future__ import annotations

from collections import defaultdict

from jsonld_js_spark.kg_api import (
    PAGERANK_ITERS, PPR_ITERS, PPR_TOTAL, PR_DAMP_DEN, PR_DAMP_NUM,
)

TOP_K = 50


def _graph(edges: list) -> tuple:
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outd: dict = defaultdict(int)
    for s, _ in edges:
        outd[s] += 1
    dangling = [v for v in nodes if v not in outd]
    return nodes, outd, dangling


def _inflow(edges: list, outd: dict, rank: dict) -> dict:
    inflow: dict = defaultdict(int)
    for s, d in edges:
        inflow[d] += rank[s] // outd[s]
    return inflow


def _top(rank: dict) -> list:
    return sorted(((v, r) for v, r in rank.items() if r > 0),
                  key=lambda x: (-x[1], x[0]))[:TOP_K]


def pagerank_top(edges: list) -> list:
    nodes, outd, dangling = _graph(edges)
    rank = {v: 1000000 for v in nodes}
    for _ in range(PAGERANK_ITERS):
        inflow = _inflow(edges, outd, rank)
        dshare = sum(rank[v] for v in dangling) // len(nodes)
        rank = {v: 150000 + PR_DAMP_NUM * (inflow[v] + dshare) // PR_DAMP_DEN
                for v in nodes}
    return _top(rank)


def ppr_top(edges: list, seeds: list) -> list:
    nodes, outd, dangling = _graph(edges)
    seed_set, k = set(seeds), len(seeds)
    teleport = (15 * PPR_TOTAL // 100) // k
    rank = {v: PPR_TOTAL // k if v in seed_set else 0 for v in nodes}
    for _ in range(PPR_ITERS):
        inflow = _inflow(edges, outd, rank)
        dshare = sum(rank[v] for v in dangling) // k
        rank = {v: (teleport if v in seed_set else 0)
                + PR_DAMP_NUM * (inflow[v] + (dshare if v in seed_set else 0))
                // PR_DAMP_DEN
                for v in nodes}
    return _top(rank)


def components(edges: list) -> dict:
    """node -> smallest node of its undirected component."""
    parent: dict = {}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for s, d in edges:
        parent.setdefault(s, s)
        parent.setdefault(d, d)
        a, b = find(s), find(d)
        if a != b:
            parent[max(a, b)] = min(a, b)
    return {v: find(v) for v in parent}
