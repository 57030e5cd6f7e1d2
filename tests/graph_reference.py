"""Pure-Python references for the K1 (pagerank), K15 (personalized
pagerank) and K4 (BFS levels) iterations, plus a switch that forces the
shuffled Pregel loops instead of the one-task kernels.

The references use Python's unbounded ints and check every BIGINT step
against the int64 range, so they raise OverflowError exactly where the
ANSI engine would."""

from __future__ import annotations

import contextlib
from collections import Counter, defaultdict

from spark_file_mover_spark.operators.graph import (
    _BFS_ROUNDS,
    _BFS_SEED_MOD,
    _PPR_ITERS,
    _PPR_SEED_MOD,
    _PR_ENTITY_BASE,
    _PR_ITERS,
    _PR_SCALE,
)


def _i64(v: int) -> int:
    if not -(2**63) <= v < 2**63:
        raise OverflowError("long overflow")
    return v


def _contrib(nodes, edges, outdeg, rank) -> dict[int, int]:
    contrib = dict.fromkeys(nodes, 0)
    for s, d in edges:
        contrib[d] = _i64(contrib[d] + rank[s] // outdeg[s])
    return contrib


def _dangling_mass(nodes, outdeg, rank) -> int:
    dang = 0
    for v in nodes:
        if v not in outdeg:
            dang = _i64(dang + rank[v])
    return dang


def pagerank_reference(nodes, edges, scale: int = _PR_SCALE) -> dict[int, int]:
    """K1's ranks for every node of the graph ``(nodes, edges)``."""
    outdeg = Counter(s for s, _ in edges)
    n = len(nodes)
    tele = 15 * scale // 100
    rank = dict.fromkeys(nodes, scale)
    for _ in range(_PR_ITERS):
        contrib = _contrib(nodes, edges, outdeg, rank)
        dang = _dangling_mass(nodes, outdeg, rank)
        rank = {
            v: _i64(tele + _i64(85 * _i64(contrib[v] + dang // n)) // 100)
            for v in nodes
        }
    return rank


def is_ppr_seed(v: int) -> bool:
    return v < _PR_ENTITY_BASE and v % _PPR_SEED_MOD == 0


def ppr_reference(nodes, edges, scale: int = _PR_SCALE) -> dict[int, int]:
    """K15's ranks for every node, zero ranks included; a non-empty
    graph without seeds raises ZeroDivisionError."""
    if not nodes:
        return {}
    outdeg = Counter(s for s, _ in edges)
    n = len(nodes)
    seeds = {v for v in nodes if is_ppr_seed(v)}
    k = len(seeds)
    if not k:
        raise ZeroDivisionError("empty seed set")
    r0 = _i64(n * scale) // k
    tele = _i64(_i64(15 * n) * scale) // 100 // k
    rank = {v: r0 if v in seeds else 0 for v in nodes}
    for _ in range(_PPR_ITERS):
        contrib = _contrib(nodes, edges, outdeg, rank)
        dang = _dangling_mass(nodes, outdeg, rank)
        rank = {
            v: _i64(
                (tele if v in seeds else 0)
                + _i64(85 * _i64(contrib[v] + (dang // k if v in seeds else 0)))
                // 100
            )
            for v in nodes
        }
    return rank


def bfs_reference(edges) -> dict[int, int]:
    """K4's frontier BFS: hop distance of every node reached within
    ``_BFS_ROUNDS`` rounds from the src ids divisible by the seed
    modulus."""
    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    dist = {s: 0 for s in adj if s % _BFS_SEED_MOD == 0}
    frontier = set(dist)
    for i in range(1, _BFS_ROUNDS + 1):
        frontier = {d for s in frontier for d in adj[s]} - dist.keys()
        dist.update(dict.fromkeys(frontier, i))
    return dist


@contextlib.contextmanager
def loop_path(spark):
    """Run the graph keys built inside the block on their shuffled
    Pregel loops: a broadcast threshold of -1 fits no graph into one
    task. The session's threshold is restored on exit."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, prev)
