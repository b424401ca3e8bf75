"""BFS depth / provenance propagation.

The reference records ``depth`` and ``linked_from`` on the first
crawl path that reaches a page (page_db.c:196-237, 864-868, 921-931) —
an approximation of shortest-path depth validated in its Python tests
against ``networkx.single_source_shortest_path_length``
(/root/reference/test/test_crawl.py:82-88). Here we compute the exact
shortest-path depth from a seed set by iterative min-depth message
passing (the same superstep skeleton as connected components):

    depth'[v] = min(depth[v], min_{(u,v)} depth[u] + 1)

Frontier-only optimization: only vertices whose depth changed last
superstep emit messages, so each superstep joins the (shrinking)
frontier against the edge table instead of the full vertex state.
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.superstep import Supersteps, edge_layout, superstep_scope


def _expand(d: Supersteps, edges: DataFrame, level: tuple, depth: int):
    """One superstep: ``level`` is (state, frontier); returns the next
    level, the number of vertices first reached at ``depth``, and
    whether there were none."""
    state, frontier = level
    reached = (
        edges.join(frontier.select(F.col("id").alias("src")), "src")
        .select(F.col("dst").alias("id"))
        .distinct()
    )
    frontier = d.local(
        reached.join(state.select("id"), "id", "left_anti").select(
            "id", F.lit(depth).alias("depth")
        )
    )
    n = frontier.count()  # fills the frontier checkpoint
    state = d.local(state.unionAll(frontier), eager=True)
    return (state, frontier), n, n == 0


def bfs_depths(
    edges: DataFrame, seeds: DataFrame, max_depth: int | None = None
) -> DataFrame:
    """Shortest-path depth from ``seeds`` (DataFrame with column
    ``id``). Returns (id, depth) for reachable vertices only."""
    with superstep_scope("bfs", edge_layout(edges)) as d:
        (e,) = d.edges
        state = d.cache(seeds.select("id", F.lit(0).alias("depth")))
        res = d.run(
            (state, state),
            lambda level, depth: _expand(d, e, level, depth),
            max_depth if max_depth is not None else sys.maxsize,
            n_vertices=0,
        )
        res.ranks = res.ranks[0]
        return res.ranks
