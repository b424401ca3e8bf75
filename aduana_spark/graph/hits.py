"""Iterative HITS with aduana's exact numeric semantics.

Reference: ``hits_compute`` /root/reference/lib/src/hits.c (init
97-120, superstep loop 195-251, normalize/delta 253-330, driver
338-360). Per superstep, **Jacobi style** — both updates read the
previous iteration's vectors::

    h2[f] = Σ_{f→t} a1[t]            # or score[t] * a1[t] when content
                                     # scores attached (hits.c:222-233)
    a2[t] = Σ_{f→t} h1[f]
    h2   /= Σ h2                     # L1 normalization, NOT textbook L2
    a2   /= Σ a2
    delta = max(L∞(h2-h1), L∞(a2-a1)); stop when delta <= precision

Init: h1 = a1 = 1/N (hits.c:97-110). The scheduler score is the
**authority** value (hits_scorer.c:109-112). The HitsScorer tolerates
non-convergence (hits_scorer.c:73-76) — hence ``strict=False``
default here too.

Spark execution mirrors ``pagerank`` on the shared driver
(``superstep.py``): edges cached twice, partitioned and sorted by src
and by dst; per superstep two join+aggregate pipelines (hub messages
grouped by src, authority messages grouped by dst), both with map-side
partial aggregation, into one lazily checkpointed candidate. Job 1
fills it while collecting the L1 sums, job 2 scans it for the L∞
delta; the new state is a projection of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.superstep import IterativeResult, edge_layout, superstep_scope


def hits(
    edges: DataFrame,
    precision: float = 1e-4,
    max_iters: int = 100,
    scores: DataFrame | None = None,
    vertices: DataFrame | None = None,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
    strict: bool = False,
) -> IterativeResult:
    """HITS hub/authority over (src LONG, dst LONG). Returns ranks
    DataFrame (id, hub, auth)."""
    # two cached copies, each pre-partitioned AND pre-sorted on its join
    # key (hub messages join on dst, authority messages on src)
    with superstep_scope(
        "hits",
        edge_layout(edges, "src"),
        edge_layout(edges, "dst"),
        checkpoint=checkpoint,
        checkpoint_interval=checkpoint_interval,
        resume=resume,
    ) as d:
        edges_by_src, edges_by_dst = d.edges
        if vertices is None:
            verts = (
                edges_by_src.select(F.col("src").alias("id"))
                .unionAll(edges_by_src.select(F.col("dst").alias("id")))
                .distinct()
            )
        else:
            verts = vertices.select("id").distinct()
        if scores is not None:
            verts = verts.join(scores.select("id", "score"), "id", "left").select(
                "id", F.coalesce("score", F.lit(0.0)).alias("score")
            )
        else:
            verts = verts.withColumn("score", F.lit(1.0))
        # no explicit repartition: hash-partitioned by id already
        # (distinct / equi-join output)
        verts = d.cache(verts)
        n_vertices = verts.count()

        state = d.resumed()
        if state is None:
            state = verts.select(
                "id",
                "score",
                F.lit(1.0 / n_vertices).alias("hub"),
                F.lit(1.0 / n_vertices).alias("auth"),
            )

        def step(state: DataFrame, it: int):
            # hub messages: weight of edge f→t is (score[t] *) a1[t]
            am = (F.col("score") * F.col("auth")) if scores is not None else F.col("auth")
            a_side = state.select(F.col("id").alias("dst"), am.alias("am"))
            hub_raw = (
                edges_by_dst.join(a_side, "dst")
                .groupBy("src")
                .agg(F.sum("am").alias("hub_raw"))
            )
            # authority messages: h1[f]
            h_side = state.select(F.col("id").alias("src"), F.col("hub").alias("hm"))
            auth_raw = (
                edges_by_src.join(h_side, "src")
                .groupBy("dst")
                .agg(F.sum("hm").alias("auth_raw"))
            )
            cand = d.local(
                state.join(hub_raw.withColumnRenamed("src", "id"), "id", "left")
                .join(auth_raw.withColumnRenamed("dst", "id"), "id", "left")
                .select(
                    "id",
                    "score",
                    F.col("hub").alias("old_hub"),
                    F.col("auth").alias("old_auth"),
                    F.coalesce("hub_raw", F.lit(0.0)).alias("hub_raw"),
                    F.coalesce("auth_raw", F.lit(0.0)).alias("auth_raw"),
                )
            )
            # Job 1 (the only one touching the E-row joins): fill cand
            # while collecting the L1 sums
            sums = cand.agg(
                F.sum("hub_raw").alias("hs"), F.sum("auth_raw").alias("as_")
            ).first()
            hub = F.col("hub_raw") / F.lit(sums["hs"] or 1.0)
            auth = F.col("auth_raw") / F.lit(sums["as_"] or 1.0)
            # Job 2: L∞ delta over the filled rows
            delta = cand.agg(
                F.max(
                    F.greatest(
                        F.abs(hub - F.col("old_hub")), F.abs(auth - F.col("old_auth"))
                    )
                )
            ).first()[0]
            new_state = cand.select("id", "score", hub.alias("hub"), auth.alias("auth"))
            return new_state, delta, delta <= precision

        res = d.run(d.cache(state), step, max_iters, n_vertices, strict=strict)
        res.ranks = res.ranks.select("id", "hub", "auth")
        return res
