"""The superstep driver every iterative graph loop runs on.

pagerank, hits, connected_components (both algorithms),
label_propagation and bfs_depths each supply only a superstep body.
:func:`superstep_scope` and :class:`Supersteps` own the rest of the
loop:

- the cached edge layout (:func:`edge_layout`) and its count;
- the per-superstep shuffle width, narrowed once for small graphs and
  restored on every exit;
- resume from the latest checkpoint shard;
- one :class:`SuperstepMetrics` per superstep, streamed to the
  optional ``on_superstep`` hook;
- the checkpoint cadence: every ``checkpoint_interval`` supersteps, on
  convergence, and on the last allowed superstep;
- releasing every frame the call cached, on every exit path. A normal
  return keeps only the checkpoint blocks its result reads.

One materialization point per superstep: a body wraps its candidate
frame in :meth:`Supersteps.local`, a lazy local checkpoint. The body's
first aggregate job, the one that runs the E-join, fills it; any
further aggregate scans the filled blocks, and the next state is a
projection of it. Every aggregate a superstep needs is thus finished
without re-running its join ("A Layered Aggregate Engine for Analytics
Workloads", SIGMOD 2019). Checkpointing also truncates the logical
lineage: without it Catalyst re-analyzes an exponentially deepening
self-join tree and superstep latency explodes around iteration ~15.

The width stays a session conf rather than an explicit
``repartition(n, key)``: a repartitioned ``groupBy`` aggregates after
the exchange, which loses the map-side combine that protects hub keys,
and AQE does not coalesce such exchanges.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Any, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from aduana_spark.graph.checkpoint import CheckpointManager

WIDTH = "spark.sql.shuffle.partitions"

#: target E-rows per superstep task. (src,dst,msg) rows are ~16-24 B, so
#: 100k rows ≈ 2 MB — enough real work to amortize the per-task overhead
#: (~5-10 ms scheduling + serialization) while keeping tasks small enough
#: for straggler insurance.
SUPERSTEP_ROWS_PER_TASK = 100_000


class ConvergenceError(RuntimeError):
    """Raised in strict mode when max_iters is hit without convergence
    (mirrors page_rank_error_precision, page_rank.c:431-436)."""


@dataclass
class SuperstepMetrics:
    iteration: int
    #: the algorithm's convergence measure: L∞ delta (pagerank, hits),
    #: changed labels (components, labelprop), edges left (two-phase
    #: components), newly reached vertices (bfs)
    delta: float
    wall_sec: float
    edges: int
    edges_per_sec: float
    #: time.monotonic() at superstep end — lets external CPU samplers
    #: (bench.py's per-superstep steal attribution) map samples onto
    #: REAL superstep windows instead of reconstructing them
    #: back-to-back from walls, which misattributes any non-superstep
    #: tail work inside the loop
    end_monotonic: float = 0.0


@dataclass
class IterativeResult:
    ranks: DataFrame
    converged: bool
    n_iterations: int
    n_vertices: int
    n_edges: int
    metrics: list[SuperstepMetrics] = field(default_factory=list)

    @property
    def deltas(self) -> list[float]:
        return [m.delta for m in self.metrics]


def edge_layout(edges: DataFrame, key: str = "src") -> DataFrame:
    """The (src, dst) table hash-partitioned AND sorted by ``key``. Once
    cached, the scan advertises its ordering, so each superstep's
    SortMergeJoin sorts only the V-row state side and never re-sorts
    the E-row edge table."""
    return edges.select("src", "dst").repartition(F.col(key)).sortWithinPartitions(key)


def _derived_superstep_partitions(spark, n_rows: int) -> int | None:
    """Scale-adaptive shuffle width for the per-superstep exchanges:
    ``min(session conf, ceil(n_rows / SUPERSTEP_ROWS_PER_TASK))``.

    A fixed ``spark.sql.shuffle.partitions`` is tuned for ONE scale; an
    iterative job pays its per-task overhead once per superstep, so a
    small graph under a wide session setting spends the whole superstep
    scheduling near-empty tasks (measured on the sf0.1 bench graph:
    64→16 loop partitions took the median steady-state superstep from
    ~0.8 s to ~0.5 s at identical results). The derivation only ever
    NARROWS the session setting — big inputs keep the admin-chosen
    width, so cluster runs and the pinned scaling protocol (256-part
    fixed layout, ~32M edges) are untouched. Returns None when no
    narrowing applies."""
    try:
        session_parts = int(spark.conf.get(WIDTH))
    except Exception:
        return None
    derived = max(1, -(-int(n_rows) // SUPERSTEP_ROWS_PER_TASK))
    return derived if derived < session_parts else None


def _rdd_roots(df: DataFrame) -> set[int]:
    """Ids of the checkpointed RDDs at the leaves of ``df``'s plan."""
    leaves = df._jdf.queryExecution().logical().collectLeaves()
    nodes = [leaves.apply(i) for i in range(leaves.size())]
    return {n.rdd().id() for n in nodes if n.nodeName() == "LogicalRDD"}


class Supersteps:
    """One call's superstep loop; made by :func:`superstep_scope`."""

    def __init__(self, spark, algo: str, checkpoint, checkpoint_interval: int, resume: bool):
        self.spark = spark
        self.algo = algo
        self.ckpt = (
            CheckpointManager(checkpoint, algo) if isinstance(checkpoint, str) else checkpoint
        )
        self.interval = checkpoint_interval
        latest = self.ckpt.latest() if resume and self.ckpt is not None else None
        self.start_iter = latest or 0
        self.edges: list[DataFrame] = []
        self.n_edges = 0
        #: the superstep running now; None during setup
        self.it: int | None = None
        self.result: IterativeResult | None = None
        # (superstep, RDD id or None, release) for every frame cached
        self._frames: list[tuple[int | None, int | None, Callable[[], Any]]] = []

    def resumed(self) -> DataFrame | None:
        """The shard this call resumes from; None on a cold start."""
        return self.ckpt.load(self.spark, self.start_iter) if self.start_iter else None

    def cache(self, df: DataFrame) -> DataFrame:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self._frames.append((self.it, None, df.unpersist))
        return df

    def local(self, df: DataFrame, eager: bool = False) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        # DataFrame.unpersist() frees nothing on a checkpointed frame:
        # its blocks belong to the RDD at the root of its plan
        rdd = df._jdf.queryExecution().logical().rdd()
        self._frames.append((self.it, rdd.id(), lambda: rdd.unpersist(False)))
        return df

    def _release(self, spare: Callable[[int | None, int | None], bool]) -> None:
        """Free every recorded frame ``spare`` does not claim, newest
        first: uncaching a frame while frames built on it are still
        cached makes Spark re-plan those."""
        kept = []
        for rec in reversed(self._frames):
            if spare(rec[0], rec[1]):
                kept.append(rec)
            else:
                rec[2]()
        self._frames = kept[::-1]

    def run(
        self,
        state: Any,
        step: Callable[[Any, int], tuple[Any, float, bool]],
        max_iters: int,
        n_vertices: int,
        on_superstep: Callable[[SuperstepMetrics], None] | None = None,
        strict: bool = False,
    ) -> IterativeResult:
        """Drive ``step(state, iteration) -> (state, delta, converged)``
        for at most ``max_iters`` supersteps after the resumed one. The
        result's ``ranks`` is the final state."""
        metrics: list[SuperstepMetrics] = []
        converged, it = False, self.start_iter
        for it in range(self.start_iter + 1, self.start_iter + max_iters + 1):
            t0 = time.time()
            self.it = it
            state, delta, converged = step(state, it)
            wall = time.time() - t0
            m = SuperstepMetrics(
                it, float(delta), wall, self.n_edges, self.n_edges / max(wall, 1e-9),
                end_monotonic=time.monotonic(),
            )
            metrics.append(m)
            if on_superstep is not None:
                on_superstep(m)
            if self.ckpt is not None and (
                it % self.interval == 0 or converged or it == self.start_iter + max_iters
            ):
                state = self.ckpt.save(it, state, {
                    "algo": self.algo,
                    "delta": m.delta,
                    "wall_sec": wall,
                    "edges": self.n_edges,
                    "vertices": n_vertices,
                    "converged": converged,
                })
            # this superstep's first job filled its own candidate, so
            # nothing reads the previous superstep's frames any more
            self._release(lambda s, _: s != it - 1)
            if converged:
                break
        self.it = None
        if strict and not converged:
            raise ConvergenceError(f"{self.algo} did not converge in {max_iters} supersteps")
        self.result = IterativeResult(
            state, converged, it - self.start_iter, n_vertices, self.n_edges, metrics
        )
        return self.result


@contextmanager
def superstep_scope(
    algo: str,
    *layouts: DataFrame,
    checkpoint: CheckpointManager | str | None = None,
    checkpoint_interval: int = 5,
    resume: bool = False,
) -> Iterator[Supersteps]:
    """Cache and count the edge ``layouts`` (the first one's count is
    ``n_edges``), narrow the shuffle width to fit it, and yield the
    loop. On exit the width is restored and every recorded frame is
    released, except, on a normal exit, the checkpoints that
    ``result.ranks`` reads."""
    spark = layouts[0].sparkSession
    d = Supersteps(spark, algo, checkpoint, checkpoint_interval, resume)
    restore: str | None = None
    ok = False
    try:
        d.edges = [d.cache(e) for e in layouts]
        d.n_edges = d.edges[0].count()
        for e in d.edges[1:]:
            e.count()
        # the edge caches above keep the session layout (the pinned
        # scaling protocol's fixed 256-partition layout stays
        # byte-identical); vertex setup and supersteps run narrowed
        narrowed = _derived_superstep_partitions(spark, d.n_edges)
        if narrowed:
            restore = spark.conf.get(WIDTH)
            spark.conf.set(WIDTH, str(narrowed))
        yield d
        ok = True
    finally:
        if restore is not None:
            spark.conf.set(WIDTH, restore)
        keep = _rdd_roots(d.result.ranks) if ok and d.result is not None else set()
        d._release(lambda _, rdd: rdd in keep)
