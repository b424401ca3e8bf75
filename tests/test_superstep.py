"""The shared superstep driver: every loop leaves the caller's session
as it found it (shuffle width and cached blocks) when it raises
mid-loop, repeated calls do not pile up cached data, and the
checkpoint cadence covers the last superstep."""

from __future__ import annotations

import functools

import pytest

from aduana_spark.datagen import random_digraph
from aduana_spark.graph import bfs
from aduana_spark.graph.checkpoint import CheckpointManager
from aduana_spark.graph.components import connected_components
from aduana_spark.graph.hits import hits
from aduana_spark.graph.labelprop import label_propagation
from aduana_spark.graph.pagerank import pagerank

WIDTH = "spark.sql.shuffle.partitions"


class _Boom(RuntimeError):
    pass


class _FailingCheckpoint(CheckpointManager):
    """Raises instead of writing the superstep-2 shard."""

    def save(self, iteration, df, metrics):
        if iteration == 2:
            raise _Boom()
        return super().save(iteration, df, metrics)


def _persistent_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _path(spark, n: int = 10):
    return spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "src LONG, dst LONG")


def _assert_clean_after_raise(spark, call) -> None:
    # id sets, not sizes: the ContextCleaner may drop other tests' RDDs
    width = spark.conf.get(WIDTH)
    before = _persistent_ids(spark)
    with pytest.raises(_Boom):
        call()
    assert spark.conf.get(WIDTH) == width
    assert _persistent_ids(spark) - before == set()


def test_pagerank_raise_in_hook_leaves_session_clean(spark):
    def hook(m):
        if m.iteration == 2:
            raise _Boom()

    _assert_clean_after_raise(
        spark, lambda: pagerank(_path(spark), precision=0.0, on_superstep=hook)
    )


@pytest.mark.parametrize(
    "loop",
    {
        "hits": functools.partial(hits, precision=0.0),
        "components": connected_components,
        "components_two_phase": functools.partial(connected_components, algorithm="two-phase"),
        "labelprop": label_propagation,
    }.items(),
    ids=lambda item: item[0],
)
def test_raise_in_checkpoint_save_leaves_session_clean(spark, tmp_path, loop):
    name, fn = loop
    ck = _FailingCheckpoint(str(tmp_path), name)
    _assert_clean_after_raise(
        spark, lambda: fn(_path(spark), checkpoint=ck, checkpoint_interval=1)
    )


def test_bfs_raise_in_step_leaves_session_clean(spark, monkeypatch):
    expand = bfs._expand

    def failing(d, edges, level, depth):
        if depth == 2:
            raise _Boom()
        return expand(d, edges, level, depth)

    monkeypatch.setattr(bfs, "_expand", failing)
    seeds = spark.createDataFrame([(0,)], "id LONG")
    _assert_clean_after_raise(spark, lambda: bfs.bfs_depths(_path(spark), seeds))


def test_repeated_pagerank_keeps_one_cache_per_live_result(spark):
    """A long-lived caller (the REST server's rescore loop) ranks a
    different edge table on every call; each call may leave only the
    blocks its result reads."""
    before = _persistent_ids(spark)
    results = []
    for seed in range(3):
        edges, _ = random_digraph(n=30 + 10 * seed, p=0.1, seed=seed)
        df = spark.createDataFrame(edges, "src LONG, dst LONG")
        results.append(pagerank(df, precision=1e-6))
    assert len(_persistent_ids(spark) - before) <= len(results)
    assert all(r.ranks.count() > 0 for r in results)


def test_components_checkpoints_superstep_stopped_by_max_iters(spark, tmp_path):
    """A run stopped by ``max_iters`` off the interval still writes its
    last superstep, so a resume loses no work."""
    ck = str(tmp_path / "ck")
    res = connected_components(_path(spark), max_iters=3, checkpoint=ck, checkpoint_interval=5)
    assert not res.converged
    assert CheckpointManager(ck, "components").iterations() == [3]
