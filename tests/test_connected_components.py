"""connected_components (operators/dedup.py) convergence behavior."""

import math
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from reddit_etl_pipeline_spark.operators.dedup import (  # noqa: E402
    CC_STEPS_PER_ROUND,
    connected_components,
)


def _path_graph(spark, n):
    # 0-1-2-...-n: diameter n, needs n changing steps + 1 no-op step
    return spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "doc_a bigint, doc_b bigint"
    )


def test_cc_converges_on_path_graph(spark):
    comp = connected_components(_path_graph(spark, 6)).collect()
    assert all(r.component == 0 for r in comp)
    assert len(comp) == 7


def test_cc_raises_instead_of_returning_partial_labels(spark):
    # diameter 12 cannot converge in 3 steps; silent partial labels would
    # split one component into several — must raise instead. The message
    # names the steps actually run (max_iter rounded up to whole fused
    # rounds) and the last step's change count: step k on the 13-node
    # path lowers the labels of nodes k..12.
    steps = CC_STEPS_PER_ROUND * math.ceil(3 / CC_STEPS_PER_ROUND)
    with pytest.raises(
        RuntimeError,
        match=rf"did not converge in {steps} propagation steps "
        rf"\({13 - steps} labels changed in the last step\)",
    ):
        connected_components(_path_graph(spark, 12), max_iter=3)


def test_cc_max_iter_boundary(spark):
    # a 3-edge path needs exactly 4 steps (3 changing + 1 no-op): the
    # no-op last step certifies the fixpoint inside the budget
    comp = connected_components(_path_graph(spark, 3), max_iter=4).collect()
    assert sorted((r.node, r.component) for r in comp) == [(i, 0) for i in range(4)]
    # a 4-edge path needs 5: its 4th step still changes a label
    with pytest.raises(RuntimeError, match="did not converge in 4 propagation"):
        connected_components(_path_graph(spark, 4), max_iter=4)


@pytest.mark.parametrize("pre_normalized", [False, True])
@pytest.mark.parametrize("length", [3, 4, 6])
def test_cc_round_count_and_no_count_jobs(spark, monkeypatch, pre_normalized, length):
    """One checkpoint per round, stopping on the round whose last step
    changed nothing: an L-edge path takes ceil((L+1)/steps) rounds. The
    change count rides on the checkpoint, so no count() job runs."""
    pairs = _path_graph(spark, length)
    # patch the concrete class: it overrides the abstract pyspark.sql one
    cls = type(pairs)
    calls = {"localCheckpoint": 0, "count": 0}
    for name in calls:
        orig = getattr(cls, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(cls, name, counted)
    comp = connected_components(pairs, pre_normalized=pre_normalized)
    rounds = math.ceil((length + 1) / CC_STEPS_PER_ROUND)
    edge_checkpoints = 0 if pre_normalized else 1
    assert calls == {"localCheckpoint": rounds + edge_checkpoints, "count": 0}
    monkeypatch.undo()
    assert {r.component for r in comp.collect()} == {0}


@pytest.mark.parametrize("pre_normalized", [False, True])
def test_cc_empty_input_returns_empty(spark, pre_normalized):
    # empty in, empty out: the observed change count of an empty label
    # set is 0, so the first round certifies the (empty) fixpoint
    pairs = spark.createDataFrame([], "doc_a bigint, doc_b bigint")
    comp = connected_components(pairs, pre_normalized=pre_normalized)
    assert comp.columns == ["node", "component"]
    assert comp.collect() == []


def test_cc_two_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a bigint, doc_b bigint"
    )
    got = {r.node: r.component for r in connected_components(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}


def test_dedup_queries_leave_no_cached_tables(spark, documents):
    """Cache hygiene: jaccard_pairs / minhash pipelines must not leave
    entries in the session CacheManager after executing (long-lived
    sessions looping over corpora would accrete them)."""
    from reddit_etl_pipeline_spark.operators.dedup import (
        jaccard_pairs,
        minhash_neardup_pairs,
    )

    spark.catalog.clearCache()
    jaccard_pairs(documents, threshold=0.9).count()
    minhash_neardup_pairs(documents, threshold=0.9).count()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
