"""Round-7 contract fixes: the public build_energy façade's `edges=`
reuse, scratch-parquet disk reclamation for driver-tier diffusion,
distributed-tier fallback when the driver→executor matrix handoff is
not deployable, and the 'auto'-calibration diagnostics contract."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.functions import spool
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.params import EnergyParams, GraphParams

GP = GraphParams(eps=0.9, k=4, topk=5, p=2.0)
EP = EnergyParams(optical_tokens=3, eta=0.05, steps=2, trim_quantile=0.1)


def _energy_sig(idx):
    items = {
        (r["item_id"], round(r["lambda"], 9), round(r["e_raw"], 9),
         r["centroid_id"])
        for r in idx.items.select(
            "item_id", "lambda", "e_raw", "centroid_id").collect()
    }
    cents = {
        (r["centroid_id"], r["n_members"], round(r["lambda_c"], 9))
        for r in idx.centroids.select(
            "centroid_id", "n_members", "lambda_c").collect()
    }
    return items, cents


def test_facade_build_energy_accepts_shared_edges(spark, test0_items_df):
    """r6 verdict #4: the one-graph-two-indexes pipeline must be
    reachable through the PUBLIC ArrowSpaceBuilder façade — a library
    user following the README should never import operators.energy.
    With the exact strategy the reused edge list is value-identical,
    so the façade build with `edges=` must equal the standalone one."""
    std = ArrowSpaceBuilder.build(test0_items_df, GP)
    shared = ArrowSpaceBuilder.build_energy(
        test0_items_df, EP, GP, edges=std.edges)
    standalone = ArrowSpaceBuilder.build_energy(test0_items_df, EP, GP)
    assert _energy_sig(shared) == _energy_sig(standalone)


def test_driver_tier_diffuse_releases_scratch_dirs(spark, test0_items_df):
    """r6 verdict #7: repeated driver-tier diffuse calls in one session
    must not grow temp disk without bound — the scratch parquet is
    absorbed into Spark block storage (eager localCheckpoint) and its
    dir deleted before diffuse returns."""
    from pyarrowspace_spark.operators import knn as KNN

    edges = KNN.knn_edges(test0_items_df, GP, strategy="exact")
    before = list(spool._SCRATCH_DIRS)
    outs = [E.diffuse(test0_items_df, edges, eta=0.05, steps=1)
            for _ in range(3)]
    assert spool._SCRATCH_DIRS == before, (
        "driver-tier diffuse leaked scratch parquet dirs")
    # the released frames must still be fully materializable
    for out in outs:
        assert out.count() == test0_items_df.count()


def test_matrix_to_frame_eager_release_values_survive(spark):
    """eager_release deletes the scratch files — the checkpointed frame
    must still return the exact handed-off matrix afterwards."""
    ids = np.arange(7, dtype=np.int64)
    X = np.arange(21, dtype=np.float64).reshape(7, 3) / 10.0
    before = list(spool._SCRATCH_DIRS)
    df = M.matrix_to_frame(spark, ids, X, eager_release=True)
    assert spool._SCRATCH_DIRS == before
    rows = {r["item_id"]: r["features"]
            for r in df.orderBy("item_id").collect()}
    for i in range(7):
        assert rows[i] == pytest.approx(list(X[i]))


def test_diffuse_falls_back_distributed_when_handoff_ineligible(
        spark, test0_items_df, monkeypatch):
    """ADVICE r6 medium: on a deployment where the diffused matrix
    cannot be handed back to executors (non-local master, no shared
    scratch dir, matrix over the boxed-row ceiling) diffuse must run
    the distributed tier — which exists and is correct — instead of
    raising after the driver-side arithmetic."""
    from pyarrowspace_spark.operators import knn as KNN

    edges = KNN.knn_edges(test0_items_df, GP, strategy="exact")
    want = {r["item_id"]: r["features"]
            for r in E.diffuse(test0_items_df, edges,
                               eta=0.05, steps=2).collect()}
    monkeypatch.setattr(M, "handoff_eligible", lambda s, b: False)

    def _no_driver_tier(*a, **k):
        raise AssertionError("driver tier taken despite ineligibility")

    monkeypatch.setattr(E, "_diffuse_driver", _no_driver_tier)
    got_df = E.diffuse(test0_items_df, edges, eta=0.05, steps=2)
    got = {r["item_id"]: r["features"] for r in got_df.collect()}
    assert set(got) == set(want)
    # tolerance is the fp32 message bound: this test pins tier ROUTING
    # on the default path, and the distributed tier defaults to fp32
    # messages since r10 (exact-tier parity is pinned at 1e-9 by
    # test_energy.py::test_diffuse_tiers_agree with msg_dtype=float64)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-5, abs=1e-9)


def test_handoff_eligible_policy(spark):
    """Eligibility: small matrices are always portable; big ones need
    a local master or an executor-shared scratch dir."""
    assert M.handoff_eligible(spark, 1024)  # portable fallback size
    # local[...] master: scratch parquet is deployable at any size
    assert M.handoff_eligible(spark, 100 * 1024**3)


def test_auto_graph_params_diagnostics_contract(spark, test0_items_df):
    """with_diagnostics exposes the calibration inputs the driver gate
    replays in SQL: eps must be exactly the margined/clamped eps_raw,
    and k the connectivity-rule value."""
    import math

    from pyarrowspace_spark.operators.dimred import auto_graph_params

    params, info = auto_graph_params(test0_items_df,
                                     with_diagnostics=True)
    assert info["n"] == test0_items_df.count()
    assert info["k"] == max(2, round(2.0 * math.log(info["n"])))
    assert params.k == info["k"] and params.topk == info["k"]
    want_eps = min(1.0, max(info["eps_raw"] * 1.10, 1e-6))
    assert params.eps == pytest.approx(want_eps, rel=0, abs=0)


class _FakeConf:
    def __init__(self, val):
        self._v = val

    def get(self, key, default=None):
        return self._v if self._v is not None else default


class _FakeSpark:
    def __init__(self, val):
        self.conf = _FakeConf(val)


def test_driver_result_capacity_parses_spark_size_strings():
    """The maxResultSize conf comes back as Spark size strings; the
    parser must handle unit suffixes, bare bytes, 0=unlimited, and
    fall back conservatively on garbage."""
    import sys

    assert M.driver_result_capacity(_FakeSpark("1g")) == 1024**3
    assert M.driver_result_capacity(_FakeSpark("512m")) == 512 * 1024**2
    assert M.driver_result_capacity(_FakeSpark("2G")) == 2 * 1024**3
    assert M.driver_result_capacity(_FakeSpark("1536k")) == 1536 * 1024
    assert M.driver_result_capacity(_FakeSpark("2048")) == 2048
    assert M.driver_result_capacity(_FakeSpark("0")) == sys.maxsize
    assert M.driver_result_capacity(_FakeSpark(None)) == 1024**3
    assert M.driver_result_capacity(_FakeSpark("bogus")) == 1024**3


def test_laplacian_falls_back_distributed_when_collect_too_big(
        spark, test0_items_df, monkeypatch):
    """A collect over spark.driver.maxResultSize ABORTS the job, so
    the driver-BLAS Laplacian tiers must not be picked when X would
    not fit — the fully distributed tier computes the same L_F (the
    N=600k p_bit run crashed on exactly this tier mis-selection)."""
    from pyarrowspace_spark.operators import knn as KNN
    from pyarrowspace_spark.operators import lambda_index as L

    edges = KNN.knn_edges(test0_items_df, GP, strategy="exact")
    nf = len(test0_items_df.first()["features"])
    want = L.feature_laplacian(test0_items_df, edges, nf)

    def _no_collect(*a, **k):
        raise AssertionError("driver tier collected X despite "
                             "maxResultSize ineligibility")

    monkeypatch.setattr(M, "collect_eligible", lambda s, b: False)
    monkeypatch.setattr(M, "collect_id_matrix", _no_collect)
    got = L.feature_laplacian(test0_items_df, edges, nf)
    np.testing.assert_allclose(got, want, rtol=1e-9, atol=1e-12)


def test_diffuse_respects_max_result_size(spark, test0_items_df,
                                          monkeypatch):
    """Same contract for diffuse's driver tier: collect-ineligible →
    distributed tier, identical values."""
    from pyarrowspace_spark.operators import knn as KNN

    edges = KNN.knn_edges(test0_items_df, GP, strategy="exact")
    want = {r["item_id"]: r["features"]
            for r in E.diffuse(test0_items_df, edges,
                               eta=0.05, steps=2).collect()}
    monkeypatch.setattr(M, "collect_eligible", lambda s, b: False)

    def _no_driver_tier(*a, **k):
        raise AssertionError("driver tier taken despite collect "
                             "ineligibility")

    monkeypatch.setattr(E, "_diffuse_driver", _no_driver_tier)
    got = {r["item_id"]: r["features"]
           for r in E.diffuse(test0_items_df, edges,
                              eta=0.05, steps=2).collect()}
    assert set(got) == set(want)
    # fp32 message bound — routing pin, see the handoff test above
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-5, abs=1e-9)


def test_session_default_capacity_admits_driver_tier_ceiling(spark):
    """get_spark defaults spark.driver.maxResultSize to 8g, so the
    4 GiB diffuse driver-tier ceiling is collect-eligible under the
    engine's own sessions (the whole point of raising the default)."""
    assert M.collect_eligible(spark, 4 * 1024**3)
    assert not M.collect_eligible(spark, 100 * 1024**3)
