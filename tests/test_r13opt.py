"""r13 optimization-round pins: the narrow-shuffle LSH plan and the
hoisted Laplacian diagonal must be value-identical to the plans they
replace."""

import numpy as np
import pytest

from pyarrowspace_spark.functions import spool
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.params import GraphParams


def _corpus(spark, n=700, f=24, seed=3):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((5, f))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 5, n)] + 0.08 * rng.standard_normal((n, f))
    X *= 12.0
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        schema="item_id long, features array<double>")


def test_narrow_shuffle_lsh_identical_to_vector_plan(spark, monkeypatch):
    """The U-spool narrow-shuffle plan (shuffle (band, key, id), gather
    vectors from the id-sorted float32 spool) must emit the IDENTICAL
    edge list — src, dst, AND dist bit-for-bit — as the legacy
    vector-shuffle plan on the same corpus: `_normalize_f32` is the
    same op sequence the hash pass applies, so U bits cannot differ."""
    items = _corpus(spark)
    gp = GraphParams(eps=0.9, k=8, topk=8, p=2.0)
    narrow = {(r["src"], r["dst"]): r["dist"]
              for r in K.knn_edges(items, gp, strategy="lsh").collect()}
    assert K.lsh_group_summary() is not None  # narrow spools eagerly
    monkeypatch.setattr(spool, "scratch", lambda spark: None)
    legacy = {(r["src"], r["dst"]): r["dist"]
              for r in K.knn_edges(items, gp, strategy="lsh").collect()}
    assert narrow == legacy and len(narrow) > 0


def test_narrow_shuffle_skew_guard_identical(spark, monkeypatch):
    """Oversized-bucket block splitting under the narrow plan (spool
    gather in block-pair tasks) matches the legacy plan on a
    mass-duplicate corpus."""
    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(40)] + [
        (100 + i, [float(x) for x in v])
        for i, v in enumerate(np.eye(4)[1:] * 1.0)]
    df = spark.createDataFrame(
        rows, schema="item_id long, features array<double>")
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    monkeypatch.setattr(K, "LSH_BUCKET_MAX", 8)
    narrow = {(r["src"], r["dst"]) for r in K.knn_edges(
        df, gp, strategy="lsh", lsh_bits=4, lsh_bands=4).collect()}
    monkeypatch.setattr(spool, "scratch", lambda spark: None)
    legacy = {(r["src"], r["dst"]) for r in K.knn_edges(
        df, gp, strategy="lsh", lsh_bits=4, lsh_bands=4).collect()}
    assert narrow == legacy and len(narrow) > 0


def test_gather_diag_hoist_matches_driver_tier(spark):
    """feature_laplacian's gather tier (diagonal now one driver gemm +
    SQL degree aggregate) still agrees with the driver-BLAS tier."""
    from pyarrowspace_spark.operators import lambda_index as LAM

    items = _corpus(spark, n=300, f=16, seed=11)
    gp = GraphParams(eps=0.9, k=6, topk=6, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    lf_driver = LAM.feature_laplacian(items, edges, 16)
    # force the gather tier by dropping the driver-tier row ceiling
    import pyarrowspace_spark.operators.knn as KM
    old = KM.EXACT_PATH_MAX_ROWS
    try:
        KM.EXACT_PATH_MAX_ROWS = 0
        lf_gather = LAM.feature_laplacian(items, edges, 16)
    finally:
        KM.EXACT_PATH_MAX_ROWS = old
    edges.unpersist()
    assert np.allclose(lf_gather, lf_driver, rtol=1e-9, atol=1e-9)
    assert float(np.abs(lf_gather).max()) > 0


def test_diffuse_spool_plan_matches_driver_and_legacy(spark, monkeypatch):
    """The narrow-shuffle (spool-gather) distributed diffusion plan
    must agree with the exact driver tier to fp noise (fp64 messages)
    and with the legacy array-message plan it replaces; per-step
    instrumentation still reports one entry per step."""
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=400, f=12, seed=5)
    gp = GraphParams(eps=0.9, k=6, topk=6, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact").persist()
    a = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=3).collect()}
    assert E._LAST_DIFFUSE_INFO["tier"] == "driver"
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    steps_sec: list = []
    b_df = E.diffuse(items, edges, eta=0.05, steps=3,
                     msg_dtype="float64", step_times=steps_sec)
    b = {r["item_id"]: np.array(r["features"]) for r in b_df.collect()}
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    assert len(steps_sec) == 3
    assert set(a) == set(b)
    for i in a:
        np.testing.assert_allclose(b[i], a[i], rtol=1e-9)
    monkeypatch.setattr(spool, "scratch", lambda spark: None)
    c = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=3,
                            msg_dtype="float64").collect()}
    assert E._LAST_DIFFUSE_INFO["plan"] == "shuffle"
    edges.unpersist()
    assert set(c) == set(b)
    for i in b:
        np.testing.assert_allclose(c[i], b[i], rtol=1e-9)


def test_diffuse_spool_fp32_default_bound(spark, monkeypatch):
    """Default (fp32-message) spool plan stays within the documented
    ≈1e-6/step bound of the fp64 driver tier."""
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=300, f=16, seed=9)
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact")
    a = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.1, steps=2).collect()}
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    b = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.1, steps=2).collect()}
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    assert E._LAST_DIFFUSE_INFO["msg_dtype"] == "float32"
    assert set(a) == set(b)
    for i in a:
        np.testing.assert_allclose(b[i], a[i], rtol=1e-5)


def test_diffuse_spool_isolated_nodes_identity(spark, monkeypatch):
    """Items with no edges at all are the identity under diffusion and
    must appear unchanged in the spool plan's output (they are
    appended from the seed spool, never gathered)."""
    from pyarrowspace_spark.operators import energy as E

    rows = [(i, [float(i + 1), float(2 * i), 0.5]) for i in range(6)]
    items = spark.createDataFrame(
        rows, schema="item_id long, features array<double>")
    edges = spark.createDataFrame(
        [(0, 1, 0.5), (1, 2, 0.25), (2, 3, 0.75)],
        schema="src long, dst long, weight double")
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    out = {r["item_id"]: np.array(r["features"])
           for r in E.diffuse(items, edges, eta=0.1, steps=2,
                              msg_dtype="float64").collect()}
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    assert set(out) == set(range(6))
    for i in (4, 5):
        np.testing.assert_array_equal(
            out[i], np.array(rows[i][1], dtype=np.float64))
    # connected nodes actually moved
    assert not np.allclose(out[1], rows[1][1])


def test_diffuse_spool_stream_write_mode_matches(spark, monkeypatch):
    """The parquet+driver-stream spool build (the multi-host-safe
    write mode) produces the same values as the default task-write
    mode and the driver tier."""
    from pyarrowspace_spark.operators import energy as E

    items = _corpus(spark, n=250, f=10, seed=21)
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    edges = K.knn_edges(items, gp, strategy="exact")
    a = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=2).collect()}
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    # a multi-host scratch: same root, writers without a shared cache
    shared = spool.scratch(spark)._replace(single_host=False)
    monkeypatch.setattr(spool, "scratch", lambda s: shared)
    b = {r["item_id"]: np.array(r["features"])
         for r in E.diffuse(items, edges, eta=0.05, steps=2,
                            msg_dtype="float64").collect()}
    assert E._LAST_DIFFUSE_INFO["plan"] == "spool"
    assert set(a) == set(b)
    for i in a:
        np.testing.assert_allclose(b[i], a[i], rtol=1e-9)
