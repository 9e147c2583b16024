"""Round-10 contract pins: build_energy normalise=True scale parity
(the round-9 fix shipped untested — VERDICT r9 'What's wrong' #1),
extend_energy check_ids probes, and the fp32 diffusion-message tier's
error bound."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.functions import spool
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as knn_ops
from pyarrowspace_spark.params import EnergyParams, GraphParams

from .conftest import TEST0_ITEMS

EP = EnergyParams(optical_tokens=16, eta=0.05, steps=2, trim_quantile=0.1)
GPN = GraphParams(eps=0.9, k=10, topk=10, p=2.0, normalise=True)


@pytest.fixture(scope="module")
def sf_items(spark):
    from pyarrowspace_spark.sources.loaders import items_from_embeddings

    return items_from_embeddings(spark, "/root/testdata/sf0.001").select(
        "item_id", "features").persist()


def _index_state(idx):
    items = {r["item_id"]: (r["lambda"], r["e_raw"], r["centroid_id"])
             for r in idx.items.collect()}
    return idx.tau_synth, items


def test_build_energy_normalise_scale_invariance(spark, sf_items):
    """The r9 fix under test: with normalise=True, build_energy must
    store the BASE corpus in unit-norm space (energy.py build_energy,
    mirroring builder.py's P1 stage), so the whole index is invariant
    to per-item input scaling — same tau_synth, λ, e_raw, centroid
    assignment, and search scores whether the caller's vectors arrive
    raw or arbitrarily rescaled. Pre-fix, the scaled build stored
    raw-scale features and every energy quantity diverged."""
    idx_a = E.build_energy(sf_items, EP, GPN)
    scaled = sf_items.select(
        "item_id",
        F.transform(
            "features",
            lambda x: x * (F.lit(0.5) + (F.col("item_id") % 7))
        ).alias("features"),
    )
    idx_b = E.build_energy(scaled, EP, GPN)

    tau_a, items_a = _index_state(idx_a)
    tau_b, items_b = _index_state(idx_b)
    assert tau_b == pytest.approx(tau_a, rel=1e-9)
    assert set(items_a) == set(items_b)
    for i in items_a:
        assert items_b[i][0] == pytest.approx(items_a[i][0], rel=1e-9)
        assert items_b[i][1] == pytest.approx(items_a[i][1], rel=1e-9)
        assert items_b[i][2] == items_a[i][2]

    q = np.array(sf_items.filter(F.col("item_id") == 7)
                 .first()["features"])
    hits_a = {(r["item_id"], round(r["score"], 9))
              for r in E.search_energy(idx_a, q, k=5).collect()}
    hits_b = {(r["item_id"], round(r["score"], 9))
              for r in E.search_energy(idx_b, q, k=5).collect()}
    assert hits_a == hits_b


def test_build_energy_normalise_extend_roundtrip(spark, sf_items):
    """Build↔extend scale parity (the consistency the r9 fix exists to
    guarantee): on a normalise=True energy index, extending with a raw
    copy and a ×3-scaled copy of the same vector must append IDENTICAL
    rows — same stored features, λ, e_raw, and frozen-centroid
    assignment — and both are immediately searchable at rank 1."""
    idx = E.build_energy(sf_items, EP, GPN)
    v = sf_items.filter(F.col("item_id") == 3).first()["features"]
    new = spark.createDataFrame(
        [(100_000, [float(x) for x in v]),
         (100_001, [float(x) * 3.0 for x in v])],
        schema="item_id long, features array<double>")
    ext = idx.extend(new)
    rows = {r["item_id"]: r for r in
            ext.items.filter(F.col("item_id") >= 100_000).collect()}
    assert set(rows) == {100_000, 100_001}
    a, b = rows[100_000], rows[100_001]
    np.testing.assert_allclose(b["features"], a["features"], rtol=1e-12)
    assert b["lambda"] == pytest.approx(a["lambda"], rel=1e-12)
    assert b["e_raw"] == pytest.approx(a["e_raw"], rel=1e-12)
    assert b["centroid_id"] == a["centroid_id"]
    # stored scale parity: the appended vector lives in the SAME
    # unit-norm space as the base corpus was stored in
    assert float(np.linalg.norm(a["features"])) == pytest.approx(1.0)
    hits = E.search_energy(ext, np.array(a["features"]), k=3).orderBy(
        "rank").collect()
    assert hits[0]["item_id"] in (100_000, 100_001)


def test_extend_energy_check_ids(spark, sf_items):
    """check_ids probes (ADVICE r9): collision with the existing index
    raises; duplicate ids WITHIN the new batch raise; both reachable
    through the EnergyIndex.extend wrapper; default stays off."""
    idx = E.build_energy(sf_items, EP, GPN)
    v = [float(x) for x in
         sf_items.filter(F.col("item_id") == 1).first()["features"]]
    clash = spark.createDataFrame(
        [(1, v)], schema="item_id long, features array<double>")
    with pytest.raises(ValueError, match="already"):
        idx.extend(clash, check_ids=True)
    dup_batch = spark.createDataFrame(
        [(200_000, v), (200_000, v)],
        schema="item_id long, features array<double>")
    with pytest.raises(ValueError, match="new batch"):
        idx.extend(dup_batch, check_ids=True)
    # default off: the caller's contract, no probe, append proceeds
    assert idx.extend(clash).items.count() == idx.items.count() + 1


def test_diffusion_step_fp32_messages(spark, test0_items_df):
    """The fp32 message tier's error bound, pinned against the exact
    numpy step: casting the E·F edge messages to float32 (halving the
    distributed tier's per-step shuffle volume) must stay within
    ~1e-6 relative of x' = x − η·L·x."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = knn_ops.knn_edges(test0_items_df, gp, strategy="exact")
    eta = 0.1
    out = E.diffusion_step(test0_items_df, edges, eta,
                           msg_dtype="float32")
    got = {r["item_id"]: np.array(r["features"]) for r in out.collect()}
    X = np.array(TEST0_ITEMS)
    n = len(X)
    W = np.zeros((n, n))
    for r in edges.collect():
        W[r["src"], r["dst"]] = r["weight"]
        W[r["dst"], r["src"]] = r["weight"]
    L = np.diag(W.sum(1)) - W
    expect = X - eta * (L @ X)
    for i in range(n):
        np.testing.assert_allclose(got[i], expect[i], rtol=1e-5)


def test_diffusion_step_feat_chunked_exact(spark, test0_items_df):
    """Feature-block chunking is an EXACT split (per-dim arithmetic is
    independent): a 3-chunk fp64 step must match the unchunked step and
    the closed-form x' = x − η·L·x bit-for-bit-ish (rtol 1e-12),
    including uneven chunk boundaries (F not divisible by 3)."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = knn_ops.knn_edges(test0_items_df, gp, strategy="exact")
    eta = 0.1
    full = {r["item_id"]: np.array(r["features"])
            for r in E.diffusion_step(
                test0_items_df, edges, eta).collect()}
    chunked = {r["item_id"]: np.array(r["features"])
               for r in E.diffusion_step(
                   test0_items_df, edges, eta, feat_chunks=3).collect()}
    assert set(full) == set(chunked)
    X = np.array(TEST0_ITEMS)
    n = len(X)
    W = np.zeros((n, n))
    for r in edges.collect():
        W[r["src"], r["dst"]] = r["weight"]
        W[r["dst"], r["src"]] = r["weight"]
    expect = X - eta * ((np.diag(W.sum(1)) - W) @ X)
    for i in range(n):
        np.testing.assert_allclose(chunked[i], full[i], rtol=1e-12)
        np.testing.assert_allclose(chunked[i], expect[i], rtol=1e-12)
    # chunked output must preserve the feature width
    assert all(len(v) == X.shape[1] for v in chunked.values())


def test_diffuse_auto_chunks_under_budget(spark, test0_items_df,
                                          monkeypatch):
    """`diffuse` splits any step whose message shuffle exceeds
    SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES: with a tiny budget the
    distributed tier must choose feat_chunks > 1 and still agree with
    the driver tier within the fp32 bound."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = knn_ops.knn_edges(test0_items_df, gp, strategy="exact")
    a = E.diffuse(test0_items_df, edges, eta=0.1, steps=2)
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    # chunking is legacy-plan machinery; the r13 spool plan never
    # approaches the message-shuffle budget (pinned in test_r13opt.py)
    monkeypatch.setattr(spool, "scratch", lambda spark: None)
    monkeypatch.setenv("SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES", "64")
    b = E.diffuse(test0_items_df, edges, eta=0.1, steps=2)
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert E._LAST_DIFFUSE_INFO is not None
    assert E._LAST_DIFFUSE_INFO["feat_chunks"] > 1
    assert set(got_a) == set(got_b)
    for i in got_a:
        np.testing.assert_allclose(got_a[i], got_b[i], rtol=1e-5)


def test_diffuse_chunked_matches_driver_at_sf0001(spark, sf_items,
                                                  monkeypatch):
    """Chunked distributed tier vs exact driver tier on a REAL graph
    (500 items, sf0.001 embeddings): multi-group, multi-chunk, fp32 —
    the same drive that validated the r10 change end-to-end. Bound is
    the documented fp32 per-step error compounded over 2 steps."""
    from pyarrowspace_spark.operators.knn import knn_edges

    gp = GraphParams(eps=0.9, k=10, topk=5, p=2.0)
    edges = knn_edges(sf_items, gp, strategy="exact")
    a = E.diffuse(sf_items, edges, eta=0.05, steps=2)
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    # pin the legacy plan: feat_chunks is its machinery (see above)
    monkeypatch.setattr(spool, "scratch", lambda spark: None)
    monkeypatch.setenv("SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES", "200000")
    b = E.diffuse(sf_items, edges, eta=0.05, steps=2)
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert E._LAST_DIFFUSE_INFO["feat_chunks"] > 1
    assert set(got_a) == set(got_b)
    for i in got_a:
        np.testing.assert_allclose(got_a[i], got_b[i], rtol=1e-4)


def test_diffuse_distributed_default_fp32(spark, test0_items_df,
                                          monkeypatch):
    """The distributed tier DEFAULTS to fp32 messages; a multi-step
    run must agree with the (always-fp64) driver tier within the
    documented ≈1e-6-per-step bound."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = knn_ops.knn_edges(test0_items_df, gp, strategy="exact")
    a = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    got_a = {r["item_id"]: np.array(r["features"]) for r in a.collect()}
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)
    b = E.diffuse(test0_items_df, edges, eta=0.1, steps=3)
    got_b = {r["item_id"]: np.array(r["features"]) for r in b.collect()}
    assert set(got_a) == set(got_b)
    for i in got_a:
        np.testing.assert_allclose(got_a[i], got_b[i], rtol=1e-5)
