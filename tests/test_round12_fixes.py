"""Round-12 fix pins (VERDICT r11 findings + ADVICE r11):

- per-GROUP pair-spool projection under the k-cap (finding 3): the
  up-front refusal must accept a build whose disk fits the k-capped
  per-group spools even when the old per-band projection would refuse.
- `lsh_plan` / `lsh_group_summary` diagnostics surface (finding 2):
  the grouped-stage record is a structured accessor + index attachment,
  no longer a module-global breadcrumb only measurement scripts read.
- fp32 X ship for the gather-tier Laplacian (finding 1): error bound
  vs the fp64 path, auto threshold, env override.
- fp32 message error on a HIGH-DEGREE graph (verdict gap 3): the
  ≈1e-6 bound was pinned only at deg ≤ topk; a star hub of degree 299
  quantifies the deg-scaled bound (sum of deg fp32 messages).
"""

import os
import types

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyarrowspace_spark.builder import ArrowSpaceBuilder
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import lambda_index as LAM
from pyarrowspace_spark.params import GraphParams

from .conftest import TEST0_ITEMS


def _small_corpus(spark, n=600, f=24, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((6, f))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 6, n)] + 0.05 * rng.standard_normal((n, f))
    rows = [(i, [float(v) for v in X[i]]) for i in range(n)]
    return spark.createDataFrame(
        rows, schema="item_id long, features array<double>")


def test_lsh_plan_deterministic_twin():
    """lsh_plan replays the runtime's own auto rules (bit width, band
    count) and the k-capped per-group spool projection — the arithmetic
    the DuckDB oracle twin embeds."""
    import math

    p = K.lsh_plan(313_841, 384, 25)
    n_bits = int(min(20, max(6, round(math.log2(313_841 / 256)))))
    assert p["n_bits"] == n_bits
    assert p["n_bands"] == K.auto_lsh_bands(n_bits)
    assert p["n_band_groups"] >= 1
    assert p["band_shuffle_bytes"] == 313_841 * (384 * 4 + 48)
    assert p["spool_group_bytes"] == 313_841 * 25 * K.LSH_PAIR_SPOOL_BYTES
    # explicit budget: 1-byte budget → every band its own group cap
    tiny = K.lsh_plan(313_841, 384, 25, group_budget_bytes=1)
    assert tiny["n_band_groups"] == tiny["n_bands"]


def test_group_summary_attached_and_reset(spark, monkeypatch):
    """A grouped LSH build populates lsh_group_summary() and the built
    index's lsh_build_info; a following exact build resets both to
    None (no stale leak across builds — finding 2)."""
    # r13-opt: narrow-shuffle rows are ~28 B — a smaller budget keeps
    # this forcing ≥2 groups under the new row pricing
    monkeypatch.setenv("SPARK_GRAFT_LSH_GROUP_BYTES", "100000")
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    items = _small_corpus(spark)
    gp = GraphParams(eps=0.35, k=6, topk=6, p=2.0, sigma=0.2)
    idx = ArrowSpaceBuilder.build(items, gp, strategy="lsh")
    s = K.lsh_group_summary()
    assert s is not None and s["n_groups"] >= 2
    assert s["bands_total"] == sum(len(g["bands"]) for g in s["groups"])
    assert s["spool_bytes_total"] > 0
    assert s["spool_bytes_max_group"] <= s["spool_bytes_total"]
    assert idx.lsh_build_info == s
    assert idx.edges.count() > 0
    # exact build afterwards: record cleared, nothing stale attached
    idx2 = ArrowSpaceBuilder.build(items, gp, strategy="exact")
    assert K.lsh_group_summary() is None
    assert idx2.lsh_build_info is None


def test_spool_projection_per_group_not_per_band(spark, monkeypatch):
    """VERDICT r11 finding 3: with the per-src k-cap active, a group's
    spool is bounded at N·k rows regardless of band count, so the
    up-front refusal must project per GROUP. Fake the free-disk probe
    to a value BETWEEN the r11 per-band projection (would refuse) and
    the per-group need (fits) and assert the build proceeds."""
    monkeypatch.setenv("SPARK_GRAFT_LSH_GROUP_BYTES", "700000")
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1000000")
    monkeypatch.setenv("SPARK_GRAFT_LSH_SPILL_FACTOR", "4.0")
    n, f, k = 600, 24, 8
    items = _small_corpus(spark, n=n, f=f)
    # runtime plan at these shapes (auto bits/bands)
    plan = K.lsh_plan(n, f, k, group_budget_bytes=700_000)
    nb = plan["n_bands"]
    band_bytes = n * (f * 4 + 48)
    spool_unit = n * k * K.LSH_PAIR_SPOOL_BYTES
    floor_b, spill = 1_000_000, 4.0
    old_need = nb * spool_unit + band_bytes * spill + floor_b
    new_need = (plan["n_band_groups"] * spool_unit
                + band_bytes * spill + floor_b)
    fake_free = int((old_need + new_need) / 2)
    assert new_need < fake_free < old_need  # the scenario is real
    real_usage = K.shutil.disk_usage

    def fake_usage(path):
        r = real_usage(path)
        return types.SimpleNamespace(total=r.total, used=r.used,
                                     free=fake_free)

    monkeypatch.setattr(K.shutil, "disk_usage", fake_usage)
    edges = K.knn_edges(
        _small_corpus(spark, n=n, f=f),
        GraphParams(eps=0.35, k=k, topk=k, p=2.0, sigma=0.2),
        strategy="lsh")
    assert edges.count() > 0
    s = K.lsh_group_summary()
    assert s is not None and s["n_groups"] >= 2
    assert items is not None


def test_lf_x_fp32_ship_error_bound(spark, test0_items_df, monkeypatch):
    """fp32 X shipping in the gather tier (finding 1): partials still
    accumulate in fp64, so L_F error vs the fp64 ship is bounded by
    fp32 rounding of X (~1e-7 relative); fp64 ship stays exact vs the
    driver-exact tier."""
    gp = GraphParams(eps=0.05, k=5, topk=3, p=2.0, sigma=0.05)
    edges = K.knn_edges(test0_items_df, gp, strategy="exact")
    lf_exact = LAM.feature_laplacian(test0_items_df, edges, 24)
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)  # force gather tier
    monkeypatch.setenv("SPARK_GRAFT_LF_X_DTYPE", "float64")
    lf64 = LAM.feature_laplacian(test0_items_df, edges, 24)
    monkeypatch.setenv("SPARK_GRAFT_LF_X_DTYPE", "float32")
    lf32 = LAM.feature_laplacian(test0_items_df, edges, 24)
    scale = max(float(np.abs(lf_exact).max()), 1e-30)
    assert float(np.abs(lf64 - lf_exact).max()) / scale < 1e-12
    assert float(np.abs(lf32 - lf_exact).max()) / scale < 1e-5


def test_lf_x_dtype_auto_threshold(monkeypatch):
    """The auto rule: fp64 at/below LF_X_F32_MIN_ROWS (exactness is
    free at oracle/test scale), fp32 above (the gather stage is
    page-in bound at scale). Pinned at the decision level so the
    threshold can't silently flip the oracle-scale paths."""
    assert LAM.LF_X_F32_MIN_ROWS >= 10_000  # oracle scale stays fp64
    # the decision is (env, n) → dtype; replicate its contract
    monkeypatch.delenv("SPARK_GRAFT_LF_X_DTYPE", raising=False)
    assert 313_841 > LAM.LF_X_F32_MIN_ROWS  # flagship scale ships fp32


def test_fp32_messages_high_degree_star(spark):
    """Verdict gap 3: the fp32 message bound at high degree. A star
    hub sums `deg` fp32 messages in fp32, so its error grows ~deg·2⁻²⁴;
    pin the measured error under a 32·deg·2⁻²⁴ + 1e-6 envelope (and
    the off-hub nodes at the flat ≈1e-6 bound) on a deg=299 graph —
    the regime the deg ≤ topk pins never exercised."""
    rng = np.random.default_rng(11)
    n, f = 300, 8
    X = rng.standard_normal((n, f))
    items = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        schema="item_id long, features array<double>")
    w = rng.uniform(0.5, 1.0, n - 1)
    edges = spark.createDataFrame(
        [(0, j, float(w[j - 1])) for j in range(1, n)],
        schema="src long, dst long, weight double")
    eta = 0.001  # keep the hub update contractive at deg≈300
    out = E.diffusion_step(items, edges, eta, msg_dtype="float32")
    got = np.stack([r["features"] for r in
                    out.orderBy("item_id").collect()])
    # exact fp64: x' = x − η(Dx − Wx)
    W = np.zeros((n, n))
    W[0, 1:] = w
    W[1:, 0] = w
    deg = W.sum(axis=1)
    exact = X - eta * (deg[:, None] * X - W @ X)
    rel = np.abs(got - exact) / np.maximum(np.abs(exact), 1e-12)
    hub_bound = 32 * (n - 1) * 2.0 ** -24 + 1e-6
    assert float(rel[0].max()) < hub_bound
    assert float(rel[1:].max()) < 1e-5  # leaves: one message each


def test_synth_tmp_name_unique(tmp_path):
    """ADVICE r11: concurrent generators of the same corpus must not
    clobber each other's in-progress tmp file — the staged name is
    unique per process/invocation and the final rename is atomic."""
    from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

    p1 = ensure_clustered_corpus(str(tmp_path), n=1000, f=8)
    assert os.path.exists(p1)
    # no .tmp leftovers after a clean run
    leftovers = [fn for fn in os.listdir(os.path.dirname(p1))
                 if ".tmp" in fn]
    assert leftovers == []
    # regenerating is a cache hit (same path, still readable)
    import pyarrow.parquet as pq

    assert ensure_clustered_corpus(str(tmp_path), n=1000, f=8) == p1
    assert pq.read_metadata(p1).num_rows == 1000
