"""The spool module: scratch eligibility and visibility, the one
id-sorted writer, spool permissions, and release of every spool an
operator made when that operator fails."""

from __future__ import annotations

import os
import stat

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyarrowspace_spark.functions import matrix as M
from pyarrowspace_spark.functions import spool
from pyarrowspace_spark.operators import energy as E
from pyarrowspace_spark.operators import knn as K
from pyarrowspace_spark.operators import lambda_index as LAM
from pyarrowspace_spark.params import GraphParams


def _write_corpus(spark, tmp_path, n=300, f=8, seed=3):
    rng = np.random.default_rng(seed)
    X = rng.standard_normal((n, f)) * 4
    rows = [(int(i), [float(v) for v in X[i]]) for i in range(n)]
    p = str(tmp_path / "corpus.parquet")
    spark.createDataFrame(
        rows, "item_id long, features array<double>").write.parquet(p)
    return p, X


def _parquet_source(tmp_path, ids, vecs, name="src.parquet"):
    p = str(tmp_path / name)
    pq.write_table(pa.table({"id": pa.array(ids, type=pa.int64()),
                             "v": pa.array([list(v) for v in vecs])}),
                   p, row_group_size=64)
    return {"files": [p], "id_col": "id", "feat_col": "v"}


def _corpus(spark, n=300, f=12, seed=5):
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((5, f))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    X = centers[rng.integers(0, 5, n)] + 0.08 * rng.standard_normal((n, f))
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i] * 12.0]) for i in range(n)],
        schema="item_id long, features array<double>")


def _spool_dirs(root) -> list[str]:
    return [p for p in os.listdir(root) if p.startswith("pyarrowspace-")]


# ------------------------------------------------------- eligibility


def test_probe_worker_visible(spark, tmp_path):
    """Auto ship-mode visibility probe (ADVICE r11): a real shared dir
    probes True; an unwritable/nonexistent dir probes False without
    raising."""
    assert spool._probe_worker_visible(spark, str(tmp_path)) is True
    assert spool._probe_worker_visible(
        spark, str(tmp_path / "does-not-exist")) is False
    # no marker corpses left behind
    assert not [p for p in os.listdir(tmp_path)
                if p.startswith("pyarrowspace-visprobe-")]


def test_spool_modes_group_readable_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE",
                       raising=False)
    assert spool._spool_modes() == (0o750, 0o640)
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "1")
    assert spool._spool_modes() == (0o755, 0o644)


@pytest.mark.parametrize("world, mode", [(None, 0o750), ("1", 0o755)])
def test_matrix_handoff_dir_readable_by_group(spark, tmp_path,
                                              monkeypatch, world, mode):
    """The matrix handoff's scratch parquet dir gets the spool mode,
    not mkdtemp's 0700 that executors running as another user cannot
    read (ADVICE r11/r12)."""
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    if world is None:
        monkeypatch.delenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE",
                           raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_SCRATCH_WORLD_READABLE", world)
    ids = np.arange(7, dtype=np.int64)
    X = np.arange(21, dtype=np.float64).reshape(7, 3)
    before = list(spool._SCRATCH_DIRS)
    df = M.matrix_to_frame(spark, ids, X)
    new = [d for d in spool._SCRATCH_DIRS if d not in before]
    try:
        assert len(new) == 1
        assert os.path.dirname(new[0]) == str(tmp_path)
        assert stat.S_IMODE(os.stat(new[0]).st_mode) == mode
        assert df.count() == 7
    finally:
        for d in new:
            spool.release(d)


# ------------------------------------------------------------ writer


def test_stream_spool_matches_source(spark, tmp_path):
    """The streamed spool holds exactly the source matrix in id-sorted
    row order (ids here are already 0..n-1, so sorted == original)."""
    p, X = _write_corpus(spark, tmp_path, n=257, f=6)
    items = spark.read.parquet(p).select("item_id", "features")
    src = LAM.parquet_scan_source(items, "item_id", "features")
    x_path = str(tmp_path / "x.npy")
    s_ids = spool.write(x_path, src, 6, rows=257)
    assert np.array_equal(s_ids, np.arange(257))
    assert np.array_equal(np.load(x_path), X)
    # row-count mismatch raises (callers fall back to collect)
    with pytest.raises(spool.SpoolError):
        spool.write(str(tmp_path / "x2.npy"), src, 6, rows=256)
    assert not os.path.exists(tmp_path / "x2.npy")


@pytest.mark.parametrize("kind", ["parquet", "matrix"])
def test_write_fp64_roundtrip_is_identity(tmp_path, kind):
    rng = np.random.default_rng(1)
    ids = rng.permutation(300).astype(np.int64) * 7 - 100
    X = rng.standard_normal((300, 5))
    src = (_parquet_source(tmp_path, ids, X) if kind == "parquet"
           else (ids, X))
    s_ids = spool.write(str(tmp_path / "x.npy"), src, 5)
    order = np.argsort(ids)
    assert np.array_equal(s_ids, ids[order])
    got = np.load(str(tmp_path / "x.npy"))
    assert got.dtype == np.float64
    assert np.array_equal(got, X[order])


@pytest.mark.parametrize("kind", ["parquet", "matrix"])
def test_write_fp32_unit_transform_bit_equal(tmp_path, kind):
    """The LSH unit-vector spool is bit-equal to `_normalize_f32` of the
    id-sorted source, however the writer blocks the rows."""
    rng = np.random.default_rng(2)
    ids = rng.permutation(500).astype(np.int64)
    X = rng.standard_normal((500, 9)) * 3
    X[17] = 0.0  # zero vector: the transform's norm guard
    src = (_parquet_source(tmp_path, ids, X) if kind == "parquet"
           else (ids, X))
    spool.write(str(tmp_path / "u.npy"), src, 9, np.float32,
                K._normalize_f32)
    got = np.load(str(tmp_path / "u.npy"))
    want = K._normalize_f32(X[np.argsort(ids)])
    assert got.dtype == np.float32
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("case", ["row_count", "ragged", "duplicate_ids",
                                  "unknown_ids"])
def test_write_rejects_mismatch(tmp_path, case):
    ids = np.arange(40, dtype=np.int64)
    X = np.ones((40, 4))
    kw = {}
    if case == "row_count":
        src = _parquet_source(tmp_path, ids, X)
        kw["rows"] = 41
    elif case == "ragged":
        vecs = [[1.0] * 4] * 39 + [[1.0] * 3]
        src = _parquet_source(tmp_path, ids, vecs)
    elif case == "duplicate_ids":
        src = _parquet_source(tmp_path, np.r_[ids[:-1], 0], X)
    else:
        src = _parquet_source(tmp_path, ids + 1, X)
        kw["ids"] = ids
    path = tmp_path / "x.npy"
    with pytest.raises(spool.SpoolError):
        spool.write(str(path), src, 4, **kw)
    assert not path.exists()
    if case == "duplicate_ids":  # the matrix source checks the same
        with pytest.raises(spool.SpoolError):
            spool.write(str(path), (np.r_[ids[:-1], 0], X), 4)


# ---------------------------------------------- release on failure


def test_diffuse_seed_failure_releases_spool(spark, tmp_path, monkeypatch):
    """A failed seed write frees the diffusion spool dir (up to 3·N·F·8
    bytes) at once, not at interpreter exit."""
    items = _corpus(spark)
    edges = K.knn_edges(items, GraphParams(eps=0.9, k=5, topk=5, p=2.0),
                        strategy="exact").persist()
    edges.count()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(E, "DIFFUSE_BROADCAST_MAX_BYTES", 0)

    def _short_writer(*args, **kwargs):
        def kernel(batches):
            for _ in batches:
                pass
            yield pd.DataFrame({"cnt": np.array([0], dtype=np.int64)})
        return kernel

    monkeypatch.setattr(E, "_make_spool_write_kernel", _short_writer)
    before = list(spool._SCRATCH_DIRS)
    try:
        with pytest.raises(RuntimeError, match="seed spool"):
            E.diffuse(items, edges, eta=0.05, steps=2, msg_dtype="float64")
    finally:
        edges.unpersist()
    assert _spool_dirs(tmp_path) == []
    assert spool._SCRATCH_DIRS == before


def test_gather_failure_releases_spool(spark, tmp_path, monkeypatch):
    """A λ-gather that fails while building its spool frees the dir."""
    items = _corpus(spark, n=200, f=8, seed=4)
    edges = K.knn_edges(items, GraphParams(eps=0.9, k=5, topk=5, p=2.0),
                        strategy="exact").persist()
    edges.count()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setattr(K, "EXACT_PATH_MAX_ROWS", 0)  # force gather tier

    def _failing_collect(*args, **kwargs):
        raise RuntimeError("collect failed")

    monkeypatch.setattr(M, "collect_id_matrix", _failing_collect)
    before = list(spool._SCRATCH_DIRS)
    try:
        with pytest.raises(RuntimeError, match="collect failed"):
            LAM.feature_laplacian(items, edges, 8)
    finally:
        edges.unpersist()
    assert _spool_dirs(tmp_path) == []
    assert spool._SCRATCH_DIRS == before


def test_lsh_pair_stage_failure_releases_spool(spark, tmp_path,
                                               monkeypatch):
    """The LSH pair stage's disk refusal frees the unit-vector spool and
    the hash cache it built before refusing."""
    items = _corpus(spark, n=600, f=16, seed=8)
    items.count()
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH_DIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_LSH_MIN_FREE", "1048576g")
    jsc = spark.sparkContext._jsc
    cached = jsc.getPersistentRDDs().size()
    before = list(spool._SCRATCH_DIRS)
    gp = GraphParams(eps=0.9, k=5, topk=5, p=2.0)
    with pytest.raises(RuntimeError, match="refused up front"):
        K.knn_edges(items, gp, strategy="lsh").count()
    assert _spool_dirs(tmp_path) == []
    assert spool._SCRATCH_DIRS == before
    assert jsc.getPersistentRDDs().size() == cached
