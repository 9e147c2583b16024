"""Driver-side matrix collection helpers for the small-N fast paths.

Every "collect X and broadcast it" tier in the engine (exact kNN scan,
driver-BLAS / broadcast-gather Laplacian, TwoNN, IVF training) needs the
corpus as an (ids, X) numpy pair. Collecting Spark Row objects for that
is catastrophically slow for wide array columns — each of N rows
materializes an F-element Python list (~60 s at N=78k, F=384). The
Arrow path (`toPandas`, enabled in session.py) moves the same data
columnar and lands it as numpy in ~2 s: same contract, 30x less wall.

`positions_of` replaces per-edge Python dict lookups with a vectorized
sorted-search: works for arbitrary int64 ids (including 60-bit hashes),
no densification assumption.
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame

from . import spool


def collect_id_matrix(
    df: DataFrame, id_col: str, feat_col: str
) -> tuple[np.ndarray, np.ndarray]:
    """Collect (ids int64, X float64 N x F) via the Arrow columnar path."""
    pdf = df.select(id_col, feat_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    X = np.stack(pdf[feat_col].to_numpy()).astype(np.float64)
    return ids, X


def driver_result_capacity(spark) -> int:
    """`spark.driver.maxResultSize` in bytes (0 = unlimited → maxsize).

    Every driver-side matrix collect is bounded by this limit — a
    collect over it doesn't spill or degrade, it ABORTS the job
    ("Total size of serialized results ... bigger than
    spark.driver.maxResultSize"). Tier choices that plan to collect
    N·F doubles must therefore consult it up front: the N=600k p_bit
    measurement crashed exactly here, picking the broadcast-gather
    Laplacian tier (well under its 2M-row ceiling) on a session whose
    1 GiB default allowed only ~330k rows at F=384."""
    import sys

    raw = str(spark.conf.get("spark.driver.maxResultSize", "1g"))
    nbytes = parse_size_bytes(raw, default=1024**3)
    return sys.maxsize if nbytes == 0 else nbytes


def parse_size_bytes(raw: str, default: int) -> int:
    """Spark-style size string → bytes ("2g", "512m", "1t", "1p", bare
    int = bytes). Falls back to `default` on anything unparseable —
    the callers' failure direction is conservative (smaller assumed
    capacity → distributed tier), never a crash mid-build."""
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4,
             "p": 1024**5}
    low = str(raw).strip().lower().removesuffix("b")
    mult = units.get(low[-1:], None)
    try:
        return (int(float(low[:-1]) * mult) if mult is not None
                else int(float(low)))
    except ValueError:
        return default


def collect_eligible(spark, nbytes: int) -> bool:
    """Would an Arrow collect of `nbytes` survive the session's
    `spark.driver.maxResultSize`? 0.8 margin covers the id column and
    Arrow batch framing on top of the raw value bytes."""
    return nbytes <= 0.8 * driver_result_capacity(spark)


def handoff_eligible(spark, nbytes: int) -> bool:
    """Can a driver-resident matrix of `nbytes` be handed back to Spark
    without risking the pure-python fallback's boxed-row OOM refusal?

    True when the scratch-parquet path is deployable (`spool.scratch`)
    or the matrix is small enough for the portable fallback. Callers
    choosing between a driver tier and a distributed tier should check
    this BEFORE doing driver-side work — an ineligible handoff means
    the distributed plan, not a RuntimeError after the arithmetic is
    already done."""
    return (nbytes <= PURE_PYTHON_MAX_BYTES
            or spool.scratch(spark) is not None)


def matrix_to_frame(
    spark, ids: np.ndarray, X: np.ndarray,
    id_col: str = "item_id", feat_col: str = "features",
    eager_release: bool = False,
) -> DataFrame:
    """Driver-resident (ids, X) matrix → DataFrame[id long, feat
    array<double>] WITHOUT embedding the data in task binaries.

    `spark.createDataFrame` on a large local matrix ships every
    partition inside its task (12 MB task-size warnings at N=78k,
    F=384; fully pickled rows under a non-Arrow session — and numpy
    float64 elements are REJECTED by the non-Arrow type verifier, the
    round-5 driver regression). Instead the matrix is written once to
    a scratch parquet via pyarrow (zero-copy from the flat buffer) and
    handed to Spark as an ordinary distributed scan: splittable,
    column-pruned, identical under any session config.

    Scratch location: `spool.scratch` — on a multi-node cluster it MUST
    be storage the executors share (HDFS/NFS mount), so where executors
    cannot read it the function does NOT write a driver-local file; it
    takes the pure-python `createDataFrame` path instead (slower, but
    correct under any deployment and any session config). The same
    fallback catches a failed write.

    Disk lifecycle: by default the scratch parquet (up to
    PURE_PYTHON/driver-tier matrix size per call) lives until
    interpreter exit, because the returned frame is a lazy scan Spark
    may re-read at any time. With ``eager_release=True`` the scan is
    materialized once into Spark-managed block storage
    (``localCheckpoint(eager=True)``, MEMORY_AND_DISK — the same
    lineage-cut the distributed diffusion tier already uses) and the
    scratch dir is deleted before returning, so repeated handoffs in a
    long-lived session never accumulate temp disk.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = np.ascontiguousarray(ids, dtype=np.int64)
    X = np.ascontiguousarray(X, dtype=np.float64)
    n, f = X.shape
    schema = f"{id_col} long, {feat_col} array<double>"
    if spool.scratch(spark) is None:
        return _pure_python_frame(spark, ids, X, schema)
    d = None
    try:
        d = spool.scratch_dir("pyarrowspace-matrix-")
        offsets = pa.array(np.arange(0, (n + 1) * f, f, dtype=np.int64),
                           type=pa.int64())
        feats = pa.LargeListArray.from_arrays(
            offsets, pa.array(X.reshape(-1), type=pa.float64()))
        tbl = pa.table({id_col: pa.array(ids), feat_col: feats})
        # ~32k rows/group → plenty of split points for the scan
        pq.write_table(tbl, os.path.join(d, "part-0.parquet"),
                       row_group_size=32768)
        out = spark.read.schema(schema).parquet(d)
        if eager_release:
            out = out.localCheckpoint(eager=True)
            spool.release(d)
        return out
    except Exception:  # pragma: no cover - scratch dir unavailable
        if d is not None:
            spool.release(d)
        return _pure_python_frame(spark, ids, X, schema)


# Above this many raw matrix bytes the pure-python fallback would build
# ~5x that in boxed-float driver objects — an OOM, not a slow path.
PURE_PYTHON_MAX_BYTES = 512 * 1024**2


def _pure_python_frame(spark, ids: np.ndarray, X: np.ndarray,
                       schema: str):
    """Slow-but-portable fallback: rows of builtin floats (accepted by
    any session config, readable under any deployment). Refuses
    matrices whose boxed-object blowup would OOM the driver, with the
    fix in the message."""
    if X.nbytes > PURE_PYTHON_MAX_BYTES:
        raise RuntimeError(
            f"matrix handoff of {X.nbytes >> 20} MiB has no "
            f"executor-readable scratch location; set "
            f"SPARK_GRAFT_SCRATCH_DIR to storage all executors share "
            f"(HDFS/NFS) instead of falling back to "
            f"{X.nbytes * 5 >> 20} MiB of boxed driver rows")
    return spark.createDataFrame(
        [(int(i), [float(v) for v in row]) for i, row in zip(ids, X)],
        schema=schema)


def scan_split_info(df: DataFrame) -> "tuple[int, int] | None":
    """(independently-readable splits, total rows) of a LOCAL-parquet-
    backed frame — the split count is the total parquet ROW-GROUP
    count, because a row group is the unit Spark can actually read in
    parallel. `maxPartitionBytes` byte-ranges over a single-row-group
    file all resolve to the one task whose range contains the group's
    start offset, so `rdd.getNumPartitions()` wildly overstates the
    real parallelism there (r13-opt: every driver-testdata file and
    the synth bench corpus were written as ONE row group — task
    quantiles showed 31 tasks at 0.25 s and one at 78 s). None when
    the inputs aren't local parquet files (unknown → trust Spark)."""
    import re

    try:
        files = [re.sub(r"^file:/*", "/", f) if f.startswith("file:")
                 else f for f in df.inputFiles()]
    except Exception:
        return None
    files = [f for f in files if f]
    if not files or not all(os.path.isfile(f) and f.endswith(".parquet")
                            for f in files):
        return None
    try:
        import pyarrow.parquet as pq

        splits = rows = 0
        for f in files:
            md = pq.ParquetFile(f).metadata
            splits += md.num_row_groups
            rows += md.num_rows
        return splits, rows
    except Exception:
        return None


def with_scan_parallelism(df: DataFrame, n_target: int) -> DataFrame:
    """Round-robin repartition a SCAN-BACKED frame whose effective
    read parallelism is below `n_target`. Effective parallelism is
    min(partition count, unsplittable-row-group count); frames whose
    plan already contains an Exchange are left alone (their
    partitioning no longer derives from the file layout). Tiny frames
    (< 64 rows per target partition) are left alone too — the
    exchange would cost more than the skew."""
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception:
        return df
    try:
        planned = df._jdf.queryExecution().executedPlan().toString()
        # an Exchange re-balances regardless of file layout; a cached
        # frame inherits whatever layout it was persisted with — the
        # engine's own caches are balanced before persist (builder.py)
        # and re-exchanging a cache would double its footprint
        if "Exchange" in planned or "InMemoryTableScan" in planned:
            return df
    except Exception:
        pass
    info = scan_split_info(df)
    eff = n_parts if info is None else min(n_parts, info[0])
    if eff >= n_target:
        return df
    if info is not None and info[1] < 64 * n_target:
        return df
    return df.repartition(int(n_target))


def laplacian_from_parquet(spark, path: str) -> np.ndarray:
    """Reopen a saved F×F Laplacian (schema [row_idx long, row
    array<double>]) as a dense float64 matrix via the Arrow columnar
    path — same contract as the Row-collect form but without boxing
    F×F floats through Row objects (house style for every other
    matrix collection; see module docstring)."""
    pdf = spark.read.parquet(path).orderBy("row_idx").toPandas()
    return np.stack(pdf["row"].to_numpy()).astype(np.float64)


def sorted_index(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Precompute (sorted_ids, order) for `positions_of` lookups."""
    order = np.argsort(ids, kind="stable").astype(np.int64)
    return ids[order], order


def positions_of(
    keys: np.ndarray, sorted_ids: np.ndarray,
    order: "np.ndarray | None" = None,
) -> np.ndarray:
    """Row positions of `keys` in the original ids array (vectorized);
    with `order` None, positions in `sorted_ids` itself (an id-sorted
    spool's row index).

    Raises KeyError on any key absent from the ids — without the check
    `searchsorted` silently gathers the wrong row (or IndexErrors only
    past the array end), which would corrupt a future caller's frame
    join invisibly."""
    pos = np.searchsorted(sorted_ids, keys)
    pos_c = np.minimum(pos, len(sorted_ids) - 1)
    if not np.array_equal(sorted_ids[pos_c], keys):
        missing = np.asarray(keys)[(pos >= len(sorted_ids))
                                   | (sorted_ids[pos_c] != keys)]
        raise KeyError(
            f"{missing.size} edge id(s) absent from the items array "
            f"(first few: {missing[:5].tolist()})")
    return pos_c if order is None else order[pos_c]
