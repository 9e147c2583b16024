"""Energy/diffusion pipeline (reference build_energy/search_energy,
src/lib.rs:303-376; stage list doc src/lib.rs:305-318).

Stages (Spark-first):
  1. λτ-graph (shared with the standard build).
  2. Heat diffusion G12: X ← X − η·L·X for `steps` iterations.
     Driver tier (chunked numpy segment-sum) while X fits; array-
     message dataflow tier beyond, `localCheckpoint` per step capping
     lineage (SURVEY §7.3 risk 1). See `diffuse` for the tier split.
  3. Edge trim G13a: drop edges below the `trim_quantile` weight
     quantile.
  4. Optical-token compression G14: seeded KMeans to ~optical_tokens
     centroids; centroid energy attributes (λ/e/dispersion means).
  5. Dispersion split G13b: centroids whose member-λ dispersion
     exceeds the `split_quantile` quantile are split once (2-means),
     bounded driver loop.
  6. search_energy G15: cosine-free scoring
     score = w_lambda·1/(1+|λ_q−λ_x|) + w_dirichlet·1/(1+|e_q−e_x|),
     centroid shortlist of `candidate_m` then exact member rescore.

The crate's exact energy-edge weighting is unpublished (SURVEY §2.11
spec gap); formulas here are pinned by our own golden tests.
"""

from __future__ import annotations

import glob
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import spool, stats
from ..functions import matrix as matrix_mod
from ..functions.matrix import (
    collect_id_matrix,
    matrix_to_frame,
    positions_of,
    sorted_index,
)
from ..params import EnergyParams, GraphParams
from . import knn as knn_ops
from . import lambda_index as lam_ops

# Optical-token / split training matrices are collected driver-side;
# above this row count the collect runs on a deterministic hash-capped
# subset (same policy + helper as the IVF quantizer).
COMPRESS_MAX_TRAIN = 100_000


def _symmetrize(edges: DataFrame) -> DataFrame:
    """Undirected edge list as both directed halves."""
    return edges.select("src", "dst", "weight").unionAll(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"),
                     "weight")
    )


# Driver-tier ceiling for the diffusion matrix: below this many f64
# bytes (N x F x 8) the whole loop runs as chunked numpy on the driver
# (the narrow edge list is a few % of X's size, so it fits whenever X
# does). The first formulation of this operator exploded features into
# (node, fi, v) rows and joined them to the edges — an E x F-row
# shuffle per step, ~90 GB/step at N=313k, F=384, which filled the
# bench host's disk. Beyond the ceiling, `diffusion_step` shuffles E
# array-carrying rows per step instead.
DIFFUSE_BROADCAST_MAX_BYTES = int(
    os.environ.get("SPARK_GRAFT_DIFFUSE_BCAST_MAX", str(4 * 1024**3))
)

# Set by `diffuse` on each invocation: the chosen tier, feature-chunk
# count, symmetrized edge count, and message dtype. Instrumentation
# breadcrumb for the measurement harness; `build_energy` copies it
# into `EnergyIndex.diffusion_info` so an index self-describes the
# step that produced it (r10 verdict: the fp32/chunked behavior must
# be visible to callers, not only module globals).
_LAST_DIFFUSE_INFO: dict | None = None


def diffuse_plan(n_items: int, nf: int, n_sym_edges: int,
                 msg_dtype: str | None = None) -> dict:
    """Self-description of the physical plan `diffuse` chooses for a
    corpus of this shape — the size-based tier rule, the message dtype
    the distributed tier would ship, and its feature-chunk count.

    Pure arithmetic over (N, F, E_sym) + the module's env-backed
    budgets, so the DuckDB oracle can replay it row-for-row
    (`build_diagnostics` section 'diffuse_plan'). Runtime eligibility
    (driver maxResultSize / scratch handoff) can additionally demote
    the driver tier on constrained sessions; the authoritative record
    of what a build actually ran is `EnergyIndex.diffusion_info`.
    """
    driver = int(n_items) * int(nf) * 8 <= DIFFUSE_BROADCAST_MAX_BYTES
    if msg_dtype is None:
        msg_dtype = os.environ.get(
            "SPARK_GRAFT_DIFFUSE_MSG_DTYPE", "float32")
    fp32 = str(msg_dtype).lower() in ("float32", "fp32", "f32")
    # the driver tier never ships messages: always exact fp64
    msg_bytes = 8 if driver else (4 if fp32 else 8)
    chunk_budget = int(os.environ.get(
        "SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES", str(16 * 1024**3)))
    feat_chunks = 1 if driver else max(
        1, -(-(int(n_sym_edges) * int(nf) * msg_bytes)
             // max(chunk_budget, 1)))
    return {
        "distributed_tier": 0 if driver else 1,
        "msg_val_bytes": int(msg_bytes),
        "feat_chunks": int(feat_chunks),
    }


def _make_sum_kernel(fp32_msgs: bool, id_col: str):
    """Per-destination message-sum kernel shared by the full-width and
    feature-chunked step variants. fp32 messages stay fp32 through the
    segment matvec (half the stack memory + 2x gemv bandwidth); the
    fp64 path is exact.

    Measured negative result (r13-opt, kept so it isn't re-tried): a
    repartition(dst)+mapInPandas formulation — motivated by
    FlatMapGroupsInPandas's JVM sort of its input — measured 981
    task-sec (at the size-formula partition count; the many-way
    exchange compresses worse, 3.50 vs 2.19 GB written) and 1660
    task-sec (at 32 partitions; per-task Python materialization of
    ~145 MB partitions thrashes) vs 171 task-sec for THIS shape on
    identical persisted inputs (scripts/probe_diffuse_exchange.py).
    The grouped-map sort is cheap at these row widths; the real cost
    of a diffusion step sits in the update join downstream."""

    def _sum_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        mdt = np.float32 if fp32_msgs else np.float64
        M = np.stack(pdf["_xf"].to_numpy()).astype(mdt, copy=False)
        w = pdf["weight"].to_numpy(mdt)
        dstv = pdf["dst"].to_numpy(np.int64)
        order = np.argsort(dstv, kind="stable")
        dsts, starts = np.unique(dstv[order], return_index=True)
        Ms, ws = M[order], w[order]
        bnds = np.append(starts, len(dstv))
        # fused matvec per segment — see _diffuse_driver for why this
        # beats np.add.reduceat(…, axis=0) on wide C-ordered rows
        nsum = np.empty((len(dsts), M.shape[1]))
        for i in range(len(dsts)):
            s, e = bnds[i], bnds[i + 1]
            nsum[i] = ws[s:e] @ Ms[s:e]
        return pd.DataFrame({id_col: dsts, "_nsum": list(nsum)})

    return _sum_kernel


def _make_spool_read_kernel(x_path: str, pos_path: str, n_chunks: int,
                            id_col: str, feat_col: str):
    """mapInPandas kernel over `spark.range(0, n_chunks, 1, n_chunks)`
    that emits the spool rows at the saved positions, chunk i taking
    the i-th contiguous slice — the distributed read-back of a
    task-written final iterate (single-host masters; the writers'
    pages are still in cache, so this is a memory copy, not I/O)."""

    def kernel(batches):
        X, s_ids = spool.open(x_path)
        pos = np.load(pos_path)
        per = -(-len(pos) // max(n_chunks, 1))
        for pdf in batches:
            for cid in pdf["id"].to_numpy(np.int64):
                sl = pos[cid * per:(cid + 1) * per]
                if not len(sl):
                    continue
                yield pd.DataFrame({
                    id_col: s_ids[sl],
                    feat_col: list(np.asarray(X[sl], dtype=np.float64)),
                })

    return kernel


def _make_spool_write_kernel(x_path: str, id_col: str, feat_col: str):
    """mapInPandas kernel that scatters its rows of (id, features)
    into the pre-allocated id-sorted spool at `x_path` and emits only
    a per-partition row count. Single-host masters only (the writers
    and the next step's readers share one page cache, so no msync is
    needed and coherence is the kernel's); on retry/speculation the
    re-write is byte-identical, hence idempotent."""

    def kernel(batches):
        X = np.load(x_path, mmap_mode="r+")
        s_ids = np.load(os.path.join(os.path.dirname(x_path),
                                     spool.IDS_FILE))
        wrote = 0
        for pdf in batches:
            if not len(pdf):
                continue
            bids = pdf[id_col].to_numpy(np.int64)
            vals = np.stack(pdf[feat_col].to_numpy()).astype(
                np.float64, copy=False)
            X[positions_of(bids, s_ids)] = vals
            wrote += len(bids)
        del X
        yield pd.DataFrame({"cnt": np.array([wrote], dtype=np.int64)})

    return kernel


def _make_spool_step_kernel(x_path: str, eta: float, fp32_msgs: bool,
                            id_col: str, feat_col: str,
                            out_path: "str | None" = None):
    """mapInPandas kernel for one narrow-shuffle diffusion step: the
    partition holds ALL incoming edges of its destinations (narrow
    (src, dst, weight) rows, hash-partitioned by dst), source rows are
    gathered from the shared id-sorted X spool, and the kernel emits
    the fully UPDATED destination rows
    x' = (1 − η·deg)·x + η·Σ w·x_src — so no update join and no
    degree aggregation exist in the plan at all (deg is the in-segment
    fp64 weight sum; the segment holds every incoming edge).

    fp32_msgs reproduces the legacy message arithmetic class: gathered
    source rows and weights are cast to float32 for the segment matvec
    (the same IEEE rounding the legacy plan's pre-shuffle
    cast("array<float>") applied), while x and deg stay fp64.

    `out_path` (single-host masters): write the updated rows straight
    into the pre-allocated NEXT spool at their id-sorted positions
    (dpos is ascending — a monotonic mmap walk) and emit only a count,
    eliminating the per-step parquet write + driver re-spool
    (measured 28 s of serial driver time per step at the bench)."""
    eta_f = float(eta)

    def kernel(batches):
        pdfs = list(batches)
        if not pdfs:
            return
        pdf = pdfs[0] if len(pdfs) == 1 else pd.concat(
            pdfs, ignore_index=True)
        X, s_ids = spool.open(x_path)
        dstv = pdf["dst"].to_numpy(np.int64)
        # stable: preserves the sortWithinPartitions (dst, src) order,
        # so within-segment summation order is deterministic
        order = np.argsort(dstv, kind="stable")
        dstv = dstv[order]
        srcv = pdf["src"].to_numpy(np.int64)[order]
        w = pdf["weight"].to_numpy(np.float64)[order]
        udst, starts = np.unique(dstv, return_index=True)
        bounds = np.append(starts, len(dstv))
        dpos = positions_of(udst, s_ids)
        spos = positions_of(srcv, s_ids)
        mdt = np.float32 if fp32_msgs else np.float64
        out = np.empty((len(udst), X.shape[1]))
        for i in range(len(udst)):
            s, e = bounds[i], bounds[i + 1]
            rows = np.asarray(X[spos[s:e]])
            msum = w[s:e].astype(mdt, copy=False) @ rows.astype(
                mdt, copy=False)
            deg = float(w[s:e].sum())
            out[i] = ((1.0 - eta_f * deg) * np.asarray(X[dpos[i]])
                      + eta_f * msum)
        if out_path is not None:
            nxt = np.load(out_path, mmap_mode="r+")
            nxt[dpos] = out
            del nxt
            yield pd.DataFrame(
                {"cnt": np.array([len(udst)], dtype=np.int64)})
        else:
            yield pd.DataFrame({id_col: udst, feat_col: list(out)})

    return kernel


def _diffuse_spool(items: DataFrame, edges: DataFrame, eta: float,
                   steps: int, id_col: str, feat_col: str, nf: int,
                   n: int, msg_dtype: str,
                   step_times: "list[float] | None") -> DataFrame | None:
    """Narrow-shuffle distributed diffusion (guide §8: shuffle keys
    and metadata, move heavy bytes once). Where executors can read the
    scratch (`spool.scratch`, the rule the λ-gather mmap tier and the
    narrow-shuffle LSH plan follow too), the iterate X_t lives in ONE
    id-sorted fp64 spool per step, the loop-invariant edge list is
    persisted pre-partitioned by dst, and each step is a single
    exchange-free job: gather sources from the shared mmap, emit
    updated destination rows, re-spool them for the next step.

    Per-step data movement is O(N·F) write + O(N·F) stream (plus
    page-cache gathers) instead of the legacy plan's E·F array-message
    shuffle + N·F update join — at the 2M anchor that is ~6 GB of
    sequential I/O per step in place of ~92 GB of raw fp32 shuffle
    (which needed feature-chunking to even fit a single-disk host; the
    spool plan never approaches the chunking budget).

    Returns None when not eligible (no worker-visible scratch, N above
    spool.MAX_ROWS, scratch too full, or duplicate ids) — the caller
    runs the legacy array-message plan, which remains the portable
    fallback. A failed run frees its spools before the error
    propagates."""
    if n > spool.MAX_ROWS:
        return None
    spark = items.sparkSession
    sc = spool.scratch(spark)
    if sc is None:
        return None
    # budget: two live spools + one step parquet, all ~N·F·8
    try:
        free = shutil.disk_usage(sc.root).free
    except OSError:
        return None
    if free < 3 * n * nf * 8 + (64 << 20):
        return None
    ids_arr = (items.select(id_col).toPandas()[id_col]
               .to_numpy(np.int64))
    if len(ids_arr) != n:
        return None
    s_ids = np.sort(ids_arr)
    if s_ids.size > 1 and np.any(s_ids[1:] == s_ids[:-1]):
        return None  # duplicate ids → scatter would corrupt rows
    schema = f"{id_col} long, {feat_col} array<double>"
    fp32_msgs = str(msg_dtype).lower() in ("float32", "fp32", "f32")
    # Spool WRITE mode: on a single-host master (local / local-cluster)
    # the tasks scatter rows straight into the pre-allocated mmap —
    # writers and next-step readers share one page cache, so the whole
    # seed/step materialization is one parallel job with ZERO serial
    # driver I/O. On multi-host deployments mmap write coherence over
    # a shared filesystem is not guaranteed, so spools are built by
    # streaming a task-written parquet on the driver instead.
    task_write = sc.single_host

    def _parquet(pdir: str) -> dict:
        return {"files": sorted(glob.glob(os.path.join(
                    pdir, "part-*.parquet"))),
                "id_col": id_col, "feat_col": feat_col}

    def _task_write(df: DataFrame, want: int, what: str) -> None:
        wrote = int(df.agg(F.sum("cnt")).collect()[0][0] or 0)
        if wrote != want:
            raise RuntimeError(
                f"diffusion {what} spool wrote {wrote} of {want} rows")

    d = spool.scratch_dir("pyarrowspace-diffspool-")
    both = None
    try:
        spool.save(os.path.join(d, spool.IDS_FILE), s_ids)
        # ---- seed spool x0 (the initial iterate) ----
        cur_path = os.path.join(d, "x0.npy")
        if task_write:
            spool.alloc(cur_path, n, nf)
            _task_write(items.select(id_col, feat_col).mapInPandas(
                _make_spool_write_kernel(cur_path, id_col, feat_col),
                "cnt long"), n, "seed")
        elif matrix_mod.collect_eligible(spark, n * nf * 8):
            spool.write(cur_path, collect_id_matrix(items, id_col, feat_col),
                        nf, ids=s_ids)
        else:
            seed_dir = os.path.join(d, "seed")
            items.select(id_col, feat_col).write.mode("overwrite").parquet(
                seed_dir)
            spool.write(cur_path, _parquet(seed_dir), nf, ids=s_ids)
            shutil.rmtree(seed_dir, ignore_errors=True)

        # loop-invariant: symmetrized edges hash-partitioned by dst (every
        # incoming edge of a dst in one partition) in deterministic
        # (dst, src) order; persisted once, ZERO per-step exchange.
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
        both = (_symmetrize(edges)
                .repartition(n_part, "dst")
                .sortWithinPartitions("dst", "src")
                .persist())
        n_sym = both.count()
        if n_sym == 0:
            # no edges: diffusion is the identity
            spool.release(d)
            return items.select(id_col, feat_col)
        global _LAST_DIFFUSE_INFO
        _LAST_DIFFUSE_INFO = {"tier": "distributed", "plan": "spool",
                              "n_sym_edges": int(n_sym),
                              "feat_chunks": 1,
                              "msg_dtype": str(msg_dtype)}
        # isolated nodes (no edges at all) never appear as dst OR src;
        # their rows are the identity under diffusion — captured once
        # from the seed spool and appended to the final output only
        # (intermediate spools never read them).
        dst_arr = (both.select("dst").distinct().toPandas()["dst"]
                   .to_numpy(np.int64))
        covered = np.zeros(n, dtype=bool)
        # positions_of RAISES on a dst absent from items — the same
        # contract as the driver tier (ADVICE r5), instead of a
        # silently wrong searchsorted scatter
        covered[positions_of(dst_arr, s_ids)] = True
        iso_pos = np.where(~covered)[0]
        n_dst = int(covered.sum())
        if len(iso_pos):
            x0 = np.load(cur_path, mmap_mode="r")
            iso_ids = s_ids[iso_pos].copy()
            iso_X = np.asarray(x0[iso_pos], dtype=np.float64)
            del x0
        step_dir = ""
        for t in range(int(steps)):
            t0 = time.time() if step_times is not None else 0.0
            last = t == int(steps) - 1
            if not task_write:
                # stream mode: every step emits rows → parquet; the
                # FINAL parquet is the returned frame, intermediate
                # ones are re-spooled by the driver below
                step_dir = os.path.join(d, f"step{t + 1}")
                kernel = _make_spool_step_kernel(
                    cur_path, eta, fp32_msgs, id_col, feat_col)
                (both.mapInPandas(kernel, schema)
                 .write.mode("overwrite").parquet(step_dir))
                if not last:
                    nxt_path = os.path.join(d, f"x{t + 1}.npy")
                    spool.write(nxt_path, _parquet(step_dir), nf,
                                ids=s_ids, rows=n_dst)
                    os.remove(cur_path)
                    shutil.rmtree(step_dir, ignore_errors=True)
                    cur_path = nxt_path
            else:
                # task-write: one exchange-free job gathers, updates
                # AND scatters the next iterate — no parquet, no
                # driver stream. r14: the FINAL step too — it used to
                # emit rows → parquet (~N·F·8 B written + re-read;
                # measured 13.7 s vs 3.0 s for the task-write step at
                # the 78k bench on a 20 MB/s-disk window, §6); the
                # returned frame is now a chunked reader over the
                # final spool (page-cache-warm from the writers).
                nxt_path = os.path.join(d, f"x{t + 1}.npy")
                spool.alloc(nxt_path, n, nf)
                kernel = _make_spool_step_kernel(
                    cur_path, eta, fp32_msgs, id_col, feat_col,
                    out_path=nxt_path)
                _task_write(both.mapInPandas(kernel, "cnt long"), n_dst,
                            f"step {t + 1}")
                os.remove(cur_path)
                cur_path = nxt_path
            if step_times is not None:
                step_times.append(round(time.time() - t0, 3))
        if task_write:
            # returned frame = distributed chunked read of the final
            # spool (only dst-covered positions; iso rows appended
            # below, as in stream mode). The spool + index files live
            # until the scratch dir is reclaimed at exit — the same
            # lifetime the returned step parquet had.
            pos_path = os.path.join(d, "outpos.npy")
            spool.save(pos_path, np.where(covered)[0].astype(np.int64))
            n_part_rd = max(1, min(n_part, n_dst))
            out = (spark.range(0, n_part_rd, 1, n_part_rd)
                   .mapInPandas(
                       _make_spool_read_kernel(
                           cur_path, pos_path, n_part_rd, id_col,
                           feat_col),
                       schema))
        else:
            # the final step's input spool and the id index are dead
            # now — only the final step parquet (the returned scan)
            # must outlive this call; reclaimed with the scratch dir.
            spool.discard(cur_path)
            spool.discard(os.path.join(d, spool.IDS_FILE))
            out = spark.read.schema(schema).parquet(step_dir)
        if len(iso_pos):
            out = out.unionAll(matrix_to_frame(
                spark, iso_ids, iso_X, id_col, feat_col))
        return out
    except BaseException:
        spool.release(d)
        raise
    finally:
        if both is not None:
            both.unpersist()


def _diffusion_step_chunked(
    items: DataFrame, eta: float, id_col: str, feat_col: str,
    n_groups: int, both: DataFrame, deg: DataFrame, fp32_msgs: bool,
    feat_chunks: int, nf: int | None,
) -> DataFrame:
    """Feature-block variant of `diffusion_step`: the step is computed
    per contiguous feature slice [a, b), and each slice's message
    shuffle is materialized (eager localCheckpoint + JVM GC) before the
    next begins — so peak scratch disk is ONE chunk's E·(b−a) message
    volume instead of the full E·F. The per-feature arithmetic is
    independent across dims, so the split is exact (chunked ≡
    full-width, pinned in tests/test_round10_fixes.py).

    This is the second half of the r9 verdict's message-volume task:
    fp32 halves the bytes; chunking bounds the PEAK. The measured need:
    at N=800k, F=384, fp32, one step's message shuffle is ~61 GB raw —
    it overran a 93 GB single-disk host mid-step (BENCH_800k_r10.json,
    78.2 GB peak) even though TOTAL volume was fine. On a multi-disk
    cluster chunking matters less (shuffle spreads across executors'
    disks), which is why the default budget only splits steps whose
    single-stage shuffle exceeds SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES
    (16 GiB).

    Cost of a chunk: one N·(b−a) items-side exchange against the
    pre-partitioned edge list plus a repeated E-row argsort in the sum
    kernel; total matvec work is unchanged."""
    spark = items.sparkSession
    if nf is None:
        row = items.select(F.size(feat_col).alias("f")).first()
        if row is None:
            return items.select(id_col, feat_col)
        nf = int(row["f"])
    k = max(1, min(int(feat_chunks), int(nf)))
    bounds = [round(i * nf / k) for i in range(k + 1)]
    base = items.select(id_col, feat_col)
    kernel = _make_sum_kernel(fp32_msgs, id_col)
    parts: list[DataFrame] = []
    for ci in range(k):
        a, b = bounds[ci], bounds[ci + 1]
        xfc = F.slice(F.col(feat_col), a + 1, b - a)
        if fp32_msgs:
            xfc = xfc.cast("array<float>")
        msgs = both.join(
            base.select(F.col(id_col).alias("src"), xfc.alias("_xf")),
            "src",
        ).select("dst", "weight", "_xf")
        nsum = (
            msgs.withColumn(
                "_g", F.pmod(F.xxhash64("dst"), F.lit(int(n_groups))))
            .groupBy("_g")
            .applyInPandas(kernel, f"{id_col} long, _nsum array<double>")
        )
        scale = F.lit(1.0) - F.lit(eta) * F.coalesce("_deg", F.lit(0.0))
        filled = F.coalesce("_nsum", F.array_repeat(F.lit(0.0), b - a))
        part = (
            base.select(
                id_col,
                F.slice(F.col(feat_col), a + 1, b - a).alias("_xc"))
            .join(deg, id_col, "left")
            .join(nsum, id_col, "left")
            .select(
                id_col,
                F.lit(ci).alias("_ci"),
                F.zip_with(
                    "_xc", filled,
                    lambda x, s: scale * x + F.lit(eta) * s,
                ).alias("_c"),
            )
        )
        # THIS bounds peak scratch: the chunk is materialized here and
        # the previous chunk's now-dead shuffle files reclaimed before
        # the next chunk's shuffle starts stacking on top of them.
        part = part.localCheckpoint(eager=True)
        spark.sparkContext._jvm.System.gc()
        parts.append(part)
    # Reassembly as ONE union + groupBy (single exchange regardless of
    # chunk count): the r10 formulation re-joined the k chunk frames on
    # id — k−1 extra N-row shuffles per step, growing with E·F/budget
    # (r10 verdict "what's wrong" #3). collect_list is tiny per group
    # (k slice arrays per id); array_sort orders the structs by _ci
    # (first struct field), so concatenation order is positional, not
    # shuffle-order dependent.
    if k == 1:
        return parts[0].select(id_col, F.col("_c").alias(feat_col))
    allparts = parts[0]
    for p in parts[1:]:
        allparts = allparts.unionAll(p)
    return allparts.groupBy(id_col).agg(
        F.flatten(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_ci", "_c"))),
                lambda s: s["_c"],
            )
        ).alias(feat_col))


def diffusion_step(
    items: DataFrame,
    edges: DataFrame,
    eta: float,
    id_col: str = "item_id",
    feat_col: str = "features",
    n_groups: int = 512,
    both: DataFrame | None = None,
    deg: DataFrame | None = None,
    msg_dtype: str = "float64",
    feat_chunks: int = 1,
    nf: int | None = None,
) -> DataFrame:
    """One distributed heat-diffusion step:
    x_i ← (1 − η·deg_i)·x_i + η·Σ_j w_ij·x_j.

    Scale shape (the beyond-broadcast tier): the edge→feature join
    shuffles E rows carrying the source feature ARRAY (E·F values, one
    row per edge — never the E×F exploded rows of the naive plan); the
    per-destination sums run in Arrow-batched numpy over hash-grouped
    edge blocks; the final update is a JVM-side `zip_with` — no Python
    pass over non-edge rows, isolated nodes keep x unchanged via the
    left joins. Per-step shuffle is O(E·F + 2·N·F) values, linear in
    the corpus.

    Measured negative result (round 7), kept so it isn't re-tried: a
    pure-JVM formulation of the per-dst sum —
    `Summarizer.sum(array_to_vector(_xf), weight)` grouped by dst,
    avoiding all Arrow→Python transfer — measured 246 s/step vs this
    kernel's 173 s at N=313k, E_sym=9.4M, F=384 on the same persisted
    inputs. With N-scale group cardinality the typed-imperative
    aggregate can't hold its hash map (313k groups × 3 KB vector
    buffers/partition) and falls back to sort-based merging of the
    3 KB message rows, which loses to this kernel's batched segment
    matvec despite the Arrow round-trip.

    `n_groups` bounds each grouped kernel's buffer: applyInPandas
    materializes a whole group, so a FIXED group count is a hidden
    per-task O(E/groups·F) — 15 GB/group at E=2.5B, F=384 under the
    old constant 512. `diffuse` sizes it from the measured edge count
    so a group stays ~tens of MB at any scale.

    `both`/`deg`: the symmetrized edge list and the degree aggregation
    are LOOP-INVARIANT — a multi-step caller passes them persisted
    once instead of re-shuffling E rows for degrees every step.

    Measured (round 8, BENCH_313k_r08.json): steps do NOT amortize —
    at N=313k, E_sym=9.4M, F=384 the instrumented 2-step run measured
    step 1 = 272.7 s and step 2 = 299.6 s. The loop-invariant
    symmetrize+degree materialization that step 1 carries is a
    rounding error; the per-step constant IS the E·F array-message
    shuffle through the groupBy(_g) kernel (the items-side exchange is
    N·F, ~3% of it). Cutting it further means cutting message volume
    itself, not join choreography — don't re-try partitioning-reuse
    tweaks expecting step-2 savings. `msg_dtype="float32"` is that
    volume cut: the source feature array is cast to float<4B> BEFORE
    the edge→feature shuffle, halving both the E·F shuffle bytes and
    the Arrow transfer into the sum kernel; the segment matvec then
    runs in fp32 and the result is emitted back as float64. Relative
    error vs the fp64 message path is bounded by fp32 representation
    + a ~deg-term fp32 dot product, ≈1e-6 — pinned by
    tests/test_round10_fixes.py against the exact numpy step. Default
    stays float64 so `diffusion_step` in isolation remains exact
    (test_diffusion_step_matches_numpy, rtol 1e-12); `diffuse` opts
    its distributed tier into float32 (see there for the measured
    step-time effect).

    `feat_chunks` > 1 computes the step per contiguous feature slice
    with eager materialization between slices, bounding peak scratch
    to one slice's message shuffle — see `_diffusion_step_chunked`.
    The per-dim arithmetic is independent, so the split is exact.
    `nf` (the feature width) saves the probe job when the caller
    already knows it; only consulted when chunking.
    """
    if both is None:
        both = _symmetrize(edges)
    if deg is None:
        deg = both.groupBy(F.col("dst").alias(id_col)).agg(
            F.sum("weight").alias("_deg")
        )
    fp32_msgs = str(msg_dtype).lower() in ("float32", "fp32", "f32")
    if int(feat_chunks) > 1:
        return _diffusion_step_chunked(
            items, eta, id_col, feat_col, n_groups, both, deg,
            fp32_msgs, int(feat_chunks), nf)
    xf = F.col(feat_col)
    if fp32_msgs:
        xf = xf.cast("array<float>")
    msgs = both.join(
        items.select(F.col(id_col).alias("src"), xf.alias("_xf")),
        "src",
    ).select("dst", "weight", "_xf")

    nsum = (
        msgs.withColumn("_g", F.pmod(F.xxhash64("dst"), F.lit(int(n_groups))))
        .groupBy("_g")
        .applyInPandas(_make_sum_kernel(fp32_msgs, id_col),
                       f"{id_col} long, _nsum array<double>")
    )
    scale = F.lit(1.0) - F.lit(eta) * F.coalesce("_deg", F.lit(0.0))
    filled = F.coalesce(
        "_nsum", F.array_repeat(F.lit(0.0), F.size(feat_col)))
    return (
        items.select(id_col, feat_col)
        .join(deg, id_col, "left")
        .join(nsum, id_col, "left")
        .select(
            id_col,
            F.zip_with(
                feat_col, filled,
                lambda x, s: scale * x + F.lit(eta) * s,
            ).alias(feat_col),
        )
    )


def _diffuse_driver(
    items: DataFrame, edges: DataFrame, eta: float, steps: int,
    id_col: str, feat_col: str,
    out_matrix: "list | None" = None,
) -> DataFrame:
    """Driver-tier diffusion: X and the narrow edge list both fit on
    the driver below the tier ceiling (same policy as lambda_index's
    driver-BLAS tier), so the whole multi-step loop is chunked numpy
    gather + segment-sum — no per-step broadcast/collect round trip.
    A first cut of this tier round-tripped X through a distributed
    kernel every step; the 1 GB broadcast + toPandas + re-stack per
    step cost ~2 min/step at N=313k while the arithmetic itself is
    ~20 s — the round trip WAS the cost, so it was removed.

    `out_matrix`: pass a list and the tier appends the diffused
    (sorted_ids, X) pair before handing the frame back — callers that
    immediately need the matrix again (build_energy's Laplacian spool
    and quantizer training both collected the SAME matrix straight
    back from the frame, r13-opt) reuse it driver-side for free."""
    spark = items.sparkSession
    # Collect unsorted and sort driver-side: the old
    # `items.orderBy(id_col)` paid a full N×F range exchange + sort
    # just to order the collect; one argsort over the collected ids is
    # the same total order (ids are unique) for ~zero cost.
    ids, X = collect_id_matrix(items, id_col, feat_col)
    perm = np.argsort(ids, kind="stable")
    ids, X = ids[perm], np.ascontiguousarray(X[perm])
    epdf = _symmetrize(edges).toPandas()
    # positions_of raises KeyError on any edge endpoint absent from
    # items — `diffuse` is a public operator, so the "endpoints come
    # from these items" guarantee only holds for build_energy's
    # internal call; a bare searchsorted would silently gather the
    # WRONG row and corrupt every step (ADVICE r5).
    sids, order = sorted_index(ids)
    src = positions_of(epdf["src"].to_numpy(np.int64), sids, order)
    dst = positions_of(epdf["dst"].to_numpy(np.int64), sids, order)
    w = epdf["weight"].to_numpy(np.float64)
    del epdf
    order = np.argsort(dst, kind="stable")
    src, dst, w = src[order], dst[order], w[order]
    udst, starts = np.unique(dst, return_index=True)
    bounds = np.append(starts, len(dst))
    deg = np.zeros(len(ids))
    if len(udst):
        deg[udst] = np.add.reduceat(w, starts)
    eta_f = float(eta)
    n_seg = len(udst)
    for _ in range(int(steps)):
        # Per-destination fused gather·scale·sum as a tiny BLAS matvec
        # w[s:e] @ X[src[s:e]] — measured 24 s per step over 9.4M
        # edges at N=313k. The tempting vectorized alternative,
        # np.add.reduceat(contrib, starts, axis=0) over a gathered
        # chunk, walks each COLUMN of the C-ordered chunk at a 3 KB
        # stride — measured 8x slower than this loop on the reduction
        # alone, plus a multi-GB contrib buffer per chunk that the
        # matvec never materializes.
        nsum = np.zeros_like(X)
        for i in range(n_seg):
            s, e = bounds[i], bounds[i + 1]
            nsum[udst[i]] = w[s:e] @ X[src[s:e]]
        X = (1.0 - eta_f * deg)[:, None] * X + eta_f * nsum
    # Hand the diffused matrix back as a parquet scan, NOT a
    # createDataFrame: the latter embeds X in task binaries (12 MB
    # task-size warnings at 78k×384) and — under a non-Arrow session
    # like the driver's — feeds numpy float64 to the row verifier,
    # which rejects it (the round-5 CORRECTNESS regression).
    # eager_release: the scan is absorbed into Spark block storage and
    # its scratch files deleted at once, so a session building many
    # indexes doesn't accumulate one N×F parquet per diffuse call.
    if out_matrix is not None:
        out_matrix.append((ids, X))
    return matrix_to_frame(spark, ids, X, id_col, feat_col,
                           eager_release=True)


def diffuse(items: DataFrame, edges: DataFrame, eta: float, steps: int,
            id_col: str = "item_id", feat_col: str = "features",
            step_times: "list[float] | None" = None,
            msg_dtype: str | None = None,
            out_matrix: "list | None" = None) -> DataFrame:
    """G12 heat diffusion, `steps` iterations. Physical tiers:

    - driver tier (N·F·8 ≤ DIFFUSE_BROADCAST_MAX_BYTES, default 4 GiB
      ≈ 1.4M items at F=384): the whole loop is chunked numpy
      gather/segment-sum on the driver — the narrow edge list is a few
      % of X's size, so it fits whenever X does.
    - distributed tier beyond, two physical plans:
      (a) narrow-shuffle spool plan (wherever executors can read the
      scratch, `spool.scratch`; `_diffuse_spool`): the iterate lives in one
      id-sorted fp64 spool per step, edges are persisted
      pre-partitioned by dst, and each step is a single exchange-free
      gather/update job — O(N·F) sequential I/O per step instead of an
      E·F message shuffle;
      (b) legacy array-message plan (`diffusion_step` per step,
      lineage capped per step) — the portable fallback (no
      worker-visible scratch, or N above `spool.MAX_ROWS`).

    `step_times` (bench instrumentation, distributed tier only): pass a
    list and each step is materialized EAGERLY and its wall time
    appended — one multi-step run then yields every per-step cost
    (step 1 carries the loop-invariant symmetrize+degree
    materialization; later entries are the honest per-step marginal).
    After each instrumented step a JVM GC is triggered so the previous
    step's now-unreferenced shuffle files are reclaimed promptly —
    measuring k steps costs ~1 step of peak scratch disk instead of k
    (the round-8 bench filled a 62 GB disk timing 1-step + 2-step runs
    back to back). Default None: production path unchanged (lazy
    intermediate checkpoints, one job at the consuming action).

    `msg_dtype` (distributed tier only): dtype of the per-edge feature
    message arrays. Default (None → env SPARK_GRAFT_DIFFUSE_MSG_DTYPE
    → "float32") halves the per-step E·F shuffle volume — the measured
    whole of the distributed-tier constant (round-8 note above in
    `diffusion_step`) — at a pinned ≈1e-6 relative error vs the fp64
    path (tests/test_round10_fixes.py). Pass "float64" for the exact
    tier (tests/test_energy.py tier-agreement pin). The driver tier is
    always fp64 — it never ships messages — so the default-path oracle
    (`energy_diffusion`, driver tier at oracle scale) is bit-identical
    either way.
    """
    if int(steps) <= 0:
        return items.select(id_col, feat_col)
    row = items.select(F.size(feat_col).alias("f")).first()
    if row is None:  # empty corpus: diffusion is the identity
        return items.select(id_col, feat_col)
    nf = int(row["f"])
    n = items.count()
    # Driver tier only when (a) collecting X survives the session's
    # spark.driver.maxResultSize (a collect over it ABORTS the job —
    # the row/byte ceiling alone is not eligibility), and (b) the
    # diffused matrix can be handed BACK to executors (local master,
    # shared scratch dir, or small enough for the portable fallback) —
    # otherwise a non-local deployment with no scratch dir would do
    # all the driver-side arithmetic and then hit the boxed-row OOM
    # refusal. The distributed tier below is correct under any
    # deployment.
    if (n * nf * 8 <= DIFFUSE_BROADCAST_MAX_BYTES
            and matrix_mod.collect_eligible(items.sparkSession, n * nf * 8)
            and matrix_mod.handoff_eligible(items.sparkSession, n * nf * 8)
            # The driver tier ALSO collects the symmetrized edge list
            # (2·E rows × 24 B + framing, energy.py _diffuse_driver);
            # on a session whose maxResultSize barely admits X, a
            # high-degree graph's edge collect can still abort AFTER
            # the X collect succeeded — so it needs its own
            # eligibility check. edges.count() is cheap (narrow frame,
            # usually already persisted by build_energy).
            and matrix_mod.collect_eligible(
                items.sparkSession, edges.count() * 2 * 24)):
        global _LAST_DIFFUSE_INFO
        _LAST_DIFFUSE_INFO = {"tier": "driver", "msg_dtype": "float64",
                              "feat_chunks": 1, "n_sym_edges": None}
        return _diffuse_driver(items, edges, eta, steps, id_col, feat_col,
                               out_matrix=out_matrix)
    # ---- distributed tier ----
    # message dtype is a property of the TIER, shared by both physical
    # plans below (the spool plan reproduces the legacy fp32 message
    # arithmetic in its gather kernel), so resolve + warn once here.
    if msg_dtype is None:
        msg_dtype = os.environ.get(
            "SPARK_GRAFT_DIFFUSE_MSG_DTYPE", "float32")
        if str(msg_dtype).lower() in ("float32", "fp32", "f32"):
            # One-time visibility for the tier-boundary precision
            # cliff (ADVICE r10): the distributed tier defaults to
            # fp32 messages (≈1e-6 relative error vs fp64, pinned in
            # tests/test_round10_fixes.py at deg≤topk graphs; very
            # high-degree graphs can exceed that bound) while the
            # driver tier is always exact fp64 — an unchanged pipeline
            # crossing DIFFUSE_BROADCAST_MAX_BYTES shifts results.
            import warnings

            warnings.warn(
                "diffuse: distributed tier engaged with default "
                "float32 messages (≈1e-6 relative error vs the fp64 "
                "driver tier; set SPARK_GRAFT_DIFFUSE_MSG_DTYPE="
                "float64 or pass msg_dtype='float64' for the exact "
                "path)", stacklevel=2)
    # narrow-shuffle spool plan first (guide §8): zero per-step
    # exchange where a worker-visible scratch exists; None ⇒ run the
    # legacy array-message plan below.
    spooled = _diffuse_spool(items, edges, eta, steps, id_col, feat_col,
                             nf, n, str(msg_dtype), step_times)
    if spooled is not None:
        return spooled
    # loop-invariant across steps: symmetrized edges + degrees, each
    # persisted once instead of re-shuffled E rows per step. The edge
    # list is persisted PRE-PARTITIONED on src (InMemoryRelation keeps
    # outputPartitioning), so each step's edge→feature join exchanges
    # only the N-row items side — the E-row side, the big one, stays
    # put; the per-step shuffle floor is N·F (gather) + E·F (messages)
    # instead of 2·E·F + N·F.
    n_part = int(items.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "200"))
    both = _symmetrize(edges).repartition(n_part, "src").persist()
    # Size the per-destination sum's hash groups so one group's Arrow
    # buffer stays ~64 MB of doubles regardless of E and F (the group
    # kernel materializes its whole group; a fixed count silently
    # scales the buffer with E). Counting the just-persisted frame
    # doubles as its materialization — an unpersisted caller edge list
    # is evaluated exactly once.
    n_sym_edges = both.count()
    rows_per_group = max(1, (64 << 20) // (8 * nf))
    n_groups = int(min(1 << 16, max(64, -(-n_sym_edges // rows_per_group))))
    deg = both.groupBy(F.col("dst").alias(id_col)).agg(
        F.sum("weight").alias("_deg")).persist()
    # Feature-block chunking: split any step whose single-stage message
    # shuffle would exceed the per-stage budget (default 16 GiB raw) so
    # peak scratch disk stays bounded regardless of E·F — the N=800k
    # fp32 step is ~61 GB in one stage and overran a 93 GB single-disk
    # host (BENCH_800k_r10.json). Exactness of the split is pinned in
    # tests/test_round10_fixes.py; see _diffusion_step_chunked.
    msg_val_bytes = 4 if str(msg_dtype).lower() in (
        "float32", "fp32", "f32") else 8
    chunk_budget = int(os.environ.get(
        "SPARK_GRAFT_DIFFUSE_CHUNK_MSG_BYTES", str(16 * 1024**3)))
    feat_chunks = max(
        1, -(-(n_sym_edges * nf * msg_val_bytes) // max(chunk_budget, 1)))
    # instrumentation breadcrumb for the measurement harness (private)
    _LAST_DIFFUSE_INFO = {"tier": "distributed", "plan": "shuffle",
                          "n_sym_edges": int(n_sym_edges),
                          "feat_chunks": int(feat_chunks),
                          "msg_dtype": str(msg_dtype)}
    try:
        out = items.select(id_col, feat_col)
        last = int(steps) - 1
        for i in range(int(steps)):
            t0 = time.time() if step_times is not None else 0.0
            out = diffusion_step(out, edges, eta, id_col, feat_col,
                                 n_groups, both=both, deg=deg,
                                 msg_dtype=msg_dtype,
                                 feat_chunks=feat_chunks, nf=nf)
            # final step checkpoints EAGERLY so the result no longer
            # depends on both/deg and they can be dropped below, not
            # leaked
            out = out.localCheckpoint(
                eager=(i == last or step_times is not None))
            if step_times is not None:
                step_times.append(round(time.time() - t0, 3))
                # the just-checkpointed step's upstream shuffle files
                # are dead lineage now — reclaim before the next step
                # stacks its own on top
                items.sparkSession.sparkContext._jvm.System.gc()
        return out
    finally:
        # on error too — a failed step must not leak executor storage
        # for the session lifetime
        both.unpersist()
        deg.unpersist()


def trim_edges(edges: DataFrame, trim_quantile: float,
               n_edges: int | None = None) -> DataFrame:
    """Drop the weakest `trim_quantile` fraction of edges.

    The cut is a scale-tiered percentile (`functions.stats`): exact —
    oracle-replayable — below the ceiling, Greenwald-Khanna approx
    beyond, where an exact per-distinct-double state over billions of
    edge weights would OOM the merging task. `n_edges` is counted if
    not supplied (cheap on the persisted edge list)."""
    if trim_quantile <= 0:
        return edges
    if n_edges is None:
        n_edges = edges.count()
    cut = edges.select(
        stats.percentile_expr("weight", float(trim_quantile),
                              n_edges).alias("c")
    ).collect()[0]["c"]
    return edges.filter(F.col("weight") >= F.lit(float(cut)))


@dataclass
class EnergyIndex:
    """Artifacts of the energy build: diffused+λ-indexed items, their
    centroid assignment, the compressed centroid table (the 'optical
    tokens'), the F×F Laplacian of the diffused space, and params."""

    items: DataFrame          # [item_id, features, lambda, e_raw, centroid_id]
    centroids: DataFrame      # [centroid_id, center, lambda_c, e_c, disp_c, n_members]
    edges: DataFrame
    feature_laplacian: np.ndarray
    graph_params: GraphParams
    energy_params: EnergyParams
    tau_synth: float
    # How the diffusion stage actually ran (tier, msg_dtype,
    # feat_chunks, n_sym_edges) — an at-scale build's fp32/chunked
    # step is a user-visible semantic, so the index records it
    # (r10 verdict "what's wrong" #2/#4). None on steps=0 builds and
    # indexes saved before round 11.
    diffusion_info: dict | None = None

    @property
    def nnodes(self) -> int:
        """Energy-graph node count (reference logs nnodes=39..120)."""
        return self.centroids.count()

    def save(self, path: str) -> None:
        """Persist the energy-index artifacts as Parquet + JSON meta —
        the energy twin of `ArrowSpaceIndex.save` (build once, search
        in later sessions; the reference keeps its energy maps
        in-process only, so this is engine parity with our own
        standard-index lifecycle, not a reference API)."""
        import json as _json

        self.items.write.mode("overwrite").parquet(f"{path}/items")
        self.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
        self.edges.write.mode("overwrite").parquet(f"{path}/edges")
        spark = self.items.sparkSession
        lf_rows = [
            (int(i), [float(v) for v in row])
            for i, row in enumerate(self.feature_laplacian)
        ]
        spark.createDataFrame(
            lf_rows, schema="row_idx long, row array<double>"
        ).write.mode("overwrite").parquet(f"{path}/feature_laplacian")
        meta = {
            "tau_synth": float(self.tau_synth),
            "graph_params": _json.dumps(self.graph_params.to_dict()),
            "energy_params": _json.dumps(self.energy_params.to_dict()),
            "diffusion_info": _json.dumps(self.diffusion_info or {}),
        }
        spark.createDataFrame([meta]).write.mode("overwrite").json(
            f"{path}/meta")

    def extend(self, new_items: DataFrame, id_col: str = "item_id",
               feat_col: str = "features",
               refresh_centroid_attrs: bool = True,
               check_ids: bool = False) -> "EnergyIndex":
        """Incremental append against frozen artifacts — see
        `extend_energy` (module level) for the contract."""
        return extend_energy(self, new_items, id_col=id_col,
                             feat_col=feat_col,
                             refresh_centroid_attrs=refresh_centroid_attrs,
                             check_ids=check_ids)

    @classmethod
    def load(cls, spark, path: str) -> "EnergyIndex":
        """Reopen a saved energy index: tables stay lazy/distributed,
        only the F×F Laplacian and the param dicts hit the driver."""
        import json as _json

        lf = matrix_mod.laplacian_from_parquet(
            spark, f"{path}/feature_laplacian")
        meta = spark.read.json(f"{path}/meta").collect()[0].asDict()
        dinfo = _json.loads(meta.get("diffusion_info") or "{}") or None
        return cls(
            items=spark.read.parquet(f"{path}/items"),
            centroids=spark.read.parquet(f"{path}/centroids"),
            edges=spark.read.parquet(f"{path}/edges"),
            feature_laplacian=lf,
            graph_params=GraphParams(
                **_json.loads(meta["graph_params"])),
            energy_params=EnergyParams.from_dict(
                _json.loads(meta["energy_params"])),
            tau_synth=float(meta["tau_synth"]),
            diffusion_info=dinfo,
        )


def _centroid_attrs(wc: DataFrame) -> DataFrame:
    """Scalar moments AND member-mean centers per token, one grouped
    Arrow kernel: a single shuffle of (centroid_id, features, λ, e)
    rows replaces the previous two aggregations (one of which
    exploded N×F rows — 120M at the 313k ledger scale) plus their
    join. Group size is members-per-token (~N/optical_tokens), so
    per-call memory is members × F doubles."""

    def _agg(pdf: pd.DataFrame) -> pd.DataFrame:
        M = np.stack(pdf["features"].to_numpy()).astype(np.float64)
        lam = pdf["lambda"].to_numpy(np.float64)
        er = pdf["e_raw"].to_numpy(np.float64)
        return pd.DataFrame({
            "centroid_id": [int(pdf["centroid_id"].iloc[0])],
            "n_members": [len(pdf)],
            "lambda_c": [float(lam.mean())],
            "e_c": [float(er.mean())],
            "disp_c": [float(lam.std())],
            "center": [M.mean(axis=0)],
        })

    return (
        wc.select("centroid_id", "features", "lambda", "e_raw")
        .groupBy("centroid_id")
        .applyInPandas(
            _agg,
            "centroid_id long, n_members long, lambda_c double, "
            "e_c double, disp_c double, center array<double>",
        )
    )


def build_energy(
    items: DataFrame,
    eparams: EnergyParams,
    gparams: GraphParams,
    id_col: str = "item_id",
    feat_col: str = "features",
    edges: DataFrame | None = None,
) -> EnergyIndex:
    """Energy pipeline build. Pass `edges` to reuse an already-built
    λτ-graph (e.g. `ArrowSpaceIndex.edges` from the standard build over
    the SAME items/params): a real pipeline building both indexes from
    one corpus runs the expensive graph build once, not twice."""
    base = items.select(F.col(id_col).alias("item_id"),
                        F.col(feat_col).alias("features"))
    # same single-row-group scan-parallelism guard as the standard
    # builder (see builder.py): without it every corpus pass below
    # runs on one task when the input parquet is unsplittable
    base = matrix_mod.with_scan_parallelism(base, int(
        items.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")))
    if gparams.normalise:
        # P1 unit-norm pre-normalization, mirroring the standard
        # builder (builder.py): extend_energy normalises appended
        # vectors when gparams.normalise, so the base corpus MUST be
        # stored at the same scale — otherwise appended items' λ/e and
        # their L2-argmin centroid assignment run against raw-scale
        # members and centers (ADVICE r8 medium). When `edges` is
        # passed in from a standard build it was computed on the
        # normalised corpus already (and rectified-cosine topology is
        # scale-invariant anyway), so the graphs agree either way.
        from ..functions import vector as V

        base = base.withColumn("features", V.l2_normalize("features"))
    base = base.persist()
    first = base.select(F.size("features").alias("n")).first()
    n_features = int(first["n"])

    if edges is None:
        edges = knn_ops.knn_edges(base, gparams).persist()
    else:
        # caller-owned frame (usually already persisted by the standard
        # build) — re-persisting it would double-cache the same plan
        edges = edges.select("src", "dst", "weight")

    # G13a trim cut FIRST: its count+percentile are the first actions
    # on the persisted edges, so cache materialization rides the cut
    # computation instead of being a separate post-diffuse scan
    # (r5 brief #7); the count also picks the percentile tier.
    kept_edges = trim_edges(edges, eparams.trim_quantile).persist()

    # G12: diffusion smoothing (reads the now-cached edges). The
    # driver tier hands the diffused (ids, X) matrix back via
    # out_matrix so the Laplacian spool and the quantizer below reuse
    # it instead of re-collecting the same N×F doubles from the frame
    # (two full toPandas passes saved per build, r13-opt; row order is
    # the id-sorted order those collects returned anyway, so every
    # value is bit-identical).
    _xy_out: list = []
    diffused = diffuse(base, edges, eparams.eta, eparams.steps,
                       out_matrix=_xy_out).persist()
    xy = _xy_out[0] if _xy_out else None
    # snapshot how the stage ran (tier/dtype/chunks) for the index's
    # self-description before any other diffuse call overwrites it
    dinfo = dict(_LAST_DIFFUSE_INFO) if (
        eparams.steps > 0 and _LAST_DIFFUSE_INFO) else None

    # λ/e on the *diffused* space — one kernel pass for the
    # τ-independent components, τ-synthesis + blend JVM-side (same
    # single-pass pattern as the standard builder).
    lf = lam_ops.feature_laplacian(diffused, kept_edges, n_features,
                                   x_matrix=xy)
    comp = lam_ops.with_energy_components(diffused, lf).persist()
    n_items = base.count()  # cached; picks the τ-median percentile tier
    tau_row = comp.select(
        stats.percentile_expr("_ec.e_raw", 0.5, n_items).alias("m")).first()
    tau_synth = float(tau_row["m"]) if tau_row["m"] is not None else 0.0
    if not (tau_synth > 0.0):
        raise ValueError(
            "degenerate energy index: diffusion collapsed the spectrum "
            f"(median energy {tau_synth}); lower eta/steps "
            "(reference sweep shows collapse at eta=0.1, steps=8)"
        )
    indexed = comp.select(
        "*", F.col("_ec.e_raw").alias("e_raw")
    ).withColumn(
        "lambda", lam_ops.blend_lambda("_ec", tau_synth)
    ).drop("_ec").persist()

    # G14: optical-token compression — the repo's deterministic seeded
    # Lloyd quantizer (operators/simsearch.lloyd_kmeans, shared with
    # IVF and the correctness oracle) instead of an engine-internal
    # KMeans whose k-means|| init is not replayable outside the JVM.
    # Training collects a deterministically hash-capped matrix via the
    # Arrow path; assignment stays fully distributed (broadcast-gemm
    # argmin), so the plan scales exactly like IVF.
    from .simsearch import deterministic_cap, ivf_assign, lloyd_kmeans

    k_tokens = int(eparams.optical_tokens or 40)
    if xy is not None and n_items <= COMPRESS_MAX_TRAIN:
        # below the training cap, deterministic_cap is the identity
        # and orderBy(item_id) is exactly the id-sorted diffused
        # matrix already on the driver — same rows, same order, same
        # doubles, one full collect saved
        x_train = xy[1]
    else:
        train = deterministic_cap(indexed.select("item_id", "features"),
                                  "item_id", COMPRESS_MAX_TRAIN,
                                  n_rows=n_items)
        _, x_train = collect_id_matrix(train.orderBy("item_id"),
                                       "item_id", "features")
    centers0 = lloyd_kmeans(x_train, k_tokens, seed=42)
    del x_train, xy
    _xy_out.clear()  # release the driver-resident N×F matrix
    # Assignment as a column on `indexed` directly (r13-opt): the old
    # shape computed `assigned` on a SELECT of indexed and joined it
    # back on item_id — a full N-row self-join (two exchanges + an
    # N×F sort) whose stage measured 483 task-sec at the 78k bench.
    # ivf_assign is just a withColumn, so attaching it in place emits
    # the identical rows with zero shuffle.
    with_c = (
        ivf_assign(indexed, centers0, "features", "cells", n_probe=1)
        .withColumn("centroid_id", F.explode("cells")).drop("cells")
        # persisted: consumed by the first attrs pass, the split-member
        # collect, and the reassignment scan
        .persist())

    centroids = _centroid_attrs(with_c).persist()

    # G13b: one bounded dispersion-split pass. Centroids above the
    # `split_quantile` of member-λ dispersion are split in two;
    # `split_tau` is the SPLIT OFFSET MAGNITUDE applied to the child
    # centroids (reference src/lib.rs:318 "split_tau: split offset
    # magnitude") — children start at c ± split_tau·u along the
    # dominant member direction u, then Lloyd refines from that
    # deterministic init. (Earlier rounds misused split_tau as a
    # threshold offset, which *suppressed* splits as it grew —
    # ADVICE r2 item 5.)
    # One collect of the (≤ ~2·optical_tokens row) centroid table
    # replaces the previous percentile job + filter collect; the cut
    # replays Spark's exact `percentile` interpolation lo + frac·
    # (hi − lo) DIRECTLY rather than np.percentile — numpy's lerp
    # switches to hi − (hi − lo)·(1 − frac) when frac ≥ 0.5, which
    # can differ by 1 ulp and flip the strict disp_c > cut comparison
    # for a centroid landing exactly on the cut (the oracle computes
    # the Spark form).
    crows = centroids.select("centroid_id", "disp_c").collect()
    disp_sorted = np.sort(
        np.array([r["disp_c"] for r in crows], dtype=np.float64))
    pos = float(eparams.split_quantile) * (len(disp_sorted) - 1)
    lo = int(np.floor(pos))
    hi = min(lo + 1, len(disp_sorted) - 1)
    split_cut = float(disp_sorted[lo]
                      + (pos - lo) * (disp_sorted[hi] - disp_sorted[lo]))
    to_split = sorted(
        int(r["centroid_id"]) for r in crows if r["disp_c"] > split_cut)
    if to_split:
        # Batched split (round 5): the first cut looped per centroid —
        # a full filter+collect per split plus an anti-join per split,
        # then recomputed EVERY centroid's attributes; at N=313k that
        # lineage chain was most of a 497 s materialize. Now: ONE
        # capped member collect for all split tokens, driver-side
        # SVD+Lloyd per token, ONE broadcast-join reassignment (members
        # rank only their own parent's two children — the same
        # (d², child_id) order as the oracle's reassign CTE), one
        # anti-join, and attribute recompute for the children only.
        spark = items.sparkSession
        # Cap order = xxhash64(item_id): when a split token exceeds
        # COMPRESS_MAX_TRAIN the training sample is a deterministic
        # but UNBIASED hash sample (same policy as deterministic_cap),
        # not the insertion-ordered first-100k-by-id (ADVICE r5).
        wcap = Window.partitionBy("centroid_id").orderBy(
            F.xxhash64("item_id"), "item_id")
        mem = (
            with_c.filter(
                F.col("centroid_id").isin([int(c) for c in to_split]))
            .select("item_id", "centroid_id", "features")
            .withColumn("_rn", F.row_number().over(wcap))
            .filter(F.col("_rn") <= COMPRESS_MAX_TRAIN)
            .drop("_rn")
            .toPandas()
        )
        next_id = k_tokens
        child_rows: list[tuple[int, int, np.ndarray]] = []
        for cid in to_split:
            sub = mem[mem["centroid_id"] == cid].sort_values("item_id")
            if len(sub) < 2:
                continue
            M = np.stack(sub["features"].to_numpy()).astype(np.float64)
            c = M.mean(axis=0)
            dev = M - c
            # dominant member direction (top right-singular vector),
            # sign-fixed so the split is orientation-deterministic
            _, s, vt = np.linalg.svd(dev, full_matrices=False)
            if s[0] <= 1e-12:
                continue  # degenerate cluster: nothing to split
            u = vt[0]
            nz = np.nonzero(np.abs(u) > 1e-12)[0][0]
            if u[nz] < 0:
                u = -u
            tau_off = float(eparams.split_tau)
            init = np.stack([c + tau_off * u, c - tau_off * u])
            children = lloyd_kmeans(M, 2, init=init, iters=10)
            child_rows.append((int(cid), int(next_id), children[0]))
            child_rows.append((int(cid), int(next_id) + 1, children[1]))
            next_id += 2
        if child_rows:
            # pure-python rows: numpy float64 elements are rejected by
            # the non-Arrow session verifier (round-5 driver regression)
            cdf = spark.createDataFrame(
                [(int(r[0]), int(r[1]), [float(v) for v in r[2]])
                 for r in child_rows],
                schema="centroid_id long, child_id long, c array<double>")

            def _dot(a, b):
                return F.aggregate(
                    F.zip_with(a, b, lambda x, y: x * y),
                    F.lit(0.0), lambda acc, v: acc + v)

            split_ids = sorted({r[0] for r in child_rows})
            wre = Window.partitionBy("item_id").orderBy(
                F.col("_d2").asc(), F.col("child_id").asc())
            reassigned = (
                with_c.filter(F.col("centroid_id").isin(split_ids))
                .select("item_id", "centroid_id", "features")
                .join(F.broadcast(cdf), "centroid_id")
                .withColumn(
                    "_d2",
                    _dot("features", "features")
                    - 2.0 * _dot("features", "c") + _dot("c", "c"))
                .withColumn("_rn", F.row_number().over(wre))
                .filter(F.col("_rn") == 1)
                .select("item_id", F.col("child_id").alias("centroid_id"))
            )
            with_c0 = with_c
            # Post-split members table as an UPDATE of the cached
            # pre-split frame (r13-opt): the old shape rebuilt
            # `assigned` (anti-join + union) and re-joined it against
            # `indexed` — re-running the whole assignment UDF pass
            # plus another N-row wide join. reassigned carries one row
            # per member of a split token, so a left join + coalesce
            # over the warm with_c0 cache emits the identical rows.
            # Materialize WHILE the pre-split cache is warm, THEN drop
            # it (ADVICE r5 — without the unpersist it holds executor
            # storage for the index lifetime).
            _new = reassigned.withColumnRenamed("centroid_id", "_new_cid")
            with_c = (
                with_c0.join(_new, "item_id", "left")
                .withColumn("centroid_id",
                            F.coalesce("_new_cid", "centroid_id"))
                .drop("_new_cid").persist())
            with_c.count()
            with_c0.unpersist()
            child_attrs = _centroid_attrs(
                with_c.filter(F.col("centroid_id") >= F.lit(k_tokens)))
            centroids = (
                centroids.filter(~F.col("centroid_id").isin(split_ids))
                .unionByName(child_attrs)
            )

    return EnergyIndex(
        # with_c is already persisted above (a second .persist() here
        # only logged "Asked to cache already cached data")
        items=with_c,
        centroids=centroids.persist(),
        edges=kept_edges,
        feature_laplacian=lf,
        graph_params=gparams,
        energy_params=eparams,
        tau_synth=tau_synth,
        diffusion_info=dinfo,
    )


def extend_energy(
    index: EnergyIndex,
    new_items: DataFrame,
    id_col: str = "item_id",
    feat_col: str = "features",
    refresh_centroid_attrs: bool = True,
    check_ids: bool = False,
) -> EnergyIndex:
    """Batch incremental energy-index maintenance — the energy twin of
    `ArrowSpaceBuilder.extend` (builder.py), with the same frozen-
    artifact contract: the λτ-graph, the F×F Laplacian, τ_synth, and
    the centroid CENTERS stay frozen, so extend cost is O(new items)
    regardless of index size, and a periodic full rebuild re-absorbs
    drift (the reference has no incremental surface at all,
    src/lib.rs:303-376 — this is engine parity with our own standard-
    index lifecycle, not a reference API).

    Per new item: (1) normalise if the base build did; (2) λ/e against
    the FROZEN diffused-space Laplacian with the build's τ_synth — note
    the new vectors enter UN-diffused, which is exactly what the frozen
    graph implies (a node with no edges is a fixed point of the
    diffusion recurrence x ← x − η·(L·x), so diffusing against the
    frozen graph would be the identity on them); (3) assignment to the
    nearest frozen centroid center (broadcast gemm argmin, the same
    `ivf_assign` kernel as the build — O(new × K)); (4) append.

    `refresh_centroid_attrs` (default on) recomputes the scalar moments
    (λ/e means, dispersion, n_members — NOT the centers) for only the
    centroids that received new members, so the search shortlist ranks
    with current statistics; cost is one grouped kernel over the
    affected centroids' members. With it off, the centroid table is
    fully frozen and only the member rescore sees the new items.

    Id uniqueness is the CALLER's contract (same as the standard
    builder's extend): appending an item_id that already exists
    silently duplicates it in every downstream rescore. `check_ids`
    (default off) verifies it with one broadcast join probe against
    the existing items table PLUS a groupBy probe for duplicates
    within the new batch itself — off by default because the first
    probe scans the existing items table, which breaks the O(new
    items) cost contract on a large index.
    """
    first = new_items.select(F.size(feat_col).alias("n")).first()
    if first is None:
        return index
    nf = int(index.feature_laplacian.shape[0])
    if int(first["n"]) != nf:
        raise ValueError(
            f"new items have {first['n']} features, index has {nf}")
    add = new_items.select(
        F.col(id_col).alias("item_id"), F.col(feat_col).alias("features"))
    if check_ids:
        dup = (index.items.select("item_id")
               .join(F.broadcast(add.select("item_id")), "item_id")
               .first())
        if dup is not None:
            raise ValueError(
                f"extend_energy: item_id {dup['item_id']} already "
                "exists in the index (ids must be unique)")
        dup_in = (add.groupBy("item_id").count()
                  .filter(F.col("count") > 1).first())
        if dup_in is not None:
            raise ValueError(
                f"extend_energy: item_id {dup_in['item_id']} appears "
                f"{dup_in['count']} times in the new batch "
                "(ids must be unique)")
    if index.graph_params.normalise:
        from ..functions import vector as V

        add = add.withColumn("features", V.l2_normalize("features"))
    comp = lam_ops.with_energy_components(add, index.feature_laplacian)
    indexed = comp.select(
        "*", F.col("_ec.e_raw").alias("e_raw")
    ).withColumn(
        "lambda", lam_ops.blend_lambda("_ec", index.tau_synth)
    ).drop("_ec")

    # Frozen centers: collect the (≤ ~2·optical_tokens)-row centroid
    # table once; ivf_assign returns POSITIONS into that matrix, which
    # a literal-array lookup maps back to centroid_ids (split children
    # are not contiguous: parents were removed, children start at
    # k_tokens).
    from .simsearch import ivf_assign

    crows = (index.centroids.select("centroid_id", "center")
             .orderBy("centroid_id").collect())
    centers = np.stack([np.asarray(r["center"], dtype=np.float64)
                        for r in crows])
    cid_lits = F.array(*[F.lit(int(r["centroid_id"])) for r in crows])
    assigned = (
        ivf_assign(indexed.select("item_id", "features"), centers,
                   "features", "cells", n_probe=1)
        .select("item_id", F.explode("cells").alias("_pos"))
        # element_at is 1-indexed
        .select("item_id",
                F.element_at(cid_lits, F.col("_pos") + 1)
                .alias("centroid_id"))
    ).localCheckpoint(eager=True)
    # eager localCheckpoint, NOT persist: it is consumed by the items
    # join below AND the affected-centroid distinct — as a lazy plan
    # the ivf_assign gemm and the upstream λ kernel over the new items
    # ran twice (ADVICE r8). A persist() fixed the recompute but was
    # never unpersisted, so repeated extends on a long-lived session
    # accumulated cached frames (ADVICE r9). The checkpoint
    # materializes the (O(new items), narrow) frame exactly once, and
    # its blocks are reclaimed by the ContextCleaner when the frame
    # goes out of scope — no session-lifetime leak, no recompute.
    new_members = indexed.join(assigned, "item_id")
    items_all = index.items.unionByName(new_members)

    centroids = index.centroids
    if refresh_centroid_attrs:
        affected = [int(r["centroid_id"]) for r in
                    assigned.select("centroid_id").distinct().collect()]
        if affected:
            refreshed = _centroid_attrs(
                items_all.filter(F.col("centroid_id").isin(affected)))
            # the grouped kernel recomputes scalar moments from ALL
            # members (old + new) of the affected centroids, but the
            # CENTER must stay the frozen one the assignment used —
            # otherwise repeated extends would silently drift the
            # quantizer without re-running Lloyd.
            frozen_centers = index.centroids.select(
                "centroid_id", "center")
            refreshed = refreshed.drop("center").join(
                F.broadcast(frozen_centers), "centroid_id")
            centroids = (
                index.centroids.filter(
                    ~F.col("centroid_id").isin(affected))
                .unionByName(refreshed.select(*index.centroids.columns))
            )

    return EnergyIndex(
        items=items_all,
        centroids=centroids,
        edges=index.edges,
        feature_laplacian=index.feature_laplacian,
        graph_params=index.graph_params,
        energy_params=index.energy_params,
        tau_synth=index.tau_synth,
        # extend never re-diffuses; the build-time record carries over
        diffusion_info=index.diffusion_info,
    )


def search_energy(
    index: EnergyIndex,
    query: np.ndarray,
    k: int,
    w_lambda: float = 1.0,
    w_dirichlet: float = 0.5,
    query_ids: "list[int] | None" = None,
) -> DataFrame:
    """Cosine-free energy search (reference src/lib.rs:232-262):
    shortlist `candidate_m` centroids by energy score, exact-rescore
    their members, top-k. Returns DataFrame[query_id, item_id, score,
    rank].

    Batch-first (engine convention, parity-plus vs the reference's
    single-vector API): `query` may be an (M, F) matrix — all M
    queries run as ONE plan (one broadcast of the M-row query frame,
    one shortlist window, one member rescore), not M separate jobs.
    `query_ids` labels the output rows (default 0..M-1)."""
    q = np.atleast_2d(np.asarray(query, dtype=np.float64))
    lf = index.feature_laplacian
    if q.shape[1] != lf.shape[0]:
        raise ValueError(f"query has {q.shape[1]} features, index has {lf.shape[0]}")
    if query_ids is None:
        query_ids = list(range(q.shape[0]))
    if len(query_ids) != q.shape[0]:
        raise ValueError(
            f"{len(query_ids)} query_ids for {q.shape[0]} queries")
    e_raw, _, s_val = lam_ops._lambda_kernel(q, lf, index.tau_synth)
    spark = index.items.sparkSession
    qdf = spark.createDataFrame(
        [(int(qid), float(s), float(e))
         for qid, s, e in zip(query_ids, s_val, e_raw)],
        schema="query_id long, q_lambda double, q_e double",
    )
    cand_m = int(index.energy_params.candidate_m)
    wl, wd = float(w_lambda), float(w_dirichlet)

    cscore = (
        F.lit(wl) / (F.lit(1.0) + F.abs(F.col("q_lambda") - F.col("lambda_c")))
        + F.lit(wd) / (F.lit(1.0) + F.abs(F.col("q_e") - F.col("e_c")))
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("cscore").desc(), F.col("centroid_id").asc()
    )
    shortlist = (
        index.centroids.join(F.broadcast(qdf))
        .withColumn("cscore", cscore)
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= cand_m)
        .select("query_id", "centroid_id", "q_lambda", "q_e")
    )
    members = index.items.select("item_id", "centroid_id", "lambda", "e_raw")
    rescored = shortlist.join(members, "centroid_id").select(
        "query_id", "item_id",
        (F.lit(wl) / (F.lit(1.0) + F.abs(F.col("q_lambda") - F.col("lambda")))
         + F.lit(wd) / (F.lit(1.0) + F.abs(F.col("q_e") - F.col("e_raw")))
         ).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("item_id").asc()
    )
    return (
        rescored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.lit(int(k)))
    )
