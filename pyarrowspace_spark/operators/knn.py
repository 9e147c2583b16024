"""kNN similarity self-join — the core of the λτ-graph build.

Reference semantics (GRAPH_VARIABLES.md:7-10): for each item, keep
candidate neighbors with rectified-cosine distance d <= eps, cap at the
k smallest per node, symmetrize, then weight w = 1/(1+(d/sigma)^p).

Two physical strategies, one logical contract:

- ``exact``: blocked cross-join + per-node top-k window. O(N^2) —
  correct at any N but only *sized* for N up to ~10^5. This is the
  correctness path used by tests and the DuckDB oracle.
- ``lsh``: sign-random-projection band LSH. Items are hashed into
  ``n_bands`` buckets of ``n_bits`` sign bits each (one broadcast
  gemm), candidates are generated ONLY within each (band, bucket)
  group by a partition-local Arrow gemm, then deduped and re-ranked
  by the same eps/top-k contract. This is the 100 TB path: candidate
  generation is bucket-local (one shuffle on the band key), never
  all-pairs, and nothing N-sized ever touches the driver.

  (An earlier revision used MLlib's BucketedRandomProjectionLSH;
  its approxSimilarityJoin OR-amplifies single-projection buckets,
  which on real embedding corpora collides nearly all pairs — the
  candidate set degenerates to O(N^2) rows. The band construction
  keeps the collision probability of non-neighbors at ~2^-n_bits
  per band, which is what makes the bucket join sub-quadratic.)

``strategy='auto'`` switches on a row-count threshold.
"""

from __future__ import annotations

import contextlib
import math
import os
import shutil
import time
import warnings

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..params import GraphParams
from ..functions import spool
from ..functions import vector as V

# Set by the grouped LSH pair stage on each run: per-group pair-spool
# bytes, disk free after the group, wall time, and (when the Spark UI
# is reachable) the group's per-stage metrics (wall/task time, spill,
# shuffle bytes). Instrumentation breadcrumb for measurement harnesses
# sizing the group budget — not a public API.
_LAST_LSH_GROUP_INFO: list | None = None

#: Scratch-disk spill multiplier for one band group: the group's
#: (band,key) shuffle sorts N·gsize vector-carrying rows; measured peak
#: transient over shuffle-input bytes was ~2.3x at N=800k and ~3.9x at
#: the N=2M abort (BENCH_800k_r10g.json / BENCH_2000k_r10.json, zstd
#: codec), so the default budgets the worst observed. Env override:
#: SPARK_GRAFT_LSH_SPILL_FACTOR.
LSH_SPILL_FACTOR = 4.0
#: Free-disk floor the grouped build must never plan into — same 15 GB
#: margin the measurement watchdog enforces (a spill burst writes
#: ~200 MB/s across 32 tasks; a thinner floor loses the race). Env
#: override: SPARK_GRAFT_LSH_MIN_FREE (suffix-aware).
LSH_MIN_FREE_BYTES = 15 << 30
#: Measured parquet bytes per emitted candidate pair in a group spool
#: (zstd long,long,double): 0.144 GB/band at N=800k, k=25 ⇒ ~7.2 B
#: (BENCH_800k_r10g.json); 7.5 keeps the a-priori estimate on the
#: conservative side until the loop's own measurements replace it.
LSH_PAIR_SPOOL_BYTES = 7.5
#: Oversized-bucket census rows above which the driver collect is
#: skipped and the census stays a lazy distributed plan (re-run per
#: band group — the documented degenerate-corpus tradeoff). The bound
#: on census size is N·bands/LSH_BUCKET_MAX keys; 65536 rows ≈ 1.5 MB
#: on the driver covers every non-adversarial corpus to ~10^10 rows.
LSH_CENSUS_COLLECT_MAX = 65536

def _normalize_f32(X) -> np.ndarray:
    """EXACTLY the unit-normalization the hash pass applies (float32
    stack → float32 norms → divide): the spool and the per-batch
    worker path must produce bit-identical U so keys and distances
    are unchanged by WHERE the vector came from."""
    X32 = np.asarray(X, dtype=np.float32)
    norms = np.linalg.norm(X32, axis=1)
    norms[norms == 0.0] = 1.0
    return X32 / norms[:, None]


def _build_u_spool(items: DataFrame, id_col: str, feat_col: str,
                   n: int, fdim: int, x_source: dict | None,
                   sc: "spool.Scratch | None") -> "str | None":
    """Create the id-sorted float32 unit-vector spool that lets the
    LSH pair stage shuffle NARROW (band, key, id) rows and gather
    vectors bucket-locally from one shared page-cache copy (guide §8:
    shuffle keys, not payloads); returns its path. None ⇒ caller uses
    the portable vector-shuffle plan (no worker-visible scratch, or
    corpus too big to spool or to collect)."""
    from ..functions import matrix as matrix_mod

    if sc is None or n > spool.MAX_ROWS:
        return None
    d = spool.scratch_dir("pyarrowspace-lshu-")
    u_path = os.path.join(d, "u.npy")
    sources = [("scan", lambda: x_source)] if x_source else []
    if matrix_mod.collect_eligible(items.sparkSession, n * fdim * 8):
        sources.append(("collect", lambda: matrix_mod.collect_id_matrix(
            items, id_col, feat_col)))
    got = spool.write_first(u_path, sources, fdim, np.float32,
                            _normalize_f32, rows=n)
    if got is None:
        spool.release(d)
        return None
    spool.save(os.path.join(d, spool.IDS_FILE), got[0])
    return u_path


def _dir_bytes(path: str) -> int:
    """Recursive regular-file byte total (a flat listdir under-counted
    partitioned/_temporary subtrees — ADVICE r10)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for fn in files:
            try:
                total += os.path.getsize(os.path.join(root, fn))
            except OSError:
                pass
    return total


def _completed_stages(spark) -> list[dict]:
    """Completed-stage records from the Spark UI REST API (empty when
    the UI is disabled/unreachable — instrumentation only, never
    load-bearing)."""
    try:
        import json as _json
        import urllib.request

        url = spark.sparkContext.uiWebUrl
        if not url:
            return []
        app_id = spark.sparkContext.applicationId
        with urllib.request.urlopen(
                f"{url}/api/v1/applications/{app_id}/stages"
                f"?status=complete", timeout=5) as resp:
            return _json.load(resp)
    except Exception:
        return []


def _max_stage_id(spark) -> int:
    stages = _completed_stages(spark)
    return max((int(s.get("stageId", -1)) for s in stages), default=-1)


def _stages_since(spark, watermark: int) -> list[dict]:
    """Compact per-stage metrics for stages completed after
    `watermark` — the data that localizes where a band group's wall
    time and scratch disk actually go (sort spill vs shuffle write vs
    parquet output), per the round-10 2M postmortem."""
    def _ts(s: str) -> float:
        from datetime import datetime, timezone

        return datetime.strptime(
            s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
        ).replace(tzinfo=timezone.utc).timestamp()

    out = []
    for st in _completed_stages(spark):
        sid = int(st.get("stageId", -1))
        if sid <= watermark:
            continue
        try:
            wall = round(_ts(st["completionTime"])
                         - _ts(st["submissionTime"]), 2)
        except Exception:
            wall = None
        out.append({
            "sid": sid,
            # keep the TAIL: Spark stage names end in file:line ("col-
            # lect at .../lambda_index.py:167") — a head-truncation
            # dropped exactly the locator the metrics exist to record
            "name": str(st.get("name", ""))[-72:],
            "num_tasks": int(st.get("numTasks", 0)),
            "wall_sec": wall,
            "task_sec": round(st.get("executorRunTime", 0) / 1e3, 1),
            "disk_spill_gb": round(
                st.get("diskBytesSpilled", 0) / 2**30, 3),
            "mem_spill_gb": round(
                st.get("memoryBytesSpilled", 0) / 2**30, 3),
            "shuffle_write_gb": round(
                st.get("shuffleWriteBytes", 0) / 2**30, 3),
            "shuffle_read_gb": round(
                st.get("shuffleReadBytes", 0) / 2**30, 3),
            "input_gb": round(st.get("inputBytes", 0) / 2**30, 3),
            "output_gb": round(st.get("outputBytes", 0) / 2**30, 3),
        })
    return sorted(out, key=lambda r: r["sid"])

# Above this many items the exact all-pairs join is no longer the plan
# you'd want on a cluster; switch to LSH candidate generation.
EXACT_PATH_MAX_ROWS = 20_000


def _pairwise_candidates_exact(items: DataFrame, id_col: str, feat_col: str) -> DataFrame:
    """All ordered pairs (a != b) with rectified-cosine distance.

    The join condition a.id != b.id keeps Catalyst from collapsing the
    self-join; distances are computed with JVM higher-order functions
    inside codegen. Norms are precomputed once per side to halve work.

    Kept as the pure-SQL reference formulation; the default exact path
    is `_knn_edges_broadcast_scan` (same math, vectorized) because a
    per-pair `aggregate` lambda costs ~100x a BLAS matmul.
    """
    a = items.select(
        F.col(id_col).alias("src"),
        F.col(feat_col).alias("_fa"),
        V.l2_norm(feat_col).alias("_na"),
    )
    b = items.select(
        F.col(id_col).alias("dst"),
        F.col(feat_col).alias("_fb"),
        V.l2_norm(feat_col).alias("_nb"),
    )
    pairs = a.join(b, F.col("src") != F.col("dst"))
    cos = V.dot("_fa", "_fb") / (F.col("_na") * F.col("_nb"))
    return pairs.select(
        "src",
        "dst",
        (F.lit(1.0) - F.greatest(cos, F.lit(0.0))).alias("dist"),
    )


def _knn_directed_broadcast_scan(
    items: DataFrame,
    id_col: str,
    feat_col: str,
    eps: float,
    k: int,
) -> DataFrame:
    """Directed kNN candidates via broadcast corpus + partition-local
    numpy scan.

    Each partition multiplies its rows against the broadcast corpus
    matrix (one BLAS gemm per Arrow batch), applies the eps predicate
    and the per-row k-smallest cap (ties broken by dst asc, matching
    the SQL window `ORDER BY dist ASC, dst ASC`), and emits at most
    k rows per item — the N^2 candidate space never hits the shuffle.

    Scale contract: corpus matrix must fit in executor memory
    (N x F x 8B; ~1 GB at N=314k, F=384 — the reference's own ceiling).
    Beyond that, `strategy='lsh'` is the path.
    """
    import pandas as pd

    from ..functions.matrix import collect_id_matrix

    spark = items.sparkSession
    ids, X = collect_id_matrix(items, id_col, feat_col)
    norms = np.linalg.norm(X, axis=1)
    b_ids = spark.sparkContext.broadcast(ids)
    b_X = spark.sparkContext.broadcast(X)
    b_norms = spark.sparkContext.broadcast(norms)
    eps_f, k_i = float(eps), int(k)

    from pyspark.sql.types import (DoubleType, LongType, StructField,
                                   StructType)

    schema = StructType([
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist", DoubleType(), False),
    ])

    def scan(batches):
        ids_all, X_all, n_all = b_ids.value, b_X.value, b_norms.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            Q_full = np.stack(pdf[feat_col].to_numpy()).astype(np.float64)
            qids_full = pdf[id_col].to_numpy(dtype=np.int64)
            # Chunk the query rows so the R×N distance block stays
            # bounded (~256×N doubles ≈ 160 MB at N=78k) — Arrow hands
            # us up to 10k rows per batch, and 10k×N would be gigabytes.
            for c0 in range(0, len(qids_full), 256):
                Q = Q_full[c0:c0 + 256]
                qids = qids_full[c0:c0 + 256]
                qn = np.linalg.norm(Q, axis=1)
                cos = (Q @ X_all.T) / np.outer(qn, n_all)
                dist = 1.0 - np.maximum(cos, 0.0)
                out_s, out_d, out_v = [], [], []
                for r in range(dist.shape[0]):
                    drow = dist[r]
                    mask = (drow <= eps_f) & (ids_all != qids[r])
                    cand = np.nonzero(mask)[0]
                    if cand.size == 0:
                        continue
                    if cand.size > k_i:
                        # k smallest by (dist, dst): lexsort minor->major
                        order = np.lexsort((ids_all[cand], drow[cand]))[:k_i]
                        cand = cand[order]
                    out_s.append(np.full(cand.size, qids[r], dtype=np.int64))
                    out_d.append(ids_all[cand])
                    out_v.append(drow[cand])
                if out_s:
                    yield pd.DataFrame({
                        "src": np.concatenate(out_s),
                        "dst": np.concatenate(out_d),
                        "dist": np.concatenate(out_v),
                    })

    # Spread the gemm across cores: a single-file (or single-ROW-GROUP
    # — see matrix.scan_split_info) parquet scan arrives effectively
    # as ONE task, which would serialize the whole N×N scan on one
    # Python worker.
    from ..functions.matrix import with_scan_parallelism

    target = min(
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")),
        max(1, len(ids) // 256),
    )
    src = with_scan_parallelism(items.select(id_col, feat_col), target)
    return src.mapInPandas(scan, schema=schema)


#: Design point for the auto-bands rule: effective per-bit collision
#: factor measured on the synthetic CVE-shaped corpus at N=78,580
#: (recall 0.9772 with bits=8 bands=16 ⇒ f_eff = 0.21^(1/8) ≈ 0.823;
#: the same model predicts the OBSERVED 0.914 recall at N=313,841 with
#: bits=10 bands=16 — the round-4 anchor run that motivated the rule).
LSH_DESIGN_COLLISION = 0.82
#: −ln(target miss probability): 3.0 ⇒ ≥95% recall design target.
LSH_MISS_BUDGET = 3.0
#: Buckets above this row count are split into block-pair tasks
#: (skew guard): task cost is bounded at (2·max)²·F flops ≈ 25 s.
LSH_BUCKET_MAX = 8192


def auto_lsh_bands(n_bits: int) -> int:
    """Bands needed to hold the ≥0.95 recall contract at a given band
    width: miss = (1 − f^bits)^bands ≤ e^−budget. Bands grow ~linearly
    in bits (≈ log N), so total LSH work is N·log N at fixed recall —
    the correct asymptotic; a fixed band count silently degrades recall
    as the corpus grows (observed: 0.977 @ 78k → 0.914 @ 313k).

    $SPARK_GRAFT_LSH_MISS_BUDGET overrides the −ln(miss) budget
    (default 3.0). Measured margin by scale (r13, multi-seed at every
    anchor): 0.9584–0.9623 @ 313k (10 bits, three seeds),
    0.9539/0.9540 @ 800k (12 bits, two seeds), 0.9561/0.9591 @ 2M
    (13 bits, two seeds) — the 800k dip is stable across seeds, i.e. model drift at the bit-rounding boundary
    (log2(800k/256) = 11.61 rounds UP hardest of the three), not
    sampling noise. The contract holds everywhere; deployments wanting
    more margin in the 0.5–1.2M window can raise the budget to ~3.5
    (≈ +19% bands → build cost) without a code change — MEASURED at
    800k (BENCH_800k_r13mb35.json): budget 3.5 → 37 bands → recall
    0.9768 over the same 2000-sample estimator (0.9539/0.9540 at the
    default 3.0), matching the e^-3.5 ≈ 0.97 miss-model prediction.
    The default stays 3.0: the contract is ≥0.95 and the +19% build
    cost is not free at 100 TB."""
    import math as _m

    budget = float(os.environ.get("SPARK_GRAFT_LSH_MISS_BUDGET",
                                  str(LSH_MISS_BUDGET)))
    p = LSH_DESIGN_COLLISION ** int(n_bits)
    return max(16, int(_m.ceil(budget / -_m.log(max(1.0 - p, 1e-12)))))


def lsh_plan(n_items: int, fdim: int, k: int,
             group_budget_bytes: int | None = None) -> dict:
    """The LSH physical plan the grouped build would run on THIS corpus
    shape — pure arithmetic over (N, F, k) plus the env-backed group
    budget, the `diffuse_plan` pattern (r11 verdict: the group/spool
    machinery's behavior must be diagnostics-visible, not a module
    global only measurement scripts read). Returns the auto bit width
    and band count, the env-CAPPED band-group count, and the projected
    per-group (k-capped) pair-spool and per-band shuffle bytes. The
    MEASURED per-run record (spool bytes, stage metrics, wall) lives in
    `lsh_group_summary()`; this is the deterministic twin the DuckDB
    oracle replays."""
    from ..functions.matrix import parse_size_bytes

    n_bits = int(min(20, max(6, round(math.log2(max(n_items / 256, 2))))))
    n_bands = auto_lsh_bands(n_bits)
    band_bytes = n_items * (fdim * 4 + 48)
    budget = (group_budget_bytes if group_budget_bytes is not None
              else parse_size_bytes(
                  os.environ.get("SPARK_GRAFT_LSH_GROUP_BYTES",
                                 str(8 << 30)), default=8 << 30))
    est_bytes = n_items * n_bands * (fdim * 4 + 48)
    n_groups = int(min(n_bands, max(1, -(-est_bytes // budget))))
    gsize = -(-n_bands // n_groups)
    return {
        "n_bits": n_bits,
        "n_bands": n_bands,
        "n_band_groups": -(-n_bands // gsize),
        "band_shuffle_bytes": band_bytes,
        "spool_group_bytes": n_items * max(int(k), 1) * LSH_PAIR_SPOOL_BYTES,
    }


def lsh_group_summary() -> dict | None:
    """Measured record of the MOST RECENT grouped LSH pair stage in
    this process: group count, total/max pair-spool bytes, total wall
    seconds, and peak per-stage shuffle-write/spill bytes (when the UI
    REST API was reachable). None when the last build ran the legacy
    single-stage (ungrouped) vector-shuffle plan, the exact strategy,
    or no LSH build has run; the narrow-shuffle plan (r13-opt) always
    spools per group — a normal build shows one group here. Successor to reading the
    `_LAST_LSH_GROUP_INFO` breadcrumb directly (r11 verdict finding 2);
    the raw per-group records stay available for measurement harnesses
    as the ``groups`` key."""
    info = _LAST_LSH_GROUP_INFO
    if not info:
        return None
    stage_rows = [s for g in info for s in (g.get("stages") or [])]

    def _peak(key: str) -> float:
        return max((float(s.get(key, 0.0) or 0.0) for s in stage_rows),
                   default=0.0)

    return {
        "n_groups": len(info),
        "bands_total": sum(len(g.get("bands", ())) for g in info),
        "spool_bytes_total": sum(int(g.get("spool_bytes", 0))
                                 for g in info),
        "spool_bytes_max_group": max(int(g.get("spool_bytes", 0))
                                     for g in info),
        "wall_sec_total": round(sum(float(g.get("sec", 0.0))
                                    for g in info), 1),
        "peak_stage_shuffle_write_gb": _peak("shuffle_write_gb"),
        "peak_stage_disk_spill_gb": _peak("disk_spill_gb"),
        "groups": info,
    }


def _pairwise_candidates_lsh(
    items: DataFrame,
    id_col: str,
    feat_col: str,
    eps: float,
    k: int | None = None,
    n_bits: int | None = None,
    n_bands: int | None = None,
    seed: int = 42,
    n_items: int | None = None,
    bucket_max: int | None = None,
    x_source: dict | None = None,
) -> DataFrame:
    """Bucketed candidate pairs within the cosine eps-ball via
    sign-random-projection band LSH.

    The 100 TB shape (three narrow/bucket-local stages, no driver
    materialization of anything N-sized):

      1. ONE Arrow pass per partition: gemm the unit-normalized batch
         against a broadcast F×(bands·bits) Gaussian matrix, pack each
         band's sign bits into an int64 key, emit ``n_bands`` rows
         (band, key, id, unit_f32) per item.
      2. Shuffle ONCE on (band, key); per bucket an Arrow gemm computes
         intra-bucket rectified-cosine distances, applies the eps
         predicate, and (if ``k``) caps emission at the k smallest per
         src — lossless for downstream top-k, since any neighbor
         crowded out of a bucket's top-k is also outside the global
         top-k.
      3. groupBy(src,dst) min(dist) dedupes pairs found in >1 band
         (map-side combinable).

    Collision probability for a pair at angle θ is (1-θ/π)^n_bits per
    band; non-neighbors (θ≈π/2) collide at ~2^-n_bits, so candidate
    count stays ~N·bands·bucket_size, never O(N²). ``n_bits`` defaults
    to log2(N/256) clamped to [6, 20] — buckets of a few hundred rows
    keep the per-bucket gemm cache-friendly while preserving recall.

    Shuffled vectors are float32: half the shuffle bytes; the distance
    error (~1e-7 relative) is far below any eps/ranking decision and
    the path is approximate by contract (recall ≥ 0.95, SURVEY §7.3 #2).

    A failed build frees its scratch (unit-vector spool, pair spools,
    hash cache) before the error propagates, not at interpreter exit.
    """
    with contextlib.ExitStack() as on_error:
        pairs = _lsh_pairs(items, id_col, feat_col, eps, k, n_bits,
                           n_bands, seed, n_items, bucket_max, x_source,
                           on_error)
        on_error.pop_all()
    return pairs


def _lsh_pairs(items, id_col, feat_col, eps, k, n_bits, n_bands, seed,
               n_items, bucket_max, x_source,
               on_error: contextlib.ExitStack) -> DataFrame:
    """`_pairwise_candidates_lsh`'s plan; every scratch resource it
    creates registers its release on `on_error`."""
    import pandas as pd
    from pyspark.sql.types import (ArrayType, DoubleType, FloatType,
                                   IntegerType, LongType, StructField,
                                   StructType)

    from ..functions.matrix import positions_of

    spark = items.sparkSession
    if n_items is None:
        n_items = items.count()
    if n_bits is None:
        n_bits = int(min(20, max(6, round(math.log2(max(n_items / 256, 2))))))
    if n_bands is None:
        n_bands = auto_lsh_bands(n_bits)
    first = items.select(F.size(feat_col).alias("n")).first()
    fdim = int(first["n"])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((fdim, n_bands * n_bits)).astype(np.float32)
    b_planes = spark.sparkContext.broadcast(planes)
    weights = (1 << np.arange(n_bits, dtype=np.int64))
    nb, bits = int(n_bands), int(n_bits)

    # Narrow-shuffle plan (r13-opt, guide §8 "shuffle keys and
    # metadata instead of payloads"): where a worker-visible scratch
    # exists and the corpus fits spool.MAX_ROWS, the unit vectors
    # are spooled ONCE (id-sorted float32, one shared page-cache copy)
    # and the pair stage shuffles only (band, key, id) rows — ~28 B
    # instead of F·4+48 B per row (at N=2M, 39 bands: ~2.3 GB instead
    # of ~95 GB through the exchange). The bucket kernel gathers its
    # few-hundred rows from the mmap; U bits are identical to the
    # shuffled-uvec values (`_normalize_f32` is the same op sequence
    # the hash pass applies), so every emitted pair is unchanged.
    # `lsh_plan`'s band_shuffle_bytes continues to describe the
    # PORTABLE fallback plan (the oracle replays that formula).
    sc = spool.scratch(spark)
    u_spool = _build_u_spool(items, id_col, feat_col, n_items, fdim,
                             x_source, sc)
    narrow = u_spool is not None
    if narrow:
        on_error.callback(spool.release, os.path.dirname(u_spool))

    if narrow:
        hash_schema = StructType([
            StructField("band", IntegerType(), False),
            StructField("key", LongType(), False),
            StructField("id", LongType(), False),
        ])
    else:
        hash_schema = StructType([
            StructField("band", IntegerType(), False),
            StructField("key", LongType(), False),
            StructField("id", LongType(), False),
            StructField("uvec", ArrayType(FloatType(), False), False),
        ])

    def make_hash_bands(band_subset=None):
        """Arrow hash-pass emitter, optionally restricted to a band
        subset. The grouped build re-hashes the corpus once per band
        group (the deliberate disk-over-CPU tradeoff); before r11 each
        group's pass emitted ALL nb bands' rows through the Python→JVM
        Arrow boundary and filtered JVM-side — at N=2M with ~3-band
        groups that is ~13x redundant emission per group. Emitting only
        the group's bands (and slicing the projection matrix to their
        planes, band-major so keys are bit-identical) cuts each group's
        hash emission and gemm by nb/group_size; the pair output is
        unchanged."""
        bsel = (None if band_subset is None
                else np.asarray(sorted(band_subset), dtype=np.int32))

        def hash_bands(batches):
            R = b_planes.value
            if bsel is None:
                gbands = np.arange(nb, dtype=np.int32)
                Rg = R
            else:
                gbands = bsel
                cols = (gbands[:, None].astype(np.int64) * bits
                        + np.arange(bits, dtype=np.int64)).ravel()
                Rg = np.ascontiguousarray(R[:, cols])
            g = len(gbands)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                U = _normalize_f32(
                    np.stack(pdf[feat_col].to_numpy()).astype(np.float32))
                signs = (U @ Rg) >= 0.0                 # B × (g·bits)
                keys = (signs.reshape(len(U), g, bits).astype(np.int64)
                        @ weights)
                ids = pdf[id_col].to_numpy(dtype=np.int64)
                out = {
                    "band": np.repeat(gbands, len(U)),
                    "key": keys.T.ravel(),
                    "id": np.tile(ids, g),
                }
                if not narrow:
                    out["uvec"] = list(U) * g
                yield pd.DataFrame(out)

        return hash_bands

    # Spread the hash gemm across all cores: a single-file corpus
    # arrives split only by maxPartitionBytes (a 0.9 GB parquet at
    # N=313k → 8 scan tasks feeding 32 cores). Measured r11
    # (BENCH_313k_r11.json per-group stages): the hash+shuffle-write
    # stage ran 144 s wall at 461 task-seconds — parallelism-starved
    # ~4x. One narrow N·F corpus repartition fixes every downstream
    # hash pass (main pass per band group + the census); where it
    # engages (single-file corpora ≲1M rows) the extra exchange is
    # seconds against a ~100 s/group saving, and beyond that the scan
    # already yields ≥ cores splits so this is a no-op.
    from ..functions.matrix import with_scan_parallelism

    hash_src = with_scan_parallelism(
        items.select(id_col, feat_col),
        int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    hashed = hash_src.mapInPandas(make_hash_bands(), schema=hash_schema)
    if narrow:
        # ~28 B/row: cache the full (band, key, id) table once — the
        # census AND every band group read it, so the corpus is hashed
        # exactly ONCE per build (the legacy path re-hashes per band
        # group and runs a separate keys-only census pass).
        hashed = hashed.persist()
        on_error.callback(hashed.unpersist)

    pair_schema = StructType([
        StructField("src", LongType(), False),
        StructField("dst", LongType(), False),
        StructField("dist", DoubleType(), False),
    ])
    eps_f = float(eps)
    k_i = int(k) if k is not None else 0

    def bucket_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": np.int64, "dst": np.int64, "dist": np.float64})
        ids = pdf["id"].to_numpy(dtype=np.int64)
        # Sort the bucket by id so that equal-distance ties resolve to
        # the LOWER dst by plain stable ordering — the vectorized
        # selection below then matches the reference tie-break
        # lexsort((dst, dist)) without a per-row Python loop. (The old
        # per-row mask/nonzero/lexsort cost ~40-60 s of pure numpy
        # call overhead per build at the 78k bench: ~1.26M row
        # iterations × 4-6 tiny numpy calls; guide §4.2 — hand whole
        # batches to vectorized kernels.) Distances are the same
        # fp32-gemm → fp64 arithmetic as before; only the selection is
        # vectorized, so the emitted (src, dst, dist) set is
        # identical.
        order0 = np.argsort(ids, kind="stable")
        ids = ids[order0]
        if narrow:
            # narrow plan: gather this bucket's unit vectors from the
            # shared spool (ascending positions — the ids were just
            # sorted — so the mmap walk is monotonic)
            Usp, s_l = spool.open(u_spool)
            U = np.asarray(Usp[positions_of(ids, s_l)])
        else:
            U = np.stack(pdf["uvec"].to_numpy())[order0]
        out_s, out_d, out_v = [], [], []
        # Chunk rows so the chunk×n distance block stays bounded even
        # in a pathologically skewed bucket.
        chunk = int(max(64, min(1024, (64 << 20) // (n * 16))))
        for c0 in range(0, n, chunk):
            Uc = U[c0:c0 + chunk]
            m = len(Uc)
            cos = Uc @ U.T
            dist = 1.0 - np.maximum(cos.astype(np.float64), 0.0)
            # invalid = outside the eps ball, or same id (covers both
            # the self-pair and any duplicated id, matching the old
            # `ids != ids[row]` exclusion)
            bad = (dist > eps_f) | (ids[None, :] == ids[c0:c0 + m, None])
            if k_i and n > k_i:
                d2 = np.where(bad, np.inf, dist)
                sel = np.argsort(d2, axis=1, kind="stable")[:, :k_i]
                dsel = np.take_along_axis(d2, sel, axis=1)
                valid = np.isfinite(dsel)
                rows = np.nonzero(valid)[0]
                out_s.append(ids[c0 + rows])
                out_d.append(ids[sel[valid]])
                out_v.append(dsel[valid])
            else:
                rows, cols = np.nonzero(~bad)
                out_s.append(ids[c0 + rows])
                out_d.append(ids[cols])
                out_v.append(dist[~bad])
        out_s = [a for a in out_s if a.size]
        if not out_s:
            return pd.DataFrame({"src": [], "dst": [], "dist": []}).astype(
                {"src": np.int64, "dst": np.int64, "dist": np.float64})
        return pd.DataFrame({
            "src": np.concatenate(out_s),
            "dst": np.concatenate([a for a in out_d if a.size]),
            "dist": np.concatenate([a for a in out_v if a.size]),
        })

    # Skew guard: a degenerate corpus (mass-duplicate vectors — common
    # in the dedup-adjacent corpora this engine targets) can land one
    # giant bucket on ONE task; the chunked gemm bounds memory but not
    # task time (O(bucket²)). Buckets above LSH_BUCKET_MAX are split
    # into hash-assigned blocks and processed as block-PAIR tasks of
    # ≤2·LSH_BUCKET_MAX rows each: every pair still meets in exactly
    # the (min,max) block task, and the per-row k-cap stays lossless
    # per task (a neighbor crowded out by k closer rows in its task is
    # outside the global top-k a fortiori). The size census runs a
    # DEDICATED key-only hash pass — same gemm, but no per-row uvec
    # list materialization and no vector bytes in its (map-side
    # combined) shuffle, so the census costs a fraction of the main
    # pass; when no bucket is oversized the guard reduces to that
    # census + a broadcast join against an empty key list.
    b_max = int(bucket_max if bucket_max is not None else LSH_BUCKET_MAX)

    count_schema = StructType([
        StructField("band", IntegerType(), False),
        StructField("key", LongType(), False),
    ])

    def hash_keys_only(batches):
        R = b_planes.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            U = _normalize_f32(
                np.stack(pdf[feat_col].to_numpy()).astype(np.float32))
            signs = (U @ R) >= 0.0
            keys = signs.reshape(len(U), nb, bits).astype(np.int64) @ weights
            yield pd.DataFrame({
                "band": np.repeat(np.arange(nb, dtype=np.int32), len(U)),
                "key": keys.T.ravel(),
            })

    if narrow:
        # the persisted narrow hash table IS the census source: one
        # hash pass total instead of a dedicated keys-only pass (the
        # count agg projects (band, key) out of the cache and combines
        # map-side)
        sizes = hashed.groupBy("band", "key").agg(
            F.count("*").alias("_cnt"))
    else:
        sizes = (
            hash_src.mapInPandas(hash_keys_only, schema=count_schema)
            .groupBy("band", "key").agg(F.count("*").alias("_cnt"))
        )
    # Collect the census ONCE and re-broadcast it as a local frame:
    # `oversized` is joined inside _group_pairs, so as a lazy plan the
    # full-corpus hash_keys_only pass AND its (map-side combined)
    # shuffle re-ran per band group — n_groups redundant census passes
    # at exactly the N≥800k scales the grouping targets (ADVICE r9).
    # The result is tiny (only keys with >b_max members; empty on a
    # non-degenerate corpus), the re-hash of the MAIN pass per group
    # remains the deliberate disk-over-CPU tradeoff. The collect is
    # capped (ADVICE r10): a mass-duplicate corpus can produce up to
    # N·bands/b_max oversized keys, so above LSH_CENSUS_COLLECT_MAX
    # rows the census stays a lazy distributed plan — per-group census
    # re-runs beat an unbounded driver materialization there.
    ov_lazy = sizes.filter(F.col("_cnt") > F.lit(b_max))
    ov_head = ov_lazy.limit(LSH_CENSUS_COLLECT_MAX + 1).collect()
    if len(ov_head) > LSH_CENSUS_COLLECT_MAX:
        oversized = ov_lazy
    else:
        ov_rows = [(int(r["band"]), int(r["key"]), int(r["_cnt"]))
                   for r in ov_head]
        oversized = items.sparkSession.createDataFrame(
            ov_rows, schema="band int, key long, _cnt long")

    # Scratch-disk budget: the bucket stage shuffles N·bands rows each
    # carrying a fdim-float32 unit vector, and the groupBy sort spills
    # ~3x that volume to local disk (measured round 8: an N=800k,
    # 15-band build spilled >61 GB and filled a 76 GB scratch disk;
    # N=1M died the same way in round 7). Above the per-stage budget,
    # bands are processed in SEQUENTIAL groups: each group's shuffle
    # carries only its bands, its (narrow) pair output is checkpointed
    # eagerly, and the group's shuffle files are GC'd before the next
    # group runs — peak scratch divides by the group count while the
    # pair union is band-order-invariant, so the output is IDENTICAL
    # (pinned by tests/test_lsh_recall.py). The default budget keeps
    # corpora ≤ ~400k at one group, so the committed 313k anchors run
    # the exact same single-stage plan as before. Env override:
    # SPARK_GRAFT_LSH_GROUP_BYTES (suffix-aware, e.g. "12g").
    from ..functions.matrix import parse_size_bytes

    # per-row shuffle width: narrow (band,key,id) rows vs full
    # uvec-carrying rows — the grouping exists to bound scratch disk,
    # so it must price what actually crosses the exchange
    row_bytes = 28 if narrow else (fdim * 4 + 48)
    est_bytes = n_items * nb * row_bytes
    group_budget = parse_size_bytes(
        os.environ.get("SPARK_GRAFT_LSH_GROUP_BYTES", str(8 << 30)),
        default=8 << 30)
    n_band_groups = int(min(nb, max(1, -(-est_bytes // group_budget))))
    gsize = -(-nb // n_band_groups)

    def _group_pairs(src_frame: DataFrame) -> DataFrame:
        h2 = src_frame.join(F.broadcast(oversized), ["band", "key"], "left")
        normal = h2.filter(F.col("_cnt").isNull()).drop("_cnt")
        # Explicit (band, key) exchange feeding the bucket kernel —
        # same reason as the src repartitions below: the narrow plan's
        # hash rows compress to tens of MB, and AQE's advisory
        # coalescing collapsed the kernel's implicit groupBy exchange
        # to 5 partitions at the 78k bench — the build's CORE compute
        # stage (gather + gemm per bucket) ran 5-wide while 27 cores
        # idled (r13-opt, SQL exec 4: AQEShuffleRead(5) → Sort →
        # FlatMapGroupsInPandas). A user-specified repartition is not
        # coalescible, and the groupBy reuses it (same keys, same
        # count), so the plan still has exactly one exchange here.
        n_parts_b = int(src_frame.sparkSession.conf.get(
            "spark.sql.shuffle.partitions", "32"))
        bucket_pairs = normal.repartition(
            n_parts_b, "band", "key"
        ).groupBy("band", "key").applyInPandas(
            bucket_knn, schema=pair_schema)
        big = h2.filter(F.col("_cnt").isNotNull())
        nblocks = F.ceil(F.col("_cnt") / F.lit(b_max)).cast("int")
        myblock = F.pmod(F.xxhash64("id"), nblocks).cast("int")
        big_pairs = (
            big.withColumn("_b", myblock)
            .withColumn(
                "_bp",
                F.explode(F.transform(
                    F.sequence(F.lit(0), nblocks - F.lit(1)),
                    lambda j: F.struct(
                        F.least(F.col("_b"), j).alias("b1"),
                        F.greatest(F.col("_b"), j).alias("b2"),
                    ),
                )),
            )
            .select("band", "key", F.col("_bp.b1").alias("b1"),
                    F.col("_bp.b2").alias("b2"), "id",
                    *([] if narrow else ["uvec"]))
            # same AQE-coalesce guard as the normal-bucket kernel above
            .repartition(n_parts_b, "band", "key", "b1", "b2")
            .groupBy("band", "key", "b1", "b2")
            .applyInPandas(bucket_knn, schema=pair_schema)
        )
        return bucket_pairs.unionAll(big_pairs)

    if n_band_groups <= 1 and not narrow:
        bucket_pairs = _group_pairs(hashed)
    else:
        # Group materialization is a PARQUET SPOOL, not localCheckpoint:
        # at N=1M one group's pre-dedupe pairs are ~125M rows, and the
        # checkpoint's MEMORY_AND_DISK unroll OOM'd a 16 GB heap
        # (UnsafeRow.copy in the store path — 32 tasks unrolling
        # concurrently). The distributed parquet write streams straight
        # to disk with bounded task memory, and reading it back is a
        # clean scan with NO lineage to the group's shuffle, so the GC
        # below actually reclaims the shuffle files. Spool dirs ride
        # the shared scratch-dir registry (cleaned at exit). Deployable
        # wherever executors can read the scratch (spool.scratch);
        # elsewhere fall back to the eager checkpoint — a multi-JVM
        # cluster has the aggregate memory the single-JVM harness lacks.
        parts = []
        # Per-group scratch accounting: per-group spool bytes, disk
        # free, wall time, and (UI reachable) per-stage metrics.
        global _LAST_LSH_GROUP_INFO
        _LAST_LSH_GROUP_INFO = []
        if sc is None:
            # No shared scratch (multi-JVM cluster): eager checkpoints
            # ride aggregate executor memory/disk, which the single
            # local filesystem probe below can't see — keep the static
            # env-budgeted group size.
            for g0 in range(0, nb, gsize):
                gband = list(range(g0, min(g0 + gsize, nb)))
                parts.append(_group_pairs(
                    hash_src.mapInPandas(make_hash_bands(gband),
                                         schema=hash_schema)
                ).localCheckpoint(eager=True))
                spark.sparkContext._jvm.System.gc()
            # (narrow mode never lands here: the U spool implies a
            # worker-visible scratch)
        else:
            # ADAPTIVE group sizing against the MEASURED disk. The
            # round-10 static model sized groups from each group's own
            # shuffle input only; at N=2M the accumulated pair spools
            # of finished groups (~1 GB/group measured at 800k) plus
            # ~30 GB base usage stacked under the live group's sort
            # spill and the build died at 78.6 GB peak 90 minutes in
            # (BENCH_2000k_r10.json). Reading the real free space
            # before EVERY group charges base usage and accumulated
            # spools automatically; the live group then only needs its
            # own shuffle·spill + its spool to fit above the floor.
            # The a-priori spool estimate is replaced by the measured
            # per-band mean as groups finish, and an up-front
            # projection REFUSES the build before any group job runs
            # (only the cheap census has run by then) when even the
            # final 1-band group (all spools accumulated) cannot fit —
            # a clear arithmetic error beats a watchdog abort 90
            # minutes in. The env group budget stays a CAP on
            # group size (tests force tiny budgets to pin the grouped
            # path; the 313k/800k anchors keep their committed plans
            # on a healthy disk).
            probe = spool.spill_dir(spark)
            band_bytes = n_items * row_bytes
            est_k = k_i if k_i else 64
            # Spool projection UNIT: per GROUP when the per-src k-cap
            # below runs (the cap bounds a group's spool at N·k rows
            # REGARDLESS of how many bands the group carries), per band
            # otherwise (uncapped emission really is ~N·k per band).
            # r11 projected per band even with the cap active,
            # overstating end-state spool by ~the mean group size
            # (~11 GB projected vs ~3.5 GB measured at N=2M) — safe
            # direction, but the up-front refusal could reject a build
            # that fits (VERDICT r11 finding 3).
            spool_unit = n_items * est_k * LSH_PAIR_SPOOL_BYTES
            n_units_end = -(-nb // gsize) if k_i else nb
            spill = float(os.environ.get(
                "SPARK_GRAFT_LSH_SPILL_FACTOR", str(LSH_SPILL_FACTOR)))
            floor_b = parse_size_bytes(
                os.environ.get("SPARK_GRAFT_LSH_MIN_FREE",
                               str(LSH_MIN_FREE_BYTES)),
                default=LSH_MIN_FREE_BYTES)
            free0 = shutil.disk_usage(probe).free
            need_end = n_units_end * spool_unit + band_bytes * spill + floor_b
            if free0 < need_end:
                raise RuntimeError(
                    f"LSH grouped build refused up front: scratch "
                    f"'{probe}' has {free0 / 2**30:.1f} GB free but the "
                    f"final band group is projected to need "
                    f"{need_end / 2**30:.1f} GB = {n_units_end} "
                    f"{'k-capped groups' if k_i else 'bands'} x "
                    f"{spool_unit / 2**30:.2f} GB pair spool + "
                    f"{band_bytes / 2**30:.2f} GB/band shuffle x "
                    f"{spill:.1f} spill + {floor_b / 2**30:.0f} GB "
                    f"floor. Free disk, lower k, or raise "
                    f"SPARK_GRAFT_LSH_SPILL_FACTOR/"
                    f"SPARK_GRAFT_LSH_MIN_FREE consciously.")
            # Residual mid-loop risk the up-front check can't cover
            # (ADVICE r12): under disk pressure the adaptive loop can
            # fragment into up to nb 1-band groups — each spooling up
            # to N·k rows — and each group's pre-dedupe shuffle is
            # priced by the band_bytes·spill heuristic only. A build
            # accepted here can therefore still stop mid-loop with a
            # clean RuntimeError (never a corrupt result); warn when
            # even the worst-case fragmentation would not fit, so the
            # operator can free disk BEFORE the 90-minute job, not
            # after its 60th group.
            worst_end = nb * spool_unit + band_bytes * spill + floor_b
            if k_i and free0 < worst_end:
                warnings.warn(
                    f"LSH grouped build accepted at the expected "
                    f"{-(-nb // gsize)}-group plan, but worst-case "
                    f"fragmentation ({nb} 1-band groups under disk "
                    f"pressure) projects {worst_end / 2**30:.1f} GB "
                    f"vs {free0 / 2**30:.1f} GB free — the build may "
                    f"stop mid-loop with a clean RuntimeError if the "
                    f"disk tightens.", UserWarning, stacklevel=2)
            bands_left = list(range(nb))
            while bands_left:
                free = shutil.disk_usage(probe).free
                if k_i:
                    # the live group's spool is one k-capped unit no
                    # matter how many bands it takes; only the shuffle
                    # scales with band count
                    avail = free - floor_b - spool_unit
                    max_bands = int(avail // max(band_bytes * spill, 1))
                    per_band_need = band_bytes * spill + spool_unit
                else:
                    per_band_need = band_bytes * spill + spool_unit
                    max_bands = int((free - floor_b) // max(per_band_need, 1))
                if max_bands < 1:
                    done = nb - len(bands_left)
                    raise RuntimeError(
                        f"LSH grouped build out of scratch disk after "
                        f"{done}/{nb} bands: {free / 2**30:.1f} GB free "
                        f"on '{probe}' < 1-band need "
                        f"{(per_band_need + floor_b) / 2**30:.1f} GB "
                        f"(accumulated pair spools "
                        f"{sum(g['spool_bytes'] for g in _LAST_LSH_GROUP_INFO) / 2**30:.1f}"
                        f" GB are reclaimed at session exit).")
                gband = bands_left[:min(gsize, max_bands)]
                del bands_left[:len(gband)]
                g_t0 = time.time()
                sid0 = _max_stage_id(spark)
                if narrow:
                    # the persisted narrow hash table covers every
                    # band: a group is a cache filter — no per-group
                    # corpus re-hash, no per-group gemm
                    pairs_g = _group_pairs(hashed.filter(
                        F.col("band").isin([int(b) for b in gband])))
                else:
                    # subset-hash: this group's pass gemms, emits, and
                    # exchanges ONLY its own bands' rows (see
                    # make_hash_bands) — keys bit-identical to the
                    # full-width pass
                    pairs_g = _group_pairs(
                        hash_src.mapInPandas(make_hash_bands(gband),
                                             schema=hash_schema))
                if k_i:
                    # Per-src k-cap + dedupe BEFORE spooling: lossless
                    # for the global top-k (a pair crowded out by k
                    # closer same-src pairs in its group is outside
                    # the global top-k a fortiori — the bucket-cap
                    # argument one level up), and it bounds each
                    # group's spool at N·k rows regardless of band
                    # count: measured 800k spools carried the FULL
                    # N·k·bands pre-dedupe emission (1.01 GB per
                    # 7-band group = ~7x the capped size), and the
                    # post-loop dedupe+window then re-shuffled all of
                    # it — the prime suspect for the r10 2M disk
                    # abort. Narrow rows; Spark 4's window-group-limit
                    # keeps the per-group sort partial.
                    wg = Window.partitionBy("src").orderBy(
                        F.col("dist").asc(), F.col("dst").asc())
                    # ONE explicit exchange on src feeds BOTH the
                    # dedupe agg (hash(src) satisfies the (src,dst)
                    # clustering — subset rule) and the window — and,
                    # being user-specified, AQE cannot coalesce it:
                    # the k-capped pairs compress to a few MB, and
                    # AQE's 1 MB-min coalescing ran this sort+spool
                    # write on 5 tasks (12 s each) at the 78k bench
                    # (r13-opt jobs timeline, jid 12).
                    n_parts_w = int(spark.conf.get(
                        "spark.sql.shuffle.partitions", "32"))
                    pairs_g = (
                        pairs_g.repartition(n_parts_w, "src")
                        .groupBy("src", "dst")
                        .agg(F.min("dist").alias("dist"))
                        .withColumn("_rn", F.row_number().over(wg))
                        .filter(F.col("_rn") <= F.lit(k_i)).drop("_rn"))
                d = spool.scratch_dir("pyarrowspace-lshpairs-")
                on_error.callback(spool.release, d)
                pairs_g.write.mode("overwrite").parquet(d)
                parts.append(spark.read.parquet(d))
                try:
                    spool_bytes = _dir_bytes(d)
                    _LAST_LSH_GROUP_INFO.append(
                        {"bands": gband, "spool_bytes": int(spool_bytes),
                         "disk_free_bytes": int(
                             shutil.disk_usage(probe).free),
                         "sec": round(time.time() - g_t0, 1),
                         "stages": _stages_since(spark, sid0)})
                    # replace the a-priori spool estimate with the
                    # measured mean — per GROUP under the k-cap (the
                    # unit the projection above charges), per band
                    # otherwise — so the remaining groups (and the
                    # out-of-disk check) use ground truth
                    if k_i:
                        meas = [g["spool_bytes"]
                                for g in _LAST_LSH_GROUP_INFO]
                    else:
                        meas = [g["spool_bytes"] / max(len(g["bands"]), 1)
                                for g in _LAST_LSH_GROUP_INFO]
                    spool_unit = max(sum(meas) / len(meas), 1.0)
                except OSError:
                    pass
                spark.sparkContext._jvm.System.gc()
        if narrow:
            # every group's pairs are spooled parquet now — the hash
            # cache and the U spool are dead; release both
            # deterministically instead of at session exit
            hashed.unpersist()
            spool.release(os.path.dirname(u_spool))
        bucket_pairs = parts[0]
        for p in parts[1:]:
            bucket_pairs = bucket_pairs.unionAll(p)
    # Dedupe across bands; min() is a no-op on value (the distance is
    # the same pair function in every band) but makes the agg
    # map-side combinable. The explicit src repartition serves this
    # agg (subset rule), the eps filter, AND knn_edges' top-k window
    # downstream with ONE exchange AQE cannot shrink — the deduped
    # pairs compress to a few MB and AQE-coalesced window sorts ran
    # on a handful of tasks otherwise (see the grouped-loop note).
    n_parts_f = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    return (bucket_pairs.repartition(n_parts_f, "src")
            .groupBy("src", "dst").agg(F.min("dist").alias("dist")))


def knn_edges(
    items: DataFrame,
    params: GraphParams,
    id_col: str = "item_id",
    feat_col: str = "features",
    strategy: str = "auto",
    lsh_bits: int | None = None,
    lsh_bands: int | None = None,
    n_rows: int | None = None,
    x_source: dict | None = None,
) -> DataFrame:
    """Build the symmetrized, weighted kNN edge list.

    Returns DataFrame[src, dst, dist, weight] with src < dst
    (canonical undirected edges, one row per edge).

    Pipeline (all reference-pinned):
      eps filter (GRAPH_VARIABLES.md:7) -> per-node k-smallest heap
      == row_number window (GRAPH_VARIABLES.md:8) -> symmetrize ->
      kernel weight (GRAPH_VARIABLES.md:9).

    `n_rows`: pass a precomputed count to skip the strategy-switch
    Spark job (an extra eager count per call otherwise).
    """
    # Clear the grouped-stage record up front: without this an earlier
    # grouped build's record would leak onto a later exact/ungrouped
    # build's `lsh_group_summary()` / index attachment.
    global _LAST_LSH_GROUP_INFO
    _LAST_LSH_GROUP_INFO = None
    if strategy == "auto":
        n = items.count() if n_rows is None else int(n_rows)
        strategy = "exact" if n <= EXACT_PATH_MAX_ROWS else "lsh"
    if strategy == "exact":
        # eps + per-node top-k already applied partition-locally.
        knn = _knn_directed_broadcast_scan(
            items, id_col, feat_col, params.eps, params.k
        )
    else:
        if strategy == "exact-sql":
            cand = _pairwise_candidates_exact(items, id_col, feat_col)
        elif strategy == "lsh":
            cand = _pairwise_candidates_lsh(
                items, id_col, feat_col, params.eps, k=params.k,
                n_bits=lsh_bits, n_bands=lsh_bands, x_source=x_source,
            )
        else:
            raise ValueError(f"unknown strategy {strategy!r}")

        # eps predicate BEFORE the top-k window: Catalyst pushes the
        # filter below the shuffle, so the window sorts only survivors.
        in_ball = cand.filter(F.col("dist") <= F.lit(float(params.eps)))

        # Per-node k smallest; tie-break by dst for determinism across
        # nondeterministic shuffle order (risk register SURVEY §7.3).
        w = Window.partitionBy("src").orderBy(
            F.col("dist").asc(), F.col("dst").asc()
        )
        knn = in_ball.withColumn("_rn", F.row_number().over(w)).filter(
            F.col("_rn") <= F.lit(int(params.k))
        ).drop("_rn")

    # Symmetrize: undirected edge survives if EITHER direction kept it.
    # Canonicalize to src < dst and dedupe (dist is symmetric).
    canon = knn.select(
        F.least("src", "dst").alias("src"),
        F.greatest("src", "dst").alias("dst"),
        "dist",
    ).groupBy("src", "dst").agg(F.min("dist").alias("dist"))

    return canon.withColumn(
        "weight", V.kernel_weight("dist", params.sigma, params.p)
    )


def degrees(edges: DataFrame) -> DataFrame:
    """Per-node weighted degree from the canonical undirected edge list.

    This is the diagonal of L = D - W (reference GRAPH_VARIABLES.md:8,
    TAUMODE.md:26). Map-side partial aggregation makes this one cheap
    shuffle at any scale.
    """
    both = edges.select(F.col("src").alias("node"), "weight").unionAll(
        edges.select(F.col("dst").alias("node"), "weight")
    )
    return both.groupBy("node").agg(F.sum("weight").alias("degree"))


def sparsity(edges: DataFrame, n_items: int) -> float:
    """1 - nnz/N^2 over the symmetric adjacency (reference
    with_sparsity_check, src/lib.rs:286)."""
    nnz = edges.count() * 2  # canonical edges stored once
    return 1.0 - nnz / float(n_items * n_items)
