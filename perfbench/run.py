#!/usr/bin/env python3
"""Spectral-index benchmark: λ and energy build throughput, set-up time,
driver memory and recall, with output checks on every run (serving calls
included) and an optional traced run.

    python3 perfbench/run.py --workload build_default --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer ones. A fuller record of every run (host fit, host probes,
plans taken, every sample, checks, spans) goes to
perfbench/.out/<workload>-seed<seed>-trace<t>[-c<cores>].json. See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from contextlib import nullcontext

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)

WORKLOADS = ("build_default", "build_small_driver")

# Corpus: the clustered synthetic of sources.synth at F=384 (the CVE
# corpus shape). N is far below the 78,580-row ledger corpus: the
# benchmark must run 48 times in under an hour, set-up included; see
# README.
N_ITEMS = 3000
N_FEATURES = 384
GRAPH = {"eps": 0.99, "k": 25, "topk": 15, "p": 2.0}
ENERGY = {"eta": 0.05, "steps": 4, "optical_tokens": 40}
QUERY_SCALE = 1.05
TAU = 0.62
TOP_K = 15
N_QUERIES = 50
N_EXACT = 3
LSH_PLANES = 10
EDGE_RECALL_SAMPLE = 2000
SETUP_REPEATS = 3
# One serving cycle, always in this order. Serving calls are checked and
# traced, and their latencies are kept in the artifact, but they are no
# end-to-end metric: a run has room for a few calls only, and their
# summed time spread 0.21-0.24 of its median between runs; see README.
CYCLE_OPS = ("ann_50q", "exact_3q", "ann_1q")
# The engine modules whose first import in a fresh Python worker the
# set-up pays, so that no timed call does.
ENGINE_MODULES = ("pyarrowspace_spark.operators.energy", "pyarrowspace_spark.operators.knn",
                  "pyarrowspace_spark.operators.lambda_index",
                  "pyarrowspace_spark.operators.search",
                  "pyarrowspace_spark.operators.simsearch")
# build_small_driver sets spark.driver.maxResultSize to this multiple of
# the corpus matrix bytes: above 0.8x the engine's collect_eligible()
# gate refuses the driver tiers, while at or below 1.0x the seed engine
# aborts a later whole-matrix collect (Lloyd training) instead of
# finishing. N is also bounded below by the cap: the distributed
# λ-Laplacian tier collects one F×F partial (1.2 MB) per partition.
SMALL_DRIVER_CAP = 1.2
MIN_FREE_GB = 2.0
KEEP_CORPORA = 6
# Recall floors, below what the seed engine measures at this N over
# seeds 101-110 and 201-210 (edge recall 0.996-0.999, ANN recall@15
# 0.965-0.990); see README.
RECALL_FLOOR = {"edge_recall": 0.95, "ann_recall_at_15": 0.90}
# Relative-error tolerances of the output checks. fp64 tiers differ
# from the reference only in summation order. The distributed diffusion
# tier ships float32 messages (the engine's ~1e-6 relative contract per
# step); over 4 steps and the quadratic forms downstream 1e-5 holds.
TOL_FP64 = 1e-9
TOL_FP32_MSGS = 1e-5
BLAS_VARS = ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS")

END_TO_END_UNITS = {
    "setup_s": "s", "driver_peak_rss_gb": "GB",
    "lambda_build_items_per_s": "items/s", "energy_build_items_per_s": "items/s",
    "edge_recall": "ratio", "ann_recall_at_15": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    help="run at local[CORES] instead of every CPU but one (the c2/c4 traced runs)")
    ap.add_argument("--n", type=int, default=N_ITEMS,
                    help="corpus rows (smaller only for the self-test)")
    ap.add_argument("--corrupt", action="store_true",
                    help="self-test: tamper with one exact-search result")
    return ap.parse_args(argv)


def host_fit() -> dict:
    """Session sizing from this host. Spark gets every CPU but one as
    task slots; the one left runs the driver's Python and the JVM's own
    threads, which at every CPU competed with the tasks and made short
    calls vary between runs. Every Python process, the driver's too,
    gets one BLAS thread, so compute threads do not outnumber CPUs. The
    driver JVM gets a quarter of RAM."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        mem_kb = next(int(line.split()[1]) for line in fh
                      if line.startswith("MemTotal:"))
    mem_gb = mem_kb / 1024**2
    return {"cpus": cpus, "task_slots": max(1, cpus - 1),
            "driver_blas_threads": 1, "worker_blas_threads": 1,
            "mem_total_gb": round(mem_gb, 1),
            "driver_memory": f"{max(1, min(8, int(mem_gb / 4)))}g"}


def make_scratch() -> str:
    """Per-run Spark and spool scratch inside the checkout; refuses to
    start when the disk is nearly full."""
    root = os.path.join(BENCH_DIR, ".scratch")
    os.makedirs(root, exist_ok=True)
    free_gb = shutil.disk_usage(root).free / 1024**3
    if free_gb < MIN_FREE_GB:
        raise SystemExit(f"perfbench: only {free_gb:.1f} GB free under {root}")
    for entry in os.listdir(root):
        pid = entry.rsplit("-", 1)[-1]
        if entry.startswith("run-") and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(root, entry), ignore_errors=True)
    path = os.path.join(root, f"run-{os.getpid()}")
    os.makedirs(path, exist_ok=True)
    return path


def host_probes(np, scratch: str) -> dict:
    """bench.py's host probes (context only): memcpy cold/warm, a fixed
    1024³ gemm and a buffered 128 MB disk write."""
    out = {"loadavg": list(os.getloadavg())}
    buf = np.ones(100_000_000 // 8)
    t0 = time.perf_counter()
    buf2 = buf.copy()
    out["memcpy_gbps"] = 0.1 / (time.perf_counter() - t0)
    t0 = time.perf_counter()
    buf2[:] = buf
    out["memcpy_warm_gbps"] = 0.1 / (time.perf_counter() - t0)
    del buf, buf2
    a = np.random.standard_normal((1024, 1024))
    a @ a
    t0 = time.perf_counter()
    for _ in range(4):
        a @ a
    out["gemm_gflops"] = 4 * 2 * 1024**3 / 1e9 / (time.perf_counter() - t0)
    blk = b"\0" * (8 << 20)
    path = os.path.join(scratch, "diskprobe.bin")
    t0 = time.perf_counter()
    with open(path, "wb", buffering=0) as fh:
        for _ in range(16):
            fh.write(blk)
        os.fdatasync(fh.fileno())
    out["diskwrite_mbps"] = 128 / (time.perf_counter() - t0)
    os.remove(path)
    return out


def vm_hwm_gb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        kb = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM:"))
    return kb / 1024**2


class Bench:
    """One benchmark process: sessions, corpus, operations, checks."""

    def __init__(self, args, host: dict, scratch: str):
        import numpy as np
        import pyarrow.parquet as pq

        import reference
        from pyarrowspace_spark.sources.synth import ensure_clustered_corpus

        self.np, self.ref = np, reference
        self.args, self.host, self.scratch = args, host, scratch
        self.n = args.n
        data = os.path.join(BENCH_DIR, ".data")
        self.corpus = ensure_clustered_corpus(data, n=self.n, f=N_FEATURES, seed=args.seed)
        _prune_corpora(data, keep=self.corpus)
        tbl = pq.read_table(self.corpus, columns=["item_id", "features"])
        ids = tbl["item_id"].to_numpy()
        order = np.argsort(ids)
        self.ids = ids[order]
        self.X = np.stack(tbl["features"].to_numpy())[order].astype(np.float64)
        rng = np.random.default_rng(args.seed)
        self.q_rows = rng.choice(self.n, size=N_QUERIES, replace=False)
        self.Q = self.X[self.q_rows] * QUERY_SCALE
        self.rng = rng
        self.matrix_bytes = self.n * N_FEATURES * 8
        self.max_result = (f"{int(SMALL_DRIVER_CAP * self.matrix_bytes) // 1024}k"
                           if args.workload == "build_small_driver" else None)
        self.tol = TOL_FP32_MSGS if args.workload == "build_small_driver" else TOL_FP64
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failures: list[str] = []
        self.samples: dict[str, list] = {k: [] for k in (
            "session_setup_s", "worker_warmup_s", "lambda_build_s", "energy_build_s", "hash_s",
            "ann_1q_s", "ann_50q_s", "exact_3q_s")}
        self.quality: dict[str, float] = {}
        self.context: dict = {"plans": {}}
        self.lref = None
        self.ann_rows_returned = 0
        self.corrupt_pending = args.corrupt

    # ---- session ------------------------------------------------------

    def start_session(self, cores: int):
        from pyarrowspace_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        conf = {
            "spark.driver.memory": self.host["driver_memory"],
            "spark.local.dir": self.scratch,
            # -Xms = -Xmx: a heap that starts at full size does not grow
            # by GC-timing-dependent steps, which made the JVM's peak RSS
            # vary by ±15% between identical runs. AlwaysPreTouch: how
            # much of that fixed heap the collector touched still
            # depended on its timing (peak RSS fell in two modes 0.4 GB
            # apart); touched at launch, it is a set-up cost, and peak
            # RSS varies with what the driver holds.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.scratch} "
                                             f"-XX:-UsePerfData -Xms{self.host['driver_memory']} "
                                             "-XX:+AlwaysPreTouch",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            **{f"spark.executorEnv.{v}": str(self.host["worker_blas_threads"])
               for v in BLAS_VARS},
        }
        if self.max_result:
            conf["spark.driver.maxResultSize"] = self.max_result
        self.spark = get_spark("perfbench", master=f"local[{cores}]",
                               shuffle_partitions=cores, extra_conf=conf)
        return self.spark

    def setup_session(self, cores: int) -> float:
        """Session start plus a warm-up job on every core."""
        t0 = time.perf_counter()
        self.start_session(cores).range(0, 64 * cores, numPartitions=cores).count()
        return time.perf_counter() - t0

    def warm_workers(self, cores: int) -> float:
        """One job on every core that imports the engine in the core's
        Python worker, a cost every new session pays once. Left to the
        first build, it made that build's time vary by seconds between
        runs."""
        modules = ENGINE_MODULES

        # nested, so that it is shipped by value: the Python workers
        # cannot import this script
        def import_engine(batches):
            import importlib

            for mod in modules:
                importlib.import_module(mod)
            yield from batches

        t0 = time.perf_counter()
        self.spark.range(0, cores, numPartitions=cores) \
            .mapInPandas(import_engine, "id long").count()
        return time.perf_counter() - t0

    def shutdown(self) -> None:
        """Stop Spark and the JVM it launched, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_gb(self) -> float:
        from pyspark import SparkContext

        total = vm_hwm_gb("self")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            total += vm_hwm_gb(proc.pid)
        return total

    # ---- spans ----------------------------------------------------------

    def span(self, name: str, kind: str = "layer"):
        return self.tracer.span(name, kind) if self.tracer else nullcontext()

    def phase(self, name: str):
        return self.span(name, "phase")

    # ---- operations ---------------------------------------------------

    def op(self, name: str, check) -> None:
        """Count one operation; `check()` lists what is wrong with its
        output. A check that raises on malformed output fails the
        operation instead of the run."""
        t0 = time.perf_counter()
        try:
            problems = check()
        except Exception as exc:  # noqa: BLE001 - reported as a failed operation
            problems = [f"check raised {exc!r}"]
        self.context["check_s"] = self.context.get("check_s", 0.0) + time.perf_counter() - t0
        self.attempted += 1
        if problems:
            self.failures.append(f"{name}: " + "; ".join(problems))

    def _items(self):
        return self.spark.read.parquet(self.corpus).select("item_id", "features")

    def _qdf(self, Q, qids):
        return self.spark.createDataFrame(
            [(int(i), [float(v) for v in row]) for i, row in zip(qids, Q)],
            "query_id long, features array<double>")

    def lambda_build(self):
        from pyarrowspace_spark.builder import ArrowSpaceBuilder

        items = self._items()
        with self.phase("lambda_build"):
            t0 = time.perf_counter()
            idx = ArrowSpaceBuilder.build(items, GRAPH, strategy="lsh")
            with self.span("builder.materialize"):
                idx.items.count()
                n_edges = idx.edges.count()
            self.samples["lambda_build_s"].append(time.perf_counter() - t0)
        self.quality["edges_per_item"] = n_edges / self.n
        self.op("lambda_build", lambda: self.check_lambda(idx))
        return idx

    def energy_build(self, idx):
        from pyarrowspace_spark.operators import energy
        from pyarrowspace_spark.params import EnergyParams, GraphParams

        items = self._items()
        with self.phase("energy_build"):
            t0 = time.perf_counter()
            eidx = energy.build_energy(items, EnergyParams(**ENERGY),
                                       GraphParams(**GRAPH), edges=idx.edges)
            with self.span("energy.materialize"):
                eidx.items.count()
                eidx.centroids.count()
            self.samples["energy_build_s"].append(time.perf_counter() - t0)
        info = getattr(eidx, "diffusion_info", None)
        if isinstance(info, dict):
            self.context["plans"]["diffusion"] = {
                k: info.get(k) for k in ("tier", "plan", "msg_dtype")}
        self.op("energy_build", lambda: self.check_energy(eidx, idx))
        for df in (eidx.items, eidx.centroids, eidx.edges):
            df.unpersist()

    def hash_index(self, idx):
        from pyarrowspace_spark.operators import simsearch

        n_tables = simsearch.auto_lsh_tables(n_planes=LSH_PLANES, target_recall=0.95,
                                             n_items=self.n)
        planes = simsearch.lsh_hyperplanes(N_FEATURES, n_tables=n_tables,
                                           n_planes=LSH_PLANES)
        with self.phase("hash"):
            t0 = time.perf_counter()
            with self.span("simsearch.with_lsh_buckets"):
                hashed = simsearch.with_lsh_buckets(
                    idx.items.select("item_id", "features", "e_raw", "g"),
                    planes).persist()
                rows = hashed.count()
            self.samples["hash_s"].append(time.perf_counter() - t0)
        buckets = [c for c in hashed.columns if c.startswith("bucket_")]
        problems = []
        if rows != self.n:
            problems.append(f"{rows} hashed rows of {self.n}")
        if len(buckets) != n_tables:
            problems.append(f"{len(buckets)} bucket columns for {n_tables} tables")
        self.op("hash", lambda: problems)
        self.context["ann_tables"] = n_tables
        return hashed, planes

    def serve(self, idx, hashed, planes, op_name: str) -> None:
        """One serving call on seeded query rows, timed and checked."""
        from pyarrowspace_spark.operators import search

        if op_name == "ann_1q":
            qi = list(self.rng.choice(N_QUERIES, size=1))
        elif op_name == "exact_3q":
            qi = list(self.rng.choice(N_QUERIES, size=N_EXACT, replace=False))
        else:
            qi = list(range(N_QUERIES))
        lf = idx.feature_laplacian
        with self.phase(op_name):
            if op_name == "exact_3q":
                Q = self.Q[qi]
                t0 = time.perf_counter()
                df = search.search(idx.items, lf, Q, tau=TAU, k=TOP_K)
                with self.span("search.search.collect"):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                # search() numbers a local query matrix 0..q-1
                got = self._by_query(rows, key=lambda q: qi[q])
            else:
                qdf = self._qdf(self.Q[qi], qi)
                t0 = time.perf_counter()
                df = search.search_ann(hashed, lf, qdf, tau=TAU, k=TOP_K, planes=planes)
                with self.span("search.search_ann.collect"):
                    rows = df.collect()
                dt = time.perf_counter() - t0
                got = self._by_query(rows, key=lambda q: q)
        self.samples[f"{op_name}_s"].append(dt)
        if op_name != "exact_3q":
            self.ann_rows_returned += len(rows)
        if self.corrupt_pending and op_name == "exact_3q":
            self.corrupt_pending = False
            hit = got[qi[0]][0]
            hit[0] = (hit[0] + 1) % self.n
        self.op(op_name, lambda: self.check_serving(op_name, got, qi))

    @staticmethod
    def _by_query(rows, key) -> dict:
        out: dict[int, list] = {}
        for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
            out.setdefault(key(r["query_id"]), []).append([r["item_id"], r["score"]])
        return out

    # ---- checks ---------------------------------------------------------

    def _collect(self, df, cols, slices: int = 1):
        """Collect in id-range slices: build_small_driver's result cap is
        barely above the corpus matrix, so a whole-matrix collect aborts."""
        import pandas as pd
        from pyspark.sql import functions as F

        parts = []
        step = -(-self.n // slices)
        for lo in range(0, self.n, step):
            parts.append(df.filter((F.col("item_id") >= lo) & (F.col("item_id") < lo + step))
                         .select(*cols).toPandas())
        return pd.concat(parts).sort_values("item_id").reset_index(drop=True)

    def check_lambda(self, idx) -> list:
        np, ref = self.np, self.ref
        problems = []
        e = idx.edges.select("src", "dst", "weight").toPandas()
        src = ref.positions(self.ids, e["src"].to_numpy(np.int64))
        dst = ref.positions(self.ids, e["dst"].to_numpy(np.int64))
        w = e["weight"].to_numpy(np.float64)
        W = ref.adjacency(self.n, src, dst, w)
        lf, er, g, tau, lam = ref.lambda_index(self.X, W)
        self.lref = {"lf": lf, "e": er, "g": g, "W": W, "edges": (src, dst, w)}
        got = self._collect(idx.items, ["item_id", "lambda"])
        if len(got) != self.n or not np.array_equal(got["item_id"].to_numpy(), self.ids):
            return [f"index holds {len(got)} items, corpus {self.n}"]
        for name, err in (("L_F", ref.rel_err(idx.feature_laplacian, lf)),
                          ("tau_synth", ref.rel_err(idx.tau_synth, tau)),
                          ("lambda checksum", ref.rel_err(got["lambda"].sum(), lam.sum()))):
            if not err <= TOL_FP64:
                problems.append(f"{name} rel err {err:.2e}")
        recall = ref.sampled_edge_recall(self.X, src, dst, GRAPH["eps"], GRAPH["k"],
                                         EDGE_RECALL_SAMPLE, self.args.seed)
        self.quality["edge_recall"] = recall
        if recall < RECALL_FLOOR["edge_recall"]:
            problems.append(f"edge recall {recall:.4f} < {RECALL_FLOOR['edge_recall']}")
        return problems

    def check_energy(self, eidx, idx) -> list:
        np, ref = self.np, self.ref
        from pyarrowspace_spark.params import EnergyParams

        ep = EnergyParams(**ENERGY)
        Xd, tau, lam = ref.energy_index(self.X, self.lref["W"], *self.lref["edges"],
                                        ep.eta, ep.steps, ep.trim_quantile)
        got = self._collect(eidx.items, ["item_id", "features", "lambda", "centroid_id"],
                            slices=2 if self.max_result else 1)
        problems = []
        if len(got) != self.n or not np.array_equal(got["item_id"].to_numpy(), self.ids):
            return [f"energy index holds {len(got)} items, corpus {self.n}"]
        Xg = np.stack(got["features"].to_numpy())
        for name, err in (("diffused X", ref.rel_err(Xg, Xd)),
                          ("tau_synth", ref.rel_err(eidx.tau_synth, tau)),
                          ("lambda checksum", ref.rel_err(got["lambda"].sum(), lam.sum()))):
            if not err <= self.tol:
                problems.append(f"energy {name} rel err {err:.2e}")
        cents = eidx.centroids.select("centroid_id", "n_members").toPandas()
        assigned = got["centroid_id"]
        if assigned.isna().any():
            problems.append(f"{int(assigned.isna().sum())} items without a centroid")
        members = assigned.value_counts()
        if len(cents) < ENERGY["optical_tokens"]:
            problems.append(f"{len(cents)} centroids < {ENERGY['optical_tokens']} tokens")
        if set(members.index) != set(cents["centroid_id"]) or (cents["n_members"] < 1).any():
            problems.append("centroid table and item assignment disagree")
        elif not all(members[c] == n for c, n in zip(cents["centroid_id"], cents["n_members"])):
            problems.append("centroid member counts disagree with item assignment")
        return problems

    def check_serving(self, op_name: str, got: dict, qi: list) -> list:
        np, ref = self.np, self.ref
        L = self.lref
        scores = ref.search_scores(self.X, L["e"], L["g"], L["lf"], self.Q[qi], TAU)
        problems = []
        if set(got) - set(qi):
            problems.append("results for queries never asked")
        recalls = []
        for row, q in enumerate(qi):
            hits = got.get(q, [])
            ids = [h[0] for h in hits]
            exact = ref.topk(scores[row], self.ids, TOP_K)
            if op_name == "exact_3q":
                if not ref.same_topk(ids, scores[row], self.ids, TOP_K):
                    problems.append(f"query {q}: top-{TOP_K} ids differ from reference")
                continue
            if len(hits) > TOP_K or len(set(ids)) != len(ids):
                problems.append(f"query {q}: {len(hits)} hits, duplicates or > k")
                continue
            pos = np.searchsorted(self.ids, ids)
            sc = np.array([h[1] for h in hits])
            if len(hits) and (np.any(pos >= self.n) or
                              np.max(np.abs(scores[row][np.minimum(pos, self.n - 1)] - sc)) > 1e-9):
                problems.append(f"query {q}: rescored values differ from reference")
            recalls.append(len(set(ids) & set(exact.tolist())) / len(exact))
        if op_name == "ann_50q":
            r = float(np.mean(recalls)) if recalls else 0.0
            self.quality["ann_recall_at_15"] = r
            if r < RECALL_FLOOR["ann_recall_at_15"]:
                problems.append(f"ANN recall@15 {r:.4f} < {RECALL_FLOOR['ann_recall_at_15']}")
        return problems

    # ---- the run ------------------------------------------------------

    def measure(self) -> dict:
        """Set up, then the timed region: one λ build and one energy
        build, the hash, then serving cycles for the rest of --seconds.
        A cycle starts only if it is expected to end within --seconds,
        and at least one runs. Returns the end-to-end metrics; with
        --trace 1 every layer is traced meanwhile."""
        cores = self.args.cores or self.host["task_slots"]
        for _ in range(SETUP_REPEATS):
            self.samples["session_setup_s"].append(self.setup_session(cores))
        self.samples["worker_warmup_s"].append(self.warm_workers(cores))
        if self.args.trace:
            import tracing

            self.tracer = tracing.Tracer(self.spark.sparkContext, "pb")
            self.tracer.install()
        try:
            t_end = time.perf_counter() + self.args.seconds
            idx = self.lambda_build()
            self.energy_build(idx)
            hashed, planes = self.hash_index(idx)
            while True:
                t0 = time.perf_counter()
                for op_name in CYCLE_OPS:
                    self.serve(idx, hashed, planes, op_name)
                now = time.perf_counter()
                if now + (now - t0) > t_end:
                    break
        finally:
            if self.tracer:
                self.tracer.uninstall()
        s, med = self.samples, statistics.median
        return {
            # the workers' warm-up and serving's one-off index set-up
            # count as set-up, as the session does
            "setup_s": med(s["session_setup_s"]) + s["worker_warmup_s"][0] + s["hash_s"][0],
            "driver_peak_rss_gb": self.peak_rss_gb(),
            "lambda_build_items_per_s": self.n / s["lambda_build_s"][0],
            "energy_build_items_per_s": self.n / s["energy_build_s"][0],
            "edge_recall": self.quality["edge_recall"],
            "ann_recall_at_15": self.quality["ann_recall_at_15"],
        }

    def layer_metrics(self) -> dict:
        """Per-layer metrics of a traced run, read from the REST API."""
        import tracing

        tr = self.tracer
        tr.collect_stages()
        totals = tr.layer_totals()
        coverage = tr.phase_coverage()
        self.context["trace"] = {"totals": totals, "coverage": coverage, "absent": tr.absent}
        fl = totals.get("lambda_index.feature_laplacian", {})
        # Of the λ-Laplacian tiers only the distributed one joins the
        # feature table to the edges; the driver and gather tiers scan
        # the edge list alone.
        self.context["plans"]["lambda_laplacian"] = {
            "calls": fl.get("calls", 0), "distributed_joins": fl.get("join_calls", 0),
            "plan_nodes": [sorted(sp.plan_nodes) for sp in tr.spans
                           if sp.name == "lambda_index.feature_laplacian"]}
        metrics = tracing.layer_metrics(totals)
        metrics["knn.knn_edges.edges_per_item"] = self.quality["edges_per_item"]
        coll = totals.get("search.search_ann.collect", {})
        metrics["search.search_ann.rows_read_per_result"] = (
            coll.get("records_read", 0) / max(self.ann_rows_returned, 1))
        metrics["trace.coverage_min"] = min(coverage.values())
        return metrics


def _prune_corpora(data: str, keep: str) -> None:
    files = sorted((os.path.join(data, f) for f in os.listdir(data) if f.endswith(".parquet")),
                   key=os.path.getmtime, reverse=True)
    for old in files[KEEP_CORPORA:]:
        if old != keep:
            os.remove(old)


def main(argv=None) -> int:
    args = parse_args(argv)
    host = host_fit()
    sys.path.insert(0, ROOT)
    for v in BLAS_VARS:
        os.environ[v] = str(host["driver_blas_threads"])
    scratch = make_scratch()
    os.environ["TMPDIR"] = scratch
    bench = None
    try:
        import numpy as np

        bench = Bench(args, host, scratch)
        probes = host_probes(np, scratch)
        t0 = time.perf_counter()
        metrics = bench.measure()
        if args.trace:
            bench.context["end_to_end"] = metrics
            metrics = bench.layer_metrics()
        wall = time.perf_counter() - t0
    finally:
        if bench is not None:
            bench.shutdown()
        shutil.rmtree(scratch, ignore_errors=True)
    result = {"correct": not bench.failures, "attempted": bench.attempted,
              "failed": len(bench.failures),
              "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}}
    probes["loadavg_end"] = list(os.getloadavg())
    artifact = {"args": vars(args), "host": host, "probes": probes, "run_wall_s": wall,
                "n_items": bench.n, "result": result, "failures": bench.failures,
                "quality": bench.quality, "samples": bench.samples, "context": bench.context}
    out_dir = os.path.join(BENCH_DIR, ".out")
    os.makedirs(out_dir, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    if args.cores:
        name += f"-c{args.cores}"
    with open(os.path.join(out_dir, name + ".json"), "w") as fh:
        json.dump(artifact, fh, indent=1, default=str)
    for msg in bench.failures:
        print(f"perfbench: FAILED {msg}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


def _unit(name: str) -> str:
    if name in END_TO_END_UNITS:
        return END_TO_END_UNITS[name]
    import tracing

    units = dict(tracing.MEASURES, edges_per_item="count", rows_read_per_result="ratio",
                 coverage_min="ratio")
    return units[name.rsplit(".", 1)[1]]


if __name__ == "__main__":
    sys.exit(main())
