"""r13-opt measurement probe (guide §1: measure first).

Replicates the bench's four dominant phases (lsh_index_build_at_scale,
energy_build_at_scale, diffuse_distributed_2step_at_scale,
lsh_ann_search_50q_at_scale) at the same corpus/params as bench.py,
with per-phase wall timers AND the completed-stage table (full names,
run/cpu/deser splits, shuffle bytes) so the cost localizes to operators
instead of phases.

Usage: python scripts/probe_r13opt_phases.py  [PROBE_N=78580]
Writes /tmp/r13opt_phases.json. Run exclusively (no concurrent Spark).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# match bench.py's BLAS policy: full-width driver pool (serial-phase
# kernels — diag gemm, Lloyd, driver diffusion), workers pinned to 1
# via spark.executorEnv below
_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
os.environ.setdefault("OMP_NUM_THREADS", _CPUS)
os.environ.setdefault("OPENBLAS_NUM_THREADS", _CPUS)

import numpy as np


def stages_full(spark) -> list[dict]:
    import urllib.request

    url = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{url}/api/v1/applications"))
    app_id = app[0]["id"]
    sts = json.load(urllib.request.urlopen(
        f"{url}/api/v1/applications/{app_id}/stages?status=complete"))
    def _ts(s):
        from datetime import datetime, timezone
        return datetime.strptime(
            s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
        ).replace(tzinfo=timezone.utc).timestamp()

    out = []
    for st in sts:
        try:
            wall = round(_ts(st["completionTime"])
                         - _ts(st["submissionTime"]), 2)
        except Exception:
            wall = None
        out.append({
            "sid": st["stageId"],
            "wall": wall,
            "name": st.get("name", ""),
            "desc": (st.get("description") or "")[:60],
            "num_tasks": st.get("numTasks", 0),
            "run_sec": round(st.get("executorRunTime", 0) / 1e3, 1),
            "deser_sec": round(
                st.get("executorDeserializeTime", 0) / 1e3, 1),
            "cpu_sec": round(st.get("executorCpuTime", 0) / 1e9, 1),
            "shuffle_read_gb": round(
                st.get("shuffleReadBytes", 0) / 2**30, 3),
            "shuffle_write_gb": round(
                st.get("shuffleWriteBytes", 0) / 2**30, 3),
            "input_gb": round(st.get("inputBytes", 0) / 2**30, 3),
        })
    return sorted(out, key=lambda s: -s["run_sec"])


def main() -> None:
    from pyarrowspace_spark.builder import ArrowSpaceBuilder
    from pyarrowspace_spark.operators.search import search_ann
    from pyarrowspace_spark.operators.simsearch import (
        auto_lsh_tables, lsh_hyperplanes, with_lsh_buckets)
    from pyarrowspace_spark.params import EnergyParams, GraphParams
    from pyarrowspace_spark.session import get_spark
    from pyarrowspace_spark.sources.synth import ensure_clustered_corpus
    import __spark_entry__ as entry_mod
    from pyspark.sql import functions as F

    n = int(os.environ.get("PROBE_N", "78580"))
    plans_tag = os.environ.get("PLANS_TAG", "")  # "before"/"after" => dump plans
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    plans_dir = os.path.join(repo, "plans", "r13")

    def dump_plan(name: str, df) -> None:
        if not plans_tag:
            return
        os.makedirs(plans_dir, exist_ok=True)
        txt = df.sparkSession._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        with open(os.path.join(plans_dir,
                               f"{name}_{plans_tag}.txt"), "w") as fh:
            fh.write(txt)
    scratch_root = os.path.join(repo, ".sparkscratch")
    from pyarrowspace_spark.session import scratch_run_dir
    scratch = scratch_run_dir(scratch_root)
    spark = get_spark("r13opt-probe", extra_conf={
        "spark.io.compression.codec": "zstd",
        "spark.local.dir": scratch,
        **{f"spark.executorEnv.{v}": "1"
           for v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS",
                     "MKL_NUM_THREADS")},
    })
    entry_mod._ship_package(spark)
    path = ensure_clustered_corpus(
        os.path.join(repo, ".benchdata"), n=n, f=384)
    big = spark.read.parquet(path).select("item_id", "features")
    params = {"eps": 0.99, "k": 25, "topk": 15, "p": 2.0}
    timers: dict[str, float] = {}

    def timed(name, fn):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        out = fn()
        timers[name] = round(time.time() - t0, 2)
        spark.sparkContext.setJobDescription(None)
        print(f"[probe] {name}: {timers[name]}s", flush=True)
        return out

    # --- phase 1: LSH index build ---
    bidx = timed("lsh_build", lambda: ArrowSpaceBuilder.build(
        big, params, strategy="lsh"))
    timed("lsh_materialize", lambda: (bidx.items.count(),
                                      bidx.edges.count()))
    dump_plan("lsh_index_build_edges", bidx.edges)
    dump_plan("lsh_index_build_items", bidx.items)

    # --- phase 2: energy build (graph reuse, as in bench) ---
    eidx = timed("energy_build", lambda: ArrowSpaceBuilder.build_energy(
        big, EnergyParams(eta=0.05, steps=4, optical_tokens=40),
        GraphParams(**params), edges=bidx.edges))
    timed("energy_materialize", lambda: (eidx.items.count(),
                                         eidx.centroids.count()))
    dump_plan("energy_build_items", eidx.items)
    dump_plan("energy_build_centroids", eidx.centroids)

    # --- phase 3: forced-distributed 2-step diffusion ---
    from pyarrowspace_spark.operators import energy as energy_mod

    ceil0 = energy_mod.DIFFUSE_BROADCAST_MAX_BYTES
    energy_mod.DIFFUSE_BROADCAST_MAX_BYTES = 0
    try:
        spark.sparkContext._jvm.System.gc()
        step_secs: list[float] = []
        ddf = timed("diffuse_2step", lambda: energy_mod.diffuse(
            big, bidx.edges, eta=0.05, steps=2,
            step_times=step_secs))
        timers["diffuse_2step_count"] = None
        t0 = time.time()
        ddf.count()
        timers["diffuse_2step_count"] = round(time.time() - t0, 2)
        # the distributed-tier single-step plan (pre-checkpoint) for
        # the plans/ deliverable: under the r13 spool plan the step is
        # one exchange-free mapInPandas over the dst-partitioned edge
        # cache; otherwise the legacy array-message step
        info = getattr(energy_mod, "_LAST_DIFFUSE_INFO", None) or {}
        if info.get("plan") == "spool":
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
            both_p = (energy_mod._symmetrize(bidx.edges)
                      .repartition(n_part, "dst")
                      .sortWithinPartitions("dst", "src"))
            spool_kernel = energy_mod._make_spool_step_kernel(
                "x.npy", 0.05, True, "item_id", "features")
            dump_plan("diffuse_distributed_step", both_p.mapInPandas(
                spool_kernel, "item_id long, features array<double>"))
        else:
            dump_plan("diffuse_distributed_step",
                      energy_mod.diffusion_step(big, bidx.edges, eta=0.05))
        timers["diffuse_step1"] = step_secs[0] if step_secs else None
        timers["diffuse_step2"] = (step_secs[1]
                                   if len(step_secs) > 1 else None)
    finally:
        energy_mod.DIFFUSE_BROADCAST_MAX_BYTES = ceil0

    # --- phase 4: ANN search 50q ---
    n_tables = auto_lsh_tables(n_planes=10, target_recall=0.95, n_items=n)
    planes = lsh_hyperplanes(384, n_tables=n_tables, n_planes=10)
    hashed = with_lsh_buckets(
        bidx.items.select("item_id", "features", "e_raw", "g"),
        planes).persist()
    timed("ann_hash", lambda: hashed.count())
    qn = 50
    qrows_big = (big.filter(F.col("item_id") < 5 * qn)
                 .orderBy("item_id").limit(qn).collect())
    qmat = np.array([r["features"] for r in qrows_big]) * 1.05
    qdf50 = spark.createDataFrame(
        [(int(i), [float(v) for v in qmat[i]]) for i in range(len(qmat))],
        schema="query_id long, features array<double>")
    timed("ann_search_50q", lambda: search_ann(
        hashed, bidx.feature_laplacian, qdf50, tau=0.62, k=15,
        planes=planes).collect())
    dump_plan("lsh_ann_search_50q", search_ann(
        hashed, bidx.feature_laplacian, qdf50, tau=0.62, k=15,
        planes=planes))

    # jobs timeline: gaps between consecutive job completions localize
    # DRIVER-side time (planning, collects assembling, spool streaming)
    import urllib.request
    from datetime import datetime, timezone

    def _ts(s):
        return datetime.strptime(
            s.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f"
        ).replace(tzinfo=timezone.utc).timestamp()

    url = spark.sparkContext.uiWebUrl
    app = json.load(urllib.request.urlopen(f"{url}/api/v1/applications"))
    jobs = json.load(urllib.request.urlopen(
        f"{url}/api/v1/applications/{app[0]['id']}/jobs?status=succeeded"))
    jrows = []
    for j in sorted(jobs, key=lambda j: j["jobId"]):
        try:
            jrows.append({
                "jid": j["jobId"],
                "t0": _ts(j["submissionTime"]),
                "t1": _ts(j["completionTime"]),
                "desc": (j.get("description") or j.get("name") or "")[:80],
            })
        except Exception:
            pass
    timeline = []
    prev_end = None
    for j in jrows:
        gap = round(j["t0"] - prev_end, 2) if prev_end is not None else 0.0
        timeline.append({"jid": j["jid"], "gap_before": gap,
                         "wall": round(j["t1"] - j["t0"], 2),
                         "desc": j["desc"]})
        prev_end = j["t1"]
    out = {"n": n, "timers": timers, "stages": stages_full(spark)[:48],
           "jobs": timeline}
    with open("/tmp/r13opt_phases.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(timers, indent=1))
    for s in out["stages"][:30]:
        print(s["sid"], s["num_tasks"], "run", s["run_sec"],
              "cpu", s["cpu_sec"], "deser", s["deser_sec"],
              "shr", s["shuffle_read_gb"], "shw", s["shuffle_write_gb"],
              "|", s["desc"][:36], "|", s["name"][:60])
    spark.stop()


if __name__ == "__main__":
    main()
