"""Per-layer tracing for the benchmark, done entirely from outside the
engine.

`Tracer.install()` swaps each layer's public module function for a
wrapper that opens a span around the call; the harness opens the other
spans itself around the actions it runs (``materialize``, ``collect``).
Every span tags the Spark jobs launched while it is the innermost open
span with its own job group, so at the end the per-stage task time,
shuffle-write bytes and spill bytes read from Spark's REST API can be
charged to exactly one span. Lazy work lands on the span whose action
ran it. Nothing under ``pyarrowspace_spark/`` is edited: the wrappers
live only for the lifetime of one traced pass and `uninstall()` puts the
original functions back.
"""

from __future__ import annotations

import importlib
import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

# (module, attribute path, span name). The harness calls these through
# the module attribute and the engine looks them up the same way at call
# time (``knn_ops.knn_edges``, ``from .simsearch import lloyd_kmeans``
# inside build_energy, module globals inside energy.py), so replacing
# the attribute reaches every call site.
WRAPPED = (
    ("pyarrowspace_spark.builder", "ArrowSpaceBuilder.build", "builder.build"),
    ("pyarrowspace_spark.operators.knn", "knn_edges", "knn.knn_edges"),
    ("pyarrowspace_spark.operators.lambda_index", "feature_laplacian",
     "lambda_index.feature_laplacian"),
    ("pyarrowspace_spark.operators.energy", "build_energy",
     "energy.build_energy"),
    ("pyarrowspace_spark.operators.energy", "trim_edges", "energy.trim_edges"),
    ("pyarrowspace_spark.operators.energy", "diffuse", "energy.diffuse"),
    ("pyarrowspace_spark.operators.simsearch", "lloyd_kmeans",
     "simsearch.lloyd_kmeans"),
    ("pyarrowspace_spark.operators.simsearch", "ivf_assign",
     "simsearch.ivf_assign"),
    ("pyarrowspace_spark.operators.search", "search_ann",
     "search.search_ann.call"),
    ("pyarrowspace_spark.operators.search", "search", "search.search.call"),
)

# Reported layers: (metric prefix, span name, use self time). A `.self`
# layer is its span minus the wrapped layers nested inside it.
LAYERS = (
    ("knn.knn_edges", "knn.knn_edges", False),
    ("lambda_index.feature_laplacian", "lambda_index.feature_laplacian", False),
    ("builder.build.self", "builder.build", True),
    ("builder.materialize", "builder.materialize", False),
    ("energy.trim_edges", "energy.trim_edges", False),
    ("energy.diffuse", "energy.diffuse", False),
    ("simsearch.lloyd_kmeans", "simsearch.lloyd_kmeans", False),
    ("simsearch.ivf_assign", "simsearch.ivf_assign", False),
    ("energy.build_energy.self", "energy.build_energy", True),
    ("energy.materialize", "energy.materialize", False),
    ("simsearch.with_lsh_buckets", "simsearch.with_lsh_buckets", False),
    ("search.search_ann.call", "search.search_ann.call", False),
    ("search.search_ann.collect", "search.search_ann.collect", False),
    ("search.search.call", "search.search.call", False),
    ("search.search.collect", "search.search.collect", False),
)

MEASURES = (("wall_s", "s"), ("task_s", "s"), ("parallelism", "ratio"),
            ("shuffle_write_mb", "MB"), ("spill_mb", "MB"))


@dataclass
class Span:
    name: str
    group: str
    parent: "Span | None"
    kind: str
    t0: float = 0.0
    t1: float = 0.0
    child_wall: float = 0.0
    stages: list = field(default_factory=list)
    plan_nodes: set = field(default_factory=set)

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Span recorder for one traced pass over one SparkContext."""

    def __init__(self, sc, tag: str):
        self.sc = sc
        self.tag = tag
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._saved: list[tuple] = []
        self.absent: list[str] = []

    @contextmanager
    def span(self, name: str, kind: str = "layer"):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, f"{self.tag}-{len(self.spans)}", parent, kind)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name, False)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                parent.child_wall += sp.wall
                self.sc.setJobGroup(parent.group, parent.name, False)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def install(self) -> None:
        for mod_name, attr, span_name in WRAPPED:
            owner = importlib.import_module(mod_name)
            *path, leaf = attr.split(".")
            for part in path:
                owner = getattr(owner, part, None)
            original = getattr(owner, leaf, None) if owner else None
            if original is None:
                self.absent.append(span_name)
                continue
            raw = owner.__dict__.get(leaf, original)
            self._saved.append((owner, leaf, raw))
            wrapper = self._wrap(original, span_name)
            setattr(owner, leaf,
                    staticmethod(wrapper) if isinstance(raw, staticmethod)
                    else wrapper)

    def uninstall(self) -> None:
        while self._saved:
            owner, leaf, raw = self._saved.pop()
            setattr(owner, leaf, raw)

    def _wrap(self, fn, span_name: str):
        def traced(*args, **kwargs):
            with self.span(span_name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    # ---- stage metrics -------------------------------------------------

    def collect_stages(self, settle_s: float = 15.0) -> None:
        """Attach each span's completed stages and the physical-plan
        node names of its SQL executions, read from the REST API once
        the status store has caught up with the last job."""
        base = _rest_base(self.sc)
        jobs = stages = None
        deadline = time.time() + settle_s
        while time.time() < deadline:
            jobs = _get_json(f"{base}/jobs")
            stages = _get_json(f"{base}/stages")
            if not (any(j.get("status") == "RUNNING" for j in jobs)
                    or any(s.get("status") == "ACTIVE" for s in stages)):
                break
            time.sleep(0.3)
        by_stage: dict[int, list[dict]] = {}
        for st in stages or []:
            by_stage.setdefault(int(st["stageId"]), []).append(st)
        by_group: dict[str, list[dict]] = {}
        job_group: dict[int, str] = {}
        for job in jobs or []:
            grp = job.get("jobGroup")
            if grp is None:
                continue
            job_group[int(job["jobId"])] = grp
            for sid in job.get("stageIds", []):
                by_group.setdefault(grp, []).extend(by_stage.pop(sid, []))
        nodes: dict[str, set] = {}
        for ex in _get_json(f"{base}/sql?details=true&planDescription=false&offset=0&length=1000000"):
            for jid in ex.get("successJobIds", []) + ex.get("failedJobIds", []):
                if jid in job_group:
                    nodes.setdefault(job_group[jid], set()).update(
                        n.get("nodeName", "") for n in ex.get("nodes", []))
        for sp in self.spans:
            sp.stages = by_group.get(sp.group, [])
            sp.plan_nodes = nodes.get(sp.group, set())

    # ---- aggregation ---------------------------------------------------

    def layer_totals(self) -> dict[str, dict]:
        """Per span name: summed wall, self wall, task seconds, shuffle
        write, spill and records read over every call of that name."""
        out: dict[str, dict] = {}
        for sp in self.spans:
            agg = out.setdefault(sp.name, {
                "calls": 0, "wall_s": 0.0, "self_wall_s": 0.0, "task_s": 0.0,
                "shuffle_write_mb": 0.0, "spill_mb": 0.0, "records_read": 0,
                "stages": 0, "join_calls": 0})
            agg["calls"] += 1
            agg["join_calls"] += any(n.endswith("Join") for n in sp.plan_nodes)
            agg["wall_s"] += sp.wall
            agg["self_wall_s"] += sp.wall - sp.child_wall
            for st in sp.stages:
                agg["stages"] += 1
                agg["task_s"] += st.get("executorRunTime", 0) / 1e3
                agg["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
                agg["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
                agg["records_read"] += (st.get("inputRecords", 0)
                                        + st.get("shuffleReadRecords", 0))
        return out

    def phase_coverage(self) -> dict[str, float]:
        """Share of each phase's wall time covered by layer spans."""
        cover: dict[str, list[float]] = {}
        for sp in self.spans:
            if sp.kind == "phase" and sp.wall > 0:
                acc = cover.setdefault(sp.name, [0.0, 0.0])
                acc[0] += sp.child_wall
                acc[1] += sp.wall
        return {k: c / w for k, (c, w) in cover.items()}


def layer_metrics(totals: dict[str, dict]) -> dict[str, float]:
    """Flatten span totals into ``<layer>.<measure>`` values; a layer
    that never ran (or whose wrapper target is missing) reads 0."""
    out: dict[str, float] = {}
    for prefix, span_name, use_self in LAYERS:
        t = totals.get(span_name)
        wall = (t["self_wall_s"] if use_self else t["wall_s"]) if t else 0.0
        task = t["task_s"] if t else 0.0
        out[f"{prefix}.wall_s"] = wall
        out[f"{prefix}.task_s"] = task
        out[f"{prefix}.parallelism"] = task / wall if wall > 1e-3 else 0.0
        out[f"{prefix}.shuffle_write_mb"] = t["shuffle_write_mb"] if t else 0.0
        out[f"{prefix}.spill_mb"] = t["spill_mb"] if t else 0.0
    return out


def _rest_base(sc) -> str:
    # The UI binds every interface; address it on loopback rather than
    # through the host name it advertises.
    port = sc.uiWebUrl.rsplit(":", 1)[1]
    return f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"


def _get_json(url: str):
    with urllib.request.urlopen(url, timeout=10) as resp:
        return json.load(resp)
