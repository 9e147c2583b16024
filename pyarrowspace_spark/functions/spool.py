"""Id-sorted N×F matrix spools on shared scratch.

The λ-gather Laplacian tier, the narrow-shuffle LSH plan, the spool
diffusion plan and the driver's matrix handoff all hand a corpus matrix
to executors the same way: it is written once as an id-sorted ``.npy``
(plus ``sids.npy``, the sorted int64 id of each row) on a filesystem
every executor can read, and each Python worker maps it read-only, so
all workers share one page-cache copy instead of unpickling their own
broadcast copy. This module decides whether executors can read the
scratch (`scratch`, the one seam tests substitute to force the
portable no-scratch plans), where a spool lives and when it is freed
(`scratch_dir`, `release`), how it is written (`write`, `alloc`) and
how a worker opens it (`open`).
"""

from __future__ import annotations

import atexit
import builtins
import contextlib
import os
import shutil
import tempfile
from typing import NamedTuple

import numpy as np

#: Row ceiling for the LSH unit-vector spool and the diffusion iterate
#: spool (N·F float32 / float64 on the shared scratch); above it those
#: operators run their portable plans.
MAX_ROWS = 4_000_000

IDS_FILE = "sids.npy"

# Rows per scatter/gather block while writing: bounds the driver's
# transient to one block instead of a second N×F copy.
_BLOCK_ROWS = 65536

# Scratch dirs still alive, removed at interpreter exit. Spools behind
# a returned lazy frame (a matrix handoff scan, the diffusion plan's
# final iterate, LSH pair spools) must outlive any point where Spark may
# re-read the plan, so session lifetime is their bound; every other
# spool is `release`d by the operator that made it, on error too.
_SCRATCH_DIRS: list[str] = []


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_cleanup_scratch)


class Scratch(NamedTuple):
    root: str
    #: True when every writer and reader shares one page cache (local
    #: or local-cluster master): tasks may then write spools through
    #: their own mmaps. Across hosts, mmap write coherence over a
    #: shared filesystem is not guaranteed, so the driver writes them.
    single_host: bool


class SpoolError(RuntimeError):
    """A spool source does not match the spool's id index."""


def _root() -> str:
    return os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or tempfile.gettempdir()


def scratch(spark) -> Scratch | None:
    """The one scratch-eligibility rule: where spools live, or None when
    executors cannot read them and the caller must run its portable
    no-scratch plan.

    On a local master the root is ``$SPARK_GRAFT_SCRATCH_DIR`` if set,
    else the temp dir. On a remote master it is
    ``$SPARK_GRAFT_SCRATCH_DIR``, and only if the visibility probe
    passes: a set variable is not proof the path is worker-visible (it
    may exist for driver-side spooling only — ADVICE r11). On a
    cluster, leaving the variable unset runs the portable plans."""
    if spark.sparkContext.master.startswith("local"):
        return Scratch(_root(), True)
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env and _probe_worker_visible(spark, env):
        return Scratch(env, False)
    return None


# Spool permissions (ADVICE r12: 0o755/0o644 made the spooled corpus
# matrix world-readable on a shared scratch filesystem). Default is
# group-readable only; genuinely cross-user deployments where executors
# run under a different primary group opt into other-read explicitly.
def _spool_modes() -> tuple[int, int]:
    if os.environ.get("SPARK_GRAFT_SCRATCH_WORLD_READABLE", "0") == "1":
        return 0o755, 0o644
    return 0o750, 0o640


def _probe_worker_visible(spark, scratch_dir: str) -> bool:
    """True iff executors can read files the driver writes under
    `scratch_dir` — a tiny marker file verified by Spark tasks. The
    probe runs one task per defaultParallelism slot and requires ALL to
    see the marker (ADVICE r12: a single task can land on the one
    executor that mounts the path). Best-effort, not a guarantee: task
    placement is the scheduler's, so a heterogeneous cluster can still
    pass the probe and fail mid-stage — leave
    ``$SPARK_GRAFT_SCRATCH_DIR`` unset there. Any probe failure
    (unwritable dir, job error, any False) means 'not visible' — the
    portable plans are always legal."""
    import uuid

    _, fmode = _spool_modes()
    token = uuid.uuid4().hex
    try:
        fd, marker = tempfile.mkstemp(prefix="pyarrowspace-visprobe-",
                                      suffix=".txt", dir=scratch_dir)
        with os.fdopen(fd, "w") as fh:
            fh.write(token)
        os.chmod(marker, fmode)
    except OSError:
        return False
    try:
        def _check(it):
            try:
                with builtins.open(marker) as fh:
                    ok = fh.read() == token
            except OSError:
                ok = False
            for _ in it:
                pass
            yield ok

        sc = spark.sparkContext
        n_slots = max(2, int(sc.defaultParallelism))
        got = sc.parallelize(range(n_slots), n_slots).mapPartitions(
            _check).collect()
        return bool(got) and all(got)
    except Exception:
        return False
    finally:
        discard(marker)


def spill_dir(spark) -> str:
    """Filesystem a disk budget must watch: where shuffle/spill actually
    lands — ``$SPARK_GRAFT_SCRATCH_DIR``, else the session's
    spark.local.dir (first entry), else the tempdir."""
    p = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if not p:
        try:
            p = spark.conf.get("spark.local.dir")
        except Exception:
            p = None
        p = (p or os.environ.get("SPARK_LOCAL_DIRS")
             or tempfile.gettempdir()).split(",")[0].strip()
    return p if os.path.isdir(p) else "/"


def scratch_dir(prefix: str) -> str:
    """A new spool dir under the scratch root, readable by executors
    that run as another user of the same group (mkdtemp's 0700 is
    not — ADVICE r11), registered for removal at exit."""
    d = tempfile.mkdtemp(prefix=prefix, dir=_root())
    _SCRATCH_DIRS.append(d)
    os.chmod(d, _spool_modes()[0])
    return d


def release(d: str) -> None:
    """Delete a spool dir now instead of at interpreter exit."""
    shutil.rmtree(d, ignore_errors=True)
    if d in _SCRATCH_DIRS:
        _SCRATCH_DIRS.remove(d)


def save(path: str, arr: np.ndarray) -> None:
    """`np.save` with the spool file mode (an id index, a position list)."""
    np.save(path, arr)
    os.chmod(path, _spool_modes()[1])


def alloc(path: str, n: int, fdim: int, dtype=np.float64) -> None:
    """Pre-allocate an n×fdim spool for tasks to scatter rows into
    (single-host masters only, see `Scratch.single_host`)."""
    sp = np.lib.format.open_memmap(path, mode="w+", dtype=dtype,
                                   shape=(n, fdim))
    del sp
    os.chmod(path, _spool_modes()[1])


def write(path: str, src, fdim: int, dtype=np.float64, transform=None,
          ids: np.ndarray | None = None,
          rows: int | None = None) -> np.ndarray:
    """Write an N×F spool at `path` whose row i holds the vector of the
    i-th smallest id; returns that sorted id index.

    `src` is a parquet source ``{"files", "id_col", "feat_col"}``
    (`lambda_index.parquet_scan_source`), streamed one record batch at
    a time instead of a Spark collect's full N×F matrix, or a driver
    matrix ``(ids, X)``. `transform` must be row-wise, so blocking
    cannot change a bit. `ids`: the sorted id index rows land on
    (default: the source's ids); `rows`: the rows the source must hold
    (default: all of `ids`). Raises SpoolError, leaving no file, on
    wrong row count, ragged vectors, duplicate or unknown ids — a
    silent scatter would corrupt rows."""
    import pyarrow as pa

    try:
        if isinstance(src, dict):
            blocks = _parquet_blocks(src, fdim)
            src_ids = _parquet_ids(src) if ids is None else None
        else:
            src_ids, X = np.asarray(src[0], dtype=np.int64), src[1]
            if X.shape != (len(src_ids), fdim):
                raise SpoolError(f"matrix of shape {X.shape} for "
                                 f"{len(src_ids)} ids of {fdim} features")
            perm = np.argsort(src_ids, kind="stable")
            blocks = ((src_ids[p], X[p]) for p in (
                perm[t:t + _BLOCK_ROWS]
                for t in range(0, len(perm), _BLOCK_ROWS)))
        if ids is None:
            ids = np.sort(src_ids)
            if ids.size > 1 and np.any(ids[1:] == ids[:-1]):
                raise SpoolError("duplicate ids in spool source")
        want = len(ids) if rows is None else rows
        out = np.lib.format.open_memmap(path, mode="w+", dtype=dtype,
                                        shape=(len(ids), fdim))
        seen = np.zeros(len(ids), dtype=bool)
        total = 0
        for bids, vals in blocks:
            pos = np.searchsorted(ids, bids)
            if len(bids) and (pos.max() >= len(ids)
                              or not np.array_equal(ids[pos], bids)):
                raise SpoolError("spool source holds ids absent from the "
                                 "spool id index")
            out[pos] = vals if transform is None else transform(vals)
            seen[pos] = True
            total += len(bids)
        if int(seen.sum()) != total:
            raise SpoolError("duplicate ids in spool source")
        if total != want:
            raise SpoolError(f"spool source holds {total} rows, "
                             f"expected {want}")
        out.flush()
        del out
        os.chmod(path, _spool_modes()[1])
        return ids
    except pa.ArrowException as e:
        discard(path)
        raise SpoolError(f"unreadable spool source: {e}") from e
    except BaseException:
        discard(path)
        raise


def discard(path: str) -> None:
    """Remove one spool file, if it exists."""
    with contextlib.suppress(OSError):
        os.remove(path)


def write_first(path: str, sources, fdim: int, dtype=np.float64,
                transform=None, rows: int | None = None):
    """Write the spool from the first of `sources` that matches.
    `sources` are (label, thunk) pairs; a thunk returns a `write`
    source, so an expensive one (a Spark collect) runs only when every
    source before it failed. Returns (sorted ids, label), or None when
    every source raised SpoolError."""
    for label, get in sources:
        try:
            return write(path, get(), fdim, dtype, transform,
                         rows=rows), label
        except SpoolError:
            continue
    return None


def _parquet_ids(src: dict) -> np.ndarray:
    import pyarrow.parquet as pq

    idc = src["id_col"]
    return np.concatenate([
        pq.read_table(f, columns=[idc])[idc].to_numpy(zero_copy_only=False)
        for f in src["files"]]).astype(np.int64, copy=False)


def _parquet_blocks(src: dict, fdim: int):
    import pyarrow.parquet as pq

    idc, fc = src["id_col"], src["feat_col"]
    for f in src["files"]:
        for batch in pq.ParquetFile(f).iter_batches(batch_size=16384,
                                                    columns=[idc, fc]):
            bids = (batch.column(batch.schema.get_field_index(idc))
                    .to_numpy(zero_copy_only=False)
                    .astype(np.int64, copy=False))
            vals = (batch.column(batch.schema.get_field_index(fc))
                    .flatten().to_numpy(zero_copy_only=False))
            if vals.size != len(bids) * fdim:
                raise SpoolError("ragged vectors in spool source")
            yield bids, vals.reshape(len(bids), fdim)


_OPEN: dict = {}


def open(path: str):
    """Worker side: (read-only mmap of the spool at `path`, its sorted
    id index). Cached per process with ONE entry: a kernel runs once
    per partition or bucket group — thousands of times per build — and
    re-reading the id index per call would re-page N·8 B each time; a
    new spool path evicts the old one."""
    key = (path, os.getpid())
    ent = _OPEN.get(key)
    if ent is None:
        ent = (np.load(path, mmap_mode="r"),
               np.load(os.path.join(os.path.dirname(path), IDS_FILE)))
        _OPEN.clear()
        _OPEN[key] = ent
    return ent
