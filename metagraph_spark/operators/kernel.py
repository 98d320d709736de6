"""CSR/Arrow superstep kernel — the vectorized physical strategy.

- ``build_edge_blocks``: one-time layout. Node ids → dense positions
  (sorted-id order); edges → P blocks CONTIGUOUS IN dst (range-partitioned
  by destination), each block's ``srcs``/``dsts`` positional int arrays
  sorted by local dst. Each block is a raw ``.npy`` pair under
  ``spill_dir`` that tasks mmap, and the sorted ids and degrees are files
  too; there is no in-memory block format.
- ``pagerank_kernel`` runs one of two superstep loops over the blocks,
  both with the same per-block update (``np.bincount(dsts,
  weights=contrib[srcs])`` into the block's dst slice):

  * the driver loop — the whole loop in numpy on the driver over
    once-collected block arrays, no Spark job per superstep; taken when
    the layout fits ``routing.fits_driver``;
  * the slice-store loop (``_distributed_superstep_loop``) — for
    file-backed blocks above the driver caps or with a ``slice_store``:
    each task reads the previous rank vector from the slice store, writes
    its new dst slice and returns two scalars, so the rank vector never
    crosses the driver. ONE Spark job, ZERO shuffles per superstep.

  A Graph within the driver caps builds no blocks: the driver loop runs
  over one dst-sorted block derived per call from the handle's kept
  collect of the stored edge rows, :meth:`Graph.driver_layout`
  (``driver_block_arrays``). A Graph
  above the caps is laid out file-backed (under ``spill_dir``, or a temp
  dir removed after the call). Which operator call reaches which loop is
  decided by ``operators/routing.py``. This mirrors the reference's
  physical split: scipy CSR kernels for in-memory speed
  (``plugins/scipy/types.py:191-225``), chunked loaders for
  bigger-than-memory (``core/dask/loader.py:15-74``).

Semantics are EXACTLY operators/pagerank.py (networkx dangling handling,
N-scaled L1 convergence, ConvergenceError) — asserted by shared golden
tests.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metagraph_spark.exceptions import ConvergenceError
from metagraph_spark.graph import DST, ID, SRC, WEIGHT, Graph, driver_frame
from metagraph_spark.operators import routing

# per-worker cache of the static inv-degree vector, keyed by run_dir
_VEC_CACHE: dict = {}


def _open_block(path: str):
    """(srcs, dsts) positional arrays for one file-backed block, opened
    with mmap: the OS page cache holds ONE copy of each block for the
    whole host, shared by all python workers (metagraph's shared-memory
    chunk registry, ``core/dask/loader.py:153-240``, with the page cache in
    place of a scheduler plugin)."""
    return (
        np.load(path + ".srcs.npy", mmap_mode="r"),
        np.load(path + ".dsts.npy", mmap_mode="r"),
    )


def _open_block_weights(path: str):
    """Per-edge weight array for one block (``with_weights=True`` layouts)."""
    return np.load(path + ".ws.npy", mmap_mode="r")


def _graph_block(graph: Graph, reverse: bool = False):
    """``(ids, [(0, srcs, dsts, ws|None)])``, the one-block driver view of
    a Graph for pagerank, katz, eigenvector and HITS: the edges of
    ``graph.symmetrized()`` (:meth:`DriverLayout.symmetrized`) as positions
    from :meth:`Graph.driver_layout`, each edge turned around when
    ``reverse`` (HITS's hub gather), stably sorted by dst so each dst's
    contributions sum in row order, as in a packed block. ``None`` above
    the driver caps."""
    m = routing.layout_edges("pagerank", graph)
    if not routing.fits_driver(m):
        return None
    lay = graph.driver_layout()
    if lay is None or not routing.fits_driver(m, lay.n):
        return None
    s, d, w = lay.symmetrized(graph.is_directed)
    if reverse:
        s, d = d, s
    order = np.argsort(d, kind="stable")
    return lay.ids, [(0, s[order], d[order], None if w is None else w[order])]


def driver_block_arrays(eb):
    """The driver loop's inputs ``(ids, [(dst_lo, srcs, dsts, ws|None)])``,
    blocks sorted by ``dst_lo``, or ``None`` when the layout does not fit
    ``routing.fits_driver`` (checked from the .npy headers before any
    bulk load) or its block files are gone. A Graph gives one block,
    :func:`_graph_block`, with ``ws`` its weights (``None`` when
    unweighted)."""
    if isinstance(eb, Graph):
        return _graph_block(eb)
    if not routing.fits_driver(0, eb.n):
        return None
    rows = sorted(
        (int(r["dst_lo"]), r["path"]) for r in eb.manifest.collect()
    )
    total = 0
    for _, path in rows:
        try:
            total += np.load(path + ".dsts.npy", mmap_mode="r").shape[0]
        except FileNotFoundError:
            return None
        if not routing.fits_driver(total):
            return None
    out = []
    for lo, path in rows:
        srcs, dsts = _open_block(path)
        ws = np.asarray(_open_block_weights(path)) if eb.has_weights else None
        out.append(
            (lo, np.asarray(srcs, dtype=np.int64),
             np.asarray(dsts, dtype=np.int64), ws)
        )
    return eb.node_ids, out


def _driver_blocks(eb, slice_store=None, resume: bool = False):
    """:func:`driver_block_arrays` for the driver loop, or ``None`` when
    the call takes the slice-store (or broadcast) loop: blocks above the
    driver caps, or any call with a ``slice_store``/``resume`` contract."""
    if resume and slice_store is None:
        raise ValueError(
            "resume=True requires an injected slice_store (the default "
            "store lives under a fresh uuid dir per call and can never "
            "hold a prior run's vectors)"
        )
    if slice_store is not None:
        return None
    return driver_block_arrays(eb)


def with_blocks(graph_or_blocks, build, run, spill_dir=None):
    """``run(eb)`` over prebuilt EdgeBlocks, or over the blocks
    ``build(graph, spill_dir)`` lays out for a Graph under ``spill_dir`` —
    a temp dir removed after the call when none is given. Blocks built
    here are unpersisted after ``run``; results are materialized before
    that (driver DataFrames, or ``truncate_lineage`` in the slice-store
    loops)."""
    import shutil
    import tempfile

    if isinstance(graph_or_blocks, EdgeBlocks):
        return run(graph_or_blocks)
    tmp = None
    if spill_dir is None:
        tmp = spill_dir = tempfile.mkdtemp(prefix="mgspark_blocks_")
    try:
        eb = build(graph_or_blocks, spill_dir)
        try:
            return run(eb)
        finally:
            eb.unpersist()
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)


class EdgeBlocks:
    """Dense-positional edge blocks + node metadata for kernel supersteps.

    The blocks live in per-block .npy files under ``spill_dir``; supersteps
    run over a tiny manifest DataFrame and each python worker mmaps its
    blocks (no per-superstep JVM→Python Arrow streaming of edges). The
    sorted-id and degree vectors are FILES too (written slice-wise by
    tasks, never collected): driver-resident state is O(num_blocks) —
    ``node_ids``/``out_deg`` are lazy read-only mmaps opened only if a
    caller actually touches them."""

    def __init__(self, manifest: DataFrame, spill_dir: str, n: int,
                 n_dangling: int | None = None, has_weights: bool = False):
        self._node_ids = None         # sorted original ids, position = index
        self._out_deg = None          # out-degree per position
        self.n = n
        self.manifest = manifest      # (path, dst_lo) rows, one per block
        self.spill_dir = spill_dir
        self.n_dangling = n_dangling  # zero-out-degree count
        self.has_weights = has_weights  # blocks carry a per-edge ws array

    @property
    def spark(self):
        return self.manifest.sparkSession

    @property
    def node_ids(self) -> np.ndarray:
        if self._node_ids is None:
            import os

            self._node_ids = np.load(
                os.path.join(self.spill_dir, "node_ids.npy"), mmap_mode="r"
            )
        return self._node_ids

    @property
    def out_deg(self) -> np.ndarray:
        if self._out_deg is None:
            import os

            deg_path = os.path.join(self.spill_dir, "out_deg.npy")
            # degree-free layouts (cc_blocks/label_blocks) raise an
            # actionable message, not a bare FileNotFoundError on the .npy
            if not os.path.exists(deg_path):
                raise RuntimeError(
                    "EdgeBlocks built with_degrees=False carry no degree "
                    "vector (degree-free kernels: katz/cc/lpa); rebuild "
                    "with with_degrees=True for pagerank"
                )
            self._out_deg = np.load(deg_path, mmap_mode="r")
        return self._out_deg

    def unpersist(self) -> None:
        self.manifest.unpersist()


_SHARED_FS_PROBED: dict = {}


def shared_fs_available(spark, probe_dir: str) -> bool:
    """True when executors and the driver see the same filesystem at
    ``probe_dir`` — the contract the file-backed kernels and
    :class:`LocalSliceStore` rely on (local mode, NFS/Lustre).

    ``local[*]`` masters short-circuit to True. Otherwise the DRIVER
    writes a token file under ``probe_dir`` and ONE executor task reports
    whether it can read it — an up-front, cheap validation instead of a
    mid-run mmap failure (or worse, a silent read of a stale same-named
    worker-local file). Driver-writes/executor-reads means the token is
    always the driver's own file to clean up: a failed probe leaks
    nothing on the workers (ADVICE r5). The verdict is cached per
    (application, probe_dir) — ``applicationId`` is stable for the
    session's lifetime, where ``id(spark)`` could collide after GC."""
    import os
    import uuid

    master = spark.sparkContext.master or ""
    if master.startswith("local"):
        return True
    key = (spark.sparkContext.applicationId, probe_dir)
    cached = _SHARED_FS_PROBED.get(key)
    if cached is not None:
        return cached
    token = os.path.join(probe_dir, f"_fsprobe_{uuid.uuid4().hex}")

    def read_token(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for _ in batches:
            pass
        yield pd.DataFrame({"ok": [1 if os.path.exists(token) else 0]})

    try:
        os.makedirs(probe_dir, exist_ok=True)
        with open(token, "w") as f:
            f.write("ok")
        rows = spark.range(1).repartition(1).mapInPandas(
            read_token, schema="ok int"
        ).collect()
        ok = bool(rows and rows[0]["ok"] == 1)
    except Exception:  # probe failure == not shared
        ok = False
    finally:
        try:
            os.unlink(token)
        except OSError:
            pass
    _SHARED_FS_PROBED[key] = ok
    return ok


def _blk_lo(k: int, n: int, nb: int) -> int:
    """First position of dst/src range ``k``: positions are assigned to
    blocks by ``pos * nb // n``, whose exact inverse range is
    ``[ceil(k*n/nb), ceil((k+1)*n/nb))`` — a floor here silently
    misaligns ranges whenever ``nb`` does not divide ``n`` and the
    distributed loop's width-truncated bincount would DROP the mass of
    positions past its floor-derived range end."""
    return -(-k * n // nb)


def _write_sorted_ids(spark, node_df: DataFrame, path: str, n: int) -> None:
    """Distributed sorted-id file: global range sort, per-partition counts
    (one O(P) driver collect), then every task writes its contiguous slice
    of the single memmap file — the V-row id array never crosses the
    driver."""
    sorted_df = (
        node_df.select(ID)
        .orderBy(ID)
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    counts = {
        int(r["_pid"]): int(r["c"])
        for r in sorted_df.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets = {}
    acc = 0
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    if acc != n:
        raise RuntimeError(f"sorted-id layout lost rows: {acc} != {n}")
    np.lib.format.open_memmap(path, mode="w+", dtype=np.int64, shape=(n,)).flush()
    bc_off = spark.sparkContext.broadcast(offsets)

    def write(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cursor, m = None, None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cursor is None:
                cursor = bc_off.value[int(pdf["_pid"].iloc[0])]
                m = np.load(path, mmap_mode="r+")
            arr = pdf[ID].to_numpy(dtype=np.int64)
            m[cursor : cursor + len(arr)] = arr
            cursor += len(arr)
        if m is not None:
            m.flush()
        yield pd.DataFrame({"written": [0]})

    sorted_df.mapInPandas(write, schema="written int").count()
    sorted_df.unpersist()
    bc_off.unpersist()


def _write_degree_files(
    pos: DataFrame, spill_dir: str, n: int, nb: int
) -> int:
    """out_deg.npy + inv_deg.npy written slice-wise by src-range tasks into
    pre-zeroed memmap files (ranges with no edges stay zero). Returns the
    dangling-vertex count — the only degree statistic the superstep loop
    needs on the driver."""
    import os

    outp = os.path.join(spill_dir, "out_deg.npy")
    invp = os.path.join(spill_dir, "inv_deg.npy")
    for p in (outp, invp):
        np.lib.format.open_memmap(
            p, mode="w+", dtype=np.float64, shape=(n,)
        ).flush()

    def write_slice(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(key[0])
        lo, hi = _blk_lo(blk, n, nb), _blk_lo(blk + 1, n, nb)
        width = hi - lo
        cnt = np.bincount(
            pdf["src_pos"].to_numpy().astype(np.int64) - lo, minlength=width
        )[:width].astype(np.float64)
        m = np.load(outp, mmap_mode="r+")
        m[lo:hi] = cnt
        m.flush()
        inv = np.where(cnt == 0.0, 0.0, 1.0 / np.maximum(cnt, 1.0))
        mi = np.load(invp, mmap_mode="r+")
        mi[lo:hi] = inv
        mi.flush()
        return pd.DataFrame({"blk": [blk], "zeros": [int((cnt == 0.0).sum())]})

    rows = (
        pos.groupBy("src_blk")
        .applyInPandas(write_slice, schema="blk int, zeros long")
        .collect()
    )  # O(num_blocks)
    present = {int(r["blk"]) for r in rows}
    zeros = sum(int(r["zeros"]) for r in rows)
    for blk in range(nb):
        if blk not in present:
            zeros += _blk_lo(blk + 1, n, nb) - _blk_lo(blk, n, nb)
    return zeros


def build_edge_blocks(
    graph: Graph,
    num_blocks: int | None = None,
    spill_dir: str | None = None,
    edges: DataFrame | None = None,
    with_weights: bool = False,
    with_degrees: bool = True,
) -> EdgeBlocks:
    """One-time layout step (a few shuffles total, then cached).

    EVERYTHING becomes files under ``spill_dir``, which must be on a
    filesystem shared with the executors — each edge block a mmap-able
    ``.npy`` pair, the sorted-id and degree/inverse-degree vectors single
    memmap files written slice-wise by tasks. NOTHING O(V) is collected to
    or held on the driver (VERDICT r3 #5): the positional searchsorted runs
    against the mmap'd id file in each task, and driver-resident state is
    the O(num_blocks) manifest plus scalars. A call without ``spill_dir``
    raises: a Graph within the driver caps needs no blocks (the kernels
    read :meth:`Graph.driver_layout`), and the kernels lay a Graph above
    them out under a temp dir themselves.

    ``edges`` overrides the edge set (must already carry the directions the
    algorithm gathers over — e.g. LPA's canonical-symmetrized set); node
    positions still come from ``graph.node_ids()``.
    ``with_weights=True`` additionally packs a per-edge ``ws`` double array
    per block (absent weight column → 1.0), enabling the weighted kernels
    (katz). Block edge arrays are sorted by local dst so segmented kernels
    (min/mode via ``reduceat``) run without a per-round sort and the
    bincount gather writes sequentially. ``with_degrees=False`` skips the
    out-degree/inverse-degree computation entirely — the degree-free
    kernels (katz/cc/lpa) save a full second pass over the |E|-row
    position table; such blocks cannot feed ``pagerank_kernel``."""
    import os

    if spill_dir is None:
        raise ValueError(
            "EdgeBlocks are file-backed: pass a spill_dir on a filesystem "
            "shared with the executors, or pass the Graph to the kernel, "
            "which reads its driver layout or lays the blocks out under a "
            "temp dir"
        )
    spark = graph.edges.sparkSession
    if num_blocks is None:
        num_blocks = int(spark.conf.get("spark.sql.shuffle.partitions"))
    nb = int(num_blocks)
    if edges is None:
        edges = graph.symmetrized()
    if with_weights:
        if WEIGHT not in edges.columns:
            edges = edges.withColumn(WEIGHT, F.lit(1.0))
        edges = edges.select(
            SRC, DST, F.col(WEIGHT).cast("double").alias(WEIGHT)
        )
    else:
        edges = edges.select(SRC, DST)

    os.makedirs(spill_dir, exist_ok=True)
    if not shared_fs_available(spark, spill_dir):
        # fail FAST at layout time: every later phase (task-side block
        # mmaps, slice-store vectors) assumes this path is one shared
        # filesystem; without it the run would die mid-loop or read
        # stale same-named worker-local files
        raise RuntimeError(
            f"spill_dir {spill_dir!r} is not on a filesystem shared "
            "between the driver and executors (probe token not "
            "visible); file-backed layouts require a shared FS "
            "(local mode, NFS/Lustre) — use strategy='join'"
        )
    n = graph.num_nodes()
    # more blocks than vertices would produce empty/duplicate ranges
    nb = max(1, min(nb, n))
    ids_path = os.path.join(spill_dir, "node_ids.npy")
    _write_sorted_ids(spark, graph.node_ids(), ids_path, n)

    def to_positions(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.load(ids_path, mmap_mode="r")
        for pdf in batches:
            sp = np.searchsorted(ids, pdf[SRC].to_numpy()).astype(np.int64)
            dp = np.searchsorted(ids, pdf[DST].to_numpy()).astype(np.int64)
            out = {
                "block": (dp * nb // n).astype(np.int32),
                "src_blk": (sp * nb // n).astype(np.int32),
                "src_pos": sp.astype(np.int32),
                "dst_pos": dp.astype(np.int32),
            }
            if with_weights:
                out["w"] = pdf[WEIGHT].to_numpy(dtype=np.float64)
            yield pd.DataFrame(out)

    pos_schema = "block int, src_blk int, src_pos int, dst_pos int"
    if with_weights:
        pos_schema += ", w double"
    pos = edges.mapInPandas(to_positions, schema=pos_schema)
    if with_degrees:
        # two consumers (block pack + degree files): persist, or the
        # |E|-row symmetrize+searchsorted+shuffle runs TWICE (measured
        # as the dominant layout cost at 100M edges)
        pos = pos.persist()

    def pack_to_file(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        blk = int(key[0])
        lo = _blk_lo(blk, n, nb)
        # raw uncompressed .npy pair: tasks mmap these, so the page cache
        # keeps one host-wide copy instead of one per python worker
        path = os.path.join(spill_dir, f"block_{blk:05d}")
        dsts_local = (pdf["dst_pos"].to_numpy() - lo).astype(np.int32)
        order = np.argsort(dsts_local, kind="stable")
        np.save(path + ".srcs.npy", pdf["src_pos"].to_numpy()[order])
        np.save(path + ".dsts.npy", dsts_local[order])
        if with_weights:
            np.save(
                path + ".ws.npy",
                pdf["w"].to_numpy(dtype=np.float64)[order],
            )
        return pd.DataFrame({"path": [path], "dst_lo": [lo]})

    manifest = (
        pos.groupBy("block")
        .applyInPandas(pack_to_file, schema="path string, dst_lo long")
        .persist()
    )
    # dst ranges with no incoming edges produce no group: materialize
    # an EMPTY block for each so coverage is always full — the
    # distributed loop must still WRITE those slices every superstep
    # (teleport + dangling mass), and refuses a partial manifest
    present = {int(r["dst_lo"]) for r in manifest.collect()}  # O(nb)
    missing = [
        k for k in range(nb) if _blk_lo(k, n, nb) not in present
    ]
    if missing:
        empty = np.array([], dtype=np.int32)
        extra = []
        for k in missing:
            path = os.path.join(spill_dir, f"block_{k:05d}")
            np.save(path + ".srcs.npy", empty)
            np.save(path + ".dsts.npy", empty)
            if with_weights:
                np.save(path + ".ws.npy", np.array([], dtype=np.float64))
            extra.append((path, _blk_lo(k, n, nb)))
        full = manifest.unionAll(
            spark.createDataFrame(extra, "path string, dst_lo long")
        )
        manifest.unpersist()
        manifest = full.repartition(nb).persist()
        manifest.count()
    if with_degrees:
        n_dangling = _write_degree_files(pos, spill_dir, n, nb)
        pos.unpersist()
    else:
        n_dangling = None
    eb = EdgeBlocks(
        manifest=manifest,
        spill_dir=spill_dir,
        n=n,
        n_dangling=n_dangling,
        has_weights=with_weights,
    )
    _save_metadata(eb, spill_dir)
    return eb


def _save_metadata(eb: EdgeBlocks, spill_dir: str) -> None:
    import json
    import os

    rows = [(r["path"], int(r["dst_lo"])) for r in eb.manifest.collect()]
    with open(os.path.join(spill_dir, "manifest.json"), "w") as f:
        json.dump(rows, f)
    with open(os.path.join(spill_dir, "meta.json"), "w") as f:
        json.dump(
            {
                "n": eb.n,
                "n_dangling": eb.n_dangling,
                "has_weights": eb.has_weights,
            },
            f,
        )


def load_edge_blocks(spark, spill_dir: str) -> EdgeBlocks:
    """Reopen file-backed blocks written by ``build_edge_blocks(...,
    spill_dir=...)`` — layout cost is paid once and shared across sessions
    (the scaling bench builds once and measures supersteps at several
    parallelism levels on the same blocks). Only the O(num_blocks)
    manifest and scalar metadata reach the driver; id/degree vectors stay
    lazy mmaps."""
    import json
    import os

    with open(os.path.join(spill_dir, "manifest.json")) as f:
        rows = json.load(f)
    with open(os.path.join(spill_dir, "meta.json")) as f:
        meta = json.load(f)
    manifest = spark.createDataFrame(rows, "path string, dst_lo long").repartition(
        max(1, len(rows))
    ).persist()
    manifest.count()
    return EdgeBlocks(manifest=manifest, spill_dir=spill_dir,
                      n=int(meta["n"]), n_dangling=meta["n_dangling"],
                      has_weights=bool(meta.get("has_weights", False)))


class LocalSliceStore:
    """Slice store backed by memmap files on a SHARED filesystem.

    The distributed superstep loop reads/writes per-iteration rank vectors
    through this interface; this implementation holds one ``.npy`` file per
    iteration under ``run_dir`` and relies on every worker seeing the same
    filesystem (local mode, NFS/Lustre on a cluster). Tasks write disjoint
    dst ranges of the single file in place (safe) and readers mmap it, so
    the OS page cache is shared host-wide. A cluster WITHOUT a shared
    filesystem plugs a different implementation into
    ``pagerank_kernel(slice_store=...)`` — anything satisfying this duck
    type (put/get aux array, create/open/delete iteration vectors) works,
    e.g. per-slice objects on an object store reassembled per worker. The
    instance must be picklable (workers receive it inside the task
    closure); this one carries only the ``run_dir`` string."""

    def __init__(self, run_dir: str):
        import uuid

        self.run_dir = run_dir
        # per-instance cache token: reused Python workers hold a
        # process-global aux cache, so two runs pointing at the SAME
        # run_dir (the natural usage once the store is injectable) must
        # not serve each other's cached arrays — the token travels with
        # the pickled store and scopes the cache to this run
        self.run_token = uuid.uuid4().hex

    # -- lifecycle (driver)
    def init_run(self) -> None:
        import os

        os.makedirs(self.run_dir, exist_ok=True)

    def cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.run_dir, ignore_errors=True)

    # -- aux vectors (write once on the driver, cached read on workers)
    def _aux_path(self, name: str) -> str:
        import os

        return os.path.join(self.run_dir, f"{name}.npy")

    def put_aux(self, name: str, arr: np.ndarray) -> None:
        np.save(self._aux_path(name), arr)

    def put_aux_file(self, name: str, src_path: str) -> None:
        """Register an EXISTING .npy file as this run's aux vector without
        copying it (the scale layout writes inv_deg.npy once at
        build_edge_blocks time; every run links it). Stores without this
        method get the array streamed through ``put_aux`` instead."""
        import os

        dst = self._aux_path(name)
        if os.path.exists(dst):
            return  # idempotent: resumed runs re-register the same aux
        try:
            os.symlink(os.path.abspath(src_path), dst)
        except (OSError, NotImplementedError):
            import shutil

            shutil.copyfile(src_path, dst)

    def get_aux(self, name: str) -> np.ndarray:
        key = (self.run_dir, self.run_token, name)
        cached = _VEC_CACHE.get(key)
        if cached is None:
            # evict stale entries for the same run_dir under a DIFFERENT
            # token: only the current run's aux can ever be read again, and
            # long-lived reused python workers would otherwise accumulate
            # one O(n) array per kernel run indefinitely
            for stale in [
                k
                for k in _VEC_CACHE
                if k[0] == self.run_dir and k[1] != self.run_token
            ]:
                del _VEC_CACHE[stale]
            # mmap read: the page cache keeps ONE host-wide copy shared by
            # every python worker instead of a resident copy per worker
            cached = np.load(self._aux_path(name), mmap_mode="r")
            _VEC_CACHE[key] = cached
        return cached

    # -- per-iteration vectors
    def _vec_path(self, iteration: int) -> str:
        import os

        return os.path.join(self.run_dir, f"r_{iteration:05d}.npy")

    def create_vector(self, iteration: int, n: int, dtype=np.float64) -> None:
        """Driver: allocate iteration vector (sparse file header only).
        ``dtype`` defaults to float64 (rank vectors); the CC loop stores
        int64 label vectors through the same interface."""
        np.lib.format.open_memmap(
            self._vec_path(iteration), mode="w+", dtype=dtype, shape=(n,)
        ).flush()

    def write_full(self, iteration: int, arr: np.ndarray) -> None:
        m = np.lib.format.open_memmap(
            self._vec_path(iteration), mode="w+", dtype=arr.dtype,
            shape=arr.shape,
        )
        m[:] = arr
        m.flush()

    def open_read(self, iteration: int) -> np.ndarray:
        """Worker: the previous iteration's full vector (random access)."""
        return np.load(self._vec_path(iteration), mmap_mode="r")

    def open_write(self, iteration: int) -> np.ndarray:
        """Worker: writable view; tasks touch only their disjoint range."""
        return np.load(self._vec_path(iteration), mmap_mode="r+")

    def flush(self, handle: np.ndarray) -> None:
        handle.flush()

    def read_result(self, iteration: int) -> np.ndarray:
        return np.array(np.load(self._vec_path(iteration), mmap_mode="r"))

    def delete_vector(self, iteration: int) -> None:
        import os

        for p in (self._vec_path(iteration), self._vec_path(iteration) + ".ok"):
            try:
                os.unlink(p)
            except FileNotFoundError:
                pass

    # -- durability / resume (driver)
    # A crash mid-superstep leaves a FULL-SIZE but partially-written vector
    # file (create_vector preallocates, tasks fill disjoint ranges), so
    # file existence cannot distinguish a resumable vector — the driver
    # stamps a tiny .ok marker only AFTER validating that every slice
    # reported back. Same commit protocol as CheckpointManager's _SUCCESS
    # markers on the join path.
    def put_meta(self, meta: dict) -> None:
        import json
        import os

        tmp = os.path.join(self.run_dir, "run_meta.json.tmp")
        with open(tmp, "w") as f:
            json.dump(meta, f)
        os.replace(tmp, os.path.join(self.run_dir, "run_meta.json"))

    def get_meta(self) -> dict | None:
        import json
        import os

        p = os.path.join(self.run_dir, "run_meta.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def mark_complete(self, iteration: int) -> None:
        with open(self._vec_path(iteration) + ".ok", "w") as f:
            f.write("ok")

    def latest_complete(self) -> int | None:
        import glob
        import os
        import re

        best = None
        for p in glob.glob(os.path.join(self.run_dir, "r_*.npy.ok")):
            m = re.match(r"r_(-?\d+)\.npy\.ok$", os.path.basename(p))
            if m and os.path.exists(p[:-3]):
                it = int(m.group(1))
                if best is None or it > best:
                    best = it
        return best


def slice_ranges(eb: EdgeBlocks) -> dict:
    """``{dst_lo: dst_hi}`` for every block of a file-backed layout — the
    static, evenly spaced dst ranges the slice-store loops write. Raises
    when the manifest misses a range (``build_edge_blocks`` always writes
    an empty block for a range without edges)."""
    n = eb.n
    los = sorted(int(r["dst_lo"]) for r in eb.manifest.collect())
    nb = len(los)
    if nb == 0 or los != [_blk_lo(k, n, nb) for k in range(nb)]:
        raise ValueError(
            f"block manifest under {eb.spill_dir!r} does not cover every "
            "dst range; rebuild it with build_edge_blocks(..., spill_dir=...)"
        )
    return {_blk_lo(k, n, nb): _blk_lo(k + 1, n, nb) for k in range(nb)}


def _distributed_superstep_loop(
    spark,
    eb: EdgeBlocks,
    damping: float,
    total: int,
    tolerance: float,
    fixed_iterations: int | None,
    metrics_sink: list | None,
    slice_store=None,
    resume: bool = False,
):
    """Fully distributed supersteps for file-backed blocks with FULL block
    coverage: the rank vector NEVER crosses the driver during iteration.

    ``resume=True`` (requires an injected ``slice_store`` whose location
    survived the crash): restart from the newest COMMITTED iteration
    vector — the driver stamps a completion marker only after every slice
    reported back, so a vector half-written by a dying run is never
    resumed from. The dangling mass of the restored vector is recomputed
    by one O(num_blocks)-row recovery job; run metadata (n, damping) is
    verified against the store so a stale directory from a DIFFERENT run
    fails loudly instead of converging to garbage. This is the kernel
    path's counterpart to the join path's CheckpointManager mid-iteration
    resume (north rule: supersteps survive executor/driver loss).

    Each task gathers its dst-slice (bincount over its CSR block, weights
    read from the previous iteration's vector), applies the rank update
    with the two driver scalars (dangling mass, base) folded in as
    constants, WRITES its new slice, and returns only (err, dangling-mass)
    partial scalars. The driver per superstep schedules one job and sums
    ~num_blocks scalar rows — no O(V) serialization, no per-worker
    broadcast fetch.

    Returns the final ``(id, rank)`` DataFrame, assembled DISTRIBUTEDLY
    (each task emits its dst-range slice from the mmap'd id + rank files,
    so neither vector ever crosses the driver). All vector I/O goes
    through the slice store (default :class:`LocalSliceStore` under the
    blocks' spill_dir). The inverse-degree vector is the layout's
    ``inv_deg.npy``, linked into the run as the aux vector, and the
    dangling count comes from the layout metadata, keeping driver state
    O(num_blocks) end to end."""
    import os
    import uuid

    n = eb.n
    hi_of = slice_ranges(eb)
    inv_path = os.path.join(eb.spill_dir, "inv_deg.npy")
    if not os.path.exists(inv_path):
        eb.out_deg  # raises the degree-free layout's actionable error
    store = slice_store
    if store is None:
        store = LocalSliceStore(
            os.path.join(eb.spill_dir, f"run_{uuid.uuid4().hex[:12]}")
        )
    store.init_run()
    if hasattr(store, "put_aux_file"):
        store.put_aux_file("invdeg", inv_path)
    else:  # custom store: stream the file through, never resident
        store.put_aux("invdeg", np.load(inv_path, mmap_mode="r"))
    n_dangling = int(eb.n_dangling)
    danglesum = float(n_dangling) / n  # of the uniform r0
    base = (1.0 - damping) / n
    err = None

    durable = hasattr(store, "mark_complete") and hasattr(
        store, "latest_complete"
    )
    start_it = 0
    if resume and durable:
        prior = store.get_meta() if hasattr(store, "get_meta") else None
        latest = store.latest_complete()
        if prior is not None and latest is not None:
            if prior.get("n") != n or prior.get("damping") != damping:
                raise ValueError(
                    "resume requested but the slice store holds a different "
                    f"run (stored n={prior.get('n')} damping="
                    f"{prior.get('damping')}, this run n={n} damping="
                    f"{damping})"
                )
            start_it = latest + 1
    if start_it == 0:
        if hasattr(store, "put_meta"):
            store.put_meta({"n": n, "damping": damping})
        store.write_full(-1, np.full(n, 1.0 / n))
        if durable:
            store.mark_complete(-1)
    else:
        # recover the restored vector's dangling mass: one slice-scalar
        # per dst-range, never the vector itself
        rv = start_it - 1

        def recover(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            vec = store.open_read(rv)
            inv = store.get_aux("invdeg")
            for pdf in batches:
                for _, row in pdf.iterrows():
                    lo = int(row["dst_lo"])
                    hi = hi_of[lo]
                    vs = np.asarray(vec[lo:hi])
                    yield pd.DataFrame(
                        {"dangle": [float(vs[np.asarray(inv[lo:hi]) == 0.0].sum())]}
                    )

        danglesum = float(
            eb.manifest.mapInPandas(recover, schema="dangle double")
            .toPandas()["dangle"]
            .sum()
        )

    for it in range(start_it, total):
        const_term = damping * danglesum / n + base
        cur = it
        store.create_vector(cur, n)

        def step(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            prev = store.open_read(cur - 1)
            out_vec = store.open_write(cur)
            inv = store.get_aux("invdeg")
            for pdf in batches:
                for _, row in pdf.iterrows():
                    srcs, dsts = _open_block(row["path"])
                    lo = int(row["dst_lo"])
                    hi = hi_of[lo]  # static evenly-spaced ranges
                    width = hi - lo
                    w = prev[srcs] * inv[srcs]
                    g = np.bincount(dsts, weights=w, minlength=width)[:width]
                    new_slice = damping * g + const_term
                    out_vec[lo:hi] = new_slice
                    prev_slice = prev[lo:hi]
                    inv_slice = inv[lo:hi]
                    yield pd.DataFrame(
                        {
                            "dst_lo": [np.int64(lo)],
                            "err": [float(np.abs(new_slice - prev_slice).sum())],
                            "dangle": [float(new_slice[inv_slice == 0.0].sum())],
                        }
                    )
            store.flush(out_vec)

        out = eb.manifest.mapInPandas(
            step, schema="dst_lo long, err double, dangle double"
        ).toPandas()
        if set(out["dst_lo"]) != set(hi_of):
            store.cleanup()
            raise RuntimeError("distributed superstep lost a slice")
        err = float(out["err"].sum())
        danglesum = float(out["dangle"].sum())
        if durable:
            # commit point: every slice validated above — a crash from
            # here on resumes at it+1; a crash before it re-runs it
            store.mark_complete(cur)
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, "l1_error": err})
        if it >= 1:
            store.delete_vector(it - 2)
        if fixed_iterations is None and err < n * tolerance:
            total = it + 1
            break
    else:
        if fixed_iterations is None:
            store.cleanup()
            raise ConvergenceError(
                f"pagerank_kernel failed to converge (err={err!r})"
            )
    # distributed result assembly: one task per dst-range emits (id, rank)
    # from the mmap'd id file + final slice vector; localCheckpoint pins the
    # result before the run dir is deleted. Neither vector touches the
    # driver.
    ids_path = os.path.join(eb.spill_dir, "node_ids.npy")
    final_it = total - 1

    def emit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = np.load(ids_path, mmap_mode="r")
        r = store.open_read(final_it)
        for pdf in batches:
            for _, row in pdf.iterrows():
                lo = int(row["dst_lo"])
                hi = hi_of[lo]
                yield pd.DataFrame(
                    {
                        "id": np.asarray(ids[lo:hi]),
                        "rank": np.asarray(r[lo:hi]),
                    }
                )

    from metagraph_spark.state import truncate_lineage

    result = truncate_lineage(
        eb.manifest.mapInPandas(emit, schema="id long, rank double")
    )
    store.cleanup()
    return result


def _driver_pagerank_loop(spark, ids, blks, out_deg, damping, total,
                          tolerance, fixed_iterations, metrics_sink, maxiter):
    """The driver superstep loop over driver-resident block arrays: per
    block ``np.bincount(dsts, weights=contrib[srcs])`` into its dst slice,
    no Spark job per superstep."""
    n = len(out_deg)
    if n == 0:
        return spark.createDataFrame([], "id long, rank double")
    dangling = out_deg == 0
    inv = np.where(dangling, 0.0, 1.0 / np.maximum(out_deg, 1.0))
    r = np.full(n, 1.0 / n)
    base = (1.0 - damping) / n
    err = None
    for it in range(total):
        contrib = r * inv
        g_vec = np.zeros(n)
        for lo, srcs, dsts, _ws in blks:
            if len(srcs) == 0:
                continue
            g = np.bincount(dsts, weights=contrib[srcs])
            g_vec[lo : lo + len(g)] += g
        danglesum = r[dangling].sum()
        new_r = damping * g_vec + damping * danglesum / n + base
        err = np.abs(new_r - r).sum()
        if metrics_sink is not None:
            metrics_sink.append({"iteration": it, "l1_error": float(err)})
        r = new_r
        if fixed_iterations is None and err < n * tolerance:
            break
    else:
        if fixed_iterations is None:
            raise ConvergenceError(
                f"pagerank_kernel failed to converge in {maxiter} "
                f"iterations (err={err!r})"
            )
    return driver_frame(spark, {"id": ids, "rank": r}, "id long, rank double")


def pagerank_kernel(
    graph_or_blocks,
    damping: float = 0.85,
    maxiter: int = 50,
    tolerance: float = 1e-05,
    fixed_iterations: int | None = None,
    metrics_sink: list | None = None,
    slice_store=None,
    resume: bool = False,
    spill_dir: str | None = None,
) -> DataFrame:
    """PageRank via the CSR/Arrow kernel. Returns ``(id, rank)``.

    Accepts a Graph or a prebuilt EdgeBlocks (amortize the layout across
    runs). A Graph within the driver caps runs the driver loop over one
    block derived from the handle's kept collect,
    :meth:`Graph.driver_layout`
    (:func:`driver_block_arrays`); above the caps it is laid out
    file-backed (under ``spill_dir``, or a temp dir removed after the
    call). Blocks that fit ``routing.fits_driver`` run the driver loop;
    file-backed blocks above the caps, or any call with a
    ``slice_store``, run the slice-store loop
    (``_distributed_superstep_loop``; the rank vector never crosses the
    driver). ``slice_store`` injects its iteration-vector storage (default
    :class:`LocalSliceStore` under the blocks' spill_dir — shared-FS
    semantics; supply an object-store-backed implementation on clusters
    without one). ``resume=True`` restarts a crashed run from its newest
    committed iteration vector in ``slice_store`` (which is therefore
    required — the default store lives under a fresh uuid dir per call and
    can never hold prior state)."""
    total = fixed_iterations if fixed_iterations is not None else maxiter
    durable = slice_store is not None or resume
    g = graph_or_blocks
    drv = (driver_block_arrays(g) if isinstance(g, Graph) and spill_dir is None
           and not durable else None)
    if drv is not None:
        ids, blks = drv
        out_deg = np.bincount(blks[0][1], minlength=len(ids)).astype(float)
        return _driver_pagerank_loop(
            g.edges.sparkSession, ids, blks, out_deg, damping, total,
            tolerance, fixed_iterations, metrics_sink, maxiter,
        )

    def run(eb: EdgeBlocks) -> DataFrame:
        spark, n = eb.spark, eb.n
        if n == 0:
            return spark.createDataFrame([], "id long, rank double")
        drv = _driver_blocks(eb, slice_store, resume)
        if drv is None:
            return _distributed_superstep_loop(
                spark, eb, damping, total, tolerance, fixed_iterations,
                metrics_sink, slice_store=slice_store, resume=resume,
            )
        return _driver_pagerank_loop(
            spark, *drv, np.asarray(eb.out_deg), damping, total,
            tolerance, fixed_iterations, metrics_sink, maxiter,
        )

    return with_blocks(
        graph_or_blocks, lambda g, d: build_edge_blocks(g, spill_dir=d), run,
        spill_dir,
    )
