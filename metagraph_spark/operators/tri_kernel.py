"""Triangle-count CSR kernel — sorted-key adjacency intersection.

Reference analogs: the scipy tricount ``(L @ U.T).multiply(L).sum()``
(``plugins/scipy/algorithms.py:66-81``, citing the Sandia HPEC tricount)
and the grblas Burkhardt formulation
(``plugins/graphblas/algorithms.py:18-32``) — both are matrix phrasings of
"count wedges whose closing edge exists under a degree ordering". This
kernel is the same algorithm in the engine's block style
(``operators/kernel.py``): vectorized numpy inside ``mapInPandas``, all
large state in mmap-able files on the shared filesystem, driver state
O(num_blocks) + scalars.

Physical design (why this beats the three-way self-join at bench scale):

1. **Degree-rank relabeling.** Nodes are renamed to their rank under the
   (degree, id) total order (one |V| sort). Every canonical edge becomes
   ``(ra, rb)`` with ``ra < rb`` — the classic orientation that bounds
   oriented out-degree by O(sqrt(E)), and in RANK SPACE the orientation is
   simply "smaller rank first", so a wedge's closing edge has a unique key.
2. **One sorted key file.** Edge keys ``ra·n + rb`` are globally sorted
   and written slice-wise by tasks into a single int64 memmap (same
   protocol as ``kernel._write_sorted``). That ONE array is
   simultaneously the CSR adjacency (the span for src ``a`` is the
   contiguous key range ``[a·n, (a+1)·n)``, found by binary search — no
   separate indptr file) and the O(log E) membership index.
3. **One count job.** Rank ranges balanced BY EDGE COUNT (split points
   read from O(num_blocks) probes of the key file) fan out to tasks; each
   task extracts its contiguous adjacency span from the mmap, enumerates
   its wedges fully vectorized (chunked to bound memory), binary-searches
   the closing keys against the whole file, and returns ONE scalar. The
   wedge set — the dominant intermediate of the SQL plan, which must be
   SHUFFLED through the wedge join there — never materializes outside a
   task's chunk buffer.

Within the driver caps (``routing.fits_driver``) steps 1-2 run in the
driver process instead, over the handle's kept collect of the edges
(:meth:`Graph.driver_layout`), and the key array stays in memory: up to
``routing.DRIVER_MAX_WEDGES`` wedges one :func:`_count_span` call counts
every rank range there (no file, no Spark job); above it step 3 runs as
usual, with the array broadcast to the tasks instead of a file.

Shared-filesystem contract (above the driver caps): like
:class:`kernel.LocalSliceStore`, the key file is written/read via one path
visible to driver and executors (local mode, NFS/Lustre). The
``triangle_count(strategy="join")`` plan remains the no-shared-fs
fallback.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from metagraph_spark.graph import DST, SRC, Graph
from metagraph_spark.operators import routing
from metagraph_spark.operators.kernel import _write_sorted


def _write_sorted_keys(spark, keys_df, path: str) -> int:
    """The globally sorted key file and its key count
    (:func:`kernel._write_sorted`), under its own name so the benchmark's
    layer trace tells the key sort from a layout's id sort."""
    return _write_sorted(spark, keys_df, "k", path)


def _count_span(keys: np.ndarray, n: int, lo: int, hi: int,
                chunk_pairs: int) -> int:
    """Triangles whose apex (lowest-rank vertex) lies in rank range
    [lo, hi): enumerate the range's wedges vectorized in memory-bounded
    chunks and binary-search the closing keys against the full sorted key
    array (in memory, or the mmap'd key file)."""
    m = keys.shape[0]
    s = int(np.searchsorted(keys, lo * n))
    e = int(np.searchsorted(keys, hi * n))
    if e - s < 2:
        return 0
    span = np.asarray(keys[s:e])
    a = span // n
    b = span - a * n
    ne = len(span)
    # per-edge count of SUBSEQUENT same-src neighbors (b ascending within
    # a row, so pairs (b[i], b[j>i]) always have left < right in rank)
    row_start = np.flatnonzero(np.r_[True, a[1:] != a[:-1]])
    row_len = np.diff(np.r_[row_start, ne])
    row_of = np.repeat(np.arange(len(row_start)), row_len)
    row_end = np.r_[row_start[1:], ne][row_of]
    cnt = row_end - np.arange(ne) - 1
    ccnt = np.cumsum(cnt)
    total_w = int(ccnt[-1])
    if total_w == 0:
        return 0
    tri = 0
    i0 = 0
    done = 0
    while i0 < ne:
        # widest edge prefix whose wedge total stays under chunk_pairs
        i1 = int(np.searchsorted(ccnt, done + chunk_pairs, side="right"))
        i1 = max(i1, i0 + 1)
        c = cnt[i0:i1]
        tw = int(c.sum())
        done += tw
        i0_next = i1
        if tw:
            starts = np.arange(i0, i1) + 1
            offs = np.repeat(np.cumsum(c) - c, c)
            idx = np.repeat(starts, c) + (np.arange(tw) - offs)
            wk = np.repeat(b[i0:i1], c) * n + b[idx]
            pos = np.searchsorted(keys, wk)
            pos_c = np.minimum(pos, m - 1)
            tri += int(((pos < m) & (np.asarray(keys[pos_c]) == wk)).sum())
        i0 = i0_next
    return tri


def _count_ranges(spark, keys, n: int, m: int, nb: int,
                  chunk_pairs: int) -> int:
    """Distributed count over edge-balanced rank ranges: O(nb) probes of
    the sorted keys pick the split points, each task counts its span
    (:func:`_count_span`) and returns one scalar. ``keys`` is the key
    file's path (tasks mmap it) or the in-memory key array (shipped to
    the tasks once, as a broadcast)."""
    keys_path = keys if isinstance(keys, str) else None
    probe = np.load(keys_path, mmap_mode="r") if keys_path else keys
    cuts = sorted(
        {int(probe[min(j * m // nb, m - 1)] // n) for j in range(1, nb)}
    )
    bounds = [0] + [c for c in cuts if 0 < c < n] + [n]
    ranges = [
        (bounds[i], bounds[i + 1])
        for i in range(len(bounds) - 1)
        if bounds[i] < bounds[i + 1]
    ]
    range_df = spark.createDataFrame(
        ranges, "lo long, hi long"
    ).repartition(len(ranges))
    shipped = None if keys_path else spark.sparkContext.broadcast(keys)

    def count(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        arr = (np.load(keys_path, mmap_mode="r") if keys_path
               else shipped.value)
        for pdf in batches:
            for _, row in pdf.iterrows():
                yield pd.DataFrame(
                    {
                        "tri": [
                            _count_span(
                                arr, n, int(row["lo"]), int(row["hi"]),
                                chunk_pairs,
                            )
                        ]
                    }
                )

    try:
        out = range_df.mapInPandas(count, schema="tri long").collect()
    finally:
        if shipped is not None:
            shipped.destroy()
    return int(sum(r["tri"] for r in out))


def _rank_keys(lay) -> np.ndarray:
    """Sorted degree-rank edge keys ``ra·n + rb`` (``ra < rb``) of a
    :class:`DriverLayout`'s canonical undirected edges."""
    n = lay.n
    lo, hi = lay.canonical_pairs()
    deg = np.bincount(lo, minlength=n) + np.bincount(hi, minlength=n)
    rank = np.empty(n, dtype=np.int64)
    rank[np.argsort(deg, kind="stable")] = np.arange(n)
    ra, rb = rank[lo], rank[hi]
    return np.sort(np.minimum(ra, rb) * np.int64(n) + np.maximum(ra, rb))


def _wedges(keys: np.ndarray, n: int) -> int:
    """The wedges :func:`_count_span` enumerates over all of ``keys``:
    ``L(L-1)/2`` summed over the runs of ``L`` keys sharing a low rank."""
    a = keys // n
    starts = np.flatnonzero(np.r_[True, a[1:] != a[:-1]])
    runs = np.diff(np.r_[starts, len(keys)])
    return int((runs * (runs - 1) // 2).sum())


def triangle_count_kernel(
    graph: Graph,
    spill_dir: str | None = None,
    num_blocks: int | None = None,
    chunk_pairs: int = 1 << 22,
) -> int:
    """Exact global triangle count (weights ignored) via the sorted-key
    kernel. Semantics identical to ``operators/triangles.py:triangle_count``
    (parity-asserted in tests); returns the scalar count.

    Within the driver caps the keys are built in this process from the
    handle's kept collect of the edges (:meth:`Graph.driver_layout`),
    derived per call: degree-rank keys of its canonical pairs, with no
    key file. Up to
    ``routing.DRIVER_MAX_WEDGES`` wedges the same :func:`_count_span` the
    distributed tasks run counts them here, with no Spark job; more wedges
    go to :func:`_count_ranges` with the key array in memory. The count is
    invariant to rank assignment, and the (degree, position) order is the
    distributed route's (degree, id) order, as positions follow sorted
    ids.

    ``spill_dir``: directory for the key file above the driver caps
    (default: a fresh temp dir, removed afterwards). ``chunk_pairs``
    bounds the in-flight wedge buffer of the count (arrays of ~5x
    chunk_pairs int64)."""
    import os
    import shutil
    import tempfile

    spark = graph.edges.sparkSession
    nb = int(
        num_blocks
        if num_blocks is not None
        else spark.conf.get("spark.sql.shuffle.partitions")
    )
    lay = graph.driver_layout()
    if lay is not None:
        keys = _rank_keys(lay)
        if _wedges(keys, lay.n) <= routing.DRIVER_MAX_WEDGES:
            return _count_span(keys, lay.n, 0, lay.n, chunk_pairs)
        return _count_ranges(spark, keys, lay.n, len(keys), nb, chunk_pairs)
    n = graph.num_nodes()
    if n == 0:
        return 0
    # rank-space keys are ra*n + rb in int64: requires n < 2^31 (the same
    # positional cap as the other CSR kernels; ra*n then fits 2^62)
    if not routing.fits_positions(n):
        raise ValueError(
            f"triangle kernel rank keys need n < 2^31 (got {n}); use "
            f"triangle_count(strategy='join')"
        )
    # canon feeds BOTH the degree table and the rank join — persist once
    canon = graph.canonical_undirected_edges().select(SRC, DST).persist()
    deg = (
        canon.select(F.col(SRC).alias("_n"))
        .unionAll(canon.select(F.col(DST).alias("_n")))
        .groupBy("_n")
        .agg(F.count(F.lit(1)).alias("_d"))
    )
    # rank = position in the (degree, id) total order; isolated nodes have
    # no edges and cannot join a triangle, so ranking edge endpoints only
    # is sufficient. DISTRIBUTED rank assignment (global range sort +
    # per-partition offsets, the _write_sorted protocol) — a
    # row_number window without partitionBy would collapse the |V| sort
    # into ONE partition
    sorted_deg = (
        deg.orderBy("_d", "_n")
        .withColumn("_pid", F.spark_partition_id())
        .persist()
    )
    pcounts = {
        int(r["_pid"]): int(r["c"])
        for r in sorted_deg.groupBy("_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    poffsets, acc = {}, 0
    for pid in sorted(pcounts):
        poffsets[pid] = acc
        acc += pcounts[pid]
    bc_poff = spark.sparkContext.broadcast(poffsets)

    def assign_rank(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cursor = None
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if cursor is None:
                cursor = bc_poff.value[int(pdf["_pid"].iloc[0])]
            yield pd.DataFrame(
                {
                    "_n": pdf["_n"].to_numpy(dtype=np.int64),
                    "_r": np.arange(cursor, cursor + len(pdf), dtype=np.int64),
                }
            )
            cursor += len(pdf)

    ranks = sorted_deg.mapInPandas(assign_rank, schema="_n long, _r long")
    ranked = (
        canon.join(ranks.withColumnRenamed("_n", SRC), SRC)
        .withColumnRenamed("_r", "_ra")
        .join(ranks.withColumnRenamed("_n", DST), DST)
        .withColumnRenamed("_r", "_rb")
        .select(
            F.least("_ra", "_rb").alias("lo"),
            F.greatest("_ra", "_rb").alias("hi"),
        )
    )
    keys_df = ranked.select(
        (F.col("lo").cast("long") * F.lit(n) + F.col("hi")).alias("k")
    )
    owned_dir = spill_dir is None
    if owned_dir:
        spill_dir = tempfile.mkdtemp(prefix="mgspark_trik_")
    os.makedirs(spill_dir, exist_ok=True)
    keys_path = os.path.join(spill_dir, "tri_keys.npy")
    try:
        m = _write_sorted_keys(spark, keys_df, keys_path)
        sorted_deg.unpersist()
        canon.unpersist()
        bc_poff.unpersist()
        if m == 0:
            return 0
        return _count_ranges(spark, keys_path, n, m, nb, chunk_pairs)
    finally:
        if owned_dir:
            shutil.rmtree(spill_dir, ignore_errors=True)
        else:
            try:
                os.unlink(keys_path)
            except FileNotFoundError:
                pass
