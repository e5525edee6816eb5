"""Fused blob-state Pregel kernel — a resident superstep loop inside one
barrier stage.

Motivation (measured on local[8]→local[32], 22M edges, 1.5M vertices):
a row-wise exchange of the vertex-state DataFrame costs ~0.85 s and does
NOT scale with cores (UnsafeRow serialization + shuffle of millions of
tiny rows is the serial term). This kernel removes row-wise state
entirely:

- Vertices are range-partitioned into ``n_buckets`` contiguous id
  buckets; CSR (CSC-within-block) chunks are partitioned by the SOURCE's
  bucket, so a bucket's owner holds exactly the out-edges of its own
  vertices (``build_bucketed_csr``).
- The vertex state of a bucket is dense numpy arrays (vertex ids are
  implicit: ``base + arange``); between Spark stages it travels as ONE
  DataFrame row of binary blobs.

The superstep loop (``run_fused``) runs many supersteps inside ONE
``mapInPandas(..., barrier=True)`` stage of ``min(n_buckets, slots)``
tasks; task ``p`` owns buckets ``b % n_tasks == p`` and keeps their
state in memory across supersteps. Per superstep each task combines its
buckets' inbound messages (in sender-bucket order, so float sums are
deterministic), calls ``compute``, scatters along its CSR chunks, and
writes one packed message file per (superstep, target bucket, sender)
into an exchange directory under ``csr.block_dir`` (tmp + rename). The
tasks then meet at a file barrier: each writes a marker carrying its
buckets' ``(l1, active, rows)``, polls (short sleeps) until every peer's
marker exists, and applies ``converged_fn`` to the identical global
sums — every task stops at the same superstep, so convergence is exact.
Spark's own ``BarrierTaskContext.barrier()``/``allGather`` are not used:
their driver-side wait (``runBarrier`` in spark-core 4.1.2) sleeps in
1 s steps, so every call costs ~1 s for all but the last task to arrive,
against 2-30 ms of numpy work per superstep on a 220k-edge graph. Hub
buckets (``shard_map``) publish their send array to the exchange instead
of scattering serially; every task then scatters its share of the hub's
chunks (chunk ``c`` by task ``c % n_tasks``) before a second file
barrier.

Requirements: a barrier stage needs all its tasks running at once, so
``n_tasks`` ≤ the cluster's free task slots and dynamic allocation must
be off. ``block_dir`` must be storage every executor (and the driver,
which reads the markers and deletes the exchange) can see — the same
shared mount the CSR blocks already require.

Static per-vertex inputs (e.g. out-degree for PageRank's push) are
written once as dense per-bucket arrays next to the CSR blocks and read
through the same worker-resident cache (memory-mapped, uncompressed).

Cluster story: every block and static array is written through the
DataFrame writer (task-commit protocol handles retries/speculation) to
``resolve_block_root``-resolved storage — tmpfs on a local master, a
REQUIRED shared filesystem (``SPARK_GRAFT_BLOCK_DIR``) on a
multi-executor master, enforced with a loud error. Executors READ the
block files (mmap + per-worker LRU), so any POSIX mount every executor
can see (NFS / fuse-DFS / cluster scratch) works; the OS page cache
gives one resident copy per host. The exchange files are the only
worker-side writes; on NFS mount with ``lookupcache=positive`` (or
none) so a peer's new marker is not hidden by a cached negative lookup.

Skew note: range partitioning gives up the salted-hash hub splitting of
``build_csr_graph``; choose ``n_buckets`` ≥ 4× cores so heavy buckets
average out, and keep the classic kernel for graphs with single-vertex
degree ≫ |E|/n_buckets.

Reference semantics preserved: scatter/gather with an associative
reducer, vote-to-halt via the frontier mask, per-superstep metrics
(iteration, rows, delta-norm, wall-time) — ref core/.../beta/pregel/
(PregelComputation.java:38-117, Pregel.java:137-165).
"""

from __future__ import annotations

import glob
import logging
import os
import shutil
import time
import uuid
from collections import OrderedDict
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from py4j.protocol import Py4JError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, functions as F

from .checkpoint import CheckpointStore, Timer
from .csr import _build_chunks

# Segment input/output rows between Spark stages (and checkpoint files):
# kind 0 = state row (pay1, pay2 = algorithm state arrays; l1/active/
#   nrows = the bucket's last-superstep metrics; task_sec = that
#   superstep's compute + scatter seconds for the bucket),
# kind 1 = packed messages still to be combined (bucket = target; pay1 =
#   int32 bucket-local dst ids, pay2 = values; the "labelvote" reducer
#   additionally ships pay3 = float64 vote weights so a message is a
#   (dst, label, weight) triple; active = sender bucket)
FUSED_SCHEMA = (
    "kind int, bucket int, pay1 binary, pay2 binary, pay3 binary, "
    "l1 double, active long, nrows long, task_sec double"
)
_OUT_COLS = (
    "kind", "bucket", "pay1", "pay2", "pay3", "l1", "active", "nrows",
    "task_sec",
)


@dataclass
class BucketedCsr:
    block_dir: str
    n_buckets: int
    bucket_width: int
    n_vertices: int
    # builds since the degree fold-in carry per-bucket out_degree /
    # out_wdegree statics written during the CSR pass itself
    has_degree_statics: bool = False
    # hub buckets (edge mass ≫ average): bucket -> n_shards; the loop
    # spreads their chunks over all of its tasks instead of scattering
    # them in the owner alone
    shard_map: dict | None = None

    def cleanup(self) -> None:
        import shutil

        shutil.rmtree(self.block_dir, ignore_errors=True)


def build_bucketed_csr(
    edges: DataFrame,
    n_vertices: int,
    *,
    n_buckets: int | None = None,
    block_dir: str | None = None,
    max_chunk_edges: int = 4_000_000,
    hub_shard_edges: int | None = None,
) -> BucketedCsr:
    """One shuffle: bucket by src range, pack CSC chunks, persist
    uncompressed (workers memory-map them — one page-cache copy/host).

    Hub skew: a bucket whose edge mass exceeds both 2×``hub_shard_edges``
    (env ``GDS_HUB_SHARD_EDGES``, default 1M) and 2× the mean bucket
    mass packs ~``hub_shard_edges``-sized chunks and is recorded in
    ``shard_map`` (bucket → n_shards); the superstep loop then scatters
    its chunks from every task instead of one serial owner. Chunks hold
    disjoint dst runs, so shard-partial messages are exact under every
    (associative) reducer."""
    spark = edges.sparkSession
    if n_buckets is None:
        # 4× parallelism so heavy buckets average out (see module skew
        # note) — but never more buckets than the graph can fill: each
        # bucket is an applyInPandas group + O(n_buckets) message blobs
        # per superstep, pure fixed overhead once buckets are small.
        # Floor measured at 8192 vertices/bucket: on a 120k-vertex
        # corpus graph, 58 buckets ran 0.50 s/superstep vs 0.30 s at
        # 14-16 (task scheduling + Arrow round-trips dominate below the
        # floor); big graphs keep the parallelism-derived count.
        n_buckets = min(
            max(4 * spark.sparkContext.defaultParallelism, 8),
            max(1, n_vertices // 8192),
        )
    bucket_width = max(1, -(-n_vertices // n_buckets))
    n_buckets = -(-n_vertices // bucket_width)

    if block_dir is None:
        import uuid

        from .csr import register_owned_block_dir, resolve_block_root

        block_dir = register_owned_block_dir(os.path.join(
            resolve_block_root(spark), f"gds_fcsr_{uuid.uuid4().hex[:12]}"
        ))

    e = edges.select(
        (F.col("src") / bucket_width).cast("int").alias("pid"),
        "src",
        "dst",
        F.col("weight").cast("double").alias("weight"),
    )

    def build(key, pdf):
        # the group already holds every out-edge of this bucket's
        # vertices: fold the degree statics into the same pass instead of
        # paying a second full scan+shuffle of the edge table later. They
        # ride as a chunk == -1 row of the SAME output frame, so the one
        # committer-backed DataFrame write below covers blocks AND
        # statics — no worker-direct file I/O anywhere (cluster-safe with
        # task retries / speculative execution).
        b = int(key[0])
        base = b * bucket_width
        width = min(bucket_width, n_vertices - base)
        n_e = len(pdf)
        tgt = max_chunk_edges
        if n_e > 2 * shard_edges:
            # heavy bucket: equalized ~shard_edges chunks so the loop's
            # tasks get balanced parallel scatter units
            parts = -(-n_e // shard_edges)
            tgt = min(max_chunk_edges, -(-n_e // parts))
        out = _build_chunks(key, pdf, tgt)
        if width > 0:
            src_local = pdf["src"].to_numpy(np.int64) - base
            w = pdf["weight"].to_numpy(np.float64)
            deg = np.bincount(src_local, minlength=width).astype(
                np.float64
            )[:width]
            # weighted degree sums positive weights only (matches
            # Graph.out_degrees / ref DegreeCentrality.java:117-126)
            wdeg = np.bincount(
                src_local, weights=np.maximum(w, 0.0), minlength=width
            )[:width]
            static_row = pd.DataFrame(
                [(b, -1, 0, 0, deg.tobytes(), wdeg.tobytes(), b"", b"", b"")],
                columns=out.columns,
            )
            out = pd.concat([out, static_row], ignore_index=True)
        return out

    if hub_shard_edges is None:
        hub_shard_edges = int(
            os.environ.get("GDS_HUB_SHARD_EDGES", 1_000_000)
        )
    shard_edges = max(1, hub_shard_edges)

    built = e.groupBy("pid").applyInPandas(
        build,
        "pid int, chunk int, n_src long, n_edges long, src_ids binary, "
        "dst_ids binary, dst_offsets binary, src_idx binary, weights binary",
    )
    (
        built.write.partitionBy("pid")
        .mode("overwrite")
        .option("compression", "none")
        .parquet(os.path.join(block_dir, "csr"))
    )
    # per-bucket edge mass from the just-written blocks (column-pruned
    # scan of the tiny per-chunk header rows — no second edge scan):
    # buckets ≫ average become shard-scattered hubs
    summary = (
        spark.read.parquet(os.path.join(block_dir, "csr"))
        .filter(F.col("chunk") >= 0)
        .groupBy("pid")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_edges").alias("m"),
        )
        .collect()
    )
    total_m = sum(int(r["m"]) for r in summary) or 1
    heavy = max(2 * shard_edges, -(-2 * total_m // max(n_buckets, 1)))
    shard_cap = max(2, 4 * spark.sparkContext.defaultParallelism)
    shard_map = {
        int(r["pid"]): min(int(r["n_chunks"]), shard_cap)
        for r in summary
        if int(r["m"]) > heavy and int(r["n_chunks"]) >= 2
    }
    return BucketedCsr(
        block_dir=block_dir,
        n_buckets=n_buckets,
        bucket_width=bucket_width,
        n_vertices=n_vertices,
        has_degree_statics=True,
        shard_map=shard_map or None,
    )


def write_static_payloads(
    block_dir: str, name: str, payloads: DataFrame
) -> None:
    """Persist per-bucket binary payload rows (``bucket int, payload
    binary``) as ``static_<name>/bucket=N/*.parquet`` through the
    DataFrame writer — the task-commit protocol makes retried /
    speculative tasks safe, and the files land wherever ``block_dir``
    points (shared storage on a cluster). Uncompressed so worker reads
    stay zero-copy mmap views."""
    (
        payloads.write.partitionBy("bucket")
        .mode("overwrite")
        .option("compression", "none")
        .parquet(os.path.join(block_dir, f"static_{name}"))
    )


def write_static_array(
    csr: BucketedCsr, df: DataFrame, name: str, default: float = 0.0
) -> None:
    """Persist a per-vertex double column as dense per-bucket arrays.
    ``df``: (vertex long, value double)."""
    bw = csr.bucket_width

    def pack(key, pdf: pd.DataFrame):
        b = int(key[0])
        arr = np.full(bw, default, dtype=np.float64)
        idx = pdf["vertex"].to_numpy(np.int64) - b * bw
        arr[idx] = pdf["value"].to_numpy(np.float64)
        return pd.DataFrame({"bucket": [b], "payload": [arr.tobytes()]})

    out = (
        df.select(
            (F.col("vertex") / bw).cast("int").alias("bucket"),
            "vertex",
            F.col("value").cast("double").alias("value"),
        )
        .groupBy("bucket")
        .applyInPandas(pack, "bucket int, payload binary")
    )
    (
        out.write.partitionBy("bucket")
        .mode("overwrite")
        .option("compression", "none")
        .parquet(os.path.join(csr.block_dir, f"static_{name}"))
    )


_FUSED_CACHE: OrderedDict = OrderedDict()
_FUSED_CACHE_MAX = int(os.environ.get("GDS_BLOCK_CACHE_BLOCKS", "256")) * 4

_CSR_COLS = ("src_ids", "dst_ids", "dst_offsets", "src_idx", "weights")
_CSR_DTYPES = (np.int64, np.int64, np.int64, np.int32, np.float64)


def _cache_get(key):
    hit = _FUSED_CACHE.get(key)
    if hit is not None:
        _FUSED_CACHE.move_to_end(key)
    return hit


def _cache_put(key, val):
    _FUSED_CACHE[key] = val
    while len(_FUSED_CACHE) > _FUSED_CACHE_MAX:
        _FUSED_CACHE.popitem(last=False)


def load_bucket_chunks(block_dir: str, bucket: int) -> list[tuple]:
    """Decoded CSR chunks for one bucket: list of (chunk_no, arrays)
    where arrays = (src_ids, dst_ids, dst_offsets, src_idx, weights).
    The chunk number keys hub scatter (loop task p scatters a hub's
    chunks with ``chunk_no % n_tasks == p``)."""
    key = ("csr", block_dir, bucket)
    hit = _cache_get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    chunks = []
    for path in sorted(
        glob.glob(os.path.join(block_dir, "csr", f"pid={bucket}", "*.parquet"))
    ):
        t = pq.read_table(
            path, columns=["chunk", *_CSR_COLS], memory_map=True
        )
        chunk_no = t.column("chunk")
        cols = [t.column(c) for c in _CSR_COLS]
        for i in range(t.num_rows):
            cno = chunk_no[i].as_py()
            if cno < 0:
                # degree statics folded into the CSR write (chunk == -1
                # row: src_ids = out_degree, dst_ids = out_wdegree) —
                # decode into the static cache alongside the chunks
                _cache_put(
                    ("static", block_dir, "out_degree", bucket),
                    np.frombuffer(cols[0][i].as_buffer(), np.float64),
                )
                _cache_put(
                    ("static", block_dir, "out_wdegree", bucket),
                    np.frombuffer(cols[1][i].as_buffer(), np.float64),
                )
                continue
            arrays = []
            for col, dt in zip(cols, _CSR_DTYPES):
                arrays.append(np.frombuffer(col[i].as_buffer(), dtype=dt))
            chunks.append((int(cno), tuple(arrays)))
    _cache_put(key, chunks)
    return chunks


def load_static(block_dir: str, name: str, bucket: int, bw: int,
                default: float = 0.0) -> np.ndarray:
    key = ("static", block_dir, name, bucket)
    hit = _cache_get(key)
    if hit is not None:
        return hit
    import pyarrow.parquet as pq

    paths = sorted(
        glob.glob(
            os.path.join(
                block_dir, f"static_{name}", f"bucket={bucket}", "*.parquet"
            )
        )
    )
    if paths:
        t = pq.read_table(paths[0], columns=["payload"], memory_map=True)
        arr = np.frombuffer(t.column("payload")[0].as_buffer(), np.float64)
    elif name in ("out_degree", "out_wdegree"):
        # degree statics live as chunk == -1 rows inside the CSR files
        # (written by build_bucketed_csr's single pass); loading the
        # bucket's chunks populates the static cache as a side effect
        load_bucket_chunks(block_dir, bucket)
        hit = _cache_get(key)
        if hit is not None:
            return hit
        arr = np.full(bw, default, dtype=np.float64)
    else:
        arr = np.full(bw, default, dtype=np.float64)
    _cache_put(key, arr)
    return arr


def _combine_labelvote(
    allv: np.ndarray, alll: np.ndarray, allw: np.ndarray, width: int
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce (dst, label, weight) message triples to the winning label
    per destination: max total vote weight, tie → smaller label (GDS LP
    tie semantics, ref algo/.../labelpropagation/ComputeStepConsumer.java
    tallyVotes:64-77). Fully vectorized: lexsort by (dst, label) →
    segment-sum votes → per-dst segment argmax with first-wins (labels
    ascending within a dst ⇒ ties resolve to the smaller label).
    Deterministic: the caller concatenates message rows in sorted-sender
    order, and lexsort is stable, so float summation order is fixed."""
    if len(allv) == 0:
        return np.full(width, np.nan), np.zeros(width, dtype=bool)
    order = np.lexsort((alll, allv))
    sv = allv[order]
    sl = alll[order]
    sw = allw[order]
    newg = np.r_[True, (sv[1:] != sv[:-1]) | (sl[1:] != sl[:-1])]
    gstarts = np.nonzero(newg)[0]
    gv = sv[gstarts]
    gl = sl[gstarts]
    gw = np.add.reduceat(sw, gstarts)
    dmask = np.r_[True, gv[1:] != gv[:-1]]
    dstarts = np.nonzero(dmask)[0]
    best = np.maximum.reduceat(gw, dstarts)
    seg_id = np.cumsum(dmask) - 1
    is_best = gw == best[seg_id]
    sentinel = len(gw)
    first = np.minimum.reduceat(
        np.where(is_best, np.arange(sentinel), sentinel), dstarts
    )
    msg_vals = np.full(width, np.nan)
    msg_vals[gv[dstarts]] = gl[first]
    msg_mask = np.zeros(width, dtype=bool)
    msg_mask[gv[dstarts]] = True
    return msg_vals, msg_mask


def _emit_scatter(
    rows: dict,
    send: np.ndarray,
    chunks: list[tuple],
    base: int,
    bucket: int,
    bw: int,
    nb: int,
    bucket_edges: np.ndarray,
    reducer: str,
    use_weights: bool,
    msg_dtype=None,
) -> None:
    """Scatter ``send`` along the given CSR chunks and append kind-1
    message rows to ``rows``. ``chunks`` is a (chunk_no, arrays) list —
    the caller chooses which chunks (all of them inline, or one hub
    shard's subset). Chunks within a bucket hold DISJOINT dst runs
    (_build_chunks never splits a dst across chunks), so per-shard
    partial message rows stay exact for every reducer and the receiving
    side's sender-sorted combine order stays deterministic.

    ``msg_dtype=np.int32`` (min/max reducers, unweighted, integer-valued
    sends in (-2^31, 2^31-1) only; run_fused checks the reducer/weights
    contract, the CALLER owns the value range): per-edge gathers, the
    message sort and the exchanged pay2 payload all carry int32 instead
    of float64 — 8 B/message instead of 12 and roughly half the
    memory-bandwidth per superstep, which is what the full-frontier
    supersteps are bound by at high core counts (BENCH.md). Exact: the
    integer labels are preserved bit-for-bit, NaN "don't send" maps to
    an INT32_MAX/INT32_MIN sentinel that the reducer can never emit for
    a vertex that received a real message."""
    if reducer == "labelvote":
        if np.isnan(send).all():
            return
        for _cno, chunk in chunks:
            src_ids, dst_ids, dst_offsets, src_idx, weights = chunk
            lab_pe = send[src_ids - base][src_idx]
            w_pe = (
                weights
                if use_weights
                else np.ones(len(lab_pe), dtype=np.float64)
            )
            dst_pe = np.repeat(dst_ids, np.diff(dst_offsets))
            sent = ~np.isnan(lab_pe)
            if not sent.all():
                lab_pe = lab_pe[sent]
                w_pe = w_pe[sent]
                dst_pe = dst_pe[sent]
            if len(dst_pe) == 0:
                continue
            # map-side combine per (dst, label): early supersteps see
            # unique labels (no reduction), late supersteps collapse
            # most vote traffic
            order = np.lexsort((lab_pe, dst_pe))
            sd = dst_pe[order]
            sl2 = lab_pe[order]
            sw2 = w_pe[order]
            newg = np.r_[
                True,
                (sd[1:] != sd[:-1]) | (sl2[1:] != sl2[:-1]),
            ]
            gstarts = np.nonzero(newg)[0]
            gd = sd[gstarts]
            gl = sl2[gstarts]
            gw = np.add.reduceat(sw2, gstarts)
            gd_local = (gd % bw).astype(np.int32)
            cut = np.searchsorted(gd, bucket_edges)
            lo = 0
            for b in range(nb):
                hi = cut[b]
                if hi > lo:
                    rows["kind"].append(1)
                    rows["bucket"].append(b)
                    rows["pay1"].append(gd_local[lo:hi].tobytes())
                    rows["pay2"].append(gl[lo:hi].tobytes())
                    rows["pay3"].append(gw[lo:hi].tobytes())
                    rows["l1"].append(0.0)
                    rows["active"].append(bucket)
                    rows["nrows"].append(int(hi - lo))
                    rows["task_sec"].append(0.0)
                lo = hi
        return
    n_nan = int(np.isnan(send).sum())
    if n_nan >= len(send):
        return
    all_sent = n_nan == 0 and not use_weights
    int_mode = msg_dtype is not None
    if int_mode:
        # sentinel: a value the min/max over real messages can never
        # take. The CALLER owns the range guarantee — run_fused only
        # checks the reducer/weights contract, so any compute sending
        # values outside (-2^31, 2^31-1) or equal to the sentinel must
        # gate int lanes itself (WCC does: labels < n < 2^31-1).
        # GDS_FUSED_DEBUG=1 adds an O(n_src) assert per chunk.
        sentinel = (
            np.int32(2**31 - 1) if reducer == "min" else np.int32(-(2**31))
        )
        debug_range = bool(os.environ.get("GDS_FUSED_DEBUG"))
    for _cno, chunk in chunks:
        src_ids, dst_ids, dst_offsets, src_idx, weights = chunk
        sel = send[src_ids - base]
        act = ~np.isnan(sel)
        n_act = int(act.sum())
        if n_act == 0:
            # no source in this chunk sends — O(n_src) check instead of
            # the O(E) per-edge pipeline below
            continue
        if int_mode:
            if debug_range and n_act:
                mn, mx = sel[act].min(), sel[act].max()
                assert -(2**31) < mn and mx < 2**31 - 1, (
                    f"int32 message lane overflow: [{mn}, {mx}]"
                )
            # one O(n_src) conversion; every O(E) step below then moves
            # 4-byte lanes instead of 8-byte ones
            sel = np.where(act, sel, float(sentinel)).astype(np.int32)
        if n_act * 16 < len(sel) and not all_sent:
            # sparse frontier (convergence tail): touch only the active
            # sources' edges. One O(E) bool gather finds them; their dst
            # run ids come from searchsorted on the offset table — no
            # O(E) double gathers / np.where chains / reduceat over the
            # full chunk. This is what keeps thin-tail supersteps from
            # paying full-frontier numpy cost (the serial term in the
            # N->4N scaling evidence, BENCH.md).
            emask = act[src_idx]
            idx = np.flatnonzero(emask)
            if len(idx) == 0:
                continue
            vals_pe = sel[src_idx[idx]]
            if use_weights:
                vals_pe = vals_pe * weights[idx]
                ok = np.isfinite(vals_pe)
                if not ok.all():
                    idx = idx[ok]
                    vals_pe = vals_pe[ok]
                    if len(idx) == 0:
                        continue
            runs = np.searchsorted(dst_offsets, idx, side="right") - 1
            dst_pe = dst_ids[runs]
            order = np.argsort(dst_pe, kind="stable")
            sd = dst_pe[order]
            sv = vals_pe[order]
            gstarts = np.flatnonzero(np.r_[True, sd[1:] != sd[:-1]])
            verts = sd[gstarts]
            if reducer == "sum":
                vals = np.add.reduceat(sv, gstarts)
            elif reducer == "count":
                vals = np.diff(np.r_[gstarts, len(sv)]).astype(
                    np.float64
                )
            elif reducer == "min":
                vals = np.minimum.reduceat(sv, gstarts)
            else:
                vals = np.maximum.reduceat(sv, gstarts)
            verts_local = (verts % bw).astype(np.int32)
            cut = np.searchsorted(verts, bucket_edges)
            lo = 0
            for b in range(nb):
                hi = cut[b]
                if hi > lo:
                    rows["kind"].append(1)
                    rows["bucket"].append(b)
                    rows["pay1"].append(verts_local[lo:hi].tobytes())
                    rows["pay2"].append(vals[lo:hi].tobytes())
                    rows["pay3"].append(b"")
                    rows["l1"].append(0.0)
                    rows["active"].append(bucket)
                    rows["nrows"].append(int(hi - lo))
                    rows["task_sec"].append(0.0)
                lo = hi
            continue
        per_edge = sel[src_idx]
        if use_weights:
            per_edge = per_edge * weights
            per_edge[~np.isfinite(per_edge)] = np.nan
        starts = dst_offsets[:-1]
        if all_sent:
            # fast path (every vertex sends — the common case for power
            # iterations before the frontier thins): skip the sent-mask
            # and its three O(E) temporaries entirely
            if reducer == "sum":
                accm = np.add.reduceat(per_edge, starts)
            elif reducer == "count":
                accm = np.diff(dst_offsets).astype(np.float64)
            elif reducer == "min":
                accm = np.minimum.reduceat(per_edge, starts)
            else:
                accm = np.maximum.reduceat(per_edge, starts)
            verts = dst_ids
            vals = accm
        elif int_mode:
            # the sentinel rides through the reduction and marks
            # untouched dsts afterwards — no per-edge sent mask, no
            # cnts reduceat, two fewer O(E) temporaries than the float
            # masked path below
            red = np.minimum if reducer == "min" else np.maximum
            accm = red.reduceat(per_edge, starts)
            touched = accm != sentinel
            if not touched.any():
                continue
            verts = dst_ids[touched]
            vals = accm[touched]
        else:
            sent = ~np.isnan(per_edge)
            if not sent.any():
                continue
            cnts = np.add.reduceat(sent.astype(np.float64), starts)
            touched = cnts > 0
            if reducer == "sum":
                accm = np.add.reduceat(
                    np.where(sent, per_edge, 0.0), starts
                )
            elif reducer == "count":
                accm = cnts
            elif reducer == "min":
                accm = np.minimum.reduceat(
                    np.where(sent, per_edge, np.inf), starts
                )
            else:
                accm = np.maximum.reduceat(
                    np.where(sent, per_edge, -np.inf), starts
                )
            verts = dst_ids[touched]
            vals = accm[touched]
        # vectorized bucket-local id conversion: one mod + one astype
        # over the whole array, then slice
        verts_local = (verts % bw).astype(np.int32)
        cut = np.searchsorted(verts, bucket_edges)
        lo = 0
        for b in range(nb):
            hi = cut[b]
            if hi > lo:
                rows["kind"].append(1)
                rows["bucket"].append(b)
                rows["pay1"].append(verts_local[lo:hi].tobytes())
                rows["pay2"].append(vals[lo:hi].tobytes())
                rows["pay3"].append(b"")
                rows["l1"].append(0.0)
                # sender bucket: the deterministic combine-order key on
                # the receive side
                rows["active"].append(bucket)
                rows["nrows"].append(int(hi - lo))
                rows["task_sec"].append(0.0)
            lo = hi


@dataclass
class FusedResult:
    state: DataFrame  # FUSED_SCHEMA rows, kind == 0
    ran_iterations: int
    converged: bool
    metrics: list[dict]
    bucket_width: int = 0

    def to_rows(self, cols: tuple[str, str]) -> DataFrame:
        """Unpack blob state back to (vertex long, <c1> double, <c2>
        double) rows."""
        c1, c2 = cols
        bw_df = self.state
        bw = self.bucket_width

        def unpack(pdf_iter):
            for pdf in pdf_iter:
                for r in pdf.itertuples(index=False):
                    a1 = np.frombuffer(r.pay1, dtype=np.float64)
                    a2 = np.frombuffer(r.pay2, dtype=np.float64)
                    base = r.bucket * bw  # last bucket may be narrower
                    yield pd.DataFrame(
                        {
                            "vertex": base + np.arange(len(a1), dtype=np.int64),
                            c1: a1,
                            c2: a2,
                        }
                    )

        return bw_df.mapInPandas(
            unpack, f"vertex long, {c1} double, {c2} double"
        )


_log = logging.getLogger(__name__)
# a peer that has not reached a file barrier after this long is reported
# lost (Spark normally kills the whole barrier stage long before)
_SYNC_TIMEOUT_S = 1800.0
# driver-side runs of one segment: a failed barrier attempt is rerun once
# in a fresh exchange directory (Spark's own stage retry fails fast, see
# _Exchange)
_SEGMENT_ATTEMPTS = 2
# barrier marker row: bucket, l1, active, nrows, task seconds, hub sent
_MARK_COLS = 6


def _new_rows() -> dict:
    return {c: [] for c in _OUT_COLS}


def _write_file(path: str, parts) -> None:
    """Write ``parts`` (bytes-likes) to ``path`` so that readers never
    see a partial file: hidden tmp name, then rename."""
    d, name = os.path.split(path)
    tmp = os.path.join(d, f".{name}.tmp")
    with open(tmp, "wb") as fh:
        for part in parts:
            fh.write(part)
    os.rename(tmp, path)


def _read_file(path: str, remove: bool = False) -> bytes:
    with open(path, "rb") as fh:
        buf = fh.read()
    if remove:
        os.remove(path)
    return buf


class _Exchange:
    """Task side of one segment's exchange directory.

    Layout: ``b<target>/<superstep>_<sender>_<part>`` packed message
    files (read, then deleted, by the target's owner), ``state/<bucket>``
    resumed state, ``send/<superstep>_<bucket>`` hub send arrays and
    ``sync/<tag>_<task>`` barrier markers. The driver creates the
    directories before the stage and deletes the tree after it; tasks
    only create files, so a killed attempt cannot resurrect a deleted
    exchange.

    Retry safety: Spark reruns a failed barrier stage with the same
    closure, hence the same directory. Each task first claims
    ``sync/start_<task>`` with O_EXCL; finding it taken means this is a
    retry of a failed attempt whose files may be half-written, so the
    task fails at once and the driver reruns the segment in a fresh
    directory."""

    def __init__(self, root: str, task: int, n_tasks: int):
        self.root = root
        self.task = task
        self.n_tasks = n_tasks
        self.sync_dir = os.path.join(root, "sync")
        try:
            fd = os.open(
                os.path.join(self.sync_dir, f"start_{task}"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            raise RuntimeError(
                f"barrier task {task}: exchange {root} was used by a "
                "failed attempt; refusing to read its files"
            ) from None
        os.close(fd)

    def path(self, *parts) -> str:
        return os.path.join(self.root, *parts)

    def put_msgs(self, it: int, rows: dict, part: int) -> None:
        """Write kind-1 ``rows`` (as ``_emit_scatter`` appends them) as
        one file per (target, sender), rows concatenated in emit order.
        Layout: int64 message count, then pay2, pay3, pay1 — the 8-byte
        lanes first, so every array stays aligned."""
        groups: dict = {}
        for i, key in enumerate(zip(rows["bucket"], rows["active"])):
            groups.setdefault(key, []).append(i)
        for (target, sender), idx in groups.items():
            n = sum(int(rows["nrows"][i]) for i in idx)
            _write_file(
                self.path(f"b{target}", f"{it}_{sender}_{part}"),
                [np.int64(n).tobytes()]
                + [rows["pay2"][i] for i in idx]
                + [rows["pay3"][i] for i in idx]
                + [rows["pay1"][i] for i in idx],
            )

    def take_msgs(
        self, it: int, bucket: int, val_dtype, votes: bool
    ) -> list[tuple]:
        """Superstep ``it``'s messages to ``bucket`` as (ids, values,
        weights) in (sender, part) order — the deterministic combine
        order. Files are deleted once read (each has one reader)."""
        d = self.path(f"b{bucket}")
        found = []
        for name in os.listdir(d):
            if name.startswith("."):
                continue
            step, sender, part = map(int, name.split("_"))
            if step == it:
                found.append((sender, part, name))
        vsize = np.dtype(val_dtype).itemsize
        out = []
        for _s, _p, name in sorted(found):
            buf = _read_file(os.path.join(d, name), remove=True)
            n = int(np.frombuffer(buf, np.int64, 1)[0])
            vals = np.frombuffer(buf, val_dtype, n, 8)
            off = 8 + n * vsize
            weights = None
            if votes:
                weights = np.frombuffer(buf, np.float64, n, off)
                off += 8 * n
            out.append((np.frombuffer(buf, np.int32, n, off), vals, weights))
        return out

    def sync(self, tag: str, payload: bytes = b"") -> list[bytes]:
        """File barrier: publish ``payload`` as this task's marker for
        ``tag``, wait (short sleeps) for every peer's, and return all
        payloads in task order."""
        marker = [
            os.path.join(self.sync_dir, f"{tag}_{q}")
            for q in range(self.n_tasks)
        ]
        _write_file(marker[self.task], [payload])
        waiting = list(range(self.n_tasks))
        deadline = time.monotonic() + _SYNC_TIMEOUT_S
        delay = 5e-5
        while True:
            waiting = [q for q in waiting if not os.path.exists(marker[q])]
            if not waiting:
                break
            if not os.path.isdir(self.sync_dir):
                raise RuntimeError(
                    f"exchange {self.root} was removed: attempt abandoned"
                )
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"barrier sync {tag!r}: task {waiting[0]} of "
                    f"{self.n_tasks} did not arrive within "
                    f"{_SYNC_TIMEOUT_S:.0f} s (exchange {self.root})"
                )
            time.sleep(delay)
            delay = min(2 * delay, 2e-3)
        return [_read_file(m) for m in marker]


def _mark_table(payloads: list[bytes]) -> np.ndarray:
    """Concatenated barrier markers, one row per bucket, bucket-sorted."""
    t = np.concatenate(
        [np.frombuffer(b, np.float64).reshape(-1, _MARK_COLS) for b in payloads]
    )
    return t[np.argsort(t[:, 0], kind="stable")]


def _step_metrics(it: int, table: np.ndarray) -> dict:
    """Global superstep metrics from the bucket-sorted marker table. The
    tasks and the driver sum identical bytes in identical order, so they
    agree on the convergence test bit-for-bit."""
    return {
        "iteration": it,
        "rows": int(table[:, 3].sum()),
        "l1": float(table[:, 1].sum()),
        "active": int(table[:, 2].sum()),
    }


def _halts(metrics: dict, converged_fn) -> bool:
    return metrics["active"] == 0 or (
        converged_fn is not None and bool(converged_fn(metrics))
    )


def _combine(
    parts: list[tuple], width: int, reducer: str, msg_dtype
) -> tuple[np.ndarray, np.ndarray]:
    """Reduce one bucket's inbound (ids, values, weights) message parts,
    given in sender order, to dense ``(msg_vals, msg_mask)``."""
    val_np = np.int32 if msg_dtype is not None else np.float64
    if parts:
        allv = np.concatenate([q[0] for q in parts])
        allm = np.concatenate([q[1] for q in parts])
    else:
        allv = np.empty(0, np.int32)
        allm = np.empty(0, val_np)
    if reducer == "labelvote":
        allw = (
            np.concatenate([q[2] for q in parts])
            if parts
            else np.empty(0, np.float64)
        )
        return _combine_labelvote(allv, allm, allw, width)
    # bincount is the vectorized combine (np.add.at is a scalar loop
    # ~100 ns/element — it alone dominated python CPU at 145M-edge scale)
    cnt = np.bincount(allv, minlength=width).astype(np.float64)
    if reducer == "sum":
        acc = np.bincount(allv, weights=allm, minlength=width)
    elif reducer == "count":
        acc = cnt.copy()
    else:
        # min/max: sort by target, segment-reduce (the sort and gather
        # run in int32 lanes when msg_dtype is set — the combine result
        # is then widened once, O(width) not O(messages))
        if reducer == "min":
            fill = 2**31 - 1 if msg_dtype is not None else np.inf
            red = np.minimum
        else:
            fill = -(2**31) if msg_dtype is not None else -np.inf
            red = np.maximum
        acc = np.full(width, fill, dtype=allm.dtype)
        if len(allv):
            order = np.argsort(allv, kind="stable")
            sv = allv[order]
            sm = allm[order]
            starts = np.nonzero(np.r_[True, sv[1:] != sv[:-1]])[0]
            acc[sv[starts]] = red.reduceat(sm, starts)
        if msg_dtype is not None:
            acc = acc.astype(np.float64)
    return acc, cnt > 0


def _segment_task(
    *,
    xdir: str,
    t0: int,
    seg_end: int,
    n_tasks: int,
    csr: BucketedCsr,
    hubs: frozenset,
    compute: Callable,
    reducer: str,
    converged_fn,
    use_weights: bool,
    msg_dtype,
    keep_messages: bool,
):
    """The barrier task: supersteps ``t0..seg_end`` (or to convergence)
    for the buckets ``b % n_tasks == task``. Yields their kind-0 state
    rows, plus the last superstep's kind-1 message rows when
    ``keep_messages`` (a checkpointed segment)."""
    nb, bw, n_vertices = csr.n_buckets, csr.bucket_width, csr.n_vertices
    block_dir = csr.block_dir
    bucket_edges = np.arange(1, nb + 1, dtype=np.int64) * bw
    val_dtype = np.int32 if msg_dtype is not None else np.float64
    votes = reducer == "labelvote"

    def scatter(rows, send, chunks, bucket):
        _emit_scatter(
            rows, send, chunks, bucket * bw, bucket, bw, nb, bucket_edges,
            reducer, use_weights, msg_dtype,
        )

    def run(batches):
        from pyspark import TaskContext

        p = TaskContext.get().partitionId()
        x = _Exchange(xdir, p, n_tasks)
        owned = list(range(p, nb, n_tasks))
        widths = {b: min(bw, n_vertices - b * bw) for b in owned}
        state: dict = {}
        if t0 > 1:
            # resumed segment: the input rows sit in arbitrary
            # partitions — route them to their owners via the exchange
            for pdf in batches:
                kinds = pdf["kind"].to_numpy()
                for r in pdf[kinds == 0].itertuples(index=False):
                    _write_file(
                        x.path("state", str(r.bucket)),
                        [np.int64(len(r.pay1)).tobytes(), r.pay1, r.pay2],
                    )
                msgs = pdf[kinds == 1]
                if len(msgs):
                    x.put_msgs(
                        t0 - 1, {c: msgs[c].tolist() for c in _OUT_COLS}, p
                    )
            x.sync("in")
            for b in owned:
                try:
                    buf = _read_file(x.path("state", str(b)), remove=True)
                except FileNotFoundError:
                    raise RuntimeError(
                        f"segment input has no state row for bucket {b}"
                    ) from None
                n1 = int(np.frombuffer(buf, np.int64, 1)[0])
                state[b] = (
                    np.frombuffer(buf, np.float64, n1 // 8, 8).copy(),
                    np.frombuffer(buf, np.float64, offset=8 + n1).copy(),
                )
        else:
            for _ in batches:
                pass

        it = t0
        while True:
            last = it == seg_end
            # the run's final superstep (no store) scatters nothing
            emit = keep_messages or not last
            marks = []
            step_rows = []
            for b in owned:
                t_b = time.monotonic()
                width = widths[b]
                if it == 1:
                    st = msg_vals = msg_mask = None
                else:
                    st = state[b]
                    msg_vals, msg_mask = _combine(
                        x.take_msgs(it - 1, b, val_dtype, votes),
                        width, reducer, msg_dtype,
                    )

                def static(name, default=0.0, _b=b, _w=width):
                    return load_static(block_dir, name, _b, bw, default)[:_w]

                new_state, send, l1, active = compute(
                    b, it, st, msg_vals, msg_mask, static
                )
                state[b] = new_state
                hub_sent = 0
                if send is not None and emit:
                    if b in hubs:
                        # hub: publish the send array; every task scatters
                        # its share of the chunks after the barrier
                        if not np.isnan(send).all():
                            _write_file(
                                x.path("send", f"{it}_{b}"),
                                [np.asarray(send, np.float64).tobytes()],
                            )
                            hub_sent = 1
                    else:
                        rows = _new_rows()
                        scatter(rows, send, load_bucket_chunks(block_dir, b), b)
                        step_rows.append(rows)
                        if not last:
                            x.put_msgs(it, rows, 0)
                marks.append(
                    (b, l1, active, width, time.monotonic() - t_b, hub_sent)
                )
            table = _mark_table(
                x.sync(f"a{it}", np.asarray(marks, np.float64).tobytes())
            )
            done = last or _halts(_step_metrics(it, table), converged_fn)
            sent_hubs = [int(b) for b in table[table[:, 5] > 0, 0]]
            if sent_hubs and (keep_messages or not done):
                for h in sent_hubs:
                    send = np.fromfile(x.path("send", f"{it}_{h}"), np.float64)
                    rows = _new_rows()
                    scatter(
                        rows,
                        send,
                        [
                            c for c in load_bucket_chunks(block_dir, h)
                            if c[0] % n_tasks == p
                        ],
                        h,
                    )
                    step_rows.append(rows)
                    if not done:
                        x.put_msgs(it, rows, p)
                if not done:
                    x.sync(f"b{it}")
                    for h in sent_hubs:
                        if h % n_tasks == p:
                            os.remove(x.path("send", f"{it}_{h}"))
            if done:
                break
            it += 1

        out = _new_rows()
        for b, l1, active, width, sec, _hub in marks:
            s0, s1 = state[int(b)]
            out["kind"].append(0)
            out["bucket"].append(int(b))
            out["pay1"].append(np.asarray(s0).tobytes())
            out["pay2"].append(np.asarray(s1).tobytes())
            out["pay3"].append(b"")
            out["l1"].append(float(l1))
            out["active"].append(int(active))
            out["nrows"].append(int(width))
            out["task_sec"].append(float(sec))
        if keep_messages:
            for rows in step_rows:
                for c in _OUT_COLS:
                    out[c].extend(rows[c])
        yield pd.DataFrame(out)

    return run


def _task_slots(spark) -> int:
    """Task slots the cluster has now — what a barrier stage may use."""
    sc = spark.sparkContext
    try:
        jsc = sc._jsc.sc()
        return int(jsc.maxNumConcurrentTasks(
            jsc.resourceProfileManager().defaultResourceProfile()
        ))
    except Py4JError:  # JVM surface differs: fall back to the default
        return sc.defaultParallelism


def _run_segment(
    inp: DataFrame, make_task: Callable, action: Callable, csr: BucketedCsr,
    n_tasks: int, t0: int,
) -> tuple[DataFrame, list[tuple], float]:
    """Run one barrier segment and materialize its output with
    ``action``; returns (output, [(superstep, marker table)], seconds).
    A failed attempt is rerun in a fresh exchange directory; every
    exchange is deleted when its stage ends."""
    attempt = 1
    while True:
        xdir = os.path.join(csr.block_dir, f"xchg_{uuid.uuid4().hex[:12]}")
        for sub in ("sync", "state", "send", *(
            f"b{b}" for b in range(csr.n_buckets)
        )):
            os.makedirs(os.path.join(xdir, sub))
        try:
            with Timer() as timer:
                out = action(
                    inp.mapInPandas(make_task(xdir), FUSED_SCHEMA, barrier=True)
                )
            steps = []
            while True:
                it = t0 + len(steps)
                marks = [
                    os.path.join(xdir, "sync", f"a{it}_{q}")
                    for q in range(n_tasks)
                ]
                if not all(map(os.path.exists, marks)):
                    break
                steps.append((it, _mark_table([_read_file(m) for m in marks])))
            if not steps:
                raise RuntimeError(f"segment at superstep {t0} left no markers")
            return out, steps, timer.elapsed
        except (Py4JError, PySparkException):
            # a failed Spark job (a task raised, an executor was lost)
            if attempt == _SEGMENT_ATTEMPTS:
                raise
            _log.warning(
                "fused segment at superstep %d failed; rerunning it in a "
                "fresh exchange directory", t0, exc_info=True,
            )
            attempt += 1
        finally:
            shutil.rmtree(xdir, ignore_errors=True)


def run_fused(
    csr: BucketedCsr,
    compute: Callable,
    *,
    max_iterations: int,
    reducer: str = "sum",
    converged_fn: Callable[[dict], bool] | None = None,
    checkpoint: CheckpointStore | None = None,
    use_weights: bool = False,
    chunk_size: int = 1,
    msg_dtype=None,
    spark=None,
) -> FusedResult:
    """Superstep loop over blob state, resident in barrier stages (see
    the module docstring for the stage, the file exchange and the file
    barrier).

    Without ``checkpoint`` the whole run is ONE barrier stage that stops
    exactly at the first superstep where no bucket is active or
    ``converged_fn`` holds — one Spark job in total. With a
    ``checkpoint`` store the loop runs in segments of ``chunk_size``
    supersteps (supersteps per checkpoint): each segment is one stage
    whose output — kind-0 state plus the in-flight kind-1 messages — is
    written with ``write_state``, then ``write_lineage`` records one row
    per bucket for every superstep of the segment. A resumed run starts
    from ``latest_complete()``. Convergence stays exact inside a
    segment; a segment that converges early is stored under the
    superstep it stopped at.

    ``compute(bucket, iteration, state, msg_vals, msg_mask, static) ->
    (new_state: tuple[np.ndarray, np.ndarray], send: np.ndarray | None,
    l1: float, active: int)``

    - ``state``: None on the first superstep (compute initializes), else
      the (pay1, pay2) arrays from the previous superstep.
    - ``msg_vals``/``msg_mask``: dense reduced incoming messages for this
      bucket and a received-mask (both None on the first superstep).
    - ``send``: per-vertex value to push along out-edges (NaN = don't
      send), or None to send nothing.
    - ``static``: accessor ``static(name, default)`` for dense per-bucket
      arrays written by :func:`write_static_array`.

    ``converged_fn`` sees ``iteration``, ``rows``, ``l1`` and ``active``
    summed over all buckets; the returned ``metrics`` add ``wall_time``
    (the segment's wall time per superstep).
    """
    if spark is None:
        raise ValueError("spark session required")
    if msg_dtype is not None:
        # int32 message lanes are exact ONLY when every sent value is an
        # integer in (-2^31, 2^31-1) — i.e. label/id-valued computes —
        # and the reducer is a lattice op (min/max picks one of the
        # inputs; sum/count would overflow and labelvote ships float
        # weights). The caller asserts the value range (wcc checks
        # n_vertices); here we pin the reducer contract.
        if reducer not in ("min", "max") or use_weights:
            raise ValueError(
                "msg_dtype=int32 requires an unweighted min/max reducer"
            )
        if np.dtype(msg_dtype) != np.int32:
            raise ValueError("only int32 msg_dtype is supported")
    nb = csr.n_buckets
    # a barrier stage needs every task running at once
    n_tasks = max(1, min(nb, _task_slots(spark)))
    hubs = frozenset(csr.shard_map or ())

    start_iter = 1
    cur = None
    if checkpoint is not None:
        resumed = checkpoint.latest_complete()
        if resumed is not None:
            it0, cur = resumed
            start_iter = it0 + 1

    all_metrics: list[dict] = []
    converged = False
    ran = max_iterations
    # AQE would split a resumed segment's repartition + barrier stage
    # into two jobs
    aqe_before = spark.conf.get("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        t = start_iter
        while t <= max_iterations and not converged:
            seg_end = (
                max_iterations if checkpoint is None
                else min(t + max(chunk_size, 1) - 1, max_iterations)
            )

            def action(df, seg_end=seg_end):
                if checkpoint is None:
                    return df.localCheckpoint(eager=True)
                return checkpoint.write_state(df, seg_end)

            if cur is None:
                inp = spark.range(0, n_tasks, 1, n_tasks)
            else:
                inp = cur
                if inp.rdd.getNumPartitions() != n_tasks:
                    inp = inp.repartition(n_tasks)

            def make_task(xdir, t=t, seg_end=seg_end):
                return _segment_task(
                    xdir=xdir, t0=t, seg_end=seg_end, n_tasks=n_tasks,
                    csr=csr, hubs=hubs, compute=compute, reducer=reducer,
                    converged_fn=converged_fn, use_weights=use_weights,
                    msg_dtype=msg_dtype, keep_messages=checkpoint is not None,
                )

            cur, steps, secs = _run_segment(
                inp, make_task, action, csr, n_tasks, t
            )
            last = steps[-1][0]
            if checkpoint is not None and last < seg_end:
                cur = checkpoint.relabel_state(seg_end, last)
            per_ss = secs / len(steps)
            for it, table in steps:
                metrics = _step_metrics(it, table)
                halted = _halts(metrics, converged_fn)
                metrics["wall_time"] = per_ss
                all_metrics.append(metrics)
                if checkpoint is not None:
                    checkpoint.write_lineage(
                        it,
                        [
                            (int(r[0]), int(r[3]), float(r[1]), float(r[4]))
                            for r in table
                        ],
                        per_ss,
                    )
                if halted:
                    converged = True
                    ran = it
            t = last + 1
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe_before)

    if cur is None:
        cur = spark.createDataFrame([], FUSED_SCHEMA)
    return FusedResult(
        state=cur.filter(F.col("kind") == 0),
        ran_iterations=ran,
        converged=converged,
        metrics=all_metrics,
        bucket_width=csr.bucket_width,
    )
