"""Weakly connected components — iterative min-label hash propagation.

Output contract matches GDS union-by-min disjoint-set semantics
(ref: core/.../core/utils/paged/dss/HugeAtomicDisjointSetStruct.java:166-193 —
component id == minimum internal node id of the component;
driver wcc/Wcc.java:106-126). The Pregel min-label formulation the north
rule mandates is the reference's own alternative formulation
(ref: examples/pregel-example/.../cc/ConnectedComponentsPregel.java:57-74).

Variants:
- ``threshold``: union only edges with weight > threshold
  (ref: wcc/Wcc.java:183-204, config wcc/WccBaseConfig.java:30-44),
- ``seed_property``: incremental/seeded communities
  (ref: wcc/Wcc.java:78-80,111-113).

Scale design: each iteration is one shuffle (groupBy(dst).min) over the
symmetrized edge table; lineage is truncated every iteration via
localCheckpoint; convergence = zero changed labels (a count aggregate).
Label shortcutting (pointer-jumping over the label graph) cuts rounds from
O(diameter) to ~O(log n) on long chains — critical at 10^12-edge scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..graph import Graph
from ..plans.checkpoint import loop_checkpoint


def build_wcc_csr(graph: Graph, *, n_buckets: int | None = None):
    """Bucketed CSR over the SYMMETRIZED edge set for the fused WCC
    kernel — min-label messages must flow both directions or the result
    is reachability, not weak connectivity."""
    from ..plans.fused import build_bucketed_csr

    sym = (
        graph.edges.select("src", "dst")
        .unionByName(
            graph.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .withColumn("weight", F.lit(1.0))
    )
    return build_bucketed_csr(sym, graph.node_count(), n_buckets=n_buckets)


def wcc(
    graph: Graph,
    *,
    threshold: float | None = None,
    seed_property: str | None = None,
    max_iterations: int = 100,
    shortcutting: bool = True,
    csr=None,
    chunk_size: int = 1,
    metrics_out: dict | None = None,
    checkpoint=None,
) -> DataFrame:
    """Returns (internal_id long, component long).

    ``csr``: a :func:`build_wcc_csr` result routes the computation through
    the fused blob-state kernel (plans/fused.py) — the 100-TB path: the
    superstep loop runs inside one barrier stage, ``min``-reduced packed
    messages, frontier = changed labels only. Unsupported with
    ``threshold``/``seed_property`` (classic kernel handles those).

    ``checkpoint``: a ``plans.checkpoint.CheckpointStore`` (fused path
    only). Every ``chunk_size`` supersteps the loop persists vertex state
    AND in-flight frontier messages plus per-bucket lineage rows; a later
    call with the same store resumes mid-convergence byte-identically."""
    if csr is not None:
        if threshold is not None or seed_property is not None:
            raise ValueError(
                "fused WCC supports the default variant only; use the "
                "classic kernel for threshold/seeded runs"
            )
        return _wcc_fused(
            graph,
            csr,
            max_iterations=max_iterations,
            chunk_size=chunk_size,
            metrics_out=metrics_out,
            checkpoint=checkpoint,
        )
    if checkpoint is not None:
        raise ValueError(
            "checkpoint stores are supported on the fused kernel only; "
            "pass csr=build_wcc_csr(graph)"
        )
    # Shared seed labels may span disconnected components (GDS seeded
    # semantics: same seed => same community id). Pointer-jumping assumes
    # label values are unique per component, so disable it when seeded.
    if seed_property:
        shortcutting = False
    edges = graph.edges
    if threshold is not None:
        edges = edges.filter(F.col("weight") > F.lit(threshold))

    # weakly connected: symmetrize regardless of stored orientation
    sym = edges.select("src", "dst").unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    sym = sym.filter(F.col("src") != F.col("dst")).distinct()
    sym = sym.localCheckpoint(eager=False)

    if seed_property:
        max_seed = (
            graph.vertices.agg(F.max(seed_property).cast("long")).collect()[0][0] or 0
        )
        labels = graph.vertices.select(
            "internal_id",
            F.coalesce(
                F.col(seed_property).cast("long"),
                F.col("internal_id") + F.lit(max_seed + 1),
            ).alias("label"),
        )
    else:
        labels = graph.vertices.select(
            "internal_id", F.col("internal_id").alias("label")
        )
    labels = labels.localCheckpoint(eager=True)

    for _it in range(max_iterations):
        # scatter: each endpoint pushes its label to the other side; gather: min
        msgs = (
            sym.join(labels, sym.src == labels.internal_id)
            .select(F.col("dst").alias("internal_id"), "label")
            .groupBy("internal_id")
            .agg(F.min("label").alias("nbr_min"))
        )
        nxt = (
            labels.join(msgs, "internal_id", "left")
            .select(
                "internal_id",
                F.col("label").alias("old_label"),
                F.least("label", F.coalesce("nbr_min", "label")).alias("label"),
            )
        )
        if shortcutting:
            # pointer-jumping: label -> min(label) reachable through the
            # label-pointer graph collapses long chains exponentially faster.
            ptr = (
                nxt.groupBy(F.col("old_label").alias("label"))
                .agg(F.min("label").alias("jump"))
            )
            nxt = (
                nxt.join(ptr, nxt.label == ptr.label, "left")
                .select(
                    nxt.internal_id,
                    nxt.old_label,
                    F.least(nxt.label, F.coalesce("jump", nxt.label)).alias("label"),
                )
            )
        # plan truncation with periodic stats reset (see plans/checkpoint.py:
        # inherited sizeInBytes otherwise squares per iteration)
        nxt = loop_checkpoint(nxt, _it + 1)
        changed = nxt.filter(F.col("label") != F.col("old_label")).count()
        labels = nxt.select("internal_id", "label")
        if changed == 0:
            break

    return labels.select("internal_id", F.col("label").alias("component"))


def _wcc_fused(
    graph: Graph,
    csr,
    *,
    max_iterations: int,
    chunk_size: int,
    metrics_out: dict | None = None,
    checkpoint=None,
) -> DataFrame:
    """Min-label propagation on the fused kernel: state = one f64 label
    per vertex (ids < 2^53 exact in doubles), messages = changed labels
    pushed along the symmetrized out-edges, combined with the ``min``
    reducer. Vote-to-halt falls out of the frontier mask: a vertex sends
    only the superstep its label shrinks, and run_fused stops when no
    bucket reports a change (ref min-label formulation:
    examples/pregel-example/.../cc/ConnectedComponentsPregel.java:57-74)."""
    import numpy as np
    import pandas as pd

    from ..plans.fused import run_fused

    bw = csr.bucket_width

    def compute(bucket, it, state, msg_vals, msg_mask, static):
        width = len(np.asarray(static("out_degree")))
        base = bucket * bw
        if it == 1:
            label = (base + np.arange(width)).astype(np.float64)
            send = label
            active = width
        else:
            label = state[0]
            if msg_vals is None:
                changed = np.zeros(len(label), dtype=bool)
            else:
                changed = msg_mask & (msg_vals < label)
                label = np.where(changed, msg_vals, label)
            send = np.where(changed, label, np.nan)
            active = int(changed.sum())
        return (label, label), send, float(active), active

    result = run_fused(
        csr,
        compute,
        max_iterations=max_iterations,
        reducer="min",
        # labels are vertex ids: when they fit int32 the kernel ships
        # and reduces 4-byte message lanes (≈1/3 fewer shuffle bytes,
        # half the per-edge gather/sort traffic — the full-frontier
        # supersteps are memory-bandwidth-bound at high core counts).
        # Exact either way: integer labels are preserved bit-for-bit.
        msg_dtype=(
            np.int32 if csr.n_vertices < 2**31 - 1 else None
        ),
        chunk_size=chunk_size,
        spark=graph.spark,
        checkpoint=checkpoint,
    )
    if metrics_out is not None:
        metrics_out["ran_iterations"] = result.ran_iterations
        metrics_out["converged"] = result.converged
        metrics_out["supersteps"] = result.metrics
    if not result.converged and checkpoint is None:
        # never return a silently partial assignment: pure min-label needs
        # O(diameter) supersteps (no pointer-jumping over blob state) —
        # high-diameter graphs should raise max_iterations or take the
        # classic kernel, whose label-shortcutting collapses chains in
        # O(log n) rounds
        raise RuntimeError(
            f"fused WCC did not converge within {max_iterations} "
            "supersteps (graph diameter exceeds the budget); raise "
            "max_iterations or use the classic kernel (csr=None)"
        )
    state = result.state

    def unpack(pdf_iter):
        for pdf in pdf_iter:
            for r in pdf.itertuples(index=False):
                lab = np.frombuffer(r.pay1, dtype=np.float64)
                base = r.bucket * bw
                yield pd.DataFrame(
                    {
                        "internal_id": base
                        + np.arange(len(lab), dtype=np.int64),
                        "component": lab.astype(np.int64),
                    }
                )

    return state.mapInPandas(unpack, "internal_id long, component long")


def wcc_stats(components: DataFrame) -> DataFrame:
    """stats-mode aggregate (ref: AbstractCommunityResultBuilder.java:50-62):
    componentCount + component-size distribution percentiles."""
    sizes = components.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return sizes.agg(
        F.count(F.lit(1)).alias("componentCount"),
        F.min("size").alias("min"),
        F.max("size").alias("max"),
        F.mean("size").alias("mean"),
        F.expr("percentile_approx(size, 0.5)").alias("p50"),
        F.expr("percentile_approx(size, 0.75)").alias("p75"),
        F.expr("percentile_approx(size, 0.9)").alias("p90"),
        F.expr("percentile_approx(size, 0.95)").alias("p95"),
        F.expr("percentile_approx(size, 0.99)").alias("p99"),
    )


def consecutive_ids(result: DataFrame, id_col: str = "component") -> DataFrame:
    """Remap community ids to consecutive 0..k-1 ascending
    (ref: WccStreamProc.java:94-101, ConsecutiveLongNodeProperties).
    Implemented as dense_rank over the distinct ids (small: k rows)."""
    distinct = result.select(id_col).distinct()
    from pyspark.sql.window import Window

    remap = distinct.withColumn(
        "__consecutive", F.dense_rank().over(Window.orderBy(id_col)) - 1
    )
    return (
        result.join(F.broadcast(remap), id_col)
        .drop(id_col)
        .withColumnRenamed("__consecutive", id_col)
    )
