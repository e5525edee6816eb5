"""Label Propagation — synchronous variant with GDS vote/tie semantics.

Reference semantics (Neo4j GDS ~1.6, studied for behavior only):
- init label = ``seedProperty`` where present, else
  ``maxSeedLabel + internal_id + 1``; with no seed property at all the
  label is the node id (ref: algo/.../labelpropagation/InitStep.java:58-79),
- per iteration, node v's out-neighbors vote for their own labels; vote
  weight = relationshipWeight × nodeWeight(neighbor)
  (ref: labelpropagation/ComputeStepConsumer.java:44-58),
- winner = max total vote weight, tie → smaller label id
  (ref: ComputeStepConsumer.tallyVotes:64-77),
- nodes with no neighbors keep their label; convergence = no label changed
  (ref: LabelPropagation.java:139-149); default maxIterations 10
  (ref: LabelPropagationBaseConfig.java:38-42).

GDS runs a *semi-asynchronous* schedule (batches share a live label array)
whose result is schedule-dependent — its own test suite acknowledges
oscillation (NonStabilizingLabelPropagationTest.java). We implement the
deterministic synchronous schedule (all votes read iteration t-1 labels):
same fixed points, reproducible under any parallelism — the property that
matters on a cluster.

Scale design: one shuffle per iteration — votes are a
``groupBy(node, label).sum`` followed by a ``max_by`` struct-argmax (no
window/sort shuffle: the argmax packs (weight, -label) into a struct and
takes ``F.max``, which Spark executes with map-side partial aggregation).
Plan lineage truncated each iteration via localCheckpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..graph import Graph


def build_lp_csr(graph: Graph, *, n_buckets: int | None = None):
    """Bucketed CSR over the REVERSED edge set for the fused LP kernel:
    votes flow from a node's out-neighbors back to the node (classic plan:
    ``edges.join(labels, "dst").groupBy("src")``), so the fused scatter —
    which pushes along CSR out-edges — must run on (dst → src) edges.
    Weights are preserved for the ``weighted`` variant."""
    from ..plans.fused import build_bucketed_csr

    rev = graph.edges.select(
        F.col("dst").alias("src"),
        F.col("src").alias("dst"),
        F.col("weight").cast("double").alias("weight"),
    )
    return build_bucketed_csr(rev, graph.node_count(), n_buckets=n_buckets)


def label_propagation(
    graph: Graph,
    *,
    max_iterations: int = 10,
    weighted: bool = False,
    seed_property: str | None = None,
    node_weight_property: str | None = None,
    csr=None,
    chunk_size: int = 1,
    metrics_out: dict | None = None,
    checkpoint=None,
) -> DataFrame:
    """Returns (internal_id long, label long, ran_iterations metadata on df).

    ``csr``: a :func:`build_lp_csr` result routes the computation through
    the fused blob-state kernel (plans/fused.py) — the 100-TB path: the
    superstep loop runs inside one barrier stage, (dst, label, weight) vote
    triples combined map-side per (dst, label) and argmax-reduced on the
    receive side (``labelvote`` reducer). Same synchronous schedule and
    GDS tie semantics as the classic plan — results are identical.
    Unsupported with ``seed_property``/``node_weight_property`` (classic
    kernel handles those)."""
    if csr is not None:
        if seed_property is not None or node_weight_property is not None:
            raise ValueError(
                "fused label propagation supports the unseeded, "
                "node-unweighted variant only; use the classic kernel "
                "for seeded/node-weighted runs"
            )
        return _labelprop_fused(
            graph,
            csr,
            max_iterations=max_iterations,
            weighted=weighted,
            chunk_size=chunk_size,
            metrics_out=metrics_out,
            checkpoint=checkpoint,
        )
    if checkpoint is not None:
        raise ValueError(
            "checkpoint stores are supported on the fused kernel only; "
            "pass csr=build_lp_csr(graph)"
        )
    vertices = graph.vertices

    if seed_property:
        max_seed = (
            vertices.agg(F.max(F.col(seed_property).cast("long"))).collect()[0][0]
            or 0
        )
        labels = vertices.select(
            "internal_id",
            F.coalesce(
                F.col(seed_property).cast("long"),
                F.col("internal_id") + F.lit(max_seed + 1),
            ).alias("label"),
        )
    else:
        labels = vertices.select(
            "internal_id", F.col("internal_id").alias("label")
        )

    if node_weight_property:
        node_w = vertices.select(
            "internal_id",
            F.coalesce(
                F.col(node_weight_property).cast("double"), F.lit(1.0)
            ).alias("node_w"),
        )
    else:
        node_w = vertices.select("internal_id", F.lit(1.0).alias("node_w"))

    edges = graph.edges.select(
        "src",
        "dst",
        (F.col("weight") if weighted else F.lit(1.0)).alias("rel_w"),
    )
    edges = edges.localCheckpoint(eager=False)
    node_w = node_w.localCheckpoint(eager=False)
    labels = labels.localCheckpoint(eager=True)

    from ..plans.checkpoint import loop_checkpoint

    for _it in range(max_iterations):
        nbr = (
            labels.withColumnRenamed("internal_id", "dst")
            .withColumnRenamed("label", "nbr_label")
            .join(node_w.withColumnRenamed("internal_id", "dst"), "dst")
        )
        votes = (
            edges.join(nbr, "dst")
            .groupBy("src", "nbr_label")
            .agg(F.sum(F.col("rel_w") * F.col("node_w")).alias("vote"))
        )
        # argmax(vote, tie -> min label) without a window sort:
        # max over struct(vote, -label) == (max vote, then min label)
        winner = votes.groupBy("src").agg(
            F.max(F.struct(F.col("vote"), (-F.col("nbr_label")).alias("neg")))
            .alias("w")
        ).select(
            F.col("src").alias("internal_id"),
            (-F.col("w.neg")).alias("new_label"),
        )
        nxt = labels.join(winner, "internal_id", "left").select(
            "internal_id",
            F.col("label").alias("old_label"),
            F.coalesce("new_label", "label").alias("label"),
        )
        nxt = loop_checkpoint(nxt, _it + 1)
        changed = nxt.filter(F.col("label") != F.col("old_label")).count()
        labels = nxt.select("internal_id", "label")
        if changed == 0:
            break

    return labels


def _labelprop_fused(
    graph: Graph,
    csr,
    *,
    max_iterations: int,
    weighted: bool,
    chunk_size: int,
    metrics_out: dict | None = None,
    checkpoint=None,
) -> DataFrame:
    """Synchronous LP on the fused kernel: state = one f64 label per
    vertex (ids < 2^53 exact in doubles); every vertex re-broadcasts its
    label each superstep (synchronous LP has no frontier — a node's new
    label is the argmax over ALL current neighbor labels, so vote traffic
    cannot thin), and the ``labelvote`` reducer resolves max-vote /
    tie-min-label per destination. Superstep 1 initializes and sends, so
    vote round i completes at superstep i+1 — ``max_iterations`` counts
    vote rounds, matching the classic kernel exactly."""
    import numpy as np
    import pandas as pd

    from ..plans.fused import run_fused

    bw = csr.bucket_width

    def compute(bucket, it, state, msg_vals, msg_mask, static):
        width = len(np.asarray(static("out_degree")))
        base = bucket * bw
        if it == 1:
            label = (base + np.arange(width)).astype(np.float64)
            active = width
        else:
            label = state[0]
            if msg_vals is not None:
                new_label = np.where(msg_mask, msg_vals, label)
            else:
                new_label = label
            active = int((new_label != label).sum())
            label = new_label
        return (label, np.empty(0)), label, float(active), active

    result = run_fused(
        csr,
        compute,
        max_iterations=max_iterations + 1,
        reducer="labelvote",
        use_weights=weighted,
        chunk_size=chunk_size,
        spark=graph.spark,
        checkpoint=checkpoint,
    )
    if metrics_out is not None:
        # superstep 1 is init+send; vote rounds = supersteps - 1
        metrics_out["ran_iterations"] = max(result.ran_iterations - 1, 0)
        metrics_out["converged"] = result.converged
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
                        "label": lab.astype(np.int64),
                    }
                )

    return state.mapInPandas(unpack, "internal_id long, label long")
