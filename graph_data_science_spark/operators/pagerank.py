"""PageRank family on the superstep kernel: PageRank, ArticleRank,
Eigenvector, personalized + weighted variants.

Exact semantics from the reference delta-push Pregel computation
(ref: algo/.../pagerank/PageRankComputation.java:68-111):
- init rank = alpha = 1 - damping (all nodes; personalized: sources only,
  others 0),
- superstep 0 always sends ``rank / degree(v)``,
- superstep t>0: ``delta = damping * deltaCoefficient * sum(msgs)``,
  ``rank += delta``; sends ``delta / degree(v)`` iff ``delta > tolerance``
  else votes to halt (woken by incoming messages),
- weighted: message × relationshipWeight; degree = sum of positive weights
  (ref: degree/DegreeCentrality.java:117-126). A zero weighted degree makes
  the message NaN, which the reducing messenger treats as "no message" —
  we replicate by dropping non-finite messages.
- ArticleRank: degree(v) += avgDegree, deltaCoefficient = avgDegree
  (ref: pagerank/PageRankAlgorithmFactory.java:95-100).
- Defaults: damping 0.85, tolerance 1e-7, maxIterations 20
  (ref: pagerank/PageRankConfig.java:43-59).

Additionally exposes L1-norm convergence (``l1_tolerance``) per the
north rule, and the result scalers of PageRankAlgorithm.java:77-97.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..graph import Graph
from ..plans.checkpoint import CheckpointStore
from ..plans.csr import CsrGraph, build_csr_graph
from ..plans.pregel import PregelResult, run_pregel
from .scaling import scale_column


@dataclass
class PageRankOutcome:
    scores: DataFrame  # (internal_id long, score double)
    ran_iterations: int
    converged: bool
    metrics: list[dict]


def _source_internal_ids(graph: Graph, source_nodes) -> list[int] | None:
    if not source_nodes:
        return None
    rows = (
        graph.vertices.filter(
            F.col("original_id").isin([str(s) for s in source_nodes])
        )
        .select("internal_id")
        .collect()
    )
    return [r["internal_id"] for r in rows]


def pagerank(
    graph: Graph,
    *,
    damping: float = 0.85,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes=None,
    l1_tolerance: float | None = None,
    scaler: str = "NONE",
    checkpoint: CheckpointStore | None = None,
    csr: CsrGraph | None = None,
    article_rank: bool = False,
    chunk_size: int = 1,
) -> PageRankOutcome:
    alpha = 1.0 - damping
    from ..plans.fused import BucketedCsr

    if isinstance(csr, BucketedCsr):
        return _pagerank_fused(
            graph,
            csr,
            damping=damping,
            tolerance=tolerance,
            max_iterations=max_iterations,
            weighted=weighted,
            source_nodes=source_nodes,
            l1_tolerance=l1_tolerance,
            scaler=scaler,
            checkpoint=checkpoint,
            article_rank=article_rank,
            chunk_size=chunk_size,
        )
    if csr is None:
        csr = build_csr_graph(graph.edges)

    degrees = graph.out_degrees(weighted=weighted)
    delta_coefficient = 1.0
    if article_rank:
        avg_degree = graph.relationship_count() / max(graph.node_count(), 1)
        degrees = degrees.withColumn("degree", F.col("degree") + F.lit(avg_degree))
        delta_coefficient = avg_degree

    sources = _source_internal_ids(graph, source_nodes)
    init_rank = (
        F.lit(alpha)
        if sources is None
        else F.when(F.col("internal_id").isin(sources), F.lit(alpha)).otherwise(
            F.lit(0.0)
        )
    )
    # ``push`` = delta/degree precomputed JVM-side: the scatter ships ONE
    # double per frontier vertex and the python side is a pure gather-index
    push0 = init_rank / F.col("degree")
    state = degrees.select(
        F.col("internal_id").alias("vertex"),
        F.col("degree"),
        init_rank.alias("rank"),
        init_rank.alias("delta"),
        F.when(F.col("degree") > 0, push0).otherwise(F.lit(0.0)).alias(
            "push"
        ),
    )

    def scatter(iteration, cols, weights):
        msg = cols["push"]
        if weighted:
            msg = msg * weights
            msg[~np.isfinite(msg)] = np.nan
        return msg

    def apply_fn(state_df, msgs, t):
        coeff = damping * delta_coefficient
        joined = state_df.join(msgs, state_df.vertex == msgs.vertex, "left").select(
            state_df.vertex,
            state_df.degree,
            state_df.rank,
            F.coalesce(F.col("msg") * F.lit(coeff), F.lit(0.0)).alias("delta"),
        )
        return joined.select(
            "vertex",
            "degree",
            (F.col("rank") + F.col("delta")).alias("rank"),
            "delta",
            F.when(
                F.col("degree") > 0, F.col("delta") / F.col("degree")
            ).otherwise(F.lit(0.0)).alias("push"),
        )

    def apply_np(state_pdf, msg_vals, t):
        """Packed fast path: same arithmetic as apply_fn, pure numpy."""
        coeff = damping * delta_coefficient
        delta = np.where(np.isnan(msg_vals), 0.0, msg_vals) * coeff
        deg = state_pdf["degree"].to_numpy(np.float64)
        out = pd.DataFrame(
            {
                "vertex": state_pdf["vertex"].to_numpy(np.int64),
                "degree": deg,
                "rank": state_pdf["rank"].to_numpy(np.float64) + delta,
                "delta": delta,
                "push": np.where(deg > 0, delta / np.where(deg > 0, deg, 1.0), 0.0),
            }
        )
        return out

    def frontier_fn(t):
        if t == 0:
            return F.col("delta") != 0.0
        return F.col("delta") > F.lit(tolerance)

    converged_fn = None
    if l1_tolerance is not None:
        converged_fn = lambda m: m["l1"] <= l1_tolerance  # noqa: E731

    result: PregelResult = run_pregel(
        csr,
        state,
        scatter_cols=["push"],
        scatter_fn=scatter,
        reducer="sum",
        apply_fn=apply_fn,
        frontier_fn=frontier_fn,
        max_iterations=max_iterations,
        converged_fn=converged_fn,
        checkpoint=checkpoint,
        apply_np=apply_np,
    )

    scores = result.state.select(
        F.col("vertex").alias("internal_id"), F.col("rank").alias("score")
    )
    scores = scale_column(scores, "score", scaler)
    return PageRankOutcome(
        scores=scores,
        ran_iterations=result.ran_iterations,
        converged=result.converged,
        metrics=result.metrics,
    )


def article_rank(graph: Graph, **kwargs) -> PageRankOutcome:
    return pagerank(graph, article_rank=True, **kwargs)


def eigenvector(
    graph: Graph,
    *,
    tolerance: float = 1e-7,
    max_iterations: int = 20,
    weighted: bool = False,
    source_nodes=None,
    scaler: str = "NONE",
    csr: CsrGraph | None = None,
    checkpoint: CheckpointStore | None = None,
) -> PageRankOutcome:
    """Eigenvector centrality: power iteration on (A + I) with per-superstep
    L2 normalization in master-compute
    (ref: pagerank/EigenvectorComputation.java:62-146). Degrees are ignored
    unless weighted (then messages normalize by weighted degree,
    ref: PageRankAlgorithmFactory.java:100-110)."""
    if csr is None:
        csr = build_csr_graph(graph.edges)

    n = graph.node_count()
    sources = _source_internal_ids(graph, source_nodes)
    init_value = 1.0 / (len(sources) if sources else n)
    init_rank = (
        F.lit(init_value)
        if sources is None
        else F.when(F.col("internal_id").isin(sources), F.lit(init_value)).otherwise(
            F.lit(0.0)
        )
    )
    if weighted:
        degrees = graph.out_degrees(weighted=True)
    else:
        degrees = graph.vertices.select("internal_id", F.lit(1.0).alias("degree"))

    state = degrees.select(
        F.col("internal_id").alias("vertex"),
        "degree",
        init_rank.alias("rank"),
        F.lit(float("inf")).alias("delta"),
    )

    # masterCompute at superstep 0 already L2-normalizes the ranks, but the
    # superstep-0 messages were sent with the *unnormalized* init values.
    l2_init = float(
        np.sqrt(init_value * init_value * (len(sources) if sources else n))
    )

    def scatter(iteration, cols, weights):
        msg = cols["rank"] / cols["degree"]
        if weighted:
            msg = msg * weights
        msg[~np.isfinite(msg)] = np.nan
        return msg

    def apply_fn(state_df, msgs, t):
        prev = (
            F.col("rank") / F.lit(l2_init) if t == 1 else F.col("rank")
        )
        nxt = state_df.join(msgs, state_df.vertex == msgs.vertex, "left").select(
            state_df.vertex,
            state_df.degree,
            prev.alias("prev_rank"),
            (prev + F.coalesce(F.col("msg"), F.lit(0.0))).alias("next_rank"),
        )
        l2 = nxt.agg(F.sqrt(F.sum(F.col("next_rank") ** 2))).collect()[0][0] or 1.0
        return nxt.select(
            "vertex",
            "degree",
            (F.col("next_rank") / F.lit(l2)).alias("rank"),
            (F.abs(F.col("next_rank") / F.lit(l2) - F.col("prev_rank"))).alias(
                "delta"
            ),
        )

    def frontier_fn(t):
        if t == 0:
            return F.lit(True)
        # scatter frontier: eigenvector always re-sends; the active/convergence
        # count uses per-node |next-curr| > tolerance (masterCompute check)
        return F.col("delta") > F.lit(tolerance)

    # all nodes must keep scattering until global convergence, so scatter from
    # everyone; convergence is driven by the active count on `delta`.
    result = run_pregel(
        csr,
        state,
        scatter_cols=["rank", "degree"],
        scatter_fn=scatter,
        reducer="sum",
        apply_fn=apply_fn,
        frontier_fn=frontier_fn,
        max_iterations=max_iterations,
        checkpoint=checkpoint,
        scatter_all=True,
    )
    scores = result.state.select(
        F.col("vertex").alias("internal_id"), F.col("rank").alias("score")
    )
    scores = scale_column(scores, "score", scaler)
    return PageRankOutcome(
        scores=scores,
        ran_iterations=result.ran_iterations,
        converged=result.converged,
        metrics=result.metrics,
    )


def _pagerank_fused(
    graph: Graph,
    csr,
    *,
    damping: float,
    tolerance: float,
    max_iterations: int,
    weighted: bool,
    source_nodes,
    l1_tolerance: float | None,
    scaler: str,
    checkpoint: CheckpointStore | None,
    article_rank: bool,
    chunk_size: int = 1,
) -> PageRankOutcome:
    """Fused blob-state engine (plans/fused.py): identical delta-push
    semantics, the whole superstep loop inside one barrier stage.
    This is the default engine for the north-rule throughput path."""
    from ..plans.fused import run_fused, write_static_array

    alpha = 1.0 - damping
    delta_coefficient = 1.0
    if csr.has_degree_statics and not article_rank:
        # degrees were folded into the CSR build pass — no extra scan
        deg_static = "out_wdegree" if weighted else "out_degree"
    else:
        degrees = graph.out_degrees(weighted=weighted)
        if article_rank:
            avg_degree = graph.relationship_count() / max(
                graph.node_count(), 1
            )
            degrees = degrees.withColumn(
                "degree", F.col("degree") + F.lit(avg_degree)
            )
            delta_coefficient = avg_degree
        write_static_array(
            csr,
            degrees.select(
                F.col("internal_id").alias("vertex"),
                F.col("degree").cast("double").alias("value"),
            ),
            "degree",
        )
        deg_static = "degree"
    sources = _source_internal_ids(graph, source_nodes)
    src_arr = (
        np.array(sorted(sources), dtype=np.int64)
        if sources is not None
        else None
    )
    coeff = damping * delta_coefficient
    bw = csr.bucket_width

    def compute(bucket, it, state, msg_vals, msg_mask, static):
        deg = np.asarray(static(deg_static))
        width = len(deg)
        base = bucket * bw
        safe_deg = np.where(deg > 0, deg, 1.0)
        if it == 1:
            if src_arr is None:
                rank = np.full(width, alpha)
            else:
                rank = np.zeros(width)
                local = src_arr[
                    (src_arr >= base) & (src_arr < base + width)
                ] - base
                rank[local] = alpha
            delta = rank.copy()
            send_mask = (delta != 0.0) & (deg > 0)
        else:
            rank, _prev = state
            if msg_vals is None:
                msg = np.zeros(width)
                msg_mask = np.zeros(width, dtype=bool)
            else:
                msg = np.where(msg_mask, msg_vals, 0.0)
            delta = coeff * msg
            rank = rank + delta
            send_mask = (delta > tolerance) & (deg > 0)
        send = np.where(send_mask, delta / safe_deg, np.nan)
        l1 = float(np.abs(delta).sum())
        active = int((delta > tolerance).sum()) if it > 1 else int(
            (delta != 0.0).sum()
        )
        return (rank, delta), send, l1, active

    converged_fn = None
    if l1_tolerance is not None:
        converged_fn = lambda m: m["l1"] <= l1_tolerance  # noqa: E731

    result = run_fused(
        csr,
        compute,
        max_iterations=max_iterations,
        reducer="sum",
        converged_fn=converged_fn,
        checkpoint=checkpoint,
        use_weights=weighted,
        chunk_size=chunk_size,
        spark=graph.spark,
    )
    scores = result.to_rows(("rank", "delta")).select(
        F.col("vertex").alias("internal_id"), F.col("rank").alias("score")
    )
    scores = scale_column(scores, "score", scaler)
    return PageRankOutcome(
        scores=scores,
        ran_iterations=result.ran_iterations,
        converged=result.converged,
        metrics=result.metrics,
    )
