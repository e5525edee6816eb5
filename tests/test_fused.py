"""Fused blob-state kernel (plans/fused.py) vs the classic kernel."""

import random

from graph_data_science_spark.graph import from_edge_list
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.plans.fused import build_bucketed_csr


def _graph(spark, n=200, m=900, seed=3):
    rnd = random.Random(seed)
    edges = set()
    while len(edges) < m:
        a, b = rnd.randrange(n), rnd.randrange(n)
        if a != b:
            edges.add((a, b))
    el = [
        (f"{a:04d}", f"{b:04d}", round(rnd.uniform(0.5, 2.0), 3))
        for a, b in sorted(edges)
    ]
    return from_edge_list(
        spark, el, node_ids=[f"{i:04d}" for i in range(n)]
    ), n


def test_fused_matches_classic_unweighted_weighted(spark):
    g, n = _graph(spark)
    for weighted in (False, True):
        classic = {
            r["internal_id"]: r["score"]
            for r in pagerank(
                g, tolerance=0.0, max_iterations=10, weighted=weighted
            ).scores.collect()
        }
        csr = build_bucketed_csr(g.edges, n, n_buckets=7)
        fused = {
            r["internal_id"]: r["score"]
            for r in pagerank(
                g,
                tolerance=0.0,
                max_iterations=10,
                weighted=weighted,
                csr=csr,
            ).scores.collect()
        }
        assert set(classic) == set(fused)
        assert max(abs(classic[k] - fused[k]) for k in classic) < 1e-9


def test_fused_personalized_with_tolerance_frontier(spark):
    g, n = _graph(spark, seed=11)
    kw = dict(
        tolerance=1e-4, max_iterations=15, source_nodes=["0003", "0007"]
    )
    classic = {
        r["internal_id"]: r["score"]
        for r in pagerank(g, **kw).scores.collect()
    }
    csr = build_bucketed_csr(g.edges, n, n_buckets=5)
    fused = {
        r["internal_id"]: r["score"]
        for r in pagerank(g, csr=csr, **kw).scores.collect()
    }
    assert max(abs(classic[k] - fused.get(k, 0.0)) for k in classic) < 1e-9


def test_fused_checkpoint_resume_identical(spark, tmp_path):
    """North-rule resume: a fused run interrupted mid-convergence resumes
    from the checkpoint store and lands byte-identical to an
    uninterrupted run, with per-superstep lineage rows recorded."""
    from graph_data_science_spark.plans.checkpoint import CheckpointStore

    g, n = _graph(spark, seed=7)
    csr = build_bucketed_csr(g.edges, n, n_buckets=4)
    expected = {
        r["internal_id"]: r["score"]
        for r in pagerank(
            g, tolerance=0.0, max_iterations=12, csr=csr
        ).scores.collect()
    }
    store = CheckpointStore(spark, str(tmp_path / "ck"))
    part1 = pagerank(
        g, tolerance=0.0, max_iterations=6, csr=csr, checkpoint=store
    )
    assert part1.ran_iterations == 6
    part2 = pagerank(
        g, tolerance=0.0, max_iterations=12, csr=csr, checkpoint=store
    )
    resumed = {
        r["internal_id"]: r["score"] for r in part2.scores.collect()
    }
    assert resumed == expected  # byte-identical doubles
    lin = store.lineage()
    its = sorted(
        r["iteration"] for r in lin.select("iteration").distinct().collect()
    )
    assert its == list(range(1, 13))
    cols = set(lin.columns)
    assert {"iteration", "rows", "delta_norm", "wall_time"} <= cols
    # per-partition lineage (north rule): at chunk_size=1 every superstep
    # is a chunk end, so each iteration carries one row per bucket whose
    # row counts sum to |V|
    it1 = lin.filter(lin.iteration == 1).collect()
    assert sorted(r["partition_id"] for r in it1) == [0, 1, 2, 3]
    assert sum(r["rows"] for r in it1) == n


def test_fused_l1_convergence_and_metrics(spark):
    g, n = _graph(spark, seed=5)
    csr = build_bucketed_csr(g.edges, n, n_buckets=4)
    out = pagerank(
        g, tolerance=0.0, l1_tolerance=1e-6 * n, max_iterations=100, csr=csr
    )
    assert out.converged
    assert out.ran_iterations < 100
    # metrics monotone-ish: l1 decreasing at the tail
    l1s = [m["l1"] for m in out.metrics]
    assert l1s[-1] <= l1s[1]
    assert all(m["rows"] == n for m in out.metrics)


def _hub_graph(spark, n=400, seed=5):
    """Power-law-ish graph with one mega-hub: node 0 links to EVERY
    other node (≈ |E|/2 of the edge mass in one range bucket) plus
    random background edges."""
    rnd = random.Random(seed)
    edges = {(0, t) for t in range(1, n)}
    while len(edges) < n * 2:
        a, b = rnd.randrange(n), rnd.randrange(n)
        if a != b:
            edges.add((a, b))
    el = [
        (f"{a:04d}", f"{b:04d}", round(rnd.uniform(0.5, 2.0), 3))
        for a, b in sorted(edges)
    ]
    return from_edge_list(
        spark, el, node_ids=[f"{i:04d}" for i in range(n)]
    ), n


def test_fused_hub_sharding_exact(spark):
    """A hub bucket scattered as parallel shards must reproduce the
    unsharded kernel's scores bit-for-bit (disjoint dst runs per chunk
    → exact partial sums, deterministic combine order)."""
    g, n = _hub_graph(spark)
    for weighted in (False, True):
        plain = build_bucketed_csr(g.edges, n, n_buckets=4)
        sharded = build_bucketed_csr(
            g.edges, n, n_buckets=4, hub_shard_edges=40
        )
        assert sharded.shard_map, "hub bucket was not detected"
        assert max(sharded.shard_map.values()) >= 2
        kw = dict(tolerance=0.0, max_iterations=8, weighted=weighted)
        a = {
            r["internal_id"]: r["score"]
            for r in pagerank(g, csr=plain, **kw).scores.collect()
        }
        b = {
            r["internal_id"]: r["score"]
            for r in pagerank(g, csr=sharded, **kw).scores.collect()
        }
        assert set(a) == set(b)
        assert max(abs(a[k] - b[k]) for k in a) == 0.0
        plain.cleanup()
        sharded.cleanup()


def test_fused_hub_sharding_labelvote(spark):
    """Sharded scatter with the labelvote reducer (label propagation)
    matches the unsharded run exactly."""
    from graph_data_science_spark.operators.labelprop import (
        label_propagation,
    )

    g, n = _hub_graph(spark, seed=9)
    plain = {
        (r["internal_id"], r["label"])
        for r in label_propagation(g, max_iterations=5).collect()
    }
    import os

    os.environ["GDS_HUB_SHARD_EDGES"] = "40"
    try:
        sharded = {
            (r["internal_id"], r["label"])
            for r in label_propagation(g, max_iterations=5).collect()
        }
    finally:
        del os.environ["GDS_HUB_SHARD_EDGES"]
    assert plain == sharded


def test_int32_message_mode_bit_identical_to_float(spark):
    """WCC's int32 message lanes must produce the identical component
    assignment as the float64 path (integer labels are exact in both),
    including under hub sharding and sparse-frontier tails."""
    import numpy as np

    from graph_data_science_spark.graph import from_edge_df
    from graph_data_science_spark.operators.wcc import (
        build_wcc_csr,
        _wcc_fused,
    )
    from graph_data_science_spark.plans import fused as fused_mod

    rng = np.random.default_rng(5)
    n = 400
    edges = [
        (int(a), int(b))
        for a, b in rng.integers(0, n, (700, 2))
        if a != b
    ] + [(0, i) for i in range(1, 60)]  # hub
    from pyspark.sql import functions as F

    e = spark.createDataFrame(edges, "src long, dst long").withColumn(
        "weight", F.lit(1.0)
    )
    g = from_edge_df(e, weight="weight")

    def run(force_float):
        csr = build_wcc_csr(g, n_buckets=4)
        orig = fused_mod.run_fused
        if force_float:
            def patched(*a, **kw):
                kw["msg_dtype"] = None
                return orig(*a, **kw)

            fused_mod.run_fused = patched
        try:
            out = sorted(
                map(
                    tuple,
                    _wcc_fused(
                        g, csr, max_iterations=64, chunk_size=3
                    ).collect(),
                )
            )
        finally:
            if force_float:
                fused_mod.run_fused = orig
            csr.cleanup()
        return out

    assert run(False) == run(True)


def _count_jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, "fused job-count guard")
    try:
        out = fn()
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup(None, None)
    return out, n_jobs


def test_fused_loop_runs_in_one_stage(spark, tmp_path):
    """The superstep loop runs inside barrier stages: without a store the
    whole 30-superstep run is one stage (at most 3 Spark jobs in all);
    with a store there is one segment — one state write — per
    ``chunk_size`` supersteps, and lineage still covers every
    superstep."""
    from graph_data_science_spark.plans.checkpoint import CheckpointStore

    g, n = _graph(spark, seed=17)
    csr = build_bucketed_csr(g.edges, n, n_buckets=6)
    kw = dict(tolerance=0.0, max_iterations=30, csr=csr)
    out, n_jobs = _count_jobs(
        spark, "fused-nostore", lambda: pagerank(g, **kw)
    )
    assert out.ran_iterations == 30 and len(out.metrics) == 30
    assert n_jobs <= 3, f"{n_jobs} Spark jobs for one fused run"

    class CountingStore(CheckpointStore):
        writes = 0

        def write_state(self, state, iteration):
            CountingStore.writes += 1
            return super().write_state(state, iteration)

    store = CountingStore(spark, str(tmp_path / "ck"))
    stored, n_jobs = _count_jobs(
        spark, "fused-store",
        lambda: pagerank(g, checkpoint=store, chunk_size=2, **kw),
    )
    assert CountingStore.writes == 15
    # per segment: the barrier stage's state write, plus the schema read
    # when write_state re-reads the written state
    assert n_jobs <= 2 * 15 + 3, f"{n_jobs} Spark jobs for 15 segments"
    its = sorted(
        r["iteration"]
        for r in store.lineage().select("iteration").distinct().collect()
    )
    assert its == list(range(1, 31))
    a = {r["internal_id"]: r["score"] for r in out.scores.collect()}
    b = {r["internal_id"]: r["score"] for r in stored.scores.collect()}
    assert a == b
    csr.cleanup()


def test_fused_task_failure_rerun_identical(spark, tmp_path):
    """A compute that raises once (superstep 3, one bucket) fails the
    barrier stage; the segment is rerun in a fresh exchange directory and
    lands byte-identical to an undisturbed run."""
    import os

    from graph_data_science_spark.plans import fused as fused_mod

    g, n = _graph(spark, seed=23)
    csr = build_bucketed_csr(g.edges, n, n_buckets=4)
    kw = dict(tolerance=0.0, max_iterations=8, csr=csr)
    expected = {
        r["internal_id"]: r["score"]
        for r in pagerank(g, **kw).scores.collect()
    }
    flag = str(tmp_path / "failed_once")

    def flaky(compute):
        def wrapped(bucket, it, *args):
            if it == 3 and bucket == 1 and not os.path.exists(flag):
                open(flag, "w").close()
                raise RuntimeError("injected fault")
            return compute(bucket, it, *args)

        return wrapped

    orig = fused_mod.run_fused

    def patched(csr_, compute, **kwargs):
        return orig(csr_, flaky(compute), **kwargs)

    fused_mod.run_fused = patched
    try:
        got = {
            r["internal_id"]: r["score"]
            for r in pagerank(g, **kw).scores.collect()
        }
    finally:
        fused_mod.run_fused = orig
    assert os.path.exists(flag), "the fault was never injected"
    assert got == expected
    assert not [
        d for d in os.listdir(csr.block_dir) if d.startswith("xchg_")
    ], "exchange directories left behind"
    csr.cleanup()


def test_exchange_refuses_a_used_directory(tmp_path):
    """A retried barrier attempt finds its start marker taken and fails
    instead of reading the failed attempt's files."""
    import pytest

    from graph_data_science_spark.plans.fused import _Exchange

    (tmp_path / "sync").mkdir()
    _Exchange(str(tmp_path), 0, 2)
    _Exchange(str(tmp_path), 1, 2)
    with pytest.raises(RuntimeError, match="failed attempt"):
        _Exchange(str(tmp_path), 0, 2)
