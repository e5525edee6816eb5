"""The workloads: input generation, one job, and its checks.

Each job calls only public functions of the engine's modules, inside a
span named after the layer it exercises:

- ``sources.extract``   sources.corpus.extract_import_edges
- ``graph.build``       graph.from_dense_edge_df / graph.from_edge_df
- ``plans.fused.csr_build``  build_bucketed_csr / build_wcc_csr /
  build_lp_csr
- ``operators.<op>``    pagerank / wcc / label_propagation /
  triangle_count
- ``plans.checkpoint.<call>``  the timed CheckpointStore's calls
- ``sink.write``        writing results as parquet
"""

from __future__ import annotations

import hashlib
import os
import pathlib
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import inputs
import oracles
from instrument import (
    Interrupted,
    RssSampler,
    TimedCheckpointStore,
    dir_mb,
    tree_cpu_s,
)

from graph_data_science_spark.graph import from_dense_edge_df, from_edge_df
from graph_data_science_spark.operators.labelprop import (
    build_lp_csr,
    label_propagation,
)
from graph_data_science_spark.operators.pagerank import pagerank
from graph_data_science_spark.operators.triangle import triangle_count
from graph_data_science_spark.operators.wcc import build_wcc_csr, wcc
from graph_data_science_spark.plans.fused import build_bucketed_csr
from graph_data_science_spark.plans.tridense import dense_applicable
from graph_data_science_spark.plans.triprobe import probe_applicable
from graph_data_science_spark.sources.corpus import (
    extract_import_edges,
    repo_id_expr,
)

# oracle caches are keyed by the generator and oracle sources, so an edit
# to either never reads a stale result
_HERE = pathlib.Path(__file__).resolve().parent
SOURCE_TAG = hashlib.sha256(b"".join(
    (_HERE / f).read_bytes()
    for f in ("inputs.py", "oracles.py", "workloads.py")
)).hexdigest()[:12]

PR_MAX_ITERATIONS = 200
# synchronous LP oscillates on this graph, so it always runs every round
LP_MAX_ITERATIONS = 4
# the LP call is interrupted once lineage for this superstep is written
LP_INTERRUPT_AFTER = 2
# triangle strategy codes reported as operators.triangle.strategy
STRATEGY = {"dense": 0, "probe": 1, "join": 2}


@dataclass
class Job:
    """What one job measured; checks fill ``outputs``."""

    wall_s: float = 0.0
    cpu_s: float = 0.0
    peak_mb: float = 0.0
    supersteps: int = 0
    edge_steps: float = 0.0  # sum of |E_csr| x supersteps
    algo_s: float = 0.0  # fused-algorithm seconds
    resume_s: float = 0.0
    layer: dict = field(default_factory=dict)  # per-layer values
    outputs: dict = field(default_factory=dict)  # name -> bool


@contextmanager
def _measured(job: Job):
    """Wall time, process-tree CPU and peak anonymous memory of the
    block."""
    with RssSampler() as rss:
        cpu0, t0 = tree_cpu_s(), time.monotonic()
        yield
        job.wall_s = time.monotonic() - t0
        job.cpu_s = tree_cpu_s() - cpu0
    job.peak_mb = rss.peak_mb


def _bucket_skew(src: np.ndarray, n: int, bucket_width: int) -> float:
    per_bucket = np.bincount(src // bucket_width,
                             minlength=-(-n // bucket_width))
    return float(per_bucket.max() / per_bucket.mean())


def _csr_layer(job: Job, csrs: list, srcs: list) -> None:
    job.layer["plans.fused.buckets"] = max(c.n_buckets for c in csrs)
    job.layer["plans.fused.hub_shards"] = sum(
        sum((c.shard_map or {}).values()) for c in csrs
    )
    job.layer["plans.fused.bucket_skew"] = max(
        _bucket_skew(s, c.n_vertices, c.bucket_width)
        for c, s in zip(csrs, srcs)
    )
    job.layer["plans.fused.block_mb"] = sum(dir_mb(c.block_dir) for c in csrs)


def _read(path: str, cols: list[str]) -> dict:
    t = pq.read_table(path, columns=cols)
    return {c: t.column(c).to_numpy() for c in cols}


class Workload:
    """One seeded input table in ``run_dir/input`` and the job over it."""

    name = ""
    # environment the engine reads, set before the session starts
    env: dict = {}

    def __init__(self, seed: int, run_dir: str, oracle_dir: str):
        self.seed = seed
        self.run_dir = run_dir
        self.oracle_dir = oracle_dir
        self.input_path = os.path.join(run_dir, "input", self.name)

    def _cached_oracle(self, compute) -> dict:
        return oracles.cached(
            os.path.join(self.oracle_dir,
                         f"{self.name}-{self.seed}-{SOURCE_TAG}.npz"),
            compute,
        )


# --- corpus PageRank ---------------------------------------------------


class PageRankCorpus(Workload):
    """The north-rule job: corpus table -> import edges -> dense graph ->
    bucketed CSR -> fused PageRank to L1 <= 1e-6 |V| -> scores written."""

    name = "pagerank_corpus"
    n_repos = 32_768

    def generate(self) -> None:
        shutil.rmtree(self.input_path, ignore_errors=True)
        inputs.write_corpus(
            inputs.make_corpus(self.n_repos, self.seed), self.seed,
            self.input_path,
        )

    def oracle(self) -> dict:
        def compute():
            src, dst, w = inputs.make_corpus(self.n_repos, self.seed).expected_edges()
            pr = oracles.pagerank(
                self.n_repos, src, dst,
                l1_tolerance=1e-6 * self.n_repos,
                max_iterations=PR_MAX_ITERATIONS,
            )
            return {"src": src, "dst": dst, "weight": w, **pr}

        return self._cached_oracle(compute)

    def job(self, spark, tracer) -> Job:
        job = Job()
        n = self.n_repos
        out_path = os.path.join(self.run_dir, "output", "scores")
        with _measured(job), tracer.span("job"):
            with tracer.span("sources.extract"):
                t = time.monotonic()
                corpus = spark.read.parquet(self.input_path)
                edges = extract_import_edges(corpus).localCheckpoint(eager=True)
                job.layer["sources.extract_s"] = time.monotonic() - t
            with tracer.span("graph.build"):
                t = time.monotonic()
                g = from_dense_edge_df(
                    edges.select(
                        repo_id_expr("src").alias("src"),
                        repo_id_expr("dst").alias("dst"),
                        "weight",
                    ),
                    n_vertices=n,
                    weight="weight",
                )
                g.edges = g.edges.localCheckpoint(eager=True)
                n_edges = g.relationship_count()
                job.layer["graph.build_s"] = time.monotonic() - t
            with tracer.span("plans.fused.csr_build"):
                t = time.monotonic()
                csr = build_bucketed_csr(g.edges, n)
                job.layer["plans.fused.csr_build_s"] = time.monotonic() - t
            with tracer.span("operators.pagerank"):
                t = time.monotonic()
                outcome = pagerank(
                    g, l1_tolerance=1e-6 * n,
                    max_iterations=PR_MAX_ITERATIONS, csr=csr,
                )
                job.algo_s = time.monotonic() - t
            with tracer.span("sink.write"):
                outcome.scores.write.mode("overwrite").parquet(out_path)
        job.supersteps = outcome.ran_iterations
        job.edge_steps = float(n_edges) * outcome.ran_iterations
        rows = sum(m["rows"] for m in outcome.metrics) or 1
        job.layer.update({
            "sources.edges": n_edges,
            "graph.vertices": n,
            "graph.edges": n_edges,
            "operators.pagerank.s": job.algo_s,
            "operators.pagerank.supersteps": outcome.ran_iterations,
            "operators.pagerank.edges_per_s": job.edge_steps / job.algo_s,
            "operators.pagerank.active_frac":
                sum(m["active"] for m in outcome.metrics) / rows,
        })
        exp = self.oracle()
        _csr_layer(job, [csr], [exp["src"]])
        got = g.edges.toPandas()
        order = np.lexsort((got["dst"].to_numpy(), got["src"].to_numpy()))
        job.outputs["edges"] = len(got) == len(exp["src"]) and all(
            np.array_equal(got[c].to_numpy()[order], exp[c])
            for c in ("src", "dst", "weight")
        )
        scores = _read(out_path, ["internal_id", "score"])
        order = np.argsort(scores["internal_id"])
        job.outputs["scores"] = np.array_equal(
            scores["internal_id"][order], np.arange(n)
        ) and np.allclose(
            scores["score"][order], exp["rank"], rtol=1e-6, atol=1e-6
        )
        job.outputs["supersteps"] = (
            outcome.ran_iterations == int(exp["supersteps"])
        )
        csr.cleanup()
        return job


# --- hub-graph components ------------------------------------------------


class ComponentsHub(Workload):
    """Sparse 64-bit ids with one mega-hub: id map -> WCC -> label
    propagation -> triangle count, each result written. Label propagation
    runs with a checkpoint store and is interrupted once, then the same
    call resumes it from the store."""

    name = "components_hub"
    n_vertices = 66_000
    hub_share = 0.9
    deg = 2
    # the engine's hub-shard threshold (default 1M edges) scaled down with
    # the graph, so the hub bucket is split into shard tasks as it would
    # be at full size
    env = {"GDS_HUB_SHARD_EDGES": "20000"}

    def _graph(self, n, seed):
        return inputs.make_hub_graph(n, seed, hub_share=self.hub_share,
                                     deg=self.deg)

    def generate(self) -> None:
        shutil.rmtree(self.input_path, ignore_errors=True)
        inputs.write_hub_graph(
            self._graph(self.n_vertices, self.seed), self.input_path
        )

    def oracle(self) -> dict:
        def compute():
            g = self._graph(self.n_vertices, self.seed)
            n = len(g.ids)
            return {
                "ids": g.ids,
                "src": g.src,
                "dst": g.dst,
                "canon": np.unique(
                    np.minimum(g.src, g.dst) * n + np.maximum(g.src, g.dst)
                ),
                "component": oracles.components(n, g.src, g.dst),
                "label": oracles.label_propagation(
                    n, g.src, g.dst, max_iterations=LP_MAX_ITERATIONS
                ),
                "triangles": oracles.triangles(n, g.src, g.dst),
            }

        return self._cached_oracle(compute)

    def job(self, spark, tracer) -> Job:
        job = Job()
        out = {
            k: os.path.join(self.run_dir, "output", k)
            for k in ("vertices", "wcc", "labelprop", "triangles")
        }

        def write(df, key):
            with tracer.span("sink.write"):
                df.write.mode("overwrite").parquet(out[key])

        with _measured(job), tracer.span("job"):
            with tracer.span("graph.build"):
                t = time.monotonic()
                g = from_edge_df(spark.read.parquet(self.input_path))
                g.edges = g.edges.localCheckpoint(eager=True)
                n = g.node_count()
                n_edges = g.relationship_count()
                job.layer["graph.build_s"] = time.monotonic() - t
            write(g.vertices, "vertices")
            with tracer.span("plans.fused.csr_build"):
                t = time.monotonic()
                wcsr = build_wcc_csr(g)
                build_s = time.monotonic() - t
            wm: dict = {}
            with tracer.span("operators.wcc"):
                t = time.monotonic()
                comp = wcc(g, csr=wcsr, metrics_out=wm)
                wcc_s = time.monotonic() - t
            write(comp, "wcc")
            with tracer.span("plans.fused.csr_build"):
                t = time.monotonic()
                lcsr = build_lp_csr(g)
                build_s += time.monotonic() - t
            lm: dict = {}
            ckpt_dir = os.path.join(self.run_dir, "checkpoint")
            shutil.rmtree(ckpt_dir, ignore_errors=True)
            store = TimedCheckpointStore(
                spark, ckpt_dir, tracer=tracer,
                interrupt_after=LP_INTERRUPT_AFTER,
            )
            kwargs = dict(csr=lcsr, metrics_out=lm, checkpoint=store,
                          max_iterations=LP_MAX_ITERATIONS)
            t = time.monotonic()
            try:
                with tracer.span("operators.labelprop"):
                    labels = label_propagation(g, **kwargs)
            except Interrupted:
                # the same call again resumes from the store
                t_resume = time.monotonic()
                with tracer.span("operators.labelprop"):
                    labels = label_propagation(g, **kwargs)
                job.resume_s = time.monotonic() - t_resume
            lp_s = time.monotonic() - t
            write(labels, "labelprop")
            with tracer.span("operators.triangle"):
                t = time.monotonic()
                tri = triangle_count(g)
                tri_s = time.monotonic() - t
            write(tri.per_node, "triangles")
        wcc_steps = wm["ran_iterations"]
        # superstep 1 of the fused LP initialises; vote rounds follow
        lp_steps = lm["ran_iterations"] + 1
        job.supersteps = wcc_steps + lp_steps
        job.algo_s = wcc_s + lp_s
        job.layer.update({
            "graph.vertices": n,
            "graph.edges": n_edges,
            "plans.fused.csr_build_s": build_s,
            "operators.wcc.s": wcc_s,
            "operators.wcc.supersteps": wcc_steps,
            "operators.labelprop.s": lp_s,
            "operators.labelprop.supersteps": lp_steps,
            "operators.triangle.s": tri_s,
        })
        exp = self.oracle()
        canon = exp["canon"]
        job.edge_steps = float(2 * len(canon) * wcc_steps + n_edges * lp_steps)
        job.layer["operators.triangle.strategy"] = STRATEGY[
            "dense" if dense_applicable(n, len(canon))
            else "probe" if probe_applicable(n, len(canon))
            else "join"
        ]
        # the WCC CSR holds both directions of each undirected pair, the
        # LP CSR every edge reversed
        _csr_layer(
            job, [wcsr, lcsr],
            [np.concatenate([canon // n, canon % n]), exp["dst"]],
        )
        v = _read(out["vertices"], ["internal_id", "original_id"])
        o = np.argsort(v["internal_id"])
        job.outputs["id_map"] = np.array_equal(
            v["internal_id"][o], np.arange(len(exp["ids"]))
        ) and np.array_equal(v["original_id"][o], exp["ids"])
        for key, col, want in (
            ("wcc", "component", exp["component"]),
            ("labelprop", "label", exp["label"]),
            ("triangles", "triangles", exp["triangles"]),
        ):
            got = _read(out[key], ["internal_id", col])
            o = np.argsort(got["internal_id"])
            job.outputs[key] = np.array_equal(
                got["internal_id"][o], np.arange(len(want))
            ) and np.array_equal(got[col][o], want)
        job.outputs["triangles_global"] = (
            tri.global_count == int(exp["triangles"].sum()) // 3
        )
        job.outputs["resumed"] = job.resume_s > 0
        iters = {
            r["iteration"]
            for r in store.lineage().select("iteration").distinct().collect()
        }
        job.outputs["lineage"] = iters == set(range(1, lp_steps + 1))
        for name, (count, secs) in store.calls.items():
            job.layer[f"plans.checkpoint.{name}_s"] = secs
            job.layer[f"plans.checkpoint.{name}_n"] = count
        job.layer["plans.checkpoint.mb"] = dir_mb(store.base_dir)
        job.layer["plans.checkpoint.resume_s"] = job.resume_s
        shutil.rmtree(store.base_dir, ignore_errors=True)
        for c in (wcsr, lcsr):
            c.cleanup()
        return job


WORKLOADS = {w.name: w for w in (PageRankCorpus, ComponentsHub)}
