"""Benchmark of record for graph_data_science_spark.

    python3 benchmark/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Starts ``local[<cores>]`` Spark from the
repository's own package and sets up: ``SETUP_REPS`` times a session
start plus seeded input generation (the median counts), then one warm-up
job on a small input. ``setup_s`` is the sum of the two. It then runs
the workload's job in a closed loop with one client until ``--seconds``
have passed (at least one job). Every job's outputs are checked against
numpy oracles outside the timed region. The last line of standard output
is one JSON object; the exit code is 0 only when every output matched
and no job failed.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` traces every
job, reports the per-layer metrics and the tracing overhead (the time the
tracer's own bookkeeping took), and writes the spans to
``.bench_run/traces/`` when it exits. All files the run writes stay under
``.bench_run/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3
DRIVER_MEM = "2g"
# every run must end within 180 s; stop starting jobs well before that
HARD_LIMIT_S = 170
JOB_BUDGET_S = 140

E2E = {
    "setup_s": "s",
    "job_s": "s",
    "edges_per_s": "edges/s",
    "supersteps": "count",
    "peak_rss_mb": "MiB",
    "cpu_s": "s",
    "correct": "share",
}

# span name -> layer
LAYER_OF = {
    "job": "job",
    "sources.extract": "sources",
    "graph.build": "graph",
    "plans.fused.csr_build": "plans.fused",
    "operators.pagerank": "operators.pagerank",
    "operators.wcc": "operators.wcc",
    "operators.labelprop": "operators.labelprop",
    "operators.triangle": "operators.triangle",
    "plans.checkpoint.write_state": "plans.checkpoint",
    "plans.checkpoint.write_lineage": "plans.checkpoint",
    "plans.checkpoint.latest_complete": "plans.checkpoint",
    "sink.write": "sink",
}
LAYERS = sorted(set(LAYER_OF.values()))
OPERATORS = ("pagerank", "wcc", "labelprop", "triangle")

PER_LAYER = {
    "session.start_s": "s",
    "setup.input_s": "s",
    "setup.warmup_s": "s",
    "sources.extract_s": "s",
    "sources.edges": "count",
    "graph.build_s": "s",
    "graph.vertices": "count",
    "graph.edges": "count",
    "plans.fused.csr_build_s": "s",
    "plans.fused.buckets": "count",
    "plans.fused.hub_shards": "count",
    "plans.fused.bucket_skew": "ratio",
    "plans.fused.block_mb": "MiB",
    "operators.pagerank.s": "s",
    "operators.pagerank.supersteps": "count",
    "operators.pagerank.edges_per_s": "edges/s",
    "operators.pagerank.active_frac": "ratio",
    "operators.pagerank.jobs": "count",
    "operators.pagerank.stages": "count",
    "operators.pagerank.tasks": "count",
    "operators.pagerank.cpu_util": "ratio",
    "operators.wcc.s": "s",
    "operators.wcc.supersteps": "count",
    "operators.wcc.tasks": "count",
    "operators.wcc.cpu_util": "ratio",
    "operators.labelprop.s": "s",
    "operators.labelprop.supersteps": "count",
    "operators.labelprop.tasks": "count",
    "operators.labelprop.cpu_util": "ratio",
    "operators.triangle.s": "s",
    "operators.triangle.strategy": "code",
    "operators.triangle.cpu_util": "ratio",
    "plans.checkpoint.write_state_s": "s",
    "plans.checkpoint.write_state_n": "count",
    "plans.checkpoint.write_lineage_s": "s",
    "plans.checkpoint.write_lineage_n": "count",
    "plans.checkpoint.latest_complete_s": "s",
    "plans.checkpoint.mb": "MiB",
    "plans.checkpoint.resume_s": "s",
    **{f"{layer}.self_s": "s" for layer in LAYERS},
    **{f"{layer}.failed_tasks": "count" for layer in LAYERS},
    "job.ops_failed": "share",
    "job.steal_s": "s",
    "trace.overhead_s": "s",
    "trace.spans": "count",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _prepare_env(run_dir: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``run_dir``;
    must run before pyspark starts."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_BLOCK_DIR": local,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def _start_session(run_dir: str):
    from graph_data_science_spark.session import get_spark

    spark = get_spark(
        "benchmark",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # commit and touch the whole heap at launch: otherwise how far
            # G1 grows it varies from run to run by up to 1 GiB and swamps
            # the memory the job itself uses
            "spark.driver.extraJavaOptions":
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _warm_up(spark, run_dir: str) -> None:
    """First-use costs every job would otherwise pay inside its timed
    region: JIT and code generation for scans, shuffles, joins and
    aggregations, the parquet reader and writer, and the Arrow-fed Python
    worker pool. Measured on the hub graph, this warms the next job as
    much as a full small job of the workload does, at a third of the
    cost."""
    from pyspark.sql import functions as F

    path = os.path.join(run_dir, "warmup")
    cores = spark.sparkContext.defaultParallelism
    df = spark.range(0, 200_000, 1, cores).select(
        (F.col("id") % 997).alias("k"), F.col("id").alias("v")
    )
    df.groupBy("k").applyInPandas(
        lambda pdf: pdf.head(2), "k long, v long"
    ).write.mode("overwrite").parquet(path)
    (
        spark.read.parquet(path)
        .join(df, "k")
        .groupBy("k")
        .count()
        .mapInPandas(lambda it: it, "k long, count long")
        .localCheckpoint(eager=True)
        .count()
    )
    shutil.rmtree(path, ignore_errors=True)


def _on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {HARD_LIMIT_S} s")


def run(args, root: str, run_dir: str, trace_dir: str) -> tuple[dict, int]:
    import warnings

    from instrument import Tracer, new_run_id, steal_s, stop_spark
    from workloads import WORKLOADS

    # pandas-UDF type-hint notices from pyspark are not results
    warnings.filterwarnings("ignore", category=UserWarning)
    t_start = time.monotonic()
    cores = len(os.sched_getaffinity(0))
    workload = WORKLOADS[args.workload](
        args.seed, run_dir, os.path.join(root, ".bench_run", "oracle")
    )

    spark = None
    session, gen = [], []
    run_id = new_run_id()
    spans: list[dict] = []
    try:
        # set-up = session start + input generation, repeated (the first
        # start also launches the JVM; later ones restart the context in
        # it), then one warm-up
        for _ in range(SETUP_REPS):
            t0 = time.monotonic()
            if spark is not None:
                spark.stop()
            spark = _start_session(run_dir)
            t1 = time.monotonic()
            workload.generate()
            session.append(t1 - t0)
            gen.append(time.monotonic() - t1)
        t0 = time.monotonic()
        _warm_up(spark, run_dir)
        warm = time.monotonic() - t0
        setup = _median([a + b for a, b in zip(session, gen)]) + warm
        print(f"setup: session {session}, input {gen}, warm-up {warm:.2f} s",
              file=sys.stderr)
        workload.oracle()

        tracer = Tracer(spark, enabled=bool(args.trace), run_id=run_id)
        jobs, span_sets = [], []
        failed = 0
        outputs: list[bool] = []
        t_loop = time.monotonic()
        steal0 = steal_s()
        while True:
            tracer.reset()
            try:
                job = workload.job(spark, tracer)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                failed += 1
                outputs.append(False)
                break
            outputs.extend(bool(v) for v in job.outputs.values())
            print(f"job: {job.wall_s:.2f} s, outputs={job.outputs}",
                  file=sys.stderr)
            jobs.append(job)
            if args.trace:
                job.layer["trace.overhead_s"] = tracer.overhead_s
                span_sets.append(tracer.spans)
                spans.extend(tracer.spans)
            done = time.monotonic() - t_loop
            per_job = done / len(jobs)
            if (
                not all(outputs)
                or done + per_job > args.seconds
                or time.monotonic() - t_start + per_job > JOB_BUDGET_S
            ):
                break
        steal = steal_s() - steal0
    finally:
        if spark is not None:
            stop_spark(spark)
        if spans:
            os.makedirs(trace_dir, exist_ok=True)
            path = os.path.join(
                trace_dir, f"{args.workload}-{args.seed}-{run_id}.jsonl"
            )
            with open(path, "w") as f:
                for s in spans:
                    f.write(json.dumps(s) + "\n")

    attempted = len(jobs) + failed
    correct = sum(outputs) / len(outputs) if outputs else 0.0
    if args.trace:
        values = _per_layer(jobs, span_sets, cores)
        values.update({
            "session.start_s": _median(session),
            "setup.input_s": _median(gen),
            "setup.warmup_s": warm,
            "job.ops_failed": failed / attempted,
            "job.steal_s": steal,
        })
        units = PER_LAYER
    else:
        algo = sum(j.algo_s for j in jobs)
        values = {
            "setup_s": setup,
            "job_s": _median([j.wall_s for j in jobs]),
            "edges_per_s": sum(j.edge_steps for j in jobs) / algo if algo else 0.0,
            "supersteps": _median([j.supersteps for j in jobs]),
            "peak_rss_mb": _median([j.peak_mb for j in jobs]),
            "cpu_s": _median([j.cpu_s for j in jobs]),
            "correct": correct,
        }
        units = E2E
    result = {
        "correct": correct == 1.0 and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": u}
            for k, u in units.items()
        },
    }
    return result, 0 if result["correct"] else 1


def _per_layer(jobs, span_sets, cores) -> dict:
    """Medians over traced jobs of each per-layer value."""
    from instrument import self_times

    per_job = []
    for job, spans in zip(jobs, span_sets):
        v = dict(job.layer)
        for name, secs in self_times(spans).items():
            key = f"{LAYER_OF[name]}.self_s"
            v[key] = v.get(key, 0.0) + secs
        for s in spans:
            key = f"{LAYER_OF[s['name']]}.failed_tasks"
            v[key] = v.get(key, 0) + s["failed_tasks"]
        for op in OPERATORS:
            mine = [s for s in spans if s["name"] == f"operators.{op}"]
            if not mine:
                continue
            wall = sum(s["end"] - s["start"] for s in mine)
            for k in ("jobs", "stages", "tasks"):
                v[f"operators.{op}.{k}"] = sum(s[k] for s in mine)
            v[f"operators.{op}.cpu_util"] = (
                sum(s["cpu_s"] for s in mine) / (wall * cores)
            )
        v["trace.spans"] = len(spans)
        per_job.append(v)
    keys = set().union(*per_job) if per_job else set()
    return {k: _median([v.get(k, 0.0) for v in per_job]) for k in keys}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(
        os.path.join(root, "graph_data_science_spark", "__init__.py")
    ):
        print(
            "run.py: graph_data_science_spark/ not found in the working "
            "directory; run from the repository root",
            file=sys.stderr,
        )
        return 2
    base = os.path.join(root, ".bench_run")
    run_dir = os.path.join(base, f"{args.workload}-{os.getpid()}")
    _prepare_env(run_dir)
    sys.path[:0] = [root, HERE]
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"run.py: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        shutil.rmtree(run_dir, ignore_errors=True)
        return 2
    os.environ.update(WORKLOADS[args.workload].env)
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(HARD_LIMIT_S)
    try:
        result, code = run(args, root, run_dir, os.path.join(base, "traces"))
    finally:
        signal.alarm(0)
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return code


if __name__ == "__main__":
    sys.exit(main())
