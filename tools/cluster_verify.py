"""End-to-end multi-executor verification on a real standalone cluster.

The north rule demands ``spark-submit --py-files`` on a multi-executor
cluster; the throughput kernels keep their CSR blocks as side files, so
the one thing that can silently break off a single host is block-store
locality. This script proves the cluster story inside the sandbox by
standing up a REAL Spark standalone cluster — one master + two workers,
each worker with DISJOINT ``SPARK_LOCAL_DIRS`` and work dirs (the
in-sandbox stand-in for two hosts: nothing written to one worker's
local dirs is guaranteed visible through the other's) — and driving
``tools/submit_pagerank.py`` through actual ``spark-submit``:

1. **guard**: submitting WITHOUT a shared block dir must fail fast with
   the resolve_block_root error (no silent single-host store);
2. **run**: pagerank over a synthesized power-law edge table with
   ``--block-dir`` on a shared path + checkpointing; both workers must
   host an executor (checked via their app work dirs);
3. **resume**: re-run with a fresh checkpoint, SIGKILL the driver
   mid-convergence, re-submit the identical command, and require (a)
   the resumed run starts past iteration 1 (lineage gap) and (b) final
   scores are IDENTICAL to the uninterrupted run's (the kernel's
   deterministic combine order makes resumed results byte-equal);
4. **wcc/labelprop**: one fused-kernel run each on the same cluster.

Usage: python tools/cluster_verify.py [--repos 60000] [--keep]
Prints one JSON line; exit 0 iff every phase passed.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = "/tmp/gds-cluster"
MASTER_URL = "spark://127.0.0.1:7077"


def spark_home() -> str:
    import pyspark

    return os.path.dirname(os.path.abspath(pyspark.__file__))


def base_env() -> dict:
    env = dict(os.environ)
    env.pop("SPARK_GRAFT_BLOCK_DIR", None)
    env.pop("SPARK_GRAFT_LOCAL_DIR", None)
    env["SPARK_HOME"] = spark_home()
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_NO_DAEMONIZE"] = "1"
    return env


def spark_class(env: dict, *args: str, extra_env: dict | None = None,
                logfile: str | None = None) -> subprocess.Popen:
    e = dict(env)
    e.update(extra_env or {})
    out = open(logfile, "ab") if logfile else subprocess.DEVNULL
    return subprocess.Popen(
        [os.path.join(env["SPARK_HOME"], "bin", "spark-class"), *args],
        env=e,
        stdout=out,
        stderr=subprocess.STDOUT,
        cwd=ROOT,
    )


def wait_for(predicate, timeout: float, what: str) -> None:
    t0 = time.monotonic()
    while time.monotonic() - t0 < timeout:
        if predicate():
            return
        time.sleep(1.0)
    raise TimeoutError(f"timed out waiting for {what}")


def port_open(port: int) -> bool:
    import socket

    with socket.socket() as s:
        s.settimeout(0.5)
        return s.connect_ex(("127.0.0.1", port)) == 0


def make_edges(path: str, n_repos: int, seed: int = 7) -> int:
    """Deterministic power-law-ish directed edge table (src, dst, weight)
    written driver-side with pyarrow — no Spark needed."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    m = n_repos * 12
    src = rng.integers(0, n_repos, size=m)
    # zipf-flavored targets: popular repos attract most dependency edges
    dst = (rng.zipf(1.3, size=m) - 1) % n_repos
    keep = src != dst
    src, dst = src[keep], dst[keep]
    key = src * np.int64(n_repos) + dst
    uniq = np.unique(key)
    src_u = (uniq // n_repos).astype(np.int64)
    dst_u = (uniq % n_repos).astype(np.int64)
    w = np.ones(len(uniq), dtype=np.float64)
    pq.write_table(
        pa.table({"src": src_u, "dst": dst_u, "weight": w}), path
    )
    return len(uniq)


def submit(env: dict, *args: str, block_dir: str | None,
           logfile: str) -> subprocess.Popen:
    e = dict(env)
    if block_dir:
        e["SPARK_GRAFT_BLOCK_DIR"] = block_dir
    cmd = [
        os.path.join(env["SPARK_HOME"], "bin", "spark-submit"),
        "--master", MASTER_URL,
        "--deploy-mode", "client",
        "--py-files", os.path.join(ROOT, "gds_spark.zip"),
        "--total-executor-cores", "8",
        "--executor-cores", "4",
        "--executor-memory", "3g",
        "--conf", "spark.sql.shuffle.partitions=16",
        "--conf", "spark.sql.session.timeZone=UTC",
        "--conf", "spark.ui.enabled=false",
        os.path.join(REPO, "tools", "submit_pagerank.py"),
        *args,
    ]
    out = open(logfile, "ab")
    return subprocess.Popen(
        cmd, env=e, stdout=out, stderr=subprocess.STDOUT, cwd=ROOT
    )


def read_scores(spark_out_dir: str):
    import pyarrow.parquet as pq

    files = sorted(glob.glob(os.path.join(spark_out_dir, "*.parquet")))
    import pyarrow as pa

    t = pa.concat_tables([pq.read_table(f) for f in files])
    df = t.to_pandas().sort_values("id").reset_index(drop=True)
    return df


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--repos", type=int, default=60_000)
    ap.add_argument("--keep", action="store_true",
                    help="leave the cluster + dirs up on exit")
    args = ap.parse_args()

    shutil.rmtree(ROOT, ignore_errors=True)
    os.makedirs(ROOT, exist_ok=True)
    for d in ("shared", "w1", "w2", "w1/local", "w2/local", "logs", "out"):
        os.makedirs(os.path.join(ROOT, d), exist_ok=True)

    env = base_env()
    shutil.make_archive(
        os.path.join(ROOT, "gds_spark"), "zip", REPO,
        "graph_data_science_spark",
    )

    results: dict = {"repos": args.repos}
    procs: list[subprocess.Popen] = []
    ok = True

    def shutdown():
        for p in procs:
            try:
                p.send_signal(signal.SIGTERM)
            except OSError:
                pass
        for p in procs:
            try:
                p.wait(timeout=10)
            except Exception:
                try:
                    p.kill()
                except OSError:
                    pass

    try:
        # ---- cluster up -------------------------------------------------
        procs.append(spark_class(
            env,
            "org.apache.spark.deploy.master.Master",
            "-h", "127.0.0.1", "-p", "7077", "--webui-port", "8091",
            logfile=os.path.join(ROOT, "logs", "master.log"),
        ))
        wait_for(lambda: port_open(7077), 60, "master :7077")
        for i in (1, 2):
            wd = os.path.join(ROOT, f"w{i}")
            procs.append(spark_class(
                env,
                "org.apache.spark.deploy.worker.Worker",
                MASTER_URL, "-c", "4", "-m", "4g",
                "-d", wd, "--webui-port", str(8091 + i),
                extra_env={
                    # DISJOINT local dirs per worker: the two-host stand-in
                    "SPARK_LOCAL_DIRS": os.path.join(wd, "local"),
                    "SPARK_WORKER_DIR": wd,
                },
                logfile=os.path.join(ROOT, "logs", f"worker{i}.log"),
            ))

        edges = os.path.join(ROOT, "edges.parquet")
        n_edges = make_edges(edges, args.repos)
        results["edges"] = n_edges

        common = [
            "--edges", edges,
            "--max-iterations", "12",
            "--tolerance", "0",
            "--n-buckets", "32",
            "--chunk-size", "3",
        ]

        # ---- phase 1: guard — no shared block dir must fail fast --------
        p = submit(
            env, *common, "--output", os.path.join(ROOT, "out", "guard"),
            block_dir=None,
            logfile=os.path.join(ROOT, "logs", "guard.log"),
        )
        rc = p.wait(timeout=300)
        guard_log = open(os.path.join(ROOT, "logs", "guard.log")).read()
        results["guard_failed_fast"] = (
            rc != 0 and "SPARK_GRAFT_BLOCK_DIR" in guard_log
        )
        ok &= results["guard_failed_fast"]

        # ---- phase 2: clean run on the shared block dir -----------------
        shared = os.path.join(ROOT, "shared")
        out_a = os.path.join(ROOT, "out", "a")
        t0 = time.monotonic()
        p = submit(
            env, *common,
            "--output", out_a,
            "--checkpoint", os.path.join(shared, "ck_a"),
            block_dir=os.path.join(shared, "blocks"),
            logfile=os.path.join(ROOT, "logs", "run_a.log"),
        )
        rc = p.wait(timeout=900)
        results["run_sec"] = round(time.monotonic() - t0, 1)
        results["run_ok"] = rc == 0 and os.path.exists(
            os.path.join(out_a, "_SUCCESS")
        )
        ok &= results["run_ok"]
        # both workers must have hosted an executor
        ex1 = glob.glob(os.path.join(ROOT, "w1", "app-*", "*"))
        ex2 = glob.glob(os.path.join(ROOT, "w2", "app-*", "*"))
        results["executors_on_both_workers"] = bool(ex1) and bool(ex2)
        ok &= results["executors_on_both_workers"]

        # ---- phase 3: kill mid-run, resume, byte-compare ----------------
        out_b = os.path.join(ROOT, "out", "b")
        ck_b = os.path.join(shared, "ck_b")
        p = submit(
            env, *common,
            "--output", out_b,
            "--checkpoint", ck_b,
            block_dir=os.path.join(shared, "blocks_b"),
            logfile=os.path.join(ROOT, "logs", "run_b1.log"),
        )
        # wait until the first checkpointed iteration exists, then KILL
        # (chunk-size 3 over 12 iterations → the first complete state
        # appears with 9 supersteps still to run)
        def some_state() -> bool:
            return len(glob.glob(
                os.path.join(ck_b, "state", "iteration=*", "_SUCCESS")
            )) >= 1

        try:
            wait_for(some_state, 600, "mid-run checkpoint state")
            time.sleep(2.0)  # let the matching lineage rows land
            mid_kill = p.poll() is None
            p.kill()
            p.wait()
        except TimeoutError:
            mid_kill = False
            p.wait(timeout=60)
        results["killed_mid_run"] = mid_kill
        iters_done = sorted(
            int(d.rsplit("=", 1)[1]) for d in glob.glob(
                os.path.join(ck_b, "state", "iteration=*")
            )
        )
        results["checkpointed_iterations_at_kill"] = iters_done
        p = submit(
            env, *common,
            "--output", out_b,
            "--checkpoint", ck_b,
            block_dir=os.path.join(shared, "blocks_b"),
            logfile=os.path.join(ROOT, "logs", "run_b2.log"),
        )
        rc = p.wait(timeout=900)
        results["resume_ok"] = rc == 0 and os.path.exists(
            os.path.join(out_b, "_SUCCESS")
        )
        ok &= results["resume_ok"]
        # resumed run must have started past iteration 1: its lineage has
        # no iteration-1 row (appended lineage keeps run-1 rows, so check
        # the second run's log for the resume marker instead: iteration
        # rows below the first checkpointed iteration appear exactly once
        # per bucket across both logs)
        import pyarrow as pa
        import pyarrow.parquet as pq

        lineage = pa.concat_tables([
            pq.read_table(f) for f in glob.glob(
                os.path.join(ck_b, "lineage", "*.parquet")
            )
        ]).to_pandas()
        it1 = lineage[lineage["iteration"] == 1]
        results["resume_started_past_1"] = bool(
            mid_kill and len(it1) > 0
            and not it1["partition_id"].duplicated().any()
        )
        ok &= results["resume_started_past_1"]

        a = read_scores(out_a)
        b = read_scores(out_b)
        same = (
            len(a) == len(b)
            and (a["id"].to_numpy() == b["id"].to_numpy()).all()
            and (a["score"].to_numpy() == b["score"].to_numpy()).all()
        )
        results["resumed_scores_identical"] = bool(same)
        ok &= same

        # ---- phase 4: wcc + labelprop fused kernels on the cluster ------
        for algo in ("wcc", "labelprop"):
            out_d = os.path.join(ROOT, "out", algo)
            p = submit(
                env,
                "--algo", algo,
                "--edges", edges,
                "--max-iterations", "8",
                "--n-buckets", "32",
                "--chunk-size", "3",
                "--output", out_d,
                block_dir=os.path.join(shared, f"blocks_{algo}"),
                logfile=os.path.join(ROOT, "logs", f"run_{algo}.log"),
            )
            rc = p.wait(timeout=900)
            results[f"{algo}_ok"] = rc == 0 and os.path.exists(
                os.path.join(out_d, "_SUCCESS")
            )
            ok &= results[f"{algo}_ok"]

    finally:
        if not args.keep:
            shutdown()

    results["all_pass"] = bool(ok)
    print(json.dumps(results))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
