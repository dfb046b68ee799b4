"""Replication benchmark for ape_dts_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 --trace 0

Runs on a single driver process at ``local[N]`` (N = min(4, usable CPUs)),
prints a human-readable report (``# ...`` lines), then as its last line one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones, with ``--trace 1`` the
per-layer ones from a separate traced replay.  Scratch state lives under
``.perfbench_work/`` in the checkout.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time


def _process_age_s() -> float:
    """Seconds since this process started, from /proc (clock-tick resolution)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# name -> (unit, better)
E2E_METRICS = {
    "setup_s": ("s", "lower"),
    "apply_events_per_s": ("events/s", "higher"),
    "batch_commit_s_p50": ("s", "lower"),
    "snapshot_rows_per_s": ("rows/s", "higher"),
    "read_resolved_s": ("s", "lower"),
    "space_amp": ("ratio", "lower"),
    "peak_rss_mb": ("MB", "lower"),
}

# the query-library leaves of the traced run (perfbench/queries.py)
QUERY_LEAVES = [
    "dedup_minhash_lsh", "dedup_clusters", "corpus_pipeline", "corpus_decontam", "text_ppl_filter",
]

_S, _B, _N = ("s", "lower"), ("bytes", "lower"), ("count", "lower")
LAYER_METRICS = {
    "extract.rows": ("count", "higher"), "extract.bytes_in": _B, "extract.python_s": _S,
    "extract.kernel_mb_per_s": ("MB/s", "higher"),
    "driver.batches": ("count", "higher"), "driver.jobs_per_batch": _N,
    "driver.overhead_s": _S, "driver.position_s": _S,
    "snapshot.load_s": _S, "snapshot.chunks": ("count", "higher"), "snapshot.bytes_written": _B,
    "dedup.rows_in": ("count", "higher"), "dedup.rows_out": _N,
    "dedup.shuffle_write_bytes": _B, "dedup.task_skew": ("ratio", "lower"),
    "merge.s": _S, "merge.files_written": _N, "merge.bytes_written": _B, "merge.cpu_s": _S,
    "merge.spill_bytes": _B,
    "compact.runs": _N, "compact.s": _S, "compact.buckets_folded": _N,
    "compact.bytes_rewritten": _B, "compact.write_amp": ("ratio", "lower"),
    "read.s": _S, "read.files_scanned": _N, "read.shuffle_bytes": _B,
    "bookkeep.s": _S, "bookkeep.manifest_files": _N,
    "cidx.dedup_s": _S, "cidx.append_s": _S, "cidx.dropped": ("count", "higher"),
    "cidx.keys": _N, "cidx.bytes_read": _B,
    "ndidx.band_rows_s": _S, "ndidx.match_s": _S, "ndidx.append_s": _S,
    "ndidx.dropped": ("count", "higher"), "ndidx.docs": _N, "ndidx.match_bytes_read": _B,
    "ndidx.drops_per_candidate": ("ratio", "higher"),
    "spark.executor_run_s": _S, "spark.cpu_s": _S, "spark.fetch_wait_s": _S,
    "spark.failed_tasks": _N,
    "query.pass_s": _S,
    **{k: v for leaf in QUERY_LEAVES for k, v in (
        (f"query.{leaf}_s", _S), (f"query.{leaf}.shuffle_bytes", _B),
        (f"query.{leaf}.python_s", _S),
    )},
    "trace.wall_s": _S, "trace.fold_s": _S,
}


def host_info(work: str) -> dict:
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "nproc": os.cpu_count(),
        "usable_cpus": len(os.sched_getaffinity(0)),
        "mem_total_gb": round(mem_kb / 1024 / 1024, 1),
        "write_gbps": write_canary(work),
    }


def write_canary(work: str, threads: int = 4, mb_each: int = 64) -> float:
    """Parallel write-bandwidth canary (GB/s) inside the checkout, the same
    idea as ``bench.write_bw_canary``: a low value marks a host throttle
    window, so a slow run can be told apart from a slow engine."""
    buf = b"x" * (8 << 20)
    errors: list[OSError] = []

    def w(i: int) -> None:
        path = os.path.join(work, f"canary-{i}")
        try:
            with open(path, "wb") as fh:
                for _ in range(mb_each // 8):
                    fh.write(buf)
        except OSError as e:
            errors.append(e)
        finally:
            if os.path.exists(path):
                os.remove(path)

    ts = [threading.Thread(target=w, args=(i,)) for i in range(threads)]
    t0 = time.monotonic()
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    wall = time.monotonic() - t0
    return -1.0 if errors else threads * mb_each / 1024 / wall


def configure_env(root: str, work: str, cores: int) -> None:
    """Everything the session needs before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    # no hsperfdata file: the JVM would write it under /tmp, outside the
    # checkout.  A fixed young generation: with G1 sizing it adaptively, the
    # driver's peak RSS was bimodal (1.3 or 2.1 GB on the same workload,
    # depending on whether G1 chose to grow eden), so peak_rss_mb moved by
    # half between runs; with eden fixed, RSS growth is the data retained
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn256m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    # a quarter of host memory, at most 4g: the engine default (48g) is sized
    # for a 32-core host and would overcommit a small one
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal:")).split()[1])
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(4, mem_kb // 4 // 1024 // 1024))}g"


def start_spark(work: str, cores: int):
    from ape_dts_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def untraced_walls(results: str, workload: str, spec) -> list[float]:
    """Rep walls of the earlier untraced runs of this workload and size."""
    walls = []
    if os.path.isdir(results):
        for f in sorted(os.listdir(results)):
            if f.startswith(f"{workload}-n{spec.n_seed}x{spec.n_events}-") and f.endswith("-t0.json"):
                with open(os.path.join(results, f)) as fh:
                    a = json.load(fh)
                if a["spec"] == spec.__dict__ and not a["errors"]:
                    walls.extend(r["wall"] for r in a["rep_detail"])
    return walls


def main(argv: list[str] | None = None) -> int:
    age = _process_age_s()
    t_start = time.monotonic() - age
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size multiplier (the smoke tests use a tiny one)")
    ap.add_argument("--plant-corruption", action="store_true",
                    help="alter one row after the replay; the output check must fail")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(root, "ape_dts_spark")):
        print(f"perfbench: no ape_dts_spark package next to {here}", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import cdc

    if args.workload not in cdc.SPECS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(cdc.SPECS)}", file=sys.stderr)
        return 2
    spec = cdc.scaled(cdc.SPECS[args.workload], args.scale)

    work = os.path.join(root, ".perfbench_work")
    cores = min(4, len(os.sched_getaffinity(0)))
    configure_env(root, work, cores)
    host = host_info(os.environ["TMPDIR"])
    # per-process tables: a second run in the same checkout never collides
    run_dir = os.path.join(work, "runs", f"{args.workload}-{os.getpid()}")
    marks: dict = {"host": time.monotonic()}
    spark = start_spark(work, cores)
    marks["session"] = time.monotonic()
    try:
        cache = os.path.join(work, "inputs")
        paths = cdc.prepare_inputs(spark, cache, args.workload, spec, args.seed)
        marks["inputs"] = time.monotonic()
        jvm_pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
        res = cdc.run_workload(
            spark, spec, paths, run_dir, args.seconds,
            trace=bool(args.trace), plant=args.plant_corruption, marks=marks,
            pids=[os.getpid(), jvm_pid],
        )
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    after = res["after"]
    after["stop"] = time.monotonic()

    e2e = dict(res["e2e"])
    e2e["setup_s"] = marks["first_timed_call"] - t_start
    correct = res["failed"] == 0 and not res["errors"]
    lines = [
        f"workload={args.workload} seed={args.seed} local[{cores}] reps={res['reps']} "
        f"batches={res['batches']} events={res['events']} "
        f"n_seed={spec.n_seed} n_events={spec.n_events}",
        "host " + " ".join(f"{k}={v}" for k, v in host.items()),
        "setup " + " ".join(
            f"{k}={v - prev:.2f}s" for (k, v), prev in zip(
                marks.items(), [t_start] + list(marks.values())[:-1]
            )
        ),
        "after " + " ".join(
            f"{k}={v - prev:.2f}s" for (k, v), prev in zip(
                after.items(), [marks["first_timed_call"]] + list(after.values())[:-1]
            )
        ),
    ]
    for name, (unit, _) in E2E_METRICS.items():
        lines.append(f"{name} = {e2e[name]:.6g} {unit}")
    tail = res["batch_commit_s_tail"]
    lines.append(
        f"batch_commit_s_tail = {tail['value']:.6g} s at p{tail['percentile']:.0f} "
        f"of {res['batches']} batches" if tail else
        f"batch_commit_s_tail = n/a ({res['batches']} batches < 20)"
    )
    lines.append(f"error_rate = {res['failed'] / max(1, res['attempted']):.6g} "
                 f"({res['failed']} of {res['attempted']} ops)")
    for c in res["checks"]:
        detail = {k: v for k, v in c.items() if k not in ("name", "ok")}
        lines.append(f"check {c['name']}: {'ok' if c['ok'] else 'FAILED'} {json.dumps(detail)}")
    for e in res["errors"]:
        lines.append(f"error: {e}")
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, (u, _) in LAYER_METRICS.items()}
        untraced = untraced_walls(os.path.join(work, "results"), args.workload, spec)
        lines.append(
            f"trace overhead = {res['layers']['trace.wall_s'] - statistics.median(untraced):.6g} s "
            f"(traced rep wall - median untraced rep wall of {len(untraced)} runs)"
            if untraced else "trace overhead = n/a (no untraced run of this workload here yet)"
        )
        for a in res["batch_attribution"]:
            spans = " ".join(f"{k}={v:.3f}" for k, v in sorted(a["spans_s"].items()))
            lines.append(f"batch wall={a['wall_s']:.3f} {spans} overhead={a['overhead_s']:.3f}")
        for k, (u, _) in LAYER_METRICS.items():
            lines.append(f"{k} = {res['layers'][k]:.6g} {u}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, (u, _) in E2E_METRICS.items()}
    for line in lines:
        print("# " + line)

    out_dir = os.path.join(work, "results")
    os.makedirs(out_dir, exist_ok=True)
    artifact = {
        "args": vars(args), "spec": spec.__dict__, "host": host, "e2e": e2e,
        **{k: v for k, v in res.items() if k != "e2e"},
    }
    name = f"{args.workload}-n{spec.n_seed}x{spec.n_events}-s{args.seed}-t{args.trace}.json"
    with open(os.path.join(out_dir, name), "w") as fh:
        json.dump(artifact, fh, default=str)

    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
