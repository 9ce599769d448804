"""Benchmark of the medallion entry points (``cli.main`` bronze, silver,
gold and stream), run from the root of a checkout:

    python3 perfbench/run.py --workload season_backfill --seed 1 --seconds 5 --trace 0

One run builds its inputs from ``--seed``, starts a SparkSession pinned to
``nproc`` cores, then repeats the workload's operation in a closed loop
until ``--seconds`` have passed (at least once). After the timed section
it runs the workload's correctness gate. The last line
of stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer ones
with ``--trace 1``). The line before it records the environment.

Everything the run writes stays under ``.bench_work/`` in the checkout;
its data directory is removed at exit, its JSON artifact is kept.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "aws_ipl_data_pipeline_spark"
WORKLOADS = ["season_backfill", "rescrape_refresh"]


def parse_args(argv=None):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def environment(spark, args, w) -> dict:
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "master": spark.sparkContext.master,
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark_version": spark.version,
        "pyspark_version": pyspark.__version__,
        "python_version": platform.python_version(),
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "generator": w.params.__dict__,
        "loadavg_start": os.getloadavg(),
    }


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def check_metric_names(root: str, metrics: dict, trace: int) -> None:
    """The printed metrics are exactly the ones BENCHMARK.json declares."""
    path = os.path.join(root, "BENCHMARK.json")
    with open(path) as f:
        declared = json.load(f)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        raise SystemExit(f"metrics differ from {path}: missing "
                         f"{sorted(set(want) - set(got))}, undeclared {sorted(set(got) - set(want))},"
                         f" unit changes {sorted(k for k in want if k in got and got[k] != want[k])}")


def run_untraced(w, args, workloads) -> tuple[dict, dict]:
    loop = workloads.timed_loop(w, args.seconds)
    metrics = {
        "op_p50_s": metric(statistics.median(loop["times"]), "s"),
        "files_written": metric(statistics.median(loop["files"]), "files"),
    }
    return loop, metrics


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"no {PACKAGE}/ package in {root}: run from the root of a checkout",
              file=sys.stderr)
        return 2
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-p{os.getpid()}"
    work = os.path.join(root, ".bench_work", run_id)
    sys.path[:0] = [root, HERE]
    import procs
    import sparkenv
    import workloads

    procs.adopt_orphans()
    procs.exit_on_sigterm()
    sparkenv.configure_env(root, work, nproc())
    if args.workload == "season_backfill":
        w = workloads.SeasonBackfill(f"{work}/data", args.seed)
    else:
        w = workloads.RescrapeRefresh(f"{work}/data", args.seed,
                                      os.path.join(root, ".bench_work"))
    current = [None]

    def restart(cpus: int):
        current[0] = sparkenv.restart_spark(current[0], work, cpus)
        return current[0]

    try:
        w.setup()
        t0 = time.perf_counter()
        spark = current[0] = sparkenv.start_spark(work)
        session_s = time.perf_counter() - t0
        env = environment(spark, args, w)
        setup_s = time.perf_counter() - T_START
        if args.trace:
            import traced

            loop, metrics = traced.run(spark, w, args, run_id, session_s, restart)
        else:
            loop, metrics = run_untraced(w, args, workloads)
            metrics["setup_s"] = metric(setup_s, "s")
            t_gate = time.perf_counter()
            loop["problems"] = w.gate(spark)
            env["gate_s"] = time.perf_counter() - t_gate
        check_metric_names(root, metrics, args.trace)
        problems = loop["problems"]
        retried = getattr(w, "retried_batches", lambda: 0)()
        attempted = len(loop["times"]) + 1
        failed = loop["failed"] + (1 if problems else 0) + retried
        env.update(loadavg_end=os.getloadavg(), gate_problems=problems,
                   op_times_s=loop["times"])
        artifacts = os.path.join(root, ".bench_work", "artifacts")
        os.makedirs(artifacts, exist_ok=True)
        with open(os.path.join(artifacts, f"{run_id}.json"), "w") as f:
            json.dump({"env": env, "metrics": metrics, "attempted": attempted,
                       "failed": failed, **loop.get("artifact", {})},
                      f, indent=1, default=str)
        for p in problems:
            print(f"gate: {p}", file=sys.stderr)
        print(json.dumps({"env": env}, default=str))
        print(json.dumps({"correct": not problems and failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        try:
            if current[0] is not None:
                sparkenv.stop_spark(current[0])
        finally:
            procs.stop_all()
            shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
