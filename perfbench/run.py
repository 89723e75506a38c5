"""Link-graph benchmark: one seeded workload per invocation.

    python3 perfbench/run.py --workload update_stream --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  Earlier
lines hold the run record (per-batch wall and plan-depth series, self
times).  Everything the run writes stays under <checkout>/.bench_work,
apart from the engine's own BSP scratch under /dev/shm, which it removes
at exit.  See perfbench/NOTES.md for what each workload is for.
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
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
WORKLOADS = ("cold_analytics", "update_stream")
DRIVER_MEM = "2g"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def check_checkout() -> None:
    """The benchmark drives the engine in the checkout it sits in."""
    needed = [
        os.path.join(ROOT, "BENCHMARK.json"),
        os.path.join(ROOT, "pagerank_cuda_dynamic_spark", "__init__.py"),
        os.path.join(ROOT, "tests", "oracle.py"),
    ]
    missing = [p for p in needed if not os.path.isfile(p)]
    if missing:
        sys.exit(f"perfbench: not a checkout of the engine, missing {missing}")


def declared_metrics(kind: str) -> dict[str, str]:
    """{name: unit} of the `end_to_end` or `per_layer` metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def isolate_scratch() -> None:
    """Point every temp/scratch location Spark and Python use at the
    checkout, before the JVM starts."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for every child
    process (JVM, Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.harness import tree_pids

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - escalate below
                proc.kill()
                proc.wait()
    deadline = time.time() + 30
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in tree_pids(os.getpid())[1:]:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while len(tree_pids(os.getpid())) > 1 and time.time() < deadline + 10:
        time.sleep(0.1)


def make_workload(name, spark, probe, seed, workdir):
    from perfbench.workloads import ColdAnalytics, UpdateStream

    if name == "cold_analytics":
        return ColdAnalytics(spark, probe, seed, workdir)
    return UpdateStream(spark, probe, seed)


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def growth(walls: list[float]) -> float:
    return statistics.median(walls[-3:]) / statistics.median(walls[:3])


def main(argv=None) -> int:
    args = parse_args(argv)
    check_checkout()
    isolate_scratch()

    from pagerank_cuda_dynamic_spark.session import get_spark
    from perfbench.harness import Probe, RssSampler, median

    sampler = RssSampler().start()
    # one core stays with the driver JVM and the Python driver: with every
    # core given to tasks, the BSP loop's spin barriers compete with the
    # driver and run-to-run spread grows several-fold (perfbench/NOTES.md)
    cpus = max(len(os.sched_getaffinity(0)) - 1, 1)
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"

    t_setup = time.perf_counter()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        # the BSP loop is one barrier stage with defaultParallelism tasks,
        # which must not exceed the local slots
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed, pre-touched heap keeps the JVM's share of peak_rss_mb
            # independent of when garbage collection runs
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    probe = Probe(spark, trace=bool(args.trace), run_id=run_id)
    probe.add("session.start_s", session_s)
    workdir = os.path.join(WORK, run_id)
    os.makedirs(workdir)
    workload = make_workload(args.workload, spark, probe, args.seed, workdir)
    try:
        prep = []
        # setup_s takes the median of repeated input builds
        for _ in range(workload.SETUP_REPEATS):
            t0 = time.perf_counter()
            workload.prepare()
            prep.append(time.perf_counter() - t0)
            log(f"prepare {prep[-1]:.2f}s")
        warm_trace, probe.trace = probe.trace, False
        t0 = time.perf_counter()
        workload.warm()
        warm_s = time.perf_counter() - t0
        log(f"session {session_s:.2f}s warm {warm_s:.2f}s")
        setup_s = session_s + median(prep) + warm_s

        probe.trace = warm_trace
        units = []
        t_measure = time.perf_counter()
        while not units or time.perf_counter() - t_measure < args.seconds:
            try:
                unit = workload.run_unit()
            except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
                traceback.print_exc()
                unit = {"error": True, "attempted": 1, "failed": 1}
            units.append(unit)
            log(f"unit {unit.get('unit_s', float('nan')):.2f}s")
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    peak_mb = sampler.stop()

    attempted = sum(u["attempted"] for u in units)
    failed = sum(u["failed"] for u in units)
    good = [u for u in units if "error" not in u]
    if not good:
        sys.exit("perfbench: every measured unit raised")

    record = {
        "run": run_id,
        "setup_prepare_s": prep,
        "setup_warm_s": warm_s,
        "inputs_sha256": workload.inputs_digest,
        "graph": {"vertices": workload.n, "edges": workload.n_edges},
        "units": [
            {"unit_s": u.get("unit_s"), "updates": u.get("updates"),
             "batch_walls_s": u.get("op_walls"), "plan_depths": u.get("depths")}
            for u in units
        ],
    }
    if args.trace:
        record["self_time_s"] = probe.self_times()
        probe.write_spans(os.path.join(WORK, f"spans-{run_id}.json"))
        values = layer_metrics(probe, good)
        declared = declared_metrics("per_layer")
    else:
        walls = [w for u in good for w in u["op_walls"]]
        values = {
            "setup_s": setup_s,
            "analytics_s": median([u["unit_s"] for u in good]),
            "update_latency_p50_s": median(walls),
            "edge_updates_per_s": sum(u["updates"] for u in good) / sum(walls),
            "peak_rss_mb": peak_mb,
        }
        declared = declared_metrics("end_to_end")
    print(json.dumps(record, indent=1))
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        # layers a workload bypasses report 0
        "metrics": {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in declared.items()},
    }
    print(json.dumps(result))
    return 0


def layer_metrics(probe, units) -> dict:
    from perfbench.harness import median

    values = {k: median(v) for k, v in probe.samples.items()}
    walls = [u["op_walls"] for u in units]
    if len(walls[0]) > 1:
        values["update.latency_growth"] = median([growth(w) for w in walls])
    values["trace.bookkeeping_s"] = probe.bookkeeping_s / len(units)
    values["trace.bookkeeping_share"] = probe.bookkeeping_s / sum(u["unit_s"] for u in units)
    return values


if __name__ == "__main__":
    sys.exit(main())
