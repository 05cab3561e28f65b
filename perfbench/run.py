"""End-to-end benchmark of the search engine, with a traced per-layer run.

    python3 perfbench/run.py --workload serve|clean --seed N --seconds S --trace 0|1

Run from the repository root. The package is imported unmodified from the
root and driven through its public functions on local[--cores] Spark.

* ``serve``: a closed loop with one client over an index built in set-up
  (perfbench/serve.py).
* ``clean``: rounds of the near-duplicate / quality cleaning pipeline over
  fresh corpora (perfbench/clean.py).

Each run generates its inputs from ``--seed``, sets up, runs a warm-up,
then runs a fixed number of whole rounds: ``--seconds`` divided by the
workload's nominal round time. It checks the answers and prints a
report. Its last stdout line is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` they are its per-layer metrics, and a
per-layer metric of a layer the workload does not run reads 0. A traced
run writes its spans to .perfbench/spans-<workload>-seed<seed>.json and
compares its end-to-end numbers with the untraced run of the same seed,
whose numbers every untraced run leaves in .perfbench/e2e-*.json.
"""

from __future__ import annotations

import time

PROCESS_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

from spans import Tracer, host_iters, median  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "clean"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cores", type=int, default=2, help="local[N] Spark threads")
    return p.parse_args()


def start_spark(cores: int, work: str):
    """A local Spark session that keeps every file it writes under ``work``."""
    os.environ["TMPDIR"] = work
    # Python workers import the package from the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    from distributed_search_engine_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        cores=cores,
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": work,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
            # the status tracker must still know every job of a traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until its JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def timed_window(workload, tracer, seconds: float) -> list[dict]:
    """A fixed number of whole rounds, about ``seconds`` of operation time
    at the workload's nominal round length: every run of a workload does
    the same work, however fast the host is."""
    rounds: list[dict] = []
    for i in range(max(1, round(seconds / workload.round_s))):
        if i:
            workload.between_rounds()
        tracer.active = tracer.enabled
        first = len(tracer.ops)
        workload.round()
        tracer.active = False
        ops = tracer.ops[first:]
        for o in ops:
            o["round"] = i
        rounds.append({"ms": sum(o["ms"] for o in ops), "ops": ops})
    return rounds


def summarize(ops: list[dict]) -> dict:
    ms = [o["ms"] for o in ops]
    return {"n": len(ms), "p50_ms": median(ms), "ops_per_s": len(ms) / (sum(ms) / 1e3)}


def report(workload, tracer, rounds, setup_s, start_s, host) -> dict:
    """Print the human-readable report; return the metric values."""
    ops = [o for r in rounds for o in r["ops"]]
    e2e = summarize(ops)
    print(f"workload {workload.name}: {len(rounds)} rounds, {e2e['n']} operations")
    print(f"  setup_s {setup_s:.3f} s (session start {start_s:.3f} s)")
    steps = [o for o in tracer.ops if "round" not in o and o["ms"] > 100]
    print("    set-up steps: " + ", ".join(f"{o['kind']} {o['ms'] / 1e3:.2f} s" for o in steps))
    print(f"  p50_ms {e2e['p50_ms']:.3f} ms  (n={e2e['n']})")
    print(f"  ops_per_s {e2e['ops_per_s']:.4f} 1/s  (n={e2e['n']})")
    kinds = sorted({o["kind"] for o in ops})
    for kind in kinds:
        ms = sorted(o["ms"] for o in ops if o["kind"] == kind)
        print(f"    {kind:16s} p50 {median(ms):9.1f} ms  max {ms[-1]:9.1f} ms  n={len(ms)}")
    half = len(ops) // 2
    if half:
        a, b = summarize(ops[:half]), summarize(ops[half:])
        print(f"  warm-up check, first vs second half: p50_ms {a['p50_ms']:.1f} / {b['p50_ms']:.1f}, "
              f"ops_per_s {a['ops_per_s']:.3f} / {b['ops_per_s']:.3f}")
    print(f"  host busy-loop iterations before/after: {host[0]} / {host[1]}")
    print(f"  checks: {workload.checks} run, {len(workload.failed_checks)} failed")
    for what in workload.failed_checks[:20]:
        print(f"    FAILED {what}")
    for o in ops:
        if not o["ok"]:
            print(f"    ERROR {o['kind']}: {o['error']}")
    print(f"  answers: {json.dumps(workload.summary())}")
    return {"setup_s": setup_s, "p50_ms": e2e["p50_ms"], "ops_per_s": e2e["ops_per_s"]}


def trace_report(workload, tracer, rounds, values, start_s, host, args) -> dict:
    """Per-layer table, attribution and tracing overhead of a traced run."""
    tracer.count_jobs()
    tracer.write(os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.json"))
    ops = [o for r in rounds for o in r["ops"]]
    window_ms = sum(r["ms"] for r in rounds)
    attributed = tracer.attributed_ms({o["id"] for o in ops}) / window_ms
    print("per-layer spans (set-up and timed rounds):")
    print(f"  {'span':40s} {'calls':>6s} {'total ms':>10s} {'self ms':>10s}")
    for name, row in sorted(tracer.layer_table().items()):
        print(f"  {name:40s} {row['calls']:6d} {row['total_ms']:10.1f} {row['self_ms']:10.1f}")
    print(f"  timed window {window_ms:.1f} ms: {attributed:.1%} in named layer spans, "
          f"{window_ms * (1 - attributed):.1f} ms unattributed")
    instrument_ms = tracer.instrument_s * 1e3 / sum("group" in o for o in tracer.ops)
    print(f"  tracing overhead: {instrument_ms:.2f} ms of job-group calls per operation")
    try:
        with open(untraced_path(args)) as f:
            base = json.load(f)
        print("  traced minus untraced run of this seed: " + ", ".join(
            f"{k} {values[k] - base[k]:+.4g}" for k in base
        ))
    except FileNotFoundError:
        print(f"  no untraced run of seed {args.seed} to compare with")
    print(f"  spans written to .perfbench/spans-{args.workload}-seed{args.seed}.json")
    return {
        **workload.layer_metrics(),
        "session.start_s": start_s,
        "session.failed_tasks": sum(o.get("failed_tasks", 0) for o in tracer.ops),
        "trace.attributed_ratio": attributed,
        "trace.overhead_ms": instrument_ms,
        "host.iters_before": host[0],
        "host.iters_after": host[1],
    }


def untraced_path(args) -> str:
    return os.path.join(OUT_DIR, f"e2e-{args.workload}-seed{args.seed}.json")


def main() -> int:
    args = parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)
    sys.path.insert(0, ROOT)
    try:
        import distributed_search_engine_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the engine from {ROOT}: {exc}", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    host_before = host_iters()
    spark = None
    try:
        spark = start_spark(args.cores, work)
        start_s = time.time() - PROCESS_START
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        if args.workload == "serve":
            from serve import Serve as Workload
        else:
            from clean import Clean as Workload
        workload = Workload(spark, tracer, args.seed, work)
        tracer.active = tracer.enabled
        workload.setup()
        tracer.active = False
        setup_s = time.time() - PROCESS_START
        rounds = timed_window(workload, tracer, args.seconds)
        host = (host_before, host_iters())
        values = report(workload, tracer, rounds, setup_s, start_s, host)
        if args.trace:
            values = trace_report(workload, tracer, rounds, values, start_s, host, args)
        else:
            with open(untraced_path(args), "w") as f:
                json.dump(values, f)
        workload.close()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    wanted = declared["per_layer" if args.trace else "end_to_end"]
    ops = [o for r in rounds for o in r["ops"]]
    failed = sum(not o["ok"] for o in ops) + len(workload.failed_checks)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops) + workload.checks,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
            for m in wanted
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
