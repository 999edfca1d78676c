"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Prints one line per figure (name, value,
unit, sample count), the correctness verdict, and as its last line one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics untraced, the per-layer metrics traced). A traced run
also writes its spans to ``.perfbench/out/``. Scratch state lives under
``.perfbench/work/`` and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CONFIG = os.path.join(HERE, "config.json")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def stop_jvm(spark) -> None:
    """Stop Spark, then the gateway JVM this process launched (it exits
    when its stdin closes), and wait for it to end."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def end_to_end(kind: str, res: dict, figures: dict) -> dict:
    """The bounded metrics every workload reports (see README)."""
    from perfbench.common import median

    if kind == "stream":
        thr, op, aux = "ingest_rows_per_s", "batch_ms_p50", "read_ms_p50"
    else:
        thr, op, aux = "queries_per_s", "relational_geomean_ms", "llm_ops_geomean_ms"
    return {
        "setup_s": (median(res["setup_samples_s"]), "s"),
        "throughput_per_s": (figures[thr][0], "1/s"),
        "op_ms": (figures[op][0], "ms"),
        "aux_ms": (figures[aux][0], "ms"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(CONFIG) as f:
        cfg = json.load(f)
    params = cfg["workloads"].get(args.workload)
    if params is None:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "kafka_connect_bigquery_spark")):
        print("run from the repository root: the engine package is missing", file=sys.stderr)
        return 1
    sys.path[:0] = [root, os.path.dirname(HERE)]
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cache = os.path.join(base, "cache")
    os.makedirs(cache, exist_ok=True)

    from perfbench import common, layers
    from perfbench.trace import Tracer

    common.pin_environment(work)
    t = time.perf_counter()
    spark = common.start_spark(work, cfg["session"]["driver_memory"])
    session_s = time.perf_counter() - t
    info = common.versions(spark)
    tracer = Tracer(spark if args.trace else None)
    try:
        if args.trace:
            layers.install(tracer)
        repeats = int(cfg["session"]["setup_repeats"])
        if params["kind"] == "stream":
            from perfbench import stream

            res = stream.StreamRun(spark, args.workload, params, tracer).run(
                work, args.seed, args.seconds, repeats
            )
            figures = stream.summarize(res)
        else:
            from perfbench import querymix

            res = querymix.QueryMixRun(spark, params, tracer).run(
                work, args.seed, args.seconds, repeats, cache
            )
            figures = querymix.summarize(res, params["families"])
        jvm_pid = int(spark._jvm.ProcessHandle.current().pid())
        rss = common.vm_hwm_mb() + common.vm_hwm_mb(jvm_pid)
    finally:
        tracer.uninstall()
        stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)

    correct = res["error"] is None and res["failed"] == 0 and all(
        v for v in res["checks"].values() if isinstance(v, bool)
    )
    e2e = end_to_end(params["kind"], res, figures)
    print(f"# run {args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace}")
    print(f"# host {json.dumps(info)}")
    # the cold figures setup_s leaves out: session start, the first
    # (cold) set-up and the warm-up batch or pass
    print(f"# session_start_s {session_s:.3f} s n=1")
    print(f"# setup_cold_s {res['setup_samples_s'][0]:.3f} s n=1")
    print(f"# setup_s {e2e['setup_s'][0]:.4f} s n={len(res['setup_samples_s'])}")
    for name, (value, unit, n) in figures.items():
        print(f"# {name} {value:.4f} {unit} n={n}")
    print(f"# peak_rss_mb {rss:.1f} MB n=1")
    for key in ("batch_ms", "read_ms", "setup_samples_s"):
        if key in res:
            print(f"# samples {key} {[round(x, 1) for x in res[key]]}")
    print(f"# failed_share {res['failed'] / max(1, res['attempted']):.4f} ratio n={res['attempted']}")
    print(f"# checks {json.dumps(res['checks'])}")
    if res["error"]:
        print(f"# error {res['error']}")
    print(f"# verdict {'PASS' if correct else 'FAIL'}")

    if args.trace:
        per_layer, blocking = layers.metrics(tracer, res, params["kind"], info["nproc"])
        for op, layer, share in blocking:
            print(f"# blocking_share {layer} {share:.4f} of {op} wall")
        out_dir = os.path.join(base, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace_{args.workload}_seed{args.seed}.json")
        with open(path, "w") as f:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "host": info,
                    "figures": figures,
                    "per_layer": per_layer,
                    "blocking_shares": blocking,
                    "tracer_overhead_s": tracer.overhead_s,
                    "per_query_ms": res.get("per_query_ms"),
                    "spans": tracer.dump(),
                },
                f,
            )
        print(f"# trace written to {os.path.relpath(path, root)}")
        metrics = {n: {"value": v, "unit": layers.unit_of(n)} for n, v in per_layer.items()}
    else:
        metrics = {n: {"value": v, "unit": u} for n, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
