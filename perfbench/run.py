"""Benchmark entry point.

    python3 perfbench/run.py --workload {stream_dgim,batch_mixed} \\
        --seed N --seconds S --trace {0,1} [--trace-out FILE]

Run from the repository root.  ``--seed`` drives the traffic fixture
and the batch query order.  Inputs are built under a temporary
directory inside ``perfbench/.tmp`` (removed at exit); the run
starts one Spark session on ``local[nproc]``, warms up, measures about
``--seconds`` of closed-loop work, checks every output against a
reference outside the timed phase, and prints human-readable metric
lines followed by one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` tags
every Spark job by op, reads the status store between ops, keeps
spans in memory and reports the per-layer metrics instead.
``--trace-out`` writes every metric and the spans as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
#: fixed JVM heap, committed at start (-Xms) so the JVM's peak RSS
#: does not depend on when the collector chose to grow the heap
HEAP = "1g"


def _parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out")
    return ap.parse_args(argv)


def _start_spark(tmp: str, cores: int):
    from flink_window_dgim_traffic_spark.session import get_spark

    jvm_tmp = os.path.join(tmp, "jvm")
    os.makedirs(jvm_tmp)
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.driver.memory": HEAP,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms{HEAP} -Djava.io.tmpdir={jvm_tmp}"
            ),
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session and wait for the gateway JVM (and with it the
    Python workers it forked) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _fmt(v: float) -> str:
    return f"{v:.6g}"


def main(argv=None) -> int:
    t_start = time.perf_counter()
    args = _parse_args(argv)
    if not (
        os.path.isdir(os.path.join(REPO, "flink_window_dgim_traffic_spark"))
        and os.path.isfile(os.path.join(REPO, "__spark_entry__.py"))
    ):
        print(f"perfbench: no program to measure under {REPO}", file=sys.stderr)
        return 2
    sys.path.insert(0, REPO)
    sys.path.insert(0, HERE)
    import metrics as M
    import workloads as W

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    # Keep stdout for the result lines only: the JVM, Python workers
    # and library prints go to stderr.
    out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.stdout = sys.stderr

    base = os.path.join(HERE, ".tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=base)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(tmp, cores)
        get_spark_s = time.perf_counter() - t0
        tracer = W.Tracer(bool(args.trace))
        run = W.Run(
            spark=spark,
            repo=REPO,
            tmp=tmp,
            seed=args.seed,
            seconds=args.seconds,
            cores=cores,
            t_start=t_start,
            tracer=tracer,
            stats=W.StageStats(spark) if args.trace else None,
        )
        run.layers["session.get_spark_s"] = get_spark_s
        with tracer.span(f"workload:{args.workload}"):
            W.WORKLOADS[args.workload](run)
        run.layers["dgim.rel_err_max"] = run.notes.get("dgim_rel_err_max", 0.0)
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass

    led = run.ledger
    e2e = {n: M.metric(run.e2e[n], u) for n, u in W.END_TO_END}
    layers = {n: M.metric(run.layers.get(n, 0.0), u) for n, u in W.PER_LAYER}
    shown = e2e if not args.trace else layers
    extra = {
        "failed_frac": (led.failed_frac, "ratio"),
        "wrong_frac": (led.wrong_frac, "ratio"),
        "dgim_rel_err_max": (run.notes.get("dgim_rel_err_max", 0.0), "ratio"),
    }
    for name, m in shown.items():
        note = f"  ({run.notes['op_tail']})" if name == "op_tail_s" else ""
        print(f"{args.workload} {name} = {_fmt(m['value'])} {m['unit']}{note}", file=out)
    for name, (v, unit) in extra.items():
        print(f"{args.workload} {name} = {_fmt(v)} {unit}", file=out)
    print(
        f"{args.workload} checked {led.checked} outputs, {led.wrong} wrong; "
        f"{led.attempted} ops, {led.failed} failed",
        file=out,
    )
    for err in led.errors[:10]:
        print(f"{args.workload} error: {err[:300]}", file=out)
    if args.trace:
        for name, row in sorted(
            tracer.self_times().items(), key=lambda kv: -kv[1]["self_s"]
        ):
            print(
                f"{args.workload} span {name}: n={row['n']} "
                f"total={row['total_s']:.3f}s self={row['self_s']:.3f}s",
                file=out,
            )
    if args.trace_out:
        with open(args.trace_out, "w") as fh:
            json.dump(
                {
                    "workload": args.workload,
                    "seed": args.seed,
                    "seconds": args.seconds,
                    "trace": args.trace,
                    "cores": cores,
                    "end_to_end": e2e,
                    "per_layer": layers,
                    "checks": {k: v for k, (v, _) in extra.items()},
                    "op_tail": run.notes.get("op_tail"),
                    "span_self_times": tracer.self_times(),
                    "spans": tracer.dump(),
                },
                fh,
                indent=1,
            )
    print(M.result_line(led, shown), file=out)
    out.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
