"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload sparse_tail --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end metrics
(setup_s, op_s_p50, query_s); ``--trace 1`` wraps the engine's public
calls in spans and prints the per-layer metrics instead, and writes the spans
to ``.perfbench_out/``. Every file a run creates lives in one temporary
directory under ``.perfbench_tmp/`` in the checkout, removed on exit. The exit
code is 0 only when every correctness check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import threading
import time

PROCESS_START = time.monotonic()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WATCHDOG_S = 170.0
WORKLOAD_NAMES = ("sparse_tail", "stream_tail", "query_suite", "dense_replay")


def _vmhwm_mb(pid: int | str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _session(tmp: str):
    from wage_etl_spark.session import get_spark

    cores = _cores()
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def measure(args, tmp: str) -> dict:
    import layers
    import workloads
    from tracing import Tracer

    t = time.monotonic()
    spark = _session(tmp)
    session_start_s = time.monotonic() - t
    try:
        jvm_pid = _jvm_pid()
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            layers.install(tracer)
        run = workloads.Run(
            spark=spark, tmp=tmp, data_dir=os.path.join(HERE, "data", "sf0.001"),
            seed=args.seed, seconds=args.seconds,
            scale=workloads.TINY if args.scale == "tiny" else workloads.FULL,
            tracer=tracer,
            rss=lambda: _vmhwm_mb("self") + (_vmhwm_mb(jvm_pid) if jvm_pid else 0.0),
        )
        out = workloads.WORKLOADS[args.workload](run)
        if not out.op_s:
            out.fail(f"{args.workload}: no operation completed")
        # process start to the first timed operation, less input generation
        setup_s = out.window["m0"] - PROCESS_START - out.gen_s
        if args.trace:
            tracer.restore()
            metrics = layers.compute(spark, tracer, out, session_start_s, setup_s, _cores())
            units = {k: v[0] for k, v in layers.METRICS.items()}
            os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
            tracer.dump(os.path.join(
                ROOT, ".perfbench_out", f"spans-{args.workload}-seed{args.seed}.json"
            ))
        else:
            metrics = {
                "setup_s": setup_s,
                "op_s_p50": statistics.median(out.op_s) if out.op_s else 0.0,
                "query_s": out.query_s,
            }
            units = dict.fromkeys(metrics, "s")
        workloads.log(
            f"{args.workload}: session start {session_start_s:.2f}s, setup {setup_s:.2f}s, "
            f"{len(out.op_s)} ops, op_s {[round(x, 3) for x in out.op_s]}, "
            f"query {out.query_s:.2f}s"
        )
    finally:
        _stop(spark)
    return {
        "correct": out.failed == 0,
        "attempted": max(1, int(out.attempted)),
        "failed": int(out.failed),
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the smoke check's inputs")
    args = ap.parse_args(argv)

    if not (os.path.isdir(os.path.join(ROOT, "wage_etl_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no wage_etl_spark sources under {ROOT}", file=sys.stderr)
        return 2

    # the engine's Python workers import wage_etl_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    parent = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(parent, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=parent)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    def cleanup() -> None:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass

    def abort() -> None:
        print(f"perfbench: run exceeded {WATCHDOG_S}s, aborting", file=sys.stderr, flush=True)
        pid = _jvm_pid()
        if pid:
            try:
                os.kill(pid, signal.SIGKILL)
                os.waitpid(pid, 0)
            except OSError:
                pass
        cleanup()
        os._exit(3)

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    watchdog = threading.Timer(WATCHDOG_S - (time.monotonic() - PROCESS_START), abort)
    watchdog.daemon = True
    watchdog.start()
    try:
        result = measure(args, tmp)
    finally:
        watchdog.cancel()
        cleanup()
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
