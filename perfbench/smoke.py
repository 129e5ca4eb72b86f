"""Smoke check of the benchmark: every workload at tiny scale, untraced and
traced, plus the checks that do not need Spark.

    python3 perfbench/smoke.py            # from the checkout root, ~7 min on 4 cores

A run passes when it exits 0, its last stdout line is the result object with
``correct: true``, and its metric names are exactly BENCHMARK.json's
``end_to_end`` list (``--trace 0``) or ``per_layer`` list (``--trace 1``).
Workloads not listed in BENCHMARK.json print the same metric names.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]


def check_offline() -> None:
    import golden
    from workloads import SUITE, source_log

    # a wrong row set must be reported against the oracle digest
    assert golden.check(SUITE[0], ["user_id"], [(1,)]) is not None
    # the source log compacts every 10 batches into N.compact; entries in
    # both kinds of file must be mapped
    with tempfile.TemporaryDirectory() as ck:
        d = os.path.join(ck, "sources", "0")
        os.makedirs(d)

        def entries(batches):
            return "v1\n" + "".join(
                json.dumps({"path": f"file:///in/f{b}.parquet", "timestamp": 0,
                            "batchId": b}) + "\n"
                for b in batches
            )

        with open(os.path.join(d, "9.compact"), "w") as f:
            f.write(entries(range(10)))
        with open(os.path.join(d, "10"), "w") as f:
            f.write(entries([10]))
        with open(os.path.join(d, ".10.crc"), "w") as f:
            f.write("x")
        assert source_log(ck) == {f"f{b}.parquet": b for b in range(11)}, source_log(ck)


def check_run(workload: str, trace: int, bench: dict) -> None:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "3", "--trace", str(trace), "--scale", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"FAIL {workload} trace={trace}: exit {p.returncode}")
    res = json.loads(lines[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}, res.keys()
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1, res
    want = [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]
    assert sorted(res["metrics"]) == sorted(want), sorted(set(res["metrics"]) ^ set(want))
    print(f"ok {workload} trace={trace}", flush=True)


def main() -> None:
    check_offline()
    print("ok offline checks", flush=True)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    from run import WORKLOAD_NAMES

    for workload in WORKLOAD_NAMES:
        for trace in (0, 1):
            check_run(workload, trace, bench)


if __name__ == "__main__":
    main()
