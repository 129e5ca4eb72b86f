"""The measurement CLI: paired A/B timing, query-result dumps and diffs.

CPU-steal noise on a shared host comes in minutes-long episodes of up to ~5x
(BENCH/BASELINE.md), so two runs half an hour apart are not comparable. An
A/B therefore alternates runs of a ``--ref`` snapshot (A, default HEAD) and
of the working tree (B), A first in even rounds and B first in odd ones, and
prints per metric A's median and quartiles, B's median and the pairs B won
(lower; a tie counts for neither) on stderr, then one JSON line on stdout.

  ab_bench.py --perfbench WORKLOAD [--seed 1] [--rounds 3] [--seconds 8] [--ref HEAD]
  ab_bench.py --queries q1,q2 [--iters 2] [--rounds 3] [--ref HEAD] [--plans DIR]
  ab_bench.py --side TREE [--queries q1,q2] [--iters 2] [--plans DIR]
  ab_bench.py --dump OUT.pkl [--side TREE] [--queries q1,q2]
  ab_bench.py --diff A.pkl B.pkl

``--perfbench`` runs ``perfbench/run.py --trace 0`` and also prints each
run's ``correct``/``failed``. ``--queries`` times each query with the noop
sink (a round's value is the median of ``--iters`` runs) and reports Spark
job and task counts. ``--side`` runs that query loop once, in this process,
on TREE (default: the working tree). ``--dump`` pickles every query's rows
instead, canonicalized (sorted columns, rows sorted by repr, so any bit-level
change shows); ``--diff`` compares two dumps, exit 1 if they differ.
``--plans DIR`` writes formatted plans to ``DIR/<query>.txt`` (``DIR/a``,
``DIR/b`` in an A/B). Query modes need ``SPARK_GRAFT_SF_DIR`` and read
``SPARK_GRAFT_CPUS`` (default 32), as ``bench.py`` does.

Each side runs its own tree's engine, ``__spark_entry__`` and ``perfbench/``;
the harness is always the working tree's. Only ``--plans`` and ``--dump``
write files, where they are told to; perfbench keeps its files in the
checkout's ignored ``.perfbench_tmp/``, and no bytecode is written.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

sys.dont_write_bytecode = True

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD_ENV = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")


def paired_summary(a: list[float], b: list[float]) -> dict:
    """A's median and quartiles, B's median, and the pairs B won (lower;
    ties count for neither side)."""
    q1, a_med, q3 = statistics.quantiles(a, n=4, method="inclusive") if len(a) > 1 else a * 3
    return {
        "a_median": round(a_med, 3), "a_q1": round(q1, 3), "a_q3": round(q3, 3),
        "b_median": round(statistics.median(b), 3),
        "b_wins": sum(y < x for x, y in zip(a, b)), "pairs": len(a),
        "a": [round(x, 3) for x in a], "b": [round(y, 3) for y in b],
    }


def report(name: str, a: list[float], b: list[float]) -> dict:
    m = paired_summary(a, b)
    print(f"{name}: A median {m['a_median']} (q1 {m['a_q1']}, q3 {m['a_q3']}) "
          f"B median {m['b_median']}, B won {m['b_wins']}/{m['pairs']}", file=sys.stderr)
    return m


def snapshot(ref: str) -> str:
    """A temp dir holding ``git archive ref``."""
    snap = tempfile.mkdtemp(prefix="ab_ref_")
    subprocess.run(f"git -C {REPO} archive {ref} | tar -x -C {snap}", shell=True, check=True)
    return snap


def alternate(ref: str, rounds: int, run) -> dict[str, list[dict]]:
    """``run(side, tree, round)`` for sides a (the ``ref`` snapshot) and b
    (the working tree), alternating which runs first; each side's results."""
    snap = snapshot(ref)
    print(f"A = {ref} snapshot at {snap}; B = working tree {REPO}", file=sys.stderr)
    runs: dict[str, list[dict]] = {"a": [], "b": []}
    order = (("a", snap), ("b", REPO))
    try:
        for r in range(rounds):
            # alternate which side runs first, so neither always runs warm
            for side, tree in order if r % 2 == 0 else order[::-1]:
                runs[side].append(run(side, tree, r))
    finally:
        shutil.rmtree(snap, ignore_errors=True)
    return runs


def last_json(out: subprocess.CompletedProcess, what: str) -> dict:
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise RuntimeError(f"{what} failed (exit {out.returncode})")
    return json.loads(lines[-1])


def perfbench_ab(args) -> None:
    def run(side, tree, r):
        out = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.perfbench,
             "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0"],
            cwd=tree, env=CHILD_ENV, capture_output=True, text=True, timeout=600,
        )
        res = last_json(out, f"perfbench/run.py in {tree}")
        vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
        print(f"round {r} {side.upper()}: correct={res['correct']} "
              f"failed={res['failed']} {vals}", file=sys.stderr)
        return res

    runs = alternate(args.ref, args.rounds, run)
    metrics = {
        metric: report(metric, *[[x["metrics"][metric]["value"] for x in runs[s]] for s in "ab"])
        for metric in runs["a"][0]["metrics"]
    }
    print(json.dumps({
        "ref": args.ref, "workload": args.perfbench, "seed": args.seed,
        "seconds": args.seconds, "rounds": args.rounds, "metrics": metrics,
        "runs": {side: [{"correct": x["correct"], "failed": x["failed"]} for x in xs]
                 for side, xs in runs.items()},
    }))


def canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(repr(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out


def run_queries(tree: str, only: list[str], iters: int, dump: str | None,
                plans: str | None) -> dict:
    """One session, one loop over ``tree``'s queries: ``iters`` timed noop
    writes each, then (``dump``) its canonical rows and (``plans``) its
    formatted plan."""
    sys.path.insert(0, tree)
    import __spark_entry__ as em
    from wage_etl_spark.operators.caching import release_operator_caches
    from wage_etl_spark.session import get_spark

    sf_dir = os.environ["SPARK_GRAFT_SF_DIR"]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name="ab-bench", master=f"local[{cpus}]", shuffle_partitions=2 * cpus)
    spark.sparkContext.setLogLevel("ERROR")
    jsc = spark.sparkContext._jsc.sc()

    def tasks_since(j0: int) -> int:
        jobs = jsc.statusStore().jobsList(None)
        return sum(jobs.apply(i).numTasks() for i in range(jobs.size())
                   if jobs.apply(i).jobId() >= j0)

    qs = em.queries()
    if iters:  # warmup, as bench.py
        qs["cdc_validate_split"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    if only:
        qs = {k: qs[k] for k in only}
    if plans:
        os.makedirs(plans, exist_ok=True)
    out: dict = {}
    dumped: dict = {}
    for name, fn in qs.items():
        runs, jobs, tasks = [], None, None
        for _ in range(iters):
            release_operator_caches()
            j0 = int(jsc.dagScheduler().nextJobId())
            t0 = time.monotonic()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
            jobs, tasks = int(jsc.dagScheduler().nextJobId()) - j0, tasks_since(j0)
        if dump:
            df = fn(spark, sf_dir)
            dumped[name] = canon(df.columns, [tuple(r) for r in df.collect()])
        if plans:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            with open(os.path.join(plans, f"{name}.txt"), "w") as f:
                f.write(fn(spark, sf_dir)._jdf.queryExecution().explainString(mode))
        release_operator_caches()
        out[name] = {"s": round(statistics.median(runs), 3) if runs else None,
                     "runs": runs, "jobs": jobs, "tasks": tasks}
        print(f"{name}: runs={runs} jobs={jobs} tasks={tasks}"
              + (f" rows={len(dumped[name][1])}" if dump else ""), file=sys.stderr)
    if dump:
        with open(dump, "wb") as f:
            pickle.dump(dumped, f)
        print(f"wrote {dump} ({len(dumped)} queries)", file=sys.stderr)
    return {"tree": tree, "sf_dir": sf_dir, "iters": iters, "queries": out}


def queries_ab(args) -> None:
    def run(side, tree, r):
        cmd = [sys.executable, os.path.abspath(__file__), "--side", tree,
               "--queries", args.queries, "--iters", str(args.iters)]
        if args.plans and r == 0:
            cmd += ["--plans", os.path.join(os.path.abspath(args.plans), side)]
        # cwd outside both trees: imports resolve only through --side
        with tempfile.TemporaryDirectory(prefix="ab_cwd_") as cwd:
            out = subprocess.run(cmd, cwd=cwd, env=CHILD_ENV, capture_output=True,
                                 text=True, timeout=3600)
        res = last_json(out, f"query run in {tree}")
        print(f"round {r} {side.upper()}: "
              + " ".join(f"{q}={v['s']}" for q, v in res["queries"].items()), file=sys.stderr)
        return res

    runs = alternate(args.ref, args.rounds, run)
    queries = {}
    for q in runs["a"][0]["queries"]:
        m = report(q, *[[x["queries"][q]["s"] for x in runs[s]] for s in "ab"])
        for s in "ab":
            m[f"{s}_jobs"] = runs[s][-1]["queries"][q]["jobs"]
            m[f"{s}_tasks"] = runs[s][-1]["queries"][q]["tasks"]
        queries[q] = m
    print(json.dumps({"ref": args.ref, "rounds": args.rounds, "iters": args.iters,
                      "queries": queries}))


def diff(a_path: str, b_path: str) -> int:
    """Compare two ``--dump`` files; 0 if every query's rows are identical."""
    with open(a_path, "rb") as f:
        a = pickle.load(f)
    with open(b_path, "rb") as f:
        b = pickle.load(f)
    bad = 0
    for name in sorted(set(a) | set(b)):
        if name not in a or name not in b:
            print(f"MISSING {name}: only in {'a' if name in a else 'b'}")
            bad += 1
            continue
        (ca, ra), (cb, rb) = a[name], b[name]
        if ca != cb:
            print(f"COLS DIFFER {name}: {ca} vs {cb}")
            bad += 1
        elif ra != rb:
            n = sum(1 for x, y in zip(ra, rb) if x != y) + abs(len(ra) - len(rb))
            ex = next(((x, y) for x, y in zip(ra, rb) if x != y), ("len", "len"))
            print(f"ROWS DIFFER {name}: {len(ra)} vs {len(rb)} rows, {n} diffs; "
                  f"first: {ex[0][:200]!r} vs {ex[1][:200]!r}")
            bad += 1
    print("IDENTICAL" if bad == 0 else f"{bad} QUERIES DIFFER")
    return 0 if bad == 0 else 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    mode = ap.add_mutually_exclusive_group()
    mode.add_argument("--perfbench", metavar="WORKLOAD")
    mode.add_argument("--dump", metavar="OUT")
    mode.add_argument("--diff", nargs=2, metavar=("A", "B"))
    ap.add_argument("--queries", help="comma-separated query names (default: all)")
    ap.add_argument("--side", metavar="TREE", help="run the query loop on TREE only")
    ap.add_argument("--iters", type=int)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--plans", metavar="DIR")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args(argv)

    if args.diff:
        return diff(*args.diff)
    if args.perfbench:
        perfbench_ab(args)
        return 0
    if not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("query modes need SPARK_GRAFT_SF_DIR (the generated data directory)")
    if args.iters is None:
        args.iters = 0 if args.dump else 2
    if args.dump or args.side:
        only = [q for q in (args.queries or "").split(",") if q]
        plans = args.plans and os.path.abspath(args.plans)
        print(json.dumps(run_queries(os.path.abspath(args.side or REPO), only,
                                     args.iters, args.dump, plans)))
        return 0
    if not args.queries or args.iters < 1:
        ap.error("an A/B needs --queries and --iters >= 1 (or choose --perfbench, "
                 "--side, --dump or --diff)")
    queries_ab(args)
    return 0


if __name__ == "__main__":
    sys.exit(main())
