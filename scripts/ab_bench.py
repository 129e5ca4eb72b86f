"""Paired A/B bench harness for the optimization round.

Host CPU-steal noise on this box is low-frequency (minutes-long episodes,
up to ~5x — see BENCH/BASELINE.md): two bench runs half an hour apart are
not comparable, which round 5's verdict documented the hard way. This
harness therefore snapshots a git ref (default HEAD) to a temp dir and
ALTERNATES full bench_extra child runs A,B,A,B,... in one session window,
then reports per-query paired deltas (median of per-round B-A differences)
— each pair shares its noise episode, so the sign of the delta is robust
even when absolute seconds move 2x between rounds.

Usage:
  python scripts/ab_bench.py --queries q1,q2 --iters 2 --rounds 3 \
      [--ref HEAD] [--tag exp1]
  python scripts/ab_bench.py --perfbench stream_tail --seed 1 --rounds 5 \
      [--seconds 8] [--ref HEAD]

``--perfbench WORKLOAD`` alternates ``perfbench/run.py --trace 0`` runs of
the ref snapshot (A) and the working tree (B), A first in even rounds and B
first in odd ones. It prints, per end-to-end metric, A's median and
quartiles, B's median and the pairs B won (lower), plus every run's
``correct``/``failed``. It writes nothing under ``perfbench/`` (no bytecode
either); each run's files live in the checkout's own ``.perfbench_tmp/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_side(repo_dir: str, queries: str, iters: int, tag: str) -> dict:
    env = dict(os.environ)
    out = subprocess.run(
        [sys.executable, os.path.join(repo_dir, "bench_extra.py"),
         "--iters", str(iters), "--queries", queries, "--tag", tag],
        cwd=repo_dir, env=env, capture_output=True, text=True, timeout=3600,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise RuntimeError(f"bench_extra failed in {repo_dir}")
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("{")][-1]
    return json.loads(line)


def snapshot(ref: str) -> str:
    """A temp dir holding ``git archive ref``."""
    snap = tempfile.mkdtemp(prefix="ab_head_")
    subprocess.run(
        f"git -C {REPO} archive {ref} | tar -x -C {snap}",
        shell=True, check=True,
    )
    return snap


def run_perfbench(repo_dir: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``repo_dir``; its JSON result."""
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=repo_dir, env=env, capture_output=True, text=True, timeout=600,
    )
    lines = [ln for ln in out.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(out.stdout[-2000:] + out.stderr[-4000:])
        raise RuntimeError(f"perfbench/run.py printed no result in {repo_dir}")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) of ``xs``."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4, method="inclusive"))


def perfbench_ab(args) -> None:
    snap = snapshot(args.ref)
    print(f"A = {args.ref} snapshot at {snap}; B = working tree {REPO}", file=sys.stderr)
    runs: dict[str, list[dict]] = {"a": [], "b": []}
    try:
        for r in range(args.rounds):
            order = (("a", snap), ("b", REPO))
            # alternate which side runs first, so neither always runs warm
            for side, repo_dir in order if r % 2 == 0 else order[::-1]:
                res = run_perfbench(repo_dir, args.perfbench, args.seed, args.seconds)
                runs[side].append(res)
                vals = {k: round(v["value"], 3) for k, v in res["metrics"].items()}
                print(f"round {r} {side.upper()}: correct={res['correct']} "
                      f"failed={res['failed']} {vals}", file=sys.stderr)
    finally:
        shutil.rmtree(snap, ignore_errors=True)

    def values(side: str, metric: str) -> list[float]:
        return [x["metrics"][metric]["value"] for x in runs[side]]

    report = {}
    for metric in runs["a"][0]["metrics"]:
        a, b = values("a", metric), values("b", metric)
        q1, a_med, q3 = quartiles(a)
        report[metric] = {
            "a_median": round(a_med, 3), "a_q1": round(q1, 3), "a_q3": round(q3, 3),
            "b_median": round(statistics.median(b), 3),
            "b_wins": sum(y < x for x, y in zip(a, b)), "pairs": len(a),
            "a": [round(x, 3) for x in a], "b": [round(y, 3) for y in b],
        }
        m = report[metric]
        print(f"{metric}: A median {m['a_median']} (q1 {m['a_q1']}, q3 {m['a_q3']}) "
              f"B median {m['b_median']}, B won {m['b_wins']}/{m['pairs']}", file=sys.stderr)
    result = {
        "ref": args.ref, "workload": args.perfbench, "seed": args.seed,
        "seconds": args.seconds, "rounds": args.rounds, "metrics": report,
        "runs": {side: [{"correct": x["correct"], "failed": x["failed"]} for x in xs]
                 for side, xs in runs.items()},
    }
    print(json.dumps(result))


def main() -> None:
    ap = argparse.ArgumentParser()
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--queries")
    mode.add_argument("--perfbench", metavar="WORKLOAD")
    ap.add_argument("--iters", type=int, default=2)
    ap.add_argument("--rounds", type=int, default=3)
    ap.add_argument("--ref", default="HEAD")
    ap.add_argument("--tag", default="ab")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    args = ap.parse_args()
    if args.perfbench:
        perfbench_ab(args)
        return

    snap = snapshot(args.ref)
    # the harness itself must be identical on both sides (the snapshot may
    # carry an older bench_extra)
    subprocess.run(
        ["cp", os.path.join(REPO, "bench_extra.py"), snap], check=True
    )
    print(f"A = {args.ref} snapshot at {snap}; B = working tree {REPO}",
          file=sys.stderr)

    a_runs, b_runs = [], []
    for r in range(args.rounds):
        a = run_side(snap, args.queries, args.iters, f"{args.tag}_a{r}")
        b = run_side(REPO, args.queries, args.iters, f"{args.tag}_b{r}")
        a_runs.append(a)
        b_runs.append(b)
        for q in a["queries"]:
            am, bm = a["queries"][q]["min"], b["queries"][q]["min"]
            print(f"round {r}: {q}: A={am} B={bm} delta={round(bm-am,3)}",
                  file=sys.stderr)

    report = {}
    for q in a_runs[0]["queries"]:
        deltas = [
            b["queries"][q]["min"] - a["queries"][q]["min"]
            for a, b in zip(a_runs, b_runs)
        ]
        report[q] = {
            "a_min": min(a["queries"][q]["min"] for a in a_runs),
            "b_min": min(b["queries"][q]["min"] for b in b_runs),
            "paired_delta_median": round(statistics.median(deltas), 3),
            "deltas": [round(d, 3) for d in deltas],
            "a_jobs": a_runs[-1]["queries"][q].get("jobs"),
            "b_jobs": b_runs[-1]["queries"][q].get("jobs"),
            "a_tasks": a_runs[-1]["queries"][q].get("tasks"),
            "b_tasks": b_runs[-1]["queries"][q].get("tasks"),
        }
    total = round(sum(v["paired_delta_median"] for v in report.values()), 3)
    result = {"ref": args.ref, "rounds": args.rounds, "iters": args.iters,
              "queries": report, "total_paired_delta": total}
    path = os.path.join(REPO, "BENCH", f"ab_{args.tag}.json")
    with open(path, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
