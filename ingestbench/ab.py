#!/usr/bin/env python3
"""Interleaved A/B of two commits on the ingest benchmark.

    python3 ingestbench/ab.py BASE NEW [--workloads json_poll,stress_mix]
                              [--pairs 10] [--seed 1000] [--seconds 10]

Both commits are checked out with `git worktree` into a temporary directory
(under /tmp unless --tmp says otherwise); the checkout this script runs from
is not touched. The benchmark directory of the checkout is copied over both
worktrees, so both sides run identical benchmark code. Each pair runs both
sides on the same seed, alternating which side goes first; pair i uses seed
--seed + i. Every run's full output is kept under the run directory.

For each workload and end-to-end metric it prints each side's median and
quartiles and the share of pairs NEW won (ties count for neither). A gain is
claimed only from at least ten pairs, when NEW wins at least 90% of them and
the medians differ by more than the distance between BASE's quartiles; a
median worse than BASE's by more than the metric's bound in BENCHMARK.json
is flagged.
"""
import argparse
import json
import pathlib
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = pathlib.Path(__file__).resolve().parent
BENCH_DIR = HERE.name


def git(*args, cwd):
    return subprocess.run(["git", *args], cwd=cwd, check=True, text=True,
                          stdout=subprocess.PIPE).stdout.strip()


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def add_worktree(repo, rev, path):
    git("worktree", "add", "--detach", str(path), rev, cwd=repo)
    shutil.rmtree(path / BENCH_DIR, ignore_errors=True)
    shutil.copytree(HERE, path / BENCH_DIR, ignore=shutil.ignore_patterns(
        "target", "work", "__pycache__", "project/project"))
    shutil.copy2(HERE.parent / "BENCHMARK.json", path / "BENCHMARK.json")


def run(side_dir, workload, seed, seconds, log_path):
    cmd = [sys.executable, f"{BENCH_DIR}/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=side_dir, text=True, stdout=subprocess.PIPE,
                          stderr=subprocess.STDOUT)
    log_path.write_text(proc.stdout)
    for line in reversed(proc.stdout.splitlines()):
        if line.startswith("{"):
            res = json.loads(line)
            if proc.returncode == 0 and res.get("correct"):
                return {k: v["value"] for k, v in res["metrics"].items()}
    raise RuntimeError(f"run failed (exit {proc.returncode}), see {log_path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("base")
    ap.add_argument("new")
    ap.add_argument("--workloads", default=None,
                    help="comma-separated; default: the workloads of BENCHMARK.json")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--tmp", default="/tmp")
    args = ap.parse_args()

    repo = pathlib.Path(git("rev-parse", "--show-toplevel", cwd=HERE))
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    seconds = args.seconds or spec["run_seconds"]
    better = {m["name"]: (m["better"], m["bound"]) for m in spec["end_to_end"]}

    root = pathlib.Path(tempfile.mkdtemp(prefix="ingestbench-ab-", dir=args.tmp))
    sides = {"base": root / "base", "new": root / "new"}
    runs_dir = root / "runs"
    runs_dir.mkdir()
    print(f"[ab] worktrees and runs under {root}", flush=True)
    results = {w: {"base": [], "new": []} for w in workloads}
    try:
        add_worktree(repo, args.base, sides["base"])
        add_worktree(repo, args.new, sides["new"])
        for side, path in sides.items():
            print(f"[ab] building {side}", flush=True)
            subprocess.run([sys.executable, f"{BENCH_DIR}/run.py", "--build-only"],
                           cwd=path, check=True)
        with open(runs_dir / "runs.jsonl", "w") as out:
            for i in range(args.pairs):
                seed = args.seed + i
                order = ["base", "new"] if i % 2 == 0 else ["new", "base"]
                for w in workloads:
                    for side in order:
                        t0 = time.time()
                        m = run(sides[side], w, seed, seconds,
                                runs_dir / f"{w}-seed{seed}-{side}.log")
                        results[w][side].append(m)
                        out.write(json.dumps({"pair": i, "seed": seed, "workload": w,
                                              "side": side, "first": order[0],
                                              "metrics": m}) + "\n")
                        out.flush()
                        print(f"[ab] pair {i} {w} {side}: {time.time() - t0:.0f} s", flush=True)
    finally:
        for path in sides.values():
            if path.exists():
                subprocess.run(["git", "worktree", "remove", "--force", str(path)], cwd=repo)
        subprocess.run(["git", "worktree", "prune"], cwd=repo)

    print(f"\n[ab] {args.base} (base) vs {args.new} (new), {args.pairs} pairs, seeds "
          f"{args.seed}..{args.seed + args.pairs - 1}")
    for w in workloads:
        print(f"\n{w}")
        print(f"  {'metric':<22}{'base q1/med/q3':>34}{'new q1/med/q3':>34}{'new won':>9}  verdict")
        for name, (direction, bound) in better.items():
            a = [r[name] for r in results[w]["base"]]
            b = [r[name] for r in results[w]["new"]]
            if not a or not b:
                continue
            wins = sum(1 for x, y in zip(a, b) if (y < x if direction == "lower" else y > x))
            qa, qb = quartiles(a), quartiles(b)
            share = wins / len(a)
            improved = qb[1] < qa[1] if direction == "lower" else qb[1] > qa[1]
            worse = (qb[1] - qa[1]) / qa[1] * (1 if direction == "lower" else -1) if qa[1] else 0.0
            if len(a) >= 10 and share >= 0.9 and improved and abs(qb[1] - qa[1]) > (qa[2] - qa[0]):
                verdict = "gain"
            elif worse > bound:
                verdict = f"worse by {worse:.1%} (bound {bound:.0%})"
            else:
                verdict = "within bound"
            print(f"  {name:<22}{'%.4g / %.4g / %.4g' % qa:>34}{'%.4g / %.4g / %.4g' % qb:>34}"
                  f"{share:>8.0%}  {verdict}")
    print(f"\n[ab] every run's output: {runs_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
