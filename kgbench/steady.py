"""Steadiness of the end-to-end metrics.

    python3 kgbench/steady.py run --workload linked --runs 10 [--first-seed 1] [--out FILE]
    python3 kgbench/steady.py compare FILE_A FILE_B

`run` runs kgbench/run.py --runs times, each with another seed, appends
every result line to FILE (default .bench_runs/<workload>.jsonl) and prints,
for each end-to-end metric of BENCHMARK.json, the median, the quartiles
(statistics.quantiles(n=4)) and the spread (q3 - q1) / median against the
metric's bound, setup_s included. `compare` takes two such files (two sets
of runs of the same code) and prints each metric's median drift against its
bound and the share of failed ops in each set. Both exit 1 if a metric is
outside its bound or a run's outputs failed the check (`correct` false).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(BENCH)


def spec():
    return json.load(open(os.path.join(REPO, "BENCHMARK.json")))


def load(path):
    return [json.loads(line) for line in open(path) if line.strip()]


def all_correct(results):
    return all(r["correct"] for r in results)


def summary(results):
    ok = True
    for m in spec()["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in results]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        within = spread <= m["bound"]
        ok &= within
        print(f"{m['name']:24s} median {med:12.4f} {m['unit']:9s} q1 {q1:12.4f} q3 {q3:12.4f} "
              f"spread {spread:6.3f} bound {m['bound']:.2f} "
              f"{'ok' if spread <= m['bound'] / 3 else 'ok (> bound/3)' if within else 'TOO WIDE'}")
    failed = sum(r["failed"] for r in results)
    attempted = sum(r["attempted"] for r in results)
    print(f"correct {all_correct(results)}  failed {failed}/{attempted}")
    return ok and all_correct(results)


def compare(a, b):
    ra, rb = load(a), load(b)
    ok = True
    for m in spec()["end_to_end"]:
        ma = statistics.median(r["metrics"][m["name"]]["value"] for r in ra)
        mb = statistics.median(r["metrics"][m["name"]]["value"] for r in rb)
        worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
        fine = worse <= m["bound"]
        ok &= fine
        print(f"{m['name']:24s} {ma:12.4f} -> {mb:12.4f}  worse by {worse:+.3f} "
              f"(bound {m['bound']:.2f}) {'ok' if fine else 'REGRESSION'}")
    share = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs) for rs in (ra, rb)]
    print(f"failed share {share[0]:.6f} vs {share[1]:.6f} {'ok' if share[0] == share[1] else 'DIFFERS'}")
    print(f"correct {all_correct(ra)} / {all_correct(rb)}")
    return ok and share[0] == share[1] and all_correct(ra) and all_correct(rb)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--out")
    c = sub.add_parser("compare")
    c.add_argument("a")
    c.add_argument("b")
    a = ap.parse_args()
    if a.cmd == "compare":
        sys.exit(0 if compare(a.a, a.b) else 1)
    out = a.out or os.path.join(REPO, ".bench_runs", f"{a.workload}.jsonl")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    seconds = str(spec()["run_seconds"])
    results = []
    for seed in range(a.first_seed, a.first_seed + a.runs):
        p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", a.workload,
                            "--seed", str(seed), "--seconds", seconds, "--trace", "0"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, cwd=REPO)
        if p.returncode != 0:
            sys.exit(f"run with seed {seed} failed ({p.returncode})")
        res = json.loads(p.stdout.strip().splitlines()[-1])
        results.append(res)
        with open(out, "a") as f:
            f.write(json.dumps(res) + "\n")
        print(f"seed {seed}: " + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
              flush=True)
    sys.exit(0 if summary(results) else 1)


if __name__ == "__main__":
    main()
