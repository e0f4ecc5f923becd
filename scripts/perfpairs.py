#!/usr/bin/env python3
"""Alternating parent/change pairs of perfbench runs, each side in a fresh clone.

    python3 scripts/perfpairs.py --base <ref> --change <ref> \\
        --workload sync_trickle --seeds 201-210 [--seconds 10] \\
        [--scratch DIR] [--repo .]

Both refs are cloned from the repository into the scratch dir (default
./.perfpairs) and built once. Pair i runs `perfbench/run.py` with seed i
on both sides; the side that runs first alternates from pair to pair, so
a drift of the host's speed over the session lands on both sides alike.
For every end-to-end metric that BENCHMARK.json declares, the script
prints each side's median and quartiles, the number of pairs the change
won, and two verdicts: does the change win at least 9 of 10 pairs, and
does its median beat the parent's by more than the parent's
interquartile range. It exits non-zero if any run failed, reported a
failed operation, or was marked incorrect. Standard library only.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys


def log(msg):
    print(f"[perfpairs] {msg}", file=sys.stderr, flush=True)


def parse_seeds(text):
    """'201-210' or '3,5,8' (or a mix) -> list of ints."""
    out = []
    for part in text.split(","):
        if "-" in part:
            lo, hi = part.split("-", 1)
            out += range(int(lo), int(hi) + 1)
        elif part:
            out.append(int(part))
    return out


def checkout(repo, ref, dest):
    """A fresh clone of `repo` at `ref`, built once through run.py's own build step."""
    sha = subprocess.run(["git", "-C", repo, "rev-parse", "--verify", ref + "^{commit}"],
                         check=True, capture_output=True, text=True).stdout.strip()
    if os.path.exists(dest):
        sys.exit(f"perfpairs: {dest} exists; give an empty --scratch dir")
    subprocess.run(["git", "clone", "--quiet", "--no-checkout", repo, dest], check=True)
    subprocess.run(["git", "-C", dest, "checkout", "--quiet", sha], check=True)
    log(f"building {ref} ({sha[:10]}) in {dest}")
    subprocess.run([sys.executable, "-c",
                    "import sys; sys.path.insert(0, 'perfbench'); import run; run.classpath()"],
                   cwd=dest, check=True)
    return sha


def run_once(clone, workload, seed, seconds):
    """One run.py run; returns its JSON result, or None if it crashed."""
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
                       cwd=clone, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", required=True, help="parent ref")
    ap.add_argument("--change", required=True, help="change ref")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 201-210 or 3,5,8")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--scratch", default=".perfpairs")
    ap.add_argument("--repo", default=".")
    a = ap.parse_args()

    repo = os.path.abspath(a.repo)
    seeds = parse_seeds(a.seeds)
    if not seeds:
        sys.exit("perfpairs: no seeds")
    with open(os.path.join(repo, "BENCHMARK.json")) as f:
        e2e = json.load(f)["end_to_end"]
    scratch = os.path.abspath(a.scratch)
    os.makedirs(scratch, exist_ok=True)
    sides = {"parent": os.path.join(scratch, "parent"), "change": os.path.join(scratch, "change")}
    checkout(repo, a.base, sides["parent"])
    checkout(repo, a.change, sides["change"])

    runs = {"parent": [], "change": []}
    bad = []
    for i, seed in enumerate(seeds):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run_once(sides[side], a.workload, seed, a.seconds)
            if res is None or not res.get("correct") or res.get("failed", 0) > 0:
                bad.append((side, seed, res and {k: res.get(k) for k in ("correct", "attempted", "failed")}))
            values = {} if res is None else {k: v["value"] for k, v in res.get("metrics", {}).items()}
            runs[side].append(values)
            log(f"pair {i + 1}/{len(seeds)} seed {seed} {side}: "
                + " ".join(f"{m['name']}={values.get(m['name'], float('nan')):.3f}" for m in e2e))

    print(f"# {a.workload}: {len(seeds)} pairs, seeds {a.seeds}, {a.seconds:g} s runs, "
          f"parent {a.base} vs change {a.change}")
    for m in e2e:
        name, lower = m["name"], m["better"] == "lower"
        pairs = [(p[name], c[name]) for p, c in zip(runs["parent"], runs["change"])
                 if name in p and name in c]
        if not pairs:
            print(f"{name}: no complete pairs")
            continue
        par = sorted(p for p, _ in pairs)
        chg = sorted(c for _, c in pairs)
        (pq1, pmed, pq3), (cq1, cmed, cq3) = quartiles(par), quartiles(chg)
        wins = sum(1 for p, c in pairs if (c < p if lower else c > p))
        gap = (pmed - cmed) if lower else (cmed - pmed)
        iqr = pq3 - pq1
        print(f"{name} ({m['unit']}, {m['better']} is better)")
        print(f"  parent median {pmed:.3f} (quartiles {pq1:.3f}-{pq3:.3f})")
        print(f"  change median {cmed:.3f} (quartiles {cq1:.3f}-{cq3:.3f})")
        print(f"  change won {wins} of {len(pairs)} pairs; "
              f"wins >= 9/10: {'yes' if wins >= 0.9 * len(pairs) else 'no'}; "
              f"median gap {gap:+.3f} vs parent IQR {iqr:.3f}: "
              f"{'exceeds' if gap > iqr else 'does not exceed'}")
    for side, seed, res in bad:
        print(f"FAILED run: {side} seed {seed}: {res}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
