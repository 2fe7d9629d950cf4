"""Collect benchmark runs and compare sets of them.

    # run workloads over seeds; one JSON line per run
    python3 perfbench/compare.py run --out a.jsonl --seeds 1-10 [--workloads lookup,text] [--trace 0]
    # parent and change checkouts in pairs, alternating which runs first
    python3 perfbench/compare.py ab --parent ../parent --change . --seeds 1-10 --out-dir ab/
    # per (workload, metric): median, quartiles, spread against the bound
    python3 perfbench/compare.py spread a.jsonl
    # parent vs change: agree/disagree per metric, and the pairs rule
    python3 perfbench/compare.py diff ab/parent.jsonl ab/change.jsonl

`ab` refuses to run unless both checkouts hold the same BENCHMARK.json
and perfbench/, so both sides measure with identical benchmark code. `diff` pairs
runs by (workload, seed). A metric *agrees* when the
change's median is no worse than the parent's by more than the bound in
BENCHMARK.json. A *gain* is claimed only when the change wins at least
9 of 10 pairs (ties count for neither) and the medians differ by more
than the parent's interquartile range.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def seeds_of(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(root, workload, seed, trace, out):
    """One benchmark run of the program in checkout `root`, appended to `out`."""
    b = spec()
    t0 = time.monotonic()
    p = subprocess.run(b["command"] + [
        "--workload", workload, "--seed", str(seed),
        "--seconds", str(b["run_seconds"]), "--trace", str(trace)],
        cwd=root, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    # the host's share of CPU time during the loop, which latency here tracks
    steal = [float(line.split()[-1]) for line in p.stderr.splitlines()
             if line.startswith("loop steal ")]
    last = p.stdout.strip().split("\n")[-1] if p.stdout.strip() else ""
    try:
        result = json.loads(last)
    except ValueError:
        result = None
    rec = {"workload": workload, "seed": seed, "trace": trace, "exit": p.returncode,
           "wall_s": round(wall, 2), "steal": steal[0] if steal else None, "result": result}
    with open(out, "a") as f:
        f.write(json.dumps(rec) + "\n")
    short = {k: round(v["value"], 4) for k, v in (result or {}).get("metrics", {}).items()
             } if trace == 0 else "(per-layer)"
    print(f"{root}: {workload} seed={seed} exit={p.returncode} wall={wall:.1f}s "
          f"steal={rec['steal']} {short}", file=sys.stderr)
    if p.returncode != 0:
        print(p.stderr[-2000:], file=sys.stderr)


def workloads_of(a):
    return a.workloads.split(",") if a.workloads else [w["name"] for w in spec()["workloads"]]


def cmd_run(a):
    for seed in seeds_of(a.seeds):
        for w in workloads_of(a):
            run_one(ROOT, w, seed, a.trace, a.out)


def bench_digest(root):
    """Digest of a checkout's benchmark: BENCHMARK.json and perfbench/."""
    h = hashlib.sha256(open(os.path.join(root, "BENCHMARK.json"), "rb").read())
    base = os.path.join(root, "perfbench")
    for d, dirs, files in sorted(os.walk(base)):
        dirs[:] = sorted(x for x in dirs if x != "__pycache__")
        for f in sorted(files):
            h.update(os.path.relpath(os.path.join(d, f), base).encode())
            h.update(open(os.path.join(d, f), "rb").read())
    return h.hexdigest()


def cmd_ab(a):
    if bench_digest(a.parent) != bench_digest(a.change):
        print("the two checkouts hold different benchmark code: give both the same "
              "BENCHMARK.json and perfbench/ first", file=sys.stderr)
        return 2
    os.makedirs(a.out_dir, exist_ok=True)
    sides = [("parent", a.parent), ("change", a.change)]
    for i, seed in enumerate(seeds_of(a.seeds)):
        for w in workloads_of(a):
            for name, root in (sides if i % 2 == 0 else sides[::-1]):
                run_one(root, w, seed, 0, os.path.join(a.out_dir, f"{name}.jsonl"))


def load(path):
    runs = {}
    with open(path) as f:
        for line in f:
            r = json.loads(line)
            if r["result"] and r["trace"] == 0:
                runs.setdefault(r["workload"], {})[r["seed"]] = dict(
                    r["result"]["metrics"], steal={"value": r.get("steal") or 0.0})
    return runs


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def cmd_spread(a):
    bounds = {m["name"]: m for m in spec()["end_to_end"]}
    bad = 0
    for w, by_seed in sorted(load(a.runs).items()):
        steal = sorted(r["steal"]["value"] for r in by_seed.values())
        print(f"{w:8} host steal during the loops: min {steal[0]:.4f} "
              f"median {statistics.median(steal):.4f} max {steal[-1]:.4f}")
        for name, m in bounds.items():
            xs = [r[name]["value"] for r in by_seed.values() if name in r]
            if not xs:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med if med else float("inf")
            ok = name == "setup_s" or spread < m["bound"] / 3
            bad += not ok
            print(f"{w:8} {name:26} n={len(xs):2} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                  f"spread={spread:6.3f} bound/3={m['bound'] / 3:6.3f} {'ok' if ok else 'WIDE'}")
    return 1 if bad else 0


def cmd_diff(a):
    bounds = {m["name"]: m for m in spec()["end_to_end"]}
    parent, change = load(a.parent), load(a.change)
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        for name, m in bounds.items():
            ps = [parent[w][s][name]["value"] for s in seeds if name in parent[w][s]]
            cs = [change[w][s][name]["value"] for s in seeds if name in change[w][s]]
            if not ps or len(ps) != len(cs):
                continue
            lower = m["better"] == "lower"
            pq1, pmed, pq3 = quartiles(ps)
            _, cmed, _ = quartiles(cs)
            worse = (cmed - pmed) / pmed if lower else (pmed - cmed) / pmed
            agree = worse <= m["bound"]
            wins = sum((c < p) if lower else (c > p) for p, c in zip(ps, cs))
            gain = wins >= 0.9 * len(ps) and abs(cmed - pmed) > (pq3 - pq1)
            print(f"{w:8} {name:26} parent={pmed:12.4f} [{pq1:.4f}, {pq3:.4f}] change={cmed:12.4f} "
                  f"worse_by={worse:+.3f} bound={m['bound']} {'agree' if agree else 'DISAGREE'} "
                  f"wins={wins}/{len(ps)}{' GAIN' if gain else ''}")


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--out", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--workloads", default="")
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ab = sub.add_parser("ab")
    ab.add_argument("--parent", required=True)
    ab.add_argument("--change", required=True)
    ab.add_argument("--out-dir", required=True)
    ab.add_argument("--seeds", default="1-10")
    ab.add_argument("--workloads", default="")
    s = sub.add_parser("spread")
    s.add_argument("runs")
    d = sub.add_parser("diff")
    d.add_argument("parent")
    d.add_argument("change")
    a = ap.parse_args()
    return {"run": cmd_run, "ab": cmd_ab, "spread": cmd_spread, "diff": cmd_diff}[a.cmd](a) or 0


if __name__ == "__main__":
    sys.exit(main())
