"""Steadiness check of the benchmark on one commit.

    python3 rollbench/steady.py --runs 10 [--workloads catchup query_mix]
        [--trace] [--out steady.json]

Runs two sets of `--runs` runs per workload, alternating between the
sets run by run, each run with its own seed. For every workload and
end-to-end metric it prints each set's median and quartiles, the spread
(q3 - q1) / median and whether the two sets agree within the metric's
bound in BENCHMARK.json: each set's spread within the bound and the two
medians apart by no more than the bound, in either direction.
It also checks that both sets fail the same share of their ops, and
pools every op latency into a median and tail per workload. With
`--trace` it adds one traced run per workload and reports its per-layer
metrics and the tracing overhead against the untraced work_s.
"""
import argparse
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import stats  # noqa: E402


def run(workload, seed, seconds, trace):
    """One benchmark run; returns (result, op latencies)."""
    p = subprocess.run([sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=900)
    lines = p.stdout.decode().strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: run failed with code {p.returncode}")
    ops = next((json.loads(l[len("# op_s "):]) for l in lines if l.startswith("# op_s ")), [])
    return json.loads(lines[-1]), ops


def worse(metric, a, b):
    """How much worse b is than a, as a share of a (negative: better)."""
    return (a - b) / a if metric["better"] == "higher" else (b - a) / a


def main():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--out", default=None, help="write every run's figures here as JSON")
    a = ap.parse_args()

    sets = {w: ([], []) for w in a.workloads}
    ops = {w: [] for w in a.workloads}
    seed = 1
    for i in range(a.runs):
        for w in a.workloads:
            for s in ((0, 1) if i % 2 == 0 else (1, 0)):
                res, lat = run(w, seed, a.seconds, 0)
                seed += 1
                if not res["correct"]:
                    raise SystemExit(f"{w} seed {seed - 1}: output check failed")
                sets[w][s].append(res)
                ops[w] += lat
                print(f"{w} set {s + 1} run {i + 1}: " + ", ".join(
                    f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)

    report = {"runs": {w: [list(s) for s in sets[w]] for w in a.workloads}, "summary": {}}
    ok = True
    print()
    for w in a.workloads:
        print(f"== {w}")
        shares = {(r["failed"], r["attempted"]) for s in sets[w] for r in s}
        same_share = len({f / n for f, n in shares}) == 1
        ok &= same_share
        print(f"  failed/attempted: {sorted(shares)} -> {'same share' if same_share else 'DIFFERENT shares'}")
        summ = {}
        for m in spec["end_to_end"]:
            name = m["name"]
            vals = [[r["metrics"][name]["value"] for r in s] for s in sets[w]]
            (m1, a1, b1, sp1), (m2, a2, b2, sp2) = (stats.spread(v) for v in vals)
            drift = worse(m, m1, m2)
            agree = abs(drift) <= m["bound"] and max(sp1, sp2) <= m["bound"]
            ok &= agree
            summ[name] = {"set1": [m1, a1, b1, sp1], "set2": [m2, a2, b2, sp2],
                          "drift": drift, "bound": m["bound"], "agree": agree}
            print(f"  {name:12s} set1 {m1:10.4g} [{a1:.4g}, {b1:.4g}] spread {sp1:6.1%}"
                  f" | set2 {m2:10.4g} [{a2:.4g}, {b2:.4g}] spread {sp2:6.1%}"
                  f" | drift {drift:+6.1%} bound {m['bound']:.0%} {'ok' if agree else 'DISAGREE'}")
        pooled = stats.summarize(ops[w])
        summ["pooled_ops"] = pooled
        tail = (f", p{pooled['tail_pct']:g} {pooled['tail']:.4g} s" if pooled["tail"] is not None
                else " (under 40 ops: median alone)")
        print(f"  pooled op latency: {pooled['n']} ops, median {pooled['median']:.4g} s{tail}")
        report["summary"][w] = summ

    if a.trace:
        report["trace"] = {}
        for w in a.workloads:
            res, _ = run(w, 1000, a.seconds, 1)
            layer = {k: v["value"] for k, v in res["metrics"].items()}
            work = stats.spread([r["metrics"]["work_s"]["value"] for s in sets[w] for r in s])[0]
            overhead = layer["trace.work_s"] / work - 1.0
            selfs = {k: v for k, v in layer.items() if k.startswith("self.")}
            top = max(selfs, key=selfs.get)
            report["trace"][w] = {"layer": layer, "overhead": overhead, "largest_self": top}
            print(f"== {w} traced: overhead {overhead:+.1%} on work_s; largest self time {top} "
                  f"{selfs[top]:.3f} s/op of {sum(selfs.values()):.3f}")
            for k, v in sorted(layer.items()):
                if v:
                    print(f"  {k:34s} {v:.6g}")

    if a.out:
        with open(a.out, "w") as fh:
            json.dump(report, fh, indent=1)
    print("\nALL AGREE" if ok else "\nSOME DISAGREE")


if __name__ == "__main__":
    main()
