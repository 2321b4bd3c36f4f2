#!/usr/bin/env python3
"""Collect benchmark results and compare two sets of them.

  python3 perfbench/compare.py collect <out.jsonl> <workload> <seed>... [--seconds S] [--trace]
      runs run.py once per seed and appends {workload, seed, trace, result}
      lines to out.jsonl
  python3 perfbench/compare.py diff <base.jsonl> <change.jsonl>
      prints, per workload and metric, each side's median and quartiles,
      the pairs (same workload, seed and trace flag) each side won, and a
      verdict against the metric's bound in BENCHMARK.json: "worse" when
      the change's median is worse than the base's by more than the
      bound, "unresolved" when either side's quartile spread is wider
      than the bound (unless every change run beats every base run),
      else "within". Per-layer counts are shown as counts.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)
import stats  # noqa: E402


def collect(out, workload, seeds, seconds, trace):
    with open(out, "a") as fh:
        for seed in seeds:
            r = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                "--workload", workload, "--seed", str(seed),
                                "--seconds", str(seconds), "--trace", str(int(trace))],
                               cwd=ROOT, capture_output=True, text=True)
            if r.returncode != 0:
                sys.exit(f"{workload} seed {seed} failed:\n{r.stderr[-2000:]}")
            result = json.loads(r.stdout.strip().splitlines()[-1])
            fh.write(json.dumps({"workload": workload, "seed": seed, "trace": trace,
                                 "result": result}) + "\n")
            fh.flush()
            print(f"{workload} seed {seed}: correct={result['correct']}", flush=True)


def load(path):
    """{(workload, trace): {seed: metrics}}"""
    out = {}
    for line in open(path):
        if line.strip():
            r = json.loads(line)
            out.setdefault((r["workload"], r["trace"]), {})[r["seed"]] = r["result"]["metrics"]
    return out


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    return tuple(statistics.quantiles(xs, n=4))


def diff(base_path, change_path):
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    base, change = load(base_path), load(change_path)
    for key in sorted(set(base) & set(change)):
        b, c = base[key], change[key]
        print(f"== {key[0]} ({'traced' if key[1] else 'untraced'}): "
              f"{len(b)} base runs, {len(c)} change runs, {len(set(b) & set(c))} pairs")
        for name in sorted({m for r in list(b.values()) + list(c.values()) for m in r}):
            bv = [r[name]["value"] for r in b.values() if name in r]
            cv = [r[name]["value"] for r in c.values() if name in r]
            if not bv or not cv:
                continue
            m = spec.get(name, {})
            unit = next(iter(b.values()))[name]["unit"]
            if unit == "count":
                print(f"  {name:28s} count  base {statistics.median(bv):.0f}  "
                      f"change {statistics.median(cv):.0f}"
                      f"{'' if set(bv) == set(cv) and len(set(bv)) == 1 else '  (not repeating)'}")
                continue
            sign = -1 if m.get("better", "lower") == "lower" else 1
            won = [0, 0]
            for seed in set(b) & set(c):
                if name in b[seed] and name in c[seed]:
                    d = sign * (c[seed][name]["value"] - b[seed][name]["value"])
                    if d:
                        won[d < 0] += 1
            bq, cq = quartiles(bv), quartiles(cv)
            verdict = ""
            if "bound" in m:
                worse = sign * (cq[1] - bq[1]) / bq[1] < -m["bound"]
                wide = max(stats.spread(bv), stats.spread(cv)) > m["bound"] \
                    if len(bv) > 1 and len(cv) > 1 else True
                clear = min(sign * x for x in cv) > max(sign * x for x in bv)
                verdict = ("worse" if worse else
                           "unresolved" if wide and not clear else "within") + \
                    f" (bound {m['bound']:.0%})"
            print(f"  {name:28s} {unit:5s} base {bq[1]:.4g} [{bq[0]:.4g}, {bq[2]:.4g}]  "
                  f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                  f"pairs won base {won[1]} change {won[0]}  {verdict}")


def main():
    import argparse
    ap = argparse.ArgumentParser(description="collect and compare benchmark results")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("out")
    c.add_argument("workload")
    c.add_argument("seeds", type=int, nargs="+")
    c.add_argument("--seconds", type=float)
    c.add_argument("--trace", action="store_true")
    d = sub.add_parser("diff")
    d.add_argument("base")
    d.add_argument("change")
    a = ap.parse_args()
    if a.cmd == "collect":
        seconds = a.seconds or json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
        collect(a.out, a.workload, a.seeds, seconds, a.trace)
    else:
        diff(a.base, a.change)


if __name__ == "__main__":
    main()
