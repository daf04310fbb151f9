#!/usr/bin/env python3
"""Record benchmark runs and compare two sets of them.

  record  run every workload --runs times (one seed per run) in one
          checkout and append each run's summary to a JSONL file:
            python3 perfbench/compare.py record --out base.jsonl --runs 10
  pairs   alternate a base and a change checkout, pair by pair, the same
          seed on both sides and the side that runs first swapping every
          pair:
            python3 perfbench/compare.py pairs --base ../a --change ../b --out ab.jsonl
  report  summarize JSONL files: with one side, each metric's median,
          quartiles and spread against its bound; with two sides (a pairs
          file, or two record files), the comparison below.

Comparison rule, per workload and end-to-end metric:
  gain        the change wins >= 90% of the pairs (ties count for neither)
              and the medians differ by more than the base's quartile
              spread;
  worse       the change's median is worse than the base's by more than
              the metric's bound;
  unresolved  the base's own spread (quartile distance / median) exceeds
              the bound, unless every change run beats every base run;
  same        otherwise.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def load_spec(root=ROOT):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def environment():
    def cmd(*c):
        try:
            return subprocess.run(c, capture_output=True, text=True).stderr.strip().splitlines()[0]
        except (OSError, IndexError):
            return "unknown"
    sys.path.insert(0, HERE)
    import run  # noqa: E402
    jars = os.path.join(run.spark_home(), "jars")
    spark = sorted(f for f in os.listdir(jars) if f.startswith("spark-core"))
    return {"nproc": os.cpu_count(), "driver_heap": run.HEAP, "jdk": cmd("java", "-version"),
            "spark": spark[0].removesuffix(".jar") if spark else "unknown",
            "python": platform.python_version(), "machine": platform.machine()}


def one_run(checkout, workload, seed, seconds, trace=0):
    t0 = time.time()
    r = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True, timeout=1200)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-3000:])
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed ({r.returncode})")
    return json.loads(lines[-1]), time.time() - t0


def record(a):
    spec = load_spec(a.checkout)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    env = environment()
    with open(a.out, "a") as f:
        for i in range(a.runs):
            for w in workloads:
                res, wall = one_run(a.checkout, w, a.seed0 + i, a.seconds or spec["run_seconds"], a.trace)
                f.write(json.dumps({"side": "base", "workload": w, "seed": a.seed0 + i, "pair": i,
                                    "trace": a.trace, "wall_s": wall, "env": env, "result": res}) + "\n")
                f.flush()
                print(f"{w} seed {a.seed0 + i}: {json.dumps(res['metrics'])}", flush=True)


def pairs(a):
    spec = load_spec(a.base)
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    env = environment()
    with open(a.out, "a") as f:
        for i in range(a.runs):
            for w in workloads:
                order = [("base", a.base), ("change", a.change)]
                if i % 2:
                    order.reverse()
                for side, checkout in order:
                    res, wall = one_run(checkout, w, a.seed0 + i, spec["run_seconds"])
                    f.write(json.dumps({"side": side, "workload": w, "seed": a.seed0 + i, "pair": i,
                                        "wall_s": wall, "env": env, "result": res}) + "\n")
                    f.flush()
                print(f"pair {i} {w} done", flush=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def report(a):
    spec = load_spec()
    metrics = {m["name"]: m for m in spec["end_to_end"]}
    rows = []
    for i, path in enumerate(a.files):
        got = [json.loads(line) for line in open(path) if line.strip()]
        # two record files: the second set is compared against the first
        if i == 1 and len(a.files) == 2 and all(r["side"] == "base" for r in got):
            for r in got:
                r["side"] = "change"
        rows += got
    traced = [r for r in rows if r.get("trace")]
    rows = [r for r in rows if not r.get("trace")]
    sides = sorted({r["side"] for r in rows})
    bad = [r for r in rows if not r["result"]["correct"] or r["result"]["failed"]]
    for r in bad:
        print(f"! {r['side']} {r['workload']} seed {r['seed']}: correct={r['result']['correct']} "
              f"failed={r['result']['failed']}")
    for w in sorted({r["workload"] for r in rows}):
        print(f"\n== {w}")
        for name, m in metrics.items():
            by = {s: [r for r in rows if r["side"] == s and r["workload"] == w
                      and name in r["result"]["metrics"]] for s in sides}
            vals = {s: [r["result"]["metrics"][name]["value"] for r in rs] for s, rs in by.items()}
            if not all(vals.values()):
                continue
            lower = m["better"] == "lower"
            cells = []
            for s in sides:
                q1, q2, q3 = quartiles(vals[s])
                cells.append(f"{s} {q2:.4g} [{q1:.4g}, {q3:.4g}] n={len(vals[s])} "
                             f"spread {(q3 - q1) / q2 if q2 else 0:.3f}")
            line = f"  {name:<26} {m['unit']:<5} " + " | ".join(cells)
            if len(sides) == 1:
                q1, q2, q3 = quartiles(vals[sides[0]])
                spread = (q3 - q1) / q2 if q2 else 0.0
                steady = "steady" if spread < m["bound"] / 3 else (
                    "within bound" if spread <= m["bound"] else "UNSTEADY")
                line += f"  bound {m['bound']} -> {steady}"
            elif set(sides) == {"base", "change"}:
                line += "  " + verdict(by, name, m, lower)
            print(line)
        tw = [r for r in traced if r["workload"] == w]
        if tw:
            layer(tw, [r for r in rows if r["workload"] == w], spec)


def layer(traced, plain, spec):
    """Per-layer medians of traced runs, and the tracing overhead: the
    traced runs' CPU per op against the untraced runs'."""
    print(f"  per-layer medians over {len(traced)} traced runs:")
    for m in spec["per_layer"]:
        xs = [r["result"]["metrics"][m["name"]]["value"] for r in traced]
        print(f"    {m['name']:<40}{statistics.median(xs):>16.3f} {m['unit']}")
    t = statistics.median(r["result"]["metrics"]["trace.op_cpu_ms"]["value"] for r in traced)
    if plain:
        u = statistics.median(r["result"]["metrics"]["op_cpu_ms"]["value"] for r in plain)
        print(f"  tracing overhead: traced op CPU median {t:.1f} ms vs untraced {u:.1f} ms "
              f"-> {t - u:+.1f} ms ({(t - u) / u:+.1%})")


def verdict(by, name, m, lower):
    val = lambda r: r["result"]["metrics"][name]["value"]  # noqa: E731
    base = {r["pair"]: val(r) for r in by["base"]}
    change = {r["pair"]: val(r) for r in by["change"]}
    common = sorted(set(base) & set(change))
    better = (lambda c, b: c < b) if lower else (lambda c, b: c > b)
    wins = sum(better(change[p], base[p]) for p in common)
    bq1, bmed, bq3 = quartiles(list(base.values()))
    cmed = statistics.median(change.values())
    share = wins / len(common) if common else 0.0
    worse_by = ((cmed - bmed) if lower else (bmed - cmed)) / bmed if bmed else 0.0
    all_better = all(better(c, b) for c in change.values() for b in base.values())
    if share >= 0.9 and abs(cmed - bmed) > (bq3 - bq1) and not worse_by > 0:
        v = "gain"
    elif (bq3 - bq1) / bmed > m["bound"] and not all_better:
        v = "unresolved"
    elif worse_by > m["bound"]:
        v = "worse"
    else:
        v = "same"
    return f"wins {wins}/{len(common)} ({share:.0%}), change {-worse_by:+.1%} -> {v}"


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("record")
    r.add_argument("--out", required=True)
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--checkout", default=ROOT)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--seed0", type=int, default=1)
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, default=0)
    p = sub.add_parser("pairs")
    p.add_argument("--base", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workloads", nargs="*")
    p.add_argument("--seed0", type=int, default=1)
    q = sub.add_parser("report")
    q.add_argument("files", nargs="+")
    a = ap.parse_args()
    {"record": record, "pairs": pairs, "report": report}[a.cmd](a)


if __name__ == "__main__":
    main()
