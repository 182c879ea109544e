"""A/A steadiness report and parent-vs-change verdict for perfbench.

    # run every BENCHMARK.json workload on seeds 1..N (odd seeds form set
    # A, even seeds set B), appending each run's result line to a file
    python3 perfbench/aa.py run --runs 10 --out perfbench/.out/aa.jsonl

    # per workload and end-to-end metric: median and quartiles of all runs,
    # the spread (IQR / median) against the bound, each set's median, and
    # whether the two sets agree within the bound
    python3 perfbench/aa.py report perfbench/.out/aa.jsonl

    # parent vs change, runs paired by (workload, seed): the change wins a
    # metric when it is better in >= 9/10 of pairs and the medians differ
    # by more than the parent's IQR; "unresolved" when the parent's spread
    # exceeds the bound; otherwise "no change" or "worse" against the bound
    python3 perfbench/aa.py verdict parent.jsonl change.jsonl
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
BOUNDS = {m["name"]: m for m in SPEC["end_to_end"]}


def load(path):
    rows = [json.loads(l) for l in open(path) if l.strip()]
    return [r for r in rows if r.get("result")]


def quartiles(xs):
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def cmd_run(a):
    names = a.workloads or [w["name"] for w in SPEC["workloads"]]
    with open(a.out, "a") as out:
        # interleave workloads so a slow window of the machine is shared
        for seed in range(a.first_seed, a.first_seed + a.runs):
            for w in names:
                p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                                    "--workload", w, "--seed", str(seed)],
                                   cwd=ROOT, stdout=subprocess.PIPE, text=True)
                lines = p.stdout.strip().splitlines()
                res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
                ctx = next((json.loads(l.split(" ", 2)[2]) for l in lines
                            if l.startswith("[perfbench] context ")), {})
                out.write(json.dumps({"workload": w, "seed": seed, "rc": p.returncode,
                                      "contended": ctx.get("contended"),
                                      "cpu_probe_ms": ctx.get("cpu_probe_ms"),
                                      "result": res}) + "\n")
                out.flush()
                print(f"{w} seed={seed} rc={p.returncode} "
                      f"correct={res and res['correct']}", flush=True)


def values(rows, w, m, sets=None):
    return [r["result"]["metrics"][m]["value"] for r in rows
            if r["workload"] == w and (sets is None or r["seed"] % 2 == sets)]


def cmd_report(a):
    rows = load(a.file)
    lines = ["| workload | metric | n | median | q1 | q3 | spread | bound | "
             "set A median | set B median | B vs A | verdict |",
             "|---|---|---|---|---|---|---|---|---|---|---|---|"]
    ok = True
    for w in sorted({r["workload"] for r in rows}):
        for m, spec in BOUNDS.items():
            xs = values(rows, w, m)
            if len(xs) < 4:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med
            ma, mb = statistics.median(values(rows, w, m, 1)), statistics.median(values(rows, w, m, 0))
            worse = (mb - ma) / ma if spec["better"] == "lower" else (ma - mb) / ma
            steady = m == "setup_s" or spread <= spec["bound"]
            agree = worse <= spec["bound"]
            ok &= steady and agree
            verdict = ("ok" if steady and agree else
                       "UNSTEADY" if not steady else "SETS DISAGREE")
            if steady and m != "setup_s" and spread > spec["bound"] / 3:
                verdict += " (spread over bound/3)"
            lines.append(f"| {w} | {m} | {len(xs)} | {med:.6g} | {q1:.6g} | {q3:.6g} | "
                         f"{spread:.3f} | {spec['bound']} | {ma:.6g} | {mb:.6g} | "
                         f"{worse:+.3f} | {verdict} |")
        runs = [r for r in rows if r["workload"] == w]
        fails = [r for r in runs if not r["result"]["correct"]]
        busy = [r for r in runs if r.get("contended")]
        lines.append(f"| {w} | correct runs | {len(runs)} | "
                     f"{'all' if not fails else f'{len(fails)} incorrect'} | | | | | | | | |")
        lines.append(f"| {w} | contended runs | {len(runs)} | {len(busy)} | | | | | | | | |")
    print("\n".join(lines))
    print(f"\nspread = (q3 - q1) / median over all runs (statistics.quantiles, n=4); "
          f"'B vs A' = how much worse set B's median is than set A's.\n"
          f"A/A {'PASSES' if ok else 'FAILS'}: every spread (setup_s excepted) and every "
          f"set difference within its bound.")


def cmd_verdict(a):
    par, chg = load(a.parent), load(a.change)
    idx = {(r["workload"], r["seed"]): r for r in chg}
    for w in sorted({r["workload"] for r in par}):
        for m, spec in BOUNDS.items():
            pairs = [(r["result"]["metrics"][m]["value"],
                      idx[(w, r["seed"])]["result"]["metrics"][m]["value"])
                     for r in par if r["workload"] == w and (w, r["seed"]) in idx]
            if len(pairs) < 4:
                continue
            lower = spec["better"] == "lower"
            wins = sum((c < p) if lower else (c > p) for p, c in pairs)
            ps, cs = [p for p, _ in pairs], [c for _, c in pairs]
            q1, pm, q3 = quartiles(ps)
            cm = statistics.median(cs)
            spread = (q3 - q1) / pm
            worse = (cm - pm) / pm if lower else (pm - cm) / pm
            if wins >= 0.9 * len(pairs) and abs(cm - pm) > q3 - q1:
                v = "BETTER"
            elif spread > spec["bound"] and not all(
                    (c < min(ps)) if lower else (c > max(ps)) for c in cs):
                v = "unresolved (parent spread over bound)"
            elif worse > spec["bound"]:
                v = "WORSE"
            else:
                v = "no change within bound"
            print(f"{w:16s} {m:28s} pairs={len(pairs):2d} wins={wins:2d} parent={pm:.6g} "
                  f"change={cm:.6g} ({-worse:+.3f}) -> {v}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--runs", type=int, default=10)
    r.add_argument("--first-seed", type=int, default=1)
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--out", required=True)
    p = sub.add_parser("report")
    p.add_argument("file")
    v = sub.add_parser("verdict")
    v.add_argument("parent")
    v.add_argument("change")
    a = ap.parse_args()
    {"run": cmd_run, "report": cmd_report, "verdict": cmd_verdict}[a.cmd](a)


if __name__ == "__main__":
    main()
