"""Run two sets of benchmark runs of the current tree and compare them.

    python3 perfbench/compare.py

Set A uses seeds 1..10 and set B seeds 101..110, one run at a time,
on every workload of BENCHMARK.json. For each workload and end-to-end
metric it prints both sets' median and quartiles, the spread
(interquartile distance over the median), and whether the sets agree
within the metric's bound in BENCHMARK.json: each spread within the
bound, the two medians apart by no more than the bound (as a share of
set A's), and the same share of failed operations. Then two traced
runs of seed 1 per workload: their counts must repeat exactly, and
against set A's seed-1 run they give the tracing overhead. Raw
results are saved under ``perfbench/.out``, and the reference-figures
section of README.md is rewritten from them. Exits 1 when the sets
disagree.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEEDS = {"A": 1, "B": 101}
RUNS = 10      # per set and workload
TRACED = 2     # traced runs of seed 1 per workload
#: per-layer metrics that are counts and must repeat exactly
COUNT_SUFFIXES = ("_calls", ".rounds", ".jobs", ".stages", ".tasks",
                  "ram.reads", "graph.edges_plan_nodes", "graph.checkpoints")
START, END = ("<!-- reference-figures:start -->",
              "<!-- reference-figures:end -->")


def run_once(spec: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]),
                             "--trace", str(trace)]
    t = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=600)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["wall_s"] = time.perf_counter() - t
    print(f"  {workload} seed={seed} trace={trace} "
          f"wall={res['wall_s']:.1f}s attempted={res['attempted']} "
          f"failed={res['failed']} correct={res['correct']}", flush=True)
    return res


def quartiles(values: list[float]) -> tuple[float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def summarize(spec: dict, data: dict) -> tuple[list[str], bool]:
    """Markdown table rows for every workload x metric, and whether the
    two sets agree."""
    rows, ok = [], True
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    for wl in data["workloads"]:
        sets = {s: data["runs"][s][wl] for s in SEEDS}
        share = {s: {r["failed"] / r["attempted"] for r in runs}
                 for s, runs in sets.items()}
        same_share = len(share["A"] | share["B"]) == 1
        ok &= same_share and all(r["correct"] for runs in sets.values()
                                 for r in runs)
        for name, m in bounds.items():
            vals = {s: [r["metrics"][name]["value"] for r in runs]
                    for s, runs in sets.items()}
            qa, qb = quartiles(vals["A"]), quartiles(vals["B"])
            spread = {s: (q[2] - q[0]) / q[1]
                      for s, q in (("A", qa), ("B", qb))}
            apart = abs(qb[1] - qa[1]) / qa[1]
            agree = (apart <= m["bound"]
                     and max(spread.values()) <= m["bound"])
            ok &= agree
            rows.append(
                f"| {wl} | {name} ({m['unit']}) | {qa[1]:.4g} "
                f"[{qa[0]:.4g}, {qa[2]:.4g}] | {qb[1]:.4g} "
                f"[{qb[0]:.4g}, {qb[2]:.4g}] | {spread['A']:.3f} / "
                f"{spread['B']:.3f} | {m['bound']} | "
                f"{'yes' if agree else 'NO'} |")
        a0 = sets["A"][0]
        rows.append(f"| {wl} | failed / attempted | "
                    f"{a0['failed']}/{a0['attempted']} | "
                    f"{sets['B'][0]['failed']}/{sets['B'][0]['attempted']} "
                    f"| | | {'yes' if same_share else 'NO'} |")
    return rows, ok


def traced_rows(data: dict) -> tuple[list[str], bool]:
    rows, ok = [], True
    for wl, runs in data["traced"].items():
        counts = [{k: v["value"] for k, v in r["metrics"].items()
                   if k.endswith(COUNT_SUFFIXES)} for r in runs]
        same = all(c == counts[0] for c in counts[1:])
        ok &= same
        base = data["runs"]["A"][wl][0]["metrics"]
        tr = runs[0]["metrics"]
        over = ", ".join(
            f"{n} {tr['traced.' + n]['value']:.4g} vs "
            f"{base[n]['value']:.4g}"
            for n in ("setup_s", "ops_per_s"))
        rows.append(f"| {wl} | {len(runs)} | "
                    f"{'yes' if same else 'NO'} | {over} |")
    return rows, ok


def render(spec: dict, data: dict) -> tuple[str, bool]:
    rows, ok = summarize(spec, data)
    out = [f"Recorded {data['date']} with {data['n']} runs per set "
           f"(set A seeds {SEEDS['A']}..{SEEDS['A'] + data['n'] - 1}, "
           f"set B seeds {SEEDS['B']}..{SEEDS['B'] + data['n'] - 1}), "
           f"`--seconds {spec['run_seconds']}`, on {data['host']}. "
           "Each cell: median [first quartile, third quartile].",
           "",
           "| workload | metric | set A | set B | spread A / B | bound "
           "| agree |",
           "| --- | --- | --- | --- | --- | --- | --- |", *rows, ""]
    tr, tr_ok = traced_rows(data)
    ok &= tr_ok
    out += ["Traced runs of seed 1 (tracing overhead: traced value vs "
            "the untraced seed-1 run of set A):", "",
            "| workload | traced runs | counts repeat | overhead |",
            "| --- | --- | --- | --- |", *tr, ""]
    walls = [r["wall_s"] for s in SEEDS for runs in data["runs"][s].values()
             for r in runs]
    out.append(f"Wall time per run, set-up included: median "
               f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s.")
    return "\n".join(out), ok


def write_readme(text: str) -> None:
    path = os.path.join(HERE, "README.md")
    with open(path) as f:
        doc = f.read()
    head, rest = doc.split(START, 1)
    _, tail = rest.split(END, 1)
    with open(path, "w") as f:
        f.write(f"{head}{START}\n{text}\n{END}{tail}")


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wls = [w["name"] for w in spec["workloads"]]
    data = {"date": time.strftime("%Y-%m-%d"), "n": RUNS, "workloads": wls,
            "host": f"{len(os.sched_getaffinity(0))} CPUs",
            "runs": {s: {w: [] for w in wls} for s in SEEDS},
            "traced": {w: [] for w in wls}}
    for s, first in SEEDS.items():
        print(f"set {s}", flush=True)
        for i in range(RUNS):
            for w in wls:
                data["runs"][s][w].append(run_once(spec, w, first + i, 0))
    for w in wls:
        for _ in range(TRACED):
            data["traced"][w].append(run_once(spec, w, SEEDS["A"], 1))
    os.makedirs(os.path.join(HERE, ".out"), exist_ok=True)
    path = os.path.join(HERE, ".out",
                        f"compare-{time.strftime('%Y%m%d-%H%M%S')}.json")
    with open(path, "w") as f:
        json.dump(data, f)
    print(f"saved {path}")

    text, ok = render(spec, data)
    print(text)
    write_readme(text)
    print("sets agree" if ok else "sets DISAGREE")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
