"""Steadiness record: runs every workload of BENCHMARK.json once per
seed (untraced), in `--sets` consecutive sets of the same seeds. Per set
it reports each end-to-end metric's median and spread (third minus
first quartile, as statistics.quantiles(n=4) gives them, over the
median), next to the metric's bound. Between sets it reports how much
worse each later median is than the first set's, as a share of it: two
sets of the same code agree when that stays within the bound.

    python3 perfbench/steady.py --seeds 1-10 [--sets 2]
                                [--workloads catalog,stream_upsert]
                                [--out perfbench/steadiness.json]
"""

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def worse(first, later, better):
    """How much worse `later` is than `first`, as a share of `first`
    (negative when it is better)."""
    d = later - first if better == "lower" else first - later
    return d / first


def run_set(bench, workloads, seed_list):
    out = {}
    for w in workloads:
        runs = []
        for s in seed_list:
            t0 = time.time()
            proc = subprocess.run(
                [sys.executable, str(HERE / "run.py"), "--workload", w, "--seed", str(s),
                 "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            if proc.returncode != 0:
                sys.exit(f"{w} seed {s}: exit {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            runs.append({"seed": s, "run_s": round(time.time() - t0, 1), "correct": res["correct"],
                         "metrics": {k: v["value"] for k, v in res["metrics"].items()}})
            print(f"{w} seed {s}: {runs[-1]['run_s']} s, correct={res['correct']}", file=sys.stderr)
        summary = {}
        for m in bench["end_to_end"]:
            vals = [r["metrics"][m["name"]] for r in runs]
            summary[m["name"]] = {"median": statistics.median(vals),
                                  "spread": spread(vals) if len(vals) > 1 else 0.0,
                                  "bound": m["bound"]}
        out[w] = {"runs": runs, "summary": summary}
        for k, v in summary.items():
            flag = "" if k == "setup_s" or v["spread"] < v["bound"] / 3 else "  <-- over bound/3"
            print(f"{w:14s} {k:14s} median {v['median']:14.3f}  spread {v['spread']:.3f}"
                  f"  (bound {v['bound']}){flag}")
    return out


def main():
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--workloads", default=",".join(w["name"] for w in bench["workloads"]))
    p.add_argument("--out")
    a = p.parse_args()
    workloads = a.workloads.split(",")
    sets = [run_set(bench, workloads, seeds(a.seeds)) for _ in range(a.sets)]
    agreement = {}
    for w in workloads:
        agreement[w] = {}
        for m in bench["end_to_end"]:
            first = sets[0][w]["summary"][m["name"]]["median"]
            later = [worse(first, s[w]["summary"][m["name"]]["median"], m["better"])
                     for s in sets[1:]]
            agreement[w][m["name"]] = {"worse": later, "bound": m["bound"],
                                       "agree": all(x <= m["bound"] for x in later)}
            if later:
                print(f"{w:14s} {m['name']:14s} later sets worse by "
                      f"{', '.join(f'{x:+.3f}' for x in later)}  (bound {m['bound']})"
                      f"{'' if agreement[w][m['name']]['agree'] else '  <-- disagree'}")
    if a.out:
        record = {"run_seconds": bench["run_seconds"], "sets": sets, "agreement": agreement}
        Path(a.out).write_text(json.dumps(record, indent=1) + "\n")


if __name__ == "__main__":
    main()
