"""graft layered benchmark: one workload, one measured window, one JSON
line.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 10 --trace 0

Builds graft and the harness from source when needed (build.py), runs
the workload in one JVM at local[nproc], checks its outputs, and prints
as its last stdout line
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric (--trace 0) or every per-layer metric
(--trace 1). A traced run also writes its spans and per-op layer split
to <build dir>/trace/<workload>-seed<seed>.json.

Workloads: catalog, sig_long, sig_grouped, stream_upsert (README.md).
--record-digests rewrites digests.json from this build's catalog results.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["catalog", "sig_long", "sig_grouped", "stream_upsert"]
JVM_TIMEOUT_S = 170


def parse():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--record-digests", action="store_true")
    return p.parse_args()


def run_jvm(a, classpath, work):
    raw = work / "raw.json"
    cmd = build.java(classpath, work / "tmp") + [
        "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", str(build.HERE / "data"),
        "--work", str(work), "--out", str(raw), "--digests", str(build.HERE / "digests.json")]
    if a.record_digests:
        cmd.append("--record-digests")
    # the JVM's stdout goes to stderr: the result line must be the last stdout line
    proc = subprocess.run(cmd, stdout=sys.stderr, timeout=JVM_TIMEOUT_S, cwd=work)
    if proc.returncode != 0 or not raw.exists():
        sys.exit(f"perfbench: benchmark JVM failed (exit {proc.returncode})")
    return json.loads(raw.read_text())


def main():
    # a terminated run still stops and waits for its JVM (subprocess.run
    # kills the child when the wait is interrupted)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    classpath = build.build()
    work = build.build_dir() / "work" / f"{a.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        raw = run_jvm(a, classpath, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    correct, attempted, failed = metrics.outcome(raw)
    for c in raw["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']}: {c['detail']}", file=sys.stderr)
    if a.trace:
        ms = metrics.per_layer(raw)
        out = build.build_dir() / "trace" / f"{a.workload}-seed{a.seed}.json"
        out.parent.mkdir(parents=True, exist_ok=True)
        out.write_text(json.dumps({"per_op": metrics.per_op_layers(raw), "spans": raw["spans"],
                                   "stages": raw["stages"], "batches": raw["batches"]}))
        print(f"perfbench: spans and per-op layer split in {out}", file=sys.stderr)
    else:
        ms = metrics.end_to_end(raw)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in ms.items()}}))


if __name__ == "__main__":
    main()
