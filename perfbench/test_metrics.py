"""Self-tests of the benchmark's own arithmetic and result digest.

    python3 -m unittest perfbench/test_metrics.py

The digest case compiles the harness if needed (build.py) and runs
perfbench.SelfTest in a small local Spark session.
"""

import json
import shutil
import subprocess
import sys
import unittest
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402
import metrics  # noqa: E402


def span(i, parent, name, start, end, op=1):
    return {"id": i, "op": op, "parent": parent, "name": name, "start_ns": start, "end_ns": end}


def op(i, name, wall_ms, traced=False, ok=True, passno=0, start_ms=0, items=10, heap_ms=0):
    return {"id": i, "name": name, "family": "rel", "pass": passno, "traced": traced,
            "start_ns": int(start_ms * 1e6), "wall_ns": int(wall_ms * 1e6), "ok": ok,
            "error": None, "in_items": items, "heap_ns": int(heap_ms * 1e6)}


def raw(workload="catalog", ops=(), checks=(), **kw):
    r = {"workload": workload, "cores": 4, "ops": list(ops), "checks": list(checks),
         "spans": [], "stages": [], "jobs": [], "batches": [], "layers": {}, "heap_mb": [1.0],
         "passes": [1.0], "setup": {"session_s": 1.0, "fixture_s": [3.0, 1.0, 2.0],
                                    "warm_s": 4.0}}
    r.update(kw)
    return r


class SelfTime(unittest.TestCase):
    # op [0, 100) holds build [0, 30) with plan [10, 15), and exec [30, 95)
    # with plan [30, 40): 5 ns of the op are outside every layer
    SPANS = [span(1, -1, "op", 0, 100), span(2, 1, "build", 0, 30), span(3, 2, "plan", 10, 15),
             span(4, 1, "exec", 30, 95), span(5, 4, "plan", 30, 40)]

    def test_self_is_duration_minus_children(self):
        st = metrics.self_times(self.SPANS)
        self.assertEqual(st, {1: 5, 2: 25, 3: 5, 4: 55, 5: 10})

    def test_layer_self_sums_per_name(self):
        by = metrics.layer_self_ms(self.SPANS)
        self.assertAlmostEqual(by["plan"], 15e-6)
        self.assertAlmostEqual(by["exec"], 55e-6)

    def test_coverage(self):
        self.assertAlmostEqual(metrics.coverage(self.SPANS, 100), 0.95)


class Shares(unittest.TestCase):
    def test_outcome_counts_ops_and_checks(self):
        r = raw(ops=[op(1, "a", 5), op(2, "b", 5, ok=False)],
                checks=[{"name": "x", "ok": True}, {"name": "y", "ok": False}])
        self.assertEqual(metrics.outcome(r), (False, 4, 2))
        r = raw(ops=[op(1, "a", 5)], checks=[{"name": "x", "ok": True}])
        self.assertEqual(metrics.outcome(r), (True, 2, 0))

    def test_busy_share(self):
        # 6 s of executor time over 2 s on 4 cores
        self.assertEqual(metrics.busy_share(6000, 2000, 4), 0.75)
        self.assertEqual(metrics.busy_share(6000, 0, 4), 0.0)


class EndToEnd(unittest.TestCase):
    def test_setup_takes_the_median_fixture(self):
        self.assertEqual(metrics.setup_s(raw()), 1.0 + 2.0 + 4.0)

    def test_batch_workload(self):
        r = raw(ops=[op(1, "a", 100), op(2, "b", 300), op(3, "c", 200)], passes=[0.6],
                heap_mb=[5.0, 7.0])
        m = metrics.end_to_end(r)
        self.assertEqual(m["op_p50_ms"], (200.0, "ms"))
        self.assertAlmostEqual(m["samples_per_s"][0], 30 / 0.6)
        self.assertEqual(m["heap_peak_mb"], (7.0, "MB"))

    def stream(self):
        # batch b runs [100 b + 20, 100 b + 70) ms, then samples the heap for 10 ms;
        # the table was created at 0 ms
        ops = [op(i, "batch", 50, passno=b, start_ms=100 * b + 20, heap_ms=10)
               for i, b in enumerate(range(5))]
        ops.append(op(9, "warm", 50, passno=0))
        # each batch scanned its 10 consumed records three times
        return raw("stream_upsert", ops=ops,
                   layers={"skip_batches": 2, "measured_query": "q", "wall_batches": 4,
                           "stream_start_ns": 0},
                   batches=[{"query": "q", "batch": b, "rows": 30, "records": 10}
                            for b in range(5)])

    def test_stream_cycles_skip_need_a_predecessor_and_leave_out_the_heap_sample(self):
        cyc = metrics.stream_cycles_ns(self.stream())
        self.assertEqual(sorted(cyc), [2, 3, 4])
        self.assertTrue(all(v == 90_000_000 for v in cyc.values()))

    def test_stream_end_to_end(self):
        m = metrics.end_to_end(self.stream())
        self.assertAlmostEqual(m["op_p50_ms"][0], 90.0)
        # consumed records, not scanned rows
        self.assertAlmostEqual(m["samples_per_s"][0], 30 / 0.27)
        # fresh table to the end of batch 3, less three heap samples
        self.assertAlmostEqual(m["wall_s"][0], 0.37 - 0.03)

    def test_tracing_overhead_pairs_the_same_op(self):
        r = raw(ops=[op(1, "a", 110, traced=True), op(2, "a", 100),
                     op(3, "b", 220, traced=True), op(4, "b", 200)])
        ms, share = metrics.tracing_overhead(r)
        self.assertAlmostEqual(ms, 15.0)
        self.assertAlmostEqual(share, 30 / 300)


class Contract(unittest.TestCase):
    def test_benchmark_json_lists_every_metric(self):
        b = json.loads((build.ROOT / "BENCHMARK.json").read_text())
        self.assertEqual([m["name"] for m in b["per_layer"]], metrics.per_layer_names())
        self.assertEqual({m["name"]: m["unit"] for m in b["per_layer"]},
                         {n: metrics.unit(n) for n in metrics.per_layer_names()})
        e2e = metrics.end_to_end(raw(ops=[op(1, "a", 5)]))
        self.assertEqual({m["name"]: m["unit"] for m in b["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})


class DigestTest(unittest.TestCase):
    def test_digest_cases(self):
        cp = build.build()
        tmp = build.build_dir() / "selftest"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        try:
            out = subprocess.run(build.java(cp, tmp, heap="1g") + ["perfbench.SelfTest"],
                                 stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
                                 timeout=300, cwd=tmp)
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        self.assertEqual(out.returncode, 0, out.stdout)
        lines = out.stdout.splitlines()
        self.assertEqual(sum(1 for l in lines if l.startswith("ok ")), 8, out.stdout)


if __name__ == "__main__":
    unittest.main()
