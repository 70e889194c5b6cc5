"""Arithmetic of the benchmark: turns the raw record a benchmark JVM
writes (ops, spans, stage/plan/progress records, checks, heap samples)
into the end-to-end and per-layer metrics. Pure functions only, so
test_metrics.py can pin every rule.
"""

import statistics

# Catalog query families, in the order the per-family metrics are listed.
FAMILIES = ["rel", "sig", "dedup", "ann", "text", "mm", "graph"]
# Direct graft.dsp kernels the signal workloads time.
KERNELS = ["sosfiltfilt", "rfft", "welch", "decimate", "coherence"]
# Span names that are layers of an operation (children of its "op" span).
LAYER_SPANS = ["build", "plan", "exec", "merge", "read"]
# Family of the signal ops a catalog traced run adds to probe the
# Signal, dsp and functions layers.
PROBE_FAMILY = "sig_probe"


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def self_times(spans):
    """Self time of each span: its duration minus its children's."""
    dur = {s["id"]: s["end_ns"] - s["start_ns"] for s in spans}
    child = {s["id"]: 0 for s in spans}
    for s in spans:
        if s["parent"] in child:
            child[s["parent"]] += dur[s["id"]]
    return {i: dur[i] - child[i] for i in dur}


def layer_self_ms(spans):
    """Self time summed per span name, in ms."""
    st = self_times(spans)
    out = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + st[s["id"]] / 1e6
    return out


def coverage(spans, op_wall_ns):
    """Share of an op's wall time its layer spans' self times cover."""
    sel = layer_self_ms(spans)
    return sum(sel.get(n, 0.0) for n in LAYER_SPANS) * 1e6 / op_wall_ns if op_wall_ns else 0.0


def busy_share(run_ms, wall_ms, cores):
    """Executor run time over the wall time of all cores."""
    return run_ms / (wall_ms * cores) if wall_ms > 0 and cores > 0 else 0.0


def measured_ops(raw):
    """Ops of the measured window (stream: leading batches dropped)."""
    ops = [o for o in raw["ops"] if o["name"] != "warm"]
    if raw["workload"] == "stream_upsert":
        skip = raw["layers"].get("skip_batches", 0)
        ops = [o for o in ops if o["pass"] >= skip]
    return ops


def stream_batches(raw):
    """Progress records of the measured stream, leading batches dropped."""
    q = raw["layers"].get("measured_query")
    skip = raw["layers"].get("skip_batches", 0)
    merged = {o["pass"] for o in measured_ops(raw)}
    return [b for b in raw["batches"]
            if b["query"] == q and b["batch"] >= skip and b["batch"] in merged]


def stream_cycles_ns(raw):
    """{batch id: closed-loop cycle} of the measured batches: from the
    end of the previous batch's op to the end of its own (the whole
    trigger: offsets, WAL, planning, merge, read, commit), less the heap
    sample taken after the previous op."""
    ops = sorted([o for o in raw["ops"] if o["name"] == "batch"], key=lambda o: o["pass"])
    skip = raw["layers"].get("skip_batches", 0)
    out = {}
    for prev, cur in zip(ops, ops[1:]):
        if cur["pass"] >= skip and cur["pass"] == prev["pass"] + 1:
            out[cur["pass"]] = (cur["start_ns"] + cur["wall_ns"] - prev["start_ns"]
                                - prev["wall_ns"] - prev.get("heap_ns", 0))
    return out


def stream_wall_s(raw):
    """Fresh table to the commit of the first `wall_batches` batches,
    less the heap samples taken in between; 0 if the stream fell short."""
    n = raw["layers"].get("wall_batches", 0)
    ops = [o for o in raw["ops"] if o["name"] == "batch" and o["pass"] < n]
    last = [o for o in ops if o["pass"] == n - 1]
    if not last:
        return 0.0
    end = last[0]["start_ns"] + last[0]["wall_ns"]
    heap = sum(o.get("heap_ns", 0) for o in ops if o["pass"] < n - 1)
    return (end - raw["layers"]["stream_start_ns"] - heap) / 1e9


def setup_s(raw):
    """Session start, the median of the repeated fixture builds, and the
    warm-up pass."""
    s = raw["setup"]
    return s["session_s"] + median(s["fixture_s"]) + s["warm_s"]


def op_latencies_ms(raw):
    """Latency of every measured op: the batch cycle for the stream,
    the op wall otherwise (untraced ops when a traced run has both)."""
    if raw["workload"] == "stream_upsert":
        by_batch = stream_cycles_ns(raw)
        return [by_batch[b] / 1e6 for b in sorted(by_batch)]
    ops = [o for o in measured_ops(raw) if o["family"] != PROBE_FAMILY]
    return [o["wall_ns"] / 1e6 for o in ([o for o in ops if not o["traced"]] or ops)]


def end_to_end(raw):
    ops = measured_ops(raw)
    heap = raw["heap_mb"]
    lat = op_latencies_ms(raw)
    if raw["workload"] == "stream_upsert":
        by_batch = stream_cycles_ns(raw)
        records = {b["batch"]: b["records"] for b in stream_batches(raw)}
        items = sum(records.get(b, 0) for b in by_batch)
        busy_s = sum(by_batch.values()) / 1e9
        passes = [stream_wall_s(raw)]
    else:
        timed = [o for o in ops if not o["traced"]] or ops
        items = sum(o["in_items"] for o in timed)
        busy_s = sum(o["wall_ns"] for o in timed) / 1e9
        passes = raw["passes"]
    return {
        "setup_s": (setup_s(raw), "s"),
        "wall_s": (median(passes), "s"),
        "op_p50_ms": (median(lat), "ms"),
        "samples_per_s": (items / busy_s if busy_s > 0 else 0.0, "1/s"),
        "heap_peak_mb": (max(heap) if heap else 0.0, "MB"),
    }


def unit(name):
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_ns_per_sample"):
        return "ns"
    if name.endswith("_share") or name == "self.coverage":
        return "fraction"
    if name.endswith("_per_s"):
        return "1/s"
    return "count"


def per_layer_names():
    names = ["build_ms", "build_jobs", "tables.load_ms", "plan_ms", "exec_ms",
             "exec.jobs", "exec.stages", "exec.one_task_stages", "exec.untagged_stages", "exec.tasks",
             "exec.cpu_ms", "exec.run_ms", "exec.gc_ms", "exec.shuffle_write_bytes",
             "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.busy_share",
             "seriesify_ms", "explode_ms"]
    names += [f"dsp.{k}_ns_per_sample" for k in KERNELS]
    names += ["dsp.kernel_share", "functions.overhead_cpu_ms",
              "manifest.merge_p50_ms", "manifest.merge_jobs",
              "manifest.files_rewritten", "manifest.snapshot_ms", "ledger.latest_offset_ms",
              "stream.add_batch_ms", "stream.query_planning_ms", "stream.wal_commit_ms",
              "stream.commit_offsets_ms", "stream.batch_p50_ms",
              "stream.read_p50_ms", "stream.records_per_s"]
    names += [f"self.{n}_ms" for n in ["op"] + LAYER_SPANS]
    names += ["self.coverage", "trace.overhead_ms", "trace.overhead_share", "ops.count"]
    names += [f"build_ms.{f}" for f in FAMILIES] + [f"build_jobs.{f}" for f in FAMILIES]
    return names


def per_op_layers(raw):
    """Layer split of every traced op: span self times, jobs per layer,
    and the stage totals attributed to it."""
    spans_by_op, stages_by_op, jobs_by_op = {}, {}, {}
    for s in raw["spans"]:
        spans_by_op.setdefault(s["op"], []).append(s)
    for st in raw["stages"]:
        stages_by_op.setdefault(st["op"], []).append(st)
    for j in raw["jobs"]:
        jobs_by_op.setdefault(j["op"], []).append(j)
    out = []
    for o in measured_ops(raw):
        sp = spans_by_op.get(o["id"])
        if not o["traced"] or not sp:
            continue
        name_of = {s["id"]: s["name"] for s in sp}
        top = [s for s in sp if s["name"] == "op"]
        wall = top[0]["end_ns"] - top[0]["start_ns"] if top else o["wall_ns"]
        st = stages_by_op.get(o["id"], [])
        jobs = jobs_by_op.get(o["id"], [])
        out.append({
            "id": o["id"], "name": o["name"], "family": o["family"], "wall_ms": wall / 1e6,
            "in_items": o["in_items"],
            "span_ms": {n: sum(s["end_ns"] - s["start_ns"] for s in sp if s["name"] == n) / 1e6
                        for n in ["op"] + LAYER_SPANS},
            "self_ms": layer_self_ms(sp),
            "coverage": coverage(sp, wall),
            "jobs": {n: sum(1 for j in jobs if name_of.get(j["span"]) == n)
                     for n in LAYER_SPANS + ["op"]},
            "jobs_total": len(jobs),
            "stages": len(st),
            "one_task_stages": sum(1 for x in st if x["tasks"] == 1),
            "untagged_stages": sum(1 for x in st if x["span"] == -1),
            "tasks": sum(x["tasks"] for x in st),
            "cpu_ms": sum(x["cpu_ns"] for x in st) / 1e6,
            "run_ms": sum(x["run_ms"] for x in st),
            "gc_ms": sum(x["gc_ms"] for x in st),
            "shuffle_write_bytes": sum(x["shuffle_write_bytes"] for x in st),
            "shuffle_read_bytes": sum(x["shuffle_read_bytes"] for x in st),
            "spill_bytes": sum(x["spill_bytes"] for x in st),
            "last_stage_cpu_ms": (max(st, key=lambda x: x["stage"])["cpu_ns"] / 1e6) if st else 0.0,
        })
    return out


def tracing_overhead(raw):
    """(ms per op, share): traced minus untraced wall of the same ops."""
    ops = measured_ops(raw)
    if raw["workload"] == "stream_upsert":
        trig = {b["batch"]: b["trigger_ms"] for b in stream_batches(raw)}
        on = [trig[o["pass"]] for o in ops if o["traced"] and o["pass"] in trig]
        off = [trig[o["pass"]] for o in ops if not o["traced"] and o["pass"] in trig]
        if not on or not off:
            return 0.0, 0.0
        return mean(on) - mean(off), (mean(on) - mean(off)) / mean(off)
    by = {}
    for o in ops:
        by.setdefault(o["name"], {True: [], False: []})[o["traced"]].append(o["wall_ns"] / 1e6)
    pairs = [(mean(v[True]), mean(v[False])) for v in by.values() if v[True] and v[False]]
    if not pairs:
        return 0.0, 0.0
    d = sum(a - b for a, b in pairs)
    return d / len(pairs), d / sum(b for _, b in pairs)


def per_layer(raw):
    m = {n: 0.0 for n in per_layer_names()}
    L = raw["layers"]
    every = per_op_layers(raw)
    # signal ops run only to probe the Signal/dsp/functions layers from
    # another workload stay out of that workload's own layer figures
    ops = [o for o in every if o["family"] != PROBE_FAMILY]
    cores = raw["cores"]

    def avg(f, xs=ops):
        return mean(f(o) for o in xs)

    if ops:
        m["build_ms"] = avg(lambda o: o["span_ms"]["build"])
        m["build_jobs"] = avg(lambda o: o["jobs"]["build"])
        m["plan_ms"] = avg(lambda o: o["span_ms"]["plan"])
        m["exec_ms"] = avg(lambda o: o["span_ms"]["exec"])
        m["exec.jobs"] = avg(lambda o: o["jobs_total"] - o["jobs"]["build"])
        for k in ["stages", "one_task_stages", "untagged_stages", "tasks", "cpu_ms", "run_ms", "gc_ms",
                  "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"]:
            m[f"exec.{k}"] = avg(lambda o, k=k: o[k])
        m["exec.busy_share"] = busy_share(sum(o["run_ms"] for o in ops),
                                          sum(o["wall_ms"] for o in ops), cores)
        for n in ["op"] + LAYER_SPANS:
            m[f"self.{n}_ms"] = avg(lambda o, n=n: o["self_ms"].get(n, 0.0))
        m["self.coverage"] = (sum(o["coverage"] * o["wall_ms"] for o in ops)
                              / sum(o["wall_ms"] for o in ops))
        for f in FAMILIES:
            fam = [o for o in ops if o["family"] == f]
            if fam and raw["workload"] == "catalog":
                m[f"build_ms.{f}"] = avg(lambda o: o["span_ms"]["build"], fam)
                m[f"build_jobs.{f}"] = avg(lambda o: o["jobs"]["build"], fam)
    m["tables.load_ms"] = L.get("tables.load_ms", 0.0)
    m["seriesify_ms"] = L.get("seriesify_ms", 0.0)
    m["explode_ms"] = L.get("explode_ms", 0.0)
    dsp = L.get("dsp_ns_per_sample", {})
    for k in KERNELS:
        m[f"dsp.{k}_ns_per_sample"] = dsp.get(k, 0.0)
    kops = [o for o in every if o["name"] in dsp]
    if kops:
        kern = {o["id"]: dsp[o["name"]] * o["in_items"] / 1e6 for o in kops}
        cpu = sum(o["cpu_ms"] for o in kops)
        m["dsp.kernel_share"] = sum(kern.values()) / cpu if cpu > 0 else 0.0
        m["functions.overhead_cpu_ms"] = avg(lambda o: o["last_stage_cpu_ms"] - kern[o["id"]], kops)
    if raw["workload"] == "stream_upsert":
        spans = [s for s in raw["spans"]
                 if s["op"] in {o["id"] for o in measured_ops(raw)}]
        merge = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "merge"]
        read = [(s["end_ns"] - s["start_ns"]) / 1e6 for s in spans if s["name"] == "read"]
        bs = stream_batches(raw)
        trig = [b["trigger_ms"] for b in bs]
        m["manifest.merge_p50_ms"] = median(merge)
        m["manifest.merge_jobs"] = avg(lambda o: o["jobs"]["merge"])
        m["manifest.files_rewritten"] = mean(L.get("files_rewritten", []))
        m["manifest.snapshot_ms"] = median(read)
        m["ledger.latest_offset_ms"] = median(b["latest_offset_ms"] for b in bs)
        for k in ["add_batch", "query_planning", "wal_commit", "commit_offsets"]:
            m[f"stream.{k}_ms"] = median(b[f"{k}_ms"] for b in bs)
        m["stream.batch_p50_ms"] = median(trig)
        m["stream.read_p50_ms"] = median(read)
        m["stream.records_per_s"] = (sum(b["records"] for b in bs) / (sum(trig) / 1e3)
                                     if sum(trig) > 0 else 0.0)
    m["trace.overhead_ms"], m["trace.overhead_share"] = tracing_overhead(raw)
    m["ops.count"] = len(op_latencies_ms(raw))
    return {n: (v, unit(n)) for n, v in m.items()}


def outcome(raw):
    """(correct, attempted, failed): every measured op and every output
    check is one attempt; a failed op or a wrong output is a failure."""
    ops = measured_ops(raw)
    checks = raw["checks"]
    failed = sum(1 for o in ops if not o["ok"]) + sum(1 for c in checks if not c["ok"])
    attempted = len(ops) + len(checks)
    return failed == 0 and attempted > 0, attempted, failed
