"""Per-layer metrics from one traced run's spans and Spark events.

Layers are the engine's modules: `io` (CsvProbe, ArrivalRead,
IdempotentWriter, RunAudit), `conform` (Pipeline), `queries`
(SparkEntry.queries and the modules behind it) and `exec` (Spark's
runtime running the plans those build). Every value is a mean per
traced op unless its name says it is a ratio; layers a workload does
not touch read 0.

Self time: a span's duration minus the part of it covered by its child
spans and by the Spark jobs that started inside it (and not inside a
child). What no span owns is job time, reported as `spark.jobs`, so the
self times of one op add up to its wall time exactly.
"""
import statistics
from collections import defaultdict

# span name -> per-op metric holding its inclusive duration
SPAN_METRIC = {
    "io.extract": "io.extract_ms",
    "io.load": "io.load_ms", "io.reload": "io.reload_ms",
    "io.audit": "io.audit_ms", "conform.transform": "conform.transform_ms",
    "queries.build": "queries.build_ms",
}


def union_len(intervals):
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def per_op_medians(ops):
    by = defaultdict(list)
    for o in ops:
        if not o["error"]:
            by[o["name"]].append(o["ms"])
    return {k: statistics.median(v) for k, v in sorted(by.items())}


def _owner(intervals, t):
    """Index of the interval holding time t, or None."""
    for i, (a, b) in enumerate(intervals):
        if a <= t <= b:
            return i
    return None


def op_summaries(res):
    """One record per traced op: wall, per-span self times, counts and
    the exec aggregates of the jobs, stages and plans it owns."""
    spans = res["spans"]
    ev = res["events"]
    traced = {o["op"]: o for o in res["ops"] if o["traced"]}
    by_op = defaultdict(list)
    for s in spans:
        if s["op"] in traced:
            by_op[s["op"]].append(s)
    roots = {op: next(s for s in ss if s["parent"] < 0) for op, ss in by_op.items()}
    order = sorted(roots, key=lambda op: roots[op]["start"])
    windows = [(roots[op]["start"], roots[op]["end"]) for op in order]

    jobs_of = defaultdict(list)
    for j in ev["jobs"]:
        op = None
        if j["group"].startswith("op-") and int(j["group"][3:]) in traced:
            op = int(j["group"][3:])
        else:
            i = _owner(windows, j["start"])
            op = order[i] if i is not None else None
        if op is not None:
            jobs_of[op].append(j)
    plans_of = defaultdict(list)
    for p in ev["plans"]:
        i = _owner(windows, p["plan_start"] or p["end"])
        if i is not None:
            plans_of[order[i]].append(p)
    stages = {s["id"]: s for s in ev["stages"]}
    counts = defaultdict(lambda: defaultdict(float))
    for c in res["counts"]:
        counts[c["op"]][c["name"]] += c["value"]

    out = []
    for op in order:
        o, ss, root = traced[op], by_op[op], roots[op]
        lo, hi = root["start"], root["end"]
        jobs = [(max(j["start"], lo), min(j["end"] if j["end"] >= 0 else hi, hi))
                for j in jobs_of[op]]
        children = defaultdict(list)
        for s in ss:
            if s["parent"] >= 0:
                children[s["parent"]].append((s["start"], s["end"]))
        # a job belongs to the innermost span it started in, else to the op
        for (a, b) in jobs:
            holder = max((s for s in ss if s["parent"] >= 0
                          and s["start"] <= a <= s["end"]),
                         key=lambda s: s["start"], default=root)
            children[holder["id"]].append((a, min(b, holder["end"])))
        self_ms = defaultdict(float)
        for s in ss:
            self_ms[s["name"]] += (s["end"] - s["start"]) - union_len(children[s["id"]])
        self_ms["spark.jobs"] = (hi - lo) - sum(self_ms.values())

        rec = {"op": op, "name": o["name"], "kind": o["kind"], "wall_ms": hi - lo,
               "self_ms": dict(self_ms)}
        for s in ss:
            if s["name"] in SPAN_METRIC:
                m = SPAN_METRIC[s["name"]]
                rec[m] = rec.get(m, 0.0) + s["end"] - s["start"]
        # the driver-side part of ArrivalRead.read: CsvProbe's charset pass
        rec["io.probe_ms"] = self_ms.get("io.read", 0.0)
        rec.update(counts[op])
        st = [stages[i] for j in jobs_of[op] for i in j["stages"]
              if i in stages and stages[i]["task_ms"]]
        st = list({s["id"]: s for s in st}.values())
        task_ms = [t for s in st for t in s["task_ms"]]
        rec.update({
            "exec.jobs": len(jobs), "exec.stages": len(st),
            "exec.tasks": len(task_ms), "exec.task_ms": float(sum(task_ms)),
            "exec.job_ms": union_len(jobs),
            "exec.driver_gap_ms": (hi - lo) - union_len(jobs),
            "exec.input_bytes": sum(s["input_bytes"] for s in st),
            "exec.shuffle_read_bytes": sum(s["shuffle_read_bytes"] for s in st),
            "exec.shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
            "exec.spill_bytes": sum(s["spill_bytes"] for s in st),
            "exec.plan_ms": float(sum(p["plan_ms"] for p in plans_of[op])),
            "exec.exchanges": sum(p["exchanges"] for p in plans_of[op]),
        })
        if st:
            longest = max(st, key=lambda s: s["completed"] - s["submitted"])
            med = statistics.median(longest["task_ms"])
            rec["exec.task_skew"] = max(longest["task_ms"]) / max(med, 1.0)
        out.append(rec)
    return out


def analyse(res, nproc, source_bytes, names):
    """The per-layer metrics `names` of a traced run, plus its per-op
    records."""
    ops = op_summaries(res)
    n = max(len(ops), 1)

    def mean(key, subset=None):
        rows = ops if subset is None else [r for r in ops if r["kind"] == subset]
        vals = [r.get(key, 0.0) for r in rows]
        return float(sum(vals)) / len(vals) if vals else 0.0

    def total(key, subset=None):
        return float(sum(r.get(key, 0.0) for r in ops
                         if subset is None or r["kind"] == subset))

    m = {k: 0.0 for k in names}
    for k in ("io.probe_ms", "io.extract_ms", "io.audit_ms", "io.files_written",
              "io.bytes_written", "conform.transform_ms", "conform.rows_in",
              "conform.rows_out", "queries.build_ms", "exec.plan_ms",
              "exec.jobs", "exec.stages", "exec.tasks", "exec.job_ms",
              "exec.driver_gap_ms", "exec.task_ms", "exec.shuffle_write_bytes",
              "exec.shuffle_read_bytes", "exec.exchanges", "exec.spill_bytes",
              "exec.gc_ms"):
        m[k] = mean(k)
    m["io.load_ms"] = mean("io.load_ms", "load")
    m["io.reload_ms"] = mean("io.reload_ms", "rerun")
    if total("io.input_bytes"):
        m["io.stored_bytes_per_input_byte"] = total("io.bytes_written") / total("io.input_bytes")
    if total("wall_ms", "load"):
        m["io.rows_per_s"] = total("conform.rows_in", "load") / (total("wall_ms", "load") / 1e3)
    if total("conform.rows_in"):
        m["conform.keep_ratio"] = total("conform.rows_out") / total("conform.rows_in")
    if total("wall_ms"):
        m["exec.busy_ratio"] = total("exec.task_ms") / (total("wall_ms") * nproc)
    skews = [r["exec.task_skew"] for r in ops if "exec.task_skew" in r]
    m["exec.task_skew"] = sum(skews) / len(skews) if skews else 0.0
    m["exec.read_amplification"] = total("exec.input_bytes") / (n * source_bytes)
    m["trace.op_ms"] = mean("wall_ms")
    m["jvm.peak_rss_mb"] = res["peak_rss_kb"] / 1024.0

    halves = {t: [o for o in res["ops"] if o["traced"] == t] for t in (False, True)}
    gauge = {t: statistics.mean(g for o in ops for g in o["gauge_ms"])
             for t, ops in halves.items() if ops}
    m["host.gauge_ms"] = gauge.get(True, 0.0)
    untraced = per_op_medians(halves[False])
    traced = per_op_medians(halves[True])
    both = [k for k in traced if k in untraced]
    if both:
        # each half's times taken at the same host speed (the gauge's)
        m["trace.overhead_ratio"] = (sum(traced[k] for k in both) / gauge[True]
                                     / (sum(untraced[k] for k in both) / gauge[False])) - 1.0
    cold = [o for o in res["warm_up"] if o["kind"] == "cold"
            and not o["error"] and o["name"] in untraced]
    if cold:
        m["queries.cold_extra_ms"] = sum(o["ms"] - untraced[o["name"]]
                                         for o in cold) / len(cold)
    return {"metrics": m, "ops": ops}
