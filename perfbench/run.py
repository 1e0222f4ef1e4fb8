#!/usr/bin/env python3
"""graft benchmark: one command that builds the engine from source, runs
a workload in a closed loop on one client thread, checks its outputs and
prints every metric by name with its unit.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The last line of standard output is
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end metrics of BENCHMARK.json;
with `--trace 1` they are the per-layer metrics, and the run's spans and
Spark events go to a trace file under `.perfbench_work/traces/`.
Everything a run writes stays under `.perfbench_work/` (and the sbt
`target/` directories of the harness build).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".perfbench_work")
HARNESS = os.path.join(BENCH, "harness")
sys.path.insert(0, BENCH)

import etl_drop  # noqa: E402
import layers  # noqa: E402

# The project's sf0.01 test tables (seed 42, the scale its DuckDB oracle
# tier uses), committed here byte for byte so a run reads only its own
# checkout; the workload seed permutes the op order, not the tables.
BI_TABLES = os.path.join(BENCH, "data", "sf0.01")

# The BI read paths: the benched Relational and Temporal paths (q23,
# which rewrites its bucketed layout per call, excluded) and the
# warehouse reads the daily load feeds.
BI_OPS = [
    "q01_pricing_summary", "q02_events_daily", "q03_distinct_customers",
    "q04_rollup_returns", "q05_cube_orders", "q06_join_dims",
    "q07_join_facts", "q08_semi_join", "q09_anti_join", "q10_left_join",
    "q11_window_topn", "q12_window_lag", "q13_window_running", "q14_topk",
    "q15_union_ids", "q16_except_ids", "q17_intersect_ids",
    "q18_json_extract", "q19_tumbling_window", "q20_filter_pushdown",
    "q21_sql_exists", "q22_approx_distinct", "q24_salted_join",
    "q25_session_window", "q26_asof_join", "q27_range_join",
    "q28_percentiles", "q29_pivot_status", "q44_daily_rollup_join",
    "q189_partition_pruned_read", "q209_catalog_pruned_read",
    "q218_rollup_ivm_append", "q219_user_totals_reload"]

# The reference host: one on which the harness's gauge (HostGauge) reads
# this many ms, about what it reads on an unloaded 4-core box. End-to-end
# times are reported as they would read there.
GAUGE_REF_MS = 20.0

JVM_TIMEOUT_S = 150  # a run must end within 180 s; 45-65 s is usual on 4 cores


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(
            os.path.realpath(shutil.which("spark-submit"))))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark install found (set SPARK_HOME)")
    return home


def build():
    """Compile the engine and the harness together (sbt, offline) unless
    the sources are unchanged since the last build in this checkout."""
    sources = sorted(
        glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
        + glob.glob(os.path.join(HARNESS, "src/**/*.scala"), recursive=True)
        + [os.path.join(HARNESS, "build.sbt"),
           os.path.join(HARNESS, "project/build.properties")])
    h = hashlib.sha256()
    for p in sources:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    # the stamp lives in sbt's target dir, so it goes wherever the classes go
    stamp = os.path.join(HARNESS, "target", "perfbench.stamp")
    classes = os.path.join(HARNESS, "target/scala-2.13/classes")
    if (os.path.isdir(classes) and os.path.exists(stamp)
            and open(stamp).read() == h.hexdigest()):
        return classes
    log("building engine + harness with sbt")
    if os.path.exists(stamp):
        os.remove(stamp)
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail("build failed")
    log(f"built in {time.time() - t0:.1f} s")
    with open(stamp, "w") as f:
        f.write(h.hexdigest())
    return classes


def etl_inputs(seed):
    """The seed's drop, generated once per checkout outside every clock:
    a fresh directory, renamed into place only when complete, and keyed
    by the generator's source so a changed generator regenerates."""
    with open(etl_drop.__file__, "rb") as f:
        tag = hashlib.sha256(f.read()).hexdigest()[:12]
    path = os.path.join(WORK, "data", f"drop-{seed}-{tag}")
    if not os.path.isdir(path):
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        etl_drop.generate(tmp, seed)
        os.rename(tmp, path)
    return path


def dir_bytes(path):
    return sum(os.path.getsize(p) for p in
               glob.glob(os.path.join(path, "**", "*"), recursive=True)
               if os.path.isfile(p))


def run_harness(classes, kv, run_dir):
    opens = ["java.base/" + p for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
    cmd = ["java"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file in the system temp dir: the run writes only here
    cmd += ["-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", f"{classes}:{os.path.join(spark_home(), 'jars', '*')}",
            "perfbench.Harness"] + [f"{k}={v}" for k, v in kv.items()]
    log_path = os.path.join(run_dir, "harness.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    if rc != 0 or not os.path.exists(kv["out"]):
        sys.stderr.write(open(log_path, errors="replace").read()[-4000:])
        fail(f"harness exited with {rc}")
    with open(kv["out"]) as f:
        return json.load(f)


def oracle_compare(dump, data):
    """The repo's DuckDB oracle comparison, run unmodified on the dump:
    returns {op: None if it matched, else the mismatch text}."""
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools/oracle_check.py"),
                        dump, data], stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=25)
    verdict = {}
    for line in r.stdout.splitlines():
        m = re.match(r"^(OK|BAD)\s+(\S+)\s*(.*)$", line)
        if m:
            verdict[m.group(2)] = None if m.group(1) == "OK" else m.group(3)
    if r.returncode != 0:
        verdict["__oracle__"] = r.stdout[-400:]
    return verdict


def manifest_compare(checks, manifest):
    """Per report and fecha, surviving rows and duration minute sums must
    equal the manifest after a load and after a re-delivery of the same
    drop (which must not duplicate rows): {when: [problems]}."""
    problems = {}
    for when in ("after_load", "after_rerun"):
        got = checks.get(when)
        bad = problems[when] = []
        if got is None:
            bad.append("no snapshot")
            continue
        for route, key in (("conducta", "conducta"),
                           ("estados_operativos", "estados")):
            want, have = manifest[key]["by_fecha"], got.get(route, {})
            if sorted(want) != sorted(have):
                bad.append(f"{route}: fechas {sorted(have)} != {sorted(want)}")
                continue
            for d in want:
                if want[d]["rows"] != have[d]["rows"]:
                    bad.append(f"{route} {d}: rows {have[d]['rows']} != {want[d]['rows']}")
                for c, v in want[d]["minutes"].items():
                    h = have[d]["minutes"].get(c)
                    if h is None or abs(h - v) > 1e-6 + 1e-9 * abs(v):
                        bad.append(f"{route} {d} {c}: {h} != {v}")
    return problems


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["etl_daily", "bi_queries"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    for needed in ("src/main/scala/graft/SparkEntry.scala", "tools/oracle_check.py",
                   "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, needed)):
            fail(f"not a graft checkout: {needed} is missing under {ROOT}")
    os.makedirs(WORK, exist_ok=True)
    classes = build()
    nproc = os.cpu_count()

    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    kv = {"workload": args.workload, "seed": args.seed,
          "seconds": args.seconds, "trace": args.trace,
          "nproc": nproc, "work": run_dir,
          "out": os.path.join(run_dir, "result.json")}
    if args.workload == "etl_daily":
        drop = etl_inputs(args.seed)
        with open(os.path.join(drop, "manifest.json")) as f:
            manifest = json.load(f)
        kv["drop"] = drop
        source_bytes = manifest["input_bytes"]
    else:
        data = BI_TABLES
        kv.update(data=data, ops=",".join(BI_OPS), dump=os.path.join(run_dir, "dump"))
        source_bytes = dir_bytes(data)

    res = run_harness(classes, kv, run_dir)

    # Correctness: the outputs of the cold pass (and, for etl_daily, of
    # the last timed re-delivery) are checked; every op that raised
    # anywhere counts as failed with its exception.
    failures = [{"op": o["name"], "where": "warm_up", "error": o["error"]}
                for o in res["warm_up"] if o["error"]]
    failures += [{"op": o["name"], "where": "timed", "error": o["error"]}
                 for o in res["ops"] if o["error"]]
    if args.workload == "etl_daily":
        # the first warm-up op, a load, and the last timed op, a re-delivery
        problems = manifest_compare(res["checks"], manifest)
        for o, when in ((res["warm_up"][0], "after_load"),
                        (res["ops"][-1], "after_rerun")):
            if problems[when] and not o["error"]:
                failures.append({"op": o["name"], "where": f"manifest {when}",
                                 "error": "; ".join(problems[when][:5])})
    else:
        verdict = oracle_compare(kv["dump"], data)
        for o in res["warm_up"]:
            if o["kind"] != "cold" or o["error"]:
                continue  # the cold pass's results are the ones compared
            mismatch = verdict.get(o["name"], "no oracle verdict")
            if mismatch is not None:
                failures.append({"op": o["name"], "where": "oracle", "error": mismatch})
    attempted = len(res["warm_up"]) + len(res["ops"])

    timed = [o for o in res["ops"] if not o["traced"]]
    ok = [o for o in timed if not o["error"]]
    ok_ms = [o["ms"] for o in ok]
    raw = {
        "setup_s": res["setup_s"],
        "op_ms_p50": statistics.median(ok_ms) if ok else None,
        # per second spent in ops: the harness's own work between ops
        # (the gauge, emptying the etl target) is left out
        "ops_per_s": len(ok) / (sum(o["ms"] for o in timed) / 1e3),
        # a mean: the JVM's CPU clock ticks in 10 ms steps, too coarse
        # for a median of single ops
        "cpu_ms_per_op": sum(o["cpu_ms"] for o in ok) / len(ok) if ok else None,
    }
    # How much slower than the reference host this run's host was, by
    # the gauge's mean over set-up and over the timed window: times are
    # divided by it and rates multiplied, so a busy shared host does not
    # read as a slower program.
    slow = {when: statistics.mean(g for o in ops for g in o["gauge_ms"]) / GAUGE_REF_MS
            for when, ops in (("setup", res["warm_up"]), ("timed", timed))}
    e2e = {k: None if v is None else
           v / slow["setup"] if k == "setup_s" else
           v * slow["timed"] if k == "ops_per_s" else v / slow["timed"]
           for k, v in raw.items()}
    record = {"args": vars(args), "nproc": nproc,
              "setup_s": res["setup_s"],
              "samples": len(timed), "passes": res["passes"],
              "end_to_end": e2e, "raw": raw,
              "gauge_ms": {k: v * GAUGE_REF_MS for k, v in slow.items()}, "failures": failures,
              "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
              "per_op_ms": layers.per_op_medians(timed),
              "warm_up_ops": [(o["name"], o["kind"], o["ms"]) for o in res["warm_up"]]}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if args.trace:
        trace = layers.analyse(res, nproc, source_bytes, list(units))
        values = record["per_layer"] = trace["metrics"]
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}-{int(time.time())}.json")
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": record, "ops": trace["ops"], "spans": res["spans"],
                       "events": res["events"]}, f)
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        values = e2e
    if set(values) != set(units):
        fail(f"metrics {sorted(values)} do not match BENCHMARK.json {sorted(units)}")
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results",
                           f"{args.workload}-seed{args.seed}-trace{args.trace}"
                           f"-{int(time.time())}.json"), "w") as f:
        json.dump(record, f, indent=1)
    for fl in failures:
        log(f"FAILED {fl['op']} ({fl['where']}): {fl['error']}")
    log(f"{args.workload}: {len(timed)} timed ops in {res['passes']} passes, "
        f"setup {res['setup_s']:.2f} s, host gauge {slow['timed'] * GAUGE_REF_MS:.2f} ms")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))


if __name__ == "__main__":
    main()
