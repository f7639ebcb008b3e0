#!/usr/bin/env python3
"""Benchmark of the paper's E1/E2 pipeline (`cli.Pipeline`) on generated,
hospital-scale ICU extracts.

    python3 perfbench/run.py --workload linkage_stays --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run compiles the engine and the
harness with sbt (offline) into perfbench/target; later runs reuse the
build while the sources are unchanged. Extracts are generated per
(workload, seed, sizes) under .bench_build/ and reused. The last stdout
line is one JSON object: `correct`, `attempted`, `failed` and `metrics`
(end-to-end metrics with --trace 0, per-layer metrics with --trace 1).
A readable table goes to stderr; the full record of the run (passes,
ops, error classes, spans, load averages, versions) is written to
.bench_build/perfbench/results/<run_id>.json for `compare.py`.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
SPARK_HOME = os.environ.get("SPARK_HOME", "")
sys.path.insert(0, HERE)

import check  # noqa: E402

# Sizes, and why: `linkage_stays` puts the work in E1 (scans, key
# repair, dedup, link, CMP XML, derivations), which the pipeline
# re-runs for each output that depends on the cohort; `chartevents_dense`
# puts it in E2 (EAV scans, cohort join, value parse, labelling, a
# parquet write as large as the input) with a small E1.
WORKLOADS = {
    "linkage_stays": {"stays": 8000, "events": "sparse"},
    "chartevents_dense": {"stays": 400, "events": "dense"},
}
MIN_PASSES = 3
JVM_TIMEOUT_S = 170
FIXTURE = os.path.join(ROOT, "src", "test", "resources", "domain")
# LinkagePipelineSpec's hand-derived counts on the fixture.
FIXTURE_STAYS, FIXTURE_CHARTEVENTS = 4, 11

UNITS = {"_s": "s", "_bytes": "B"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def sources_stamp():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/main/scala/**/*.scala"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project/build.properties")])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("no engine sources (src/main/scala) next to perfbench/; nothing to build")
    if not SPARK_HOME:
        fail("SPARK_HOME is not set; the build and the harness use its jars")
    stamp = sources_stamp()
    stamp_file = os.path.join(WORK, "build.stamp")
    classes = os.path.join(HERE, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes
    log("building engine + harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=(
        "-Dsbt.override.build.repos=true -Dsbt.repository.config=" +
        os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=HERE,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
                       text=True, timeout=850)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        fail(f"sbt compile failed (rc={r.returncode})")
    log(f"built in {time.time() - t0:.0f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes


def extracts(workload, seed):
    """Generated extracts and their truth file, cached by seed and sizes."""
    import gen
    import truth
    sizes = WORKLOADS[workload]
    key = f"{workload}-s{seed}-" + hashlib.sha256(json.dumps(
        [sizes, open(gen.__file__).read(), open(truth.__file__).read()],
        sort_keys=True).encode()).hexdigest()[:12]
    d = os.path.join(WORK, "data", key)
    if not os.path.exists(os.path.join(d, "truth.json")):
        t0 = time.time()
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.generate(tmp, seed, sizes["stays"], sizes["events"])
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth.derive(tmp), f)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
        log(f"generated {key} in {time.time() - t0:.1f}s")
    return d, sizes


def fixture_truth():
    """Truth for the checked-in fixture; the checker must reproduce the
    spec's counts before any of its verdicts count."""
    import truth
    t = truth.derive(FIXTURE)
    p = os.path.join(WORK, "fixture_truth.json")
    with open(p, "w") as f:
        json.dump(t, f)
    return p, t["philips"] == FIXTURE_STAYS and t["chartevents_rows"] == FIXTURE_CHARTEVENTS


def fixture_verdict_file():
    """The harness's pass over the fixture is a function of the build
    alone, so its verdict is kept per source state, like the build."""
    h = hashlib.sha256(sources_stamp().encode())
    for f in sorted(glob.glob(os.path.join(FIXTURE, "*"))) + [check.__file__]:
        with open(f, "rb") as fh:
            h.update(fh.read())
    return os.path.join(WORK, f"fixture_ok.{h.hexdigest()[:16]}")


def java_cmd(classes):
    """The JDK 17 opens Spark needs outside spark-submit, as in the
    engine's build. A fixed 2 GiB heap and the throughput collector keep
    peak RSS and pass times steadier between runs than the defaults."""
    opens = []
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]:
        opens += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cp = ":".join([classes] + sorted(glob.glob(os.path.join(SPARK_HOME, "jars", "*.jar"))))
    return ["java"] + opens + ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC",
                               f"-Djava.io.tmpdir={WORK}/tmp",
                               "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Harness"]


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def unit_of(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)), "count")


def ok(op):
    return op["error_class"] is None and op["check"] is None


def end_to_end(res, in_bytes):
    passes = [p for p in res["passes"] if p["kind"] in ("setup", "measure")]
    measured = [p for p in res["passes"] if p["kind"] == "measure"]
    samples = {"setup_s": [res["setup_s"]]}
    values = {}
    # A group's samples are its per-pass sums; its value is the sum over
    # its ops of each op's median across passes, which is steadier than
    # the median of the sums.
    for group in ("linkage", "chartevents", "reports"):
        names = [o["name"] for o in measured[0]["ops"] if o["group"] == group]
        for suffix, key in (("_s", "wall_s"), ("_cpu_s", "cpu_s")):
            samples[group + suffix] = [sum(o[key] for o in p["ops"] if o["group"] == group)
                                       for p in measured]
            values[group + suffix] = sum(statistics.median(
                o[key] for p in measured for o in p["ops"] if o["name"] == n) for n in names)
    ops = [o for p in passes for o in p["ops"]]
    samples["ops_ok_share"] = [sum(map(ok, ops)) / len(ops)]
    samples["peak_rss_mb"] = [res["peak_rss_mb"]]
    samples["out_bytes_per_in_byte"] = [p["out_bytes"] / in_bytes for p in measured]
    units = {"ops_ok_share": "share", "peak_rss_mb": "MB", "out_bytes_per_in_byte": "B/B"}
    return samples, values, units, ops


def per_layer(res, in_bytes):
    spans = res["spans"]
    by_id = {s["id"]: s for s in spans}
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)

    def secs(s):
        return (s["end_ns"] - s["start_ns"]) / 1e9

    def self_s(s):
        return secs(s) - sum(secs(c) for c in children.get(s["id"], []))

    def root(s):
        while s["parent"] >= 0:
            s = by_id[s["parent"]]
        return s["name"]

    rounds = sorted({s["pass"] for s in spans})
    staged = {r: [s for s in spans if s["pass"] == r and root(s) == "pass.staged"] for r in rounds}
    traced = {r: [s for s in spans if s["pass"] == r and root(s) == "pass.traced"] for r in rounds}
    passes = {p["index"]: p for p in res["passes"]}
    untraced = [p["wall_s"] for p in res["passes"] if p["kind"] == "untraced"]

    def per_round(f):
        return [f(r) for r in rounds]

    def total(r, names, fn=secs, where=None):
        src = staged[r] if where is None else where[r]
        return sum(fn(s) for s in src if s["name"] in names)

    samples = {
        "sources.csv_s": per_round(lambda r: total(r, {"sources.csv", "sources.dimensionCsv"})),
        "sources.tsv_s": per_round(lambda r: total(r, {"sources.tsvWithFooter"})),
        "sources.xml_s": per_round(lambda r: total(r, {"sources.xml"})),
        "sources.write_s": per_round(lambda r: total(r, {"sources.writeParquet"})),
        "operators.key_correction_s": per_round(lambda r: total(
            r, {"operators.KeyCorrection.correctVia", "operators.KeyCorrection.correctKeys"})),
        "operators.dedup_s": per_round(lambda r: total(r, {"operators.Dedup.combine"})),
        "operators.reports_s": per_round(lambda r: total(
            r, {"operators.Reports.freqTable", "operators.Reports.completeness"})),
        "cli.clean_icnarc_ids_s": per_round(lambda r: total(r, {"cli.cleanIcnarcIds"}, self_s)),
        "cli.clean_philips_s": per_round(lambda r: total(r, {"cli.cleanPhilipsEncounters"}, self_s)),
        "cli.link_s": per_round(lambda r: total(r, {"cli.joinIcnarcToPhilips"})),
        "cli.parse_cmp_s": per_round(lambda r: total(r, {"cli.parseCmp"}, self_s)),
        "cli.derive_s": per_round(lambda r: total(r, {"cli.deriveClinical"})),
        "cli.build_chartevents_s": per_round(lambda r: total(r, {"cli.buildChartevents"}, self_s)),
        "cli.chartevents_reports_s": per_round(lambda r: total(r, {"cli.runChartevents"}, self_s)),
        # counted on the ordinary pass under the listeners
        "cli.e1_lineage_runs": per_round(lambda r: passes[r]["xml_scans"]),
        "sources.eager_jobs": per_round(lambda r: total(
            r, {"cli.runLinkage", "cli.runChartevents"}, lambda s: s["jobs"], traced)),
        "sources.bytes_read_per_input_byte": per_round(lambda r: sum(
            s["input_bytes"] for s in traced[r]) / in_bytes),
        "plans.plan_s": per_round(lambda r: total(r, {"plans.executedPlan"}, where=traced)),
        "operators.dedup_rows_in": [res["dedup_rows"][0]],
        "operators.dedup_rows_out": [res["dedup_rows"][1]],
        "trace.untraced_pass_s": untraced,
        "trace.traced_pass_s": per_round(lambda r: passes[r]["wall_s"]),
    }
    # Counters that are zero at these sizes (spill, and output bytes and
    # failed tasks of spans that write nothing and cannot fail) stay in
    # the results file only.
    counters = {
        "sources": ["exec_cpu_s", "gc_s", "task_wait_s", "shuffle_write_bytes", "input_bytes",
                    "output_bytes", "jobs", "tasks"],
        "operators": ["exec_cpu_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
                      "input_bytes", "jobs", "tasks"],
        "cli": ["exec_cpu_s", "gc_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
                "input_bytes", "jobs", "tasks"],
        "pass": ["exec_cpu_s", "gc_s", "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes",
                 "input_bytes", "output_bytes", "jobs", "tasks", "failed_tasks"],
    }
    for layer, names in counters.items():
        for c in names:
            if layer == "pass":
                samples[f"pass.{c}"] = per_round(lambda r: sum(s[c] for s in traced[r]))
            else:
                samples[f"{layer}.{c}"] = per_round(lambda r: sum(
                    s[c] for s in staged[r] if s["name"].startswith(layer + ".")))
    med_u = statistics.median(untraced)
    samples["trace.overhead_share"] = [
        statistics.median(samples["trace.traced_pass_s"]) / med_u - 1.0]
    units = {}
    for k in samples:
        units[k] = ("share" if k.endswith("_share") else "B/B" if k.endswith("_per_input_byte")
                    else "rows" if "_rows_" in k else unit_of(k))
    ops = [o for p in res["passes"] if p["kind"] in ("setup", "untraced", "traced")
           for o in p["ops"]]
    return samples, {}, units, ops


def steal_s():
    """CPU time the hypervisor gave to others, all CPUs, in seconds."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def git_commit():
    """HEAD of the checkout when it is a git work tree of its own."""
    try:
        r = subprocess.run(["git", "rev-parse", "--show-toplevel", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
    except OSError:
        return None
    lines = r.stdout.split()
    if r.returncode != 0 or len(lines) != 2 or os.path.realpath(lines[0]) != os.path.realpath(ROOT):
        return None
    return lines[1]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    started_at = time.time()

    for sub in ("tmp", "results", "spark-local", "out"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    classes = build()
    data, sizes = extracts(args.workload, args.seed)
    fix_truth, fixture_counts_ok = fixture_truth()
    in_bytes = sum(os.path.getsize(f) for f in glob.glob(os.path.join(data, "*"))
                   if not f.endswith("truth.json"))
    nproc = len(os.sched_getaffinity(0))
    run_id = uuid.uuid4().hex
    raw = os.path.join(WORK, "tmp", f"{run_id}.raw.json")
    out = os.path.join(WORK, "out", run_id)
    fixture_pass = not os.path.exists(fixture_verdict_file())
    local_dir = os.path.join(WORK, "spark-local", run_id)
    cmd = java_cmd(classes) + [
        "--run-id", run_id, "--nproc", str(nproc), "--data", data, "--out", out,
        "--fixture", FIXTURE if fixture_pass else "none", "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--min-passes", str(1 if args.trace else MIN_PASSES),
        "--local-dir", local_dir, "--results", raw]
    load_before = open("/proc/loadavg").read().strip()
    steal_before = steal_s()
    t0 = time.time()
    try:
        # SPARK_LOCAL_DIRS would override spark.local.dir; keep scratch in the checkout
        r = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                           env=dict(os.environ, SPARK_LOCAL_DIRS=local_dir), text=True,
                           timeout=JVM_TIMEOUT_S)
        for line in r.stderr.splitlines():
            if line.startswith("[perfbench]"):
                print(line, file=sys.stderr)
        if r.returncode != 0 or not os.path.exists(raw):
            sys.stderr.write(r.stderr[-4000:])
            fail(f"harness failed (rc={r.returncode})")
        with open(raw) as f:
            res = json.load(f)
        jvm_s = time.time() - t0
        con = check.connect()
        with open(os.path.join(data, "truth.json")) as f:
            truth_ = json.load(f)
        with open(fix_truth) as f:
            check.check_run(con, res["passes"], out, truth_, json.load(f))
        con.close()
    except subprocess.TimeoutExpired:
        fail(f"harness did not finish within {JVM_TIMEOUT_S}s")
    finally:
        shutil.rmtree(out, ignore_errors=True)
        shutil.rmtree(local_dir, ignore_errors=True)
        if os.path.exists(raw):
            os.remove(raw)
    fixture_ok = all(ok(o) for p in res["passes"] if p["kind"] == "fixture" for o in p["ops"])
    if fixture_pass and fixture_ok and fixture_counts_ok:
        open(fixture_verdict_file(), "w").close()
    passes = [p for p in res["passes"] if p["kind"] != "fixture"]

    if args.trace:
        samples, values, units, ops = per_layer(res, in_bytes)
    else:
        samples, values, units, ops = end_to_end(res, in_bytes)
    for k in samples:
        units.setdefault(k, unit_of(k))
    wrong = [o for p in passes for o in p["ops"] if o["check"] is not None]
    correct = fixture_counts_ok and fixture_ok and not wrong
    failed = sum(not ok(o) for o in ops)

    summary = {}
    for k, xs in samples.items():
        q1, med, q3 = quartiles(xs)
        summary[k] = {"value": values.get(k, med), "unit": units[k], "n": len(xs),
                      "q1": q1, "q3": q3, "samples": xs}
    errors = sorted({(o["name"], o["error_class"]) for o in ops if o["error_class"]})
    res.update({
        "started_at": started_at, "workload": args.workload, "seed": args.seed, "sizes": sizes,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc, "git_commit": git_commit(),
        "source_stamp": open(os.path.join(WORK, "build.stamp")).read(),
        "input_bytes": in_bytes, "loadavg_before_run": load_before,
        "loadavg_after_run": open("/proc/loadavg").read().strip(),
        "cpu_steal_s": steal_s() - steal_before,
        "jvm_s": jvm_s, "wall_s": time.time() - t0, "fixture_check": fixture_pass,
        "correct": correct, "attempted": len(ops),
        "failed": failed, "failed_ops": [list(e) for e in errors],
        "wrong_outputs": [f'{o["name"]}: {o["check"]}' for o in wrong],
        "metrics": summary})
    with open(os.path.join(WORK, "results", f"{run_id}.json"), "w") as f:
        json.dump(res, f)

    log(f"run {run_id} {args.workload} seed={args.seed} trace={args.trace} "
        f"attempted={len(ops)} failed={failed} correct={correct}")
    for name, cls in errors:
        log(f"  failed op {name}: {cls}")
    for w in res["wrong_outputs"]:
        log(f"  wrong output {w}")
    for k, m in summary.items():
        log(f"  {k:40s} {m['value']:14.4f} {m['unit']:6s} n={m['n']} "
            f"q1={m['q1']:.4f} q3={m['q3']:.4f}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                                  for k, m in summary.items()}}))


if __name__ == "__main__":
    main()
