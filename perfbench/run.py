#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the checkout's
sources (src/main/scala) together with the harness in perfbench/src
(sbt, offline); later runs reuse the build while the sources are
unchanged. One run starts one JVM with one SparkSession on local[N],
N = min(4, cpus), sets up three times, runs untimed warm passes, then
runs the workload's queries one at a time (a closed loop with one
client) in whole passes, each in an order set by --seed, until --seconds
have passed and it holds two passes and eleven query samples. An untimed
pass then digests every query's output for the correctness gate.

--trace 0 prints the end-to-end metrics; --trace 1 runs traced and
untraced passes in turn and prints the per-layer metrics. The last line
of stdout is the result JSON; the full record, with the profile and
data fingerprint, goes to perfbench/out/results/.

Workloads, their frozen query lists and the calibration behind them are
in perfbench/manifest.json (regenerated only by perfbench/calibrate.py);
expected output digests are in perfbench/digests.json.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(BENCH, "out")
DATA = os.path.join(BENCH, "data")
SOURCES = os.path.join(ROOT, "src", "main", "scala")
XMX = "3g"
RUN_LIMIT_S = 170       # a run must end within 180 s
TIMED_CAP_S = 90        # timed passes stop here whatever they hold
BUILD_LIMIT_S = 840
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def load(name):
    with open(os.path.join(BENCH, name)) as f:
        return json.load(f)


def tree_hash(paths):
    h = hashlib.sha256()
    for top in paths:
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in files:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the checkout once per source state.

    The compiled classes go into one jar, and a training run dumps the
    classes it loads into a JVM class-data archive that every run maps:
    about 6 s less JVM start-up per run on a 4-core box, which keeps a
    comparison of many runs short.

    Returns (classpath, JVM options, source stamp, whether this call built)."""
    stamp = tree_hash([SOURCES, os.path.join(BENCH, "src"),
                       os.path.join(BENCH, "build.sbt"),
                       os.path.join(BENCH, "project", "build.properties")])
    state = os.path.join(OUT, "build.json")
    if os.path.exists(state):
        with open(state) as f:
            b = json.load(f)
        if b.get("stamp") == stamp:
            return b["classpath"], b["jvm"], stamp, False
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log = os.path.join(OUT, "build.log")
    with open(log, "w") as f:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=env, stdout=f, stderr=subprocess.STDOUT,
            timeout=BUILD_LIMIT_S)
    with open(log) as f:
        lines = f.read().splitlines()
    cp = [l for l in lines if "perfbench" in l and "classes" in l and ":" in l
          and not l.startswith("[")]
    if r.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (log: {log})", 1)
    entries = cp[-1].split(os.pathsep)
    classes = entries[0]
    jar = os.path.join(OUT, "perfbench.jar")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in os.walk(classes):
            for fn in sorted(fs):
                p = os.path.join(d, fn)
                z.write(p, os.path.relpath(p, classes))
    classpath = os.pathsep.join([jar] + entries[1:])
    archive = os.path.join(OUT, "perfbench.jsa")
    if os.path.exists(archive):
        os.remove(archive)
    train = load("manifest.json")["training"]
    harness(classpath, [f"-XX:ArchiveClassesAtExit={archive}"],
            os.path.join(OUT, "work", "train"), "run", [
                "--kind", "etl", "--queries", ",".join(train["queries"]),
                "--data", os.path.join(DATA, train["scale"]),
                "--setup-data", os.path.join(DATA, train["scale"]),
                "--warm-passes", "1",
                "--seed", "0", "--seconds", "0", "--trace", "0",
                "--cores", str(cores()),
                "--out", os.path.join(OUT, "work", "train-record.json")],
            timeout=BUILD_LIMIT_S)
    jvm = [f"-XX:SharedArchiveFile={archive}"] if os.path.exists(archive) else []
    with open(state, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath, "jvm": jvm}, f)
    return classpath, jvm, stamp, True


def cores():
    return min(4, os.cpu_count() or 1)


def harness(classpath, jvm, work, mode, args, timeout=None, xmx=XMX):
    """Runs the Scala harness; everything it writes goes under `work`."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java", f"-Xmx{xmx}", "-XX:-UsePerfData", *jvm, *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dderby.stream.error.file={work}/derby.log",
           "-cp", classpath, "perfbench.Harness", "--mode", mode,
           "--work", work, *args]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(work, "harness.log")
    with open(log, "w") as f:
        try:
            r = subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT,
                               env=env, timeout=timeout)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded its time limit (log: {log})", 1)
    if r.returncode != 0:
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"harness exited {r.returncode} (log: {log})", 1)


def fingerprint(profile, stamp):
    data = {}
    for sf in sorted(os.listdir(DATA)):
        d = os.path.join(DATA, sf)
        data[sf] = {f: os.path.getsize(os.path.join(d, f)) for f in sorted(os.listdir(d))}
    return {"profile": profile, "data": data, "program": stamp,
            "benchmark": tree_hash([os.path.join(BENCH, f) for f in
                                    ("manifest.json", "digests.json", "run.py")])}


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(lat):
    """Highest percentile with at least ten samples beyond it."""
    s = sorted(lat)
    k = len(s) - 11
    if k < 0:
        return float("nan"), float("nan")
    return s[k], 100.0 * (k + 1) / len(s)


def layer_sum(q, etl):
    keys = ("build_ms", "write_ms", "read_ms", "exec_ms", "jdbc_ms") if etl \
        else ("build_ms", "plan_ms", "exec_ms")
    return sum(q.get(k, 0.0) for k in keys)


COUNT_KEYS = ("build_jobs", "infer_jobs", "jobs", "stages", "stages_skipped",
              "tasks", "plans_checked")


def per_layer(rec, etl, cores, failed_frac):
    passes = [p for p in rec["passes"] if p["complete"]]
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]

    def pass_sums(p):
        qs = p["queries"]
        t = lambda k: sum(q.get("t", {}).get(k, 0.0) for q in qs)
        f = lambda k: sum(q.get(k, 0.0) for q in qs)
        build = f("build_ms")
        after_build = f("wall_ms") - build
        return {
            "tables.infer_jobs": t("infer_jobs"),
            "tables.infer_ms": t("infer_ms"),
            "build.ms": build,
            "build.jobs": t("build_jobs"),
            "build.action_ms": t("action_ms"),
            "build.self_ms": build - t("infer_ms") - t("action_ms"),
            "plan.ms": t("write_optimize_ms") + t("write_physical_ms") if etl else f("plan_ms"),
            "plan.optimize_ms": t("write_optimize_ms") if etl else f("optimize_ms"),
            "plan.physical_ms": t("write_physical_ms") if etl else f("physical_ms"),
            "exec.ms": f("exec_ms"),
            "exec.jobs": t("jobs"),
            "exec.stages": t("stages"),
            "exec.stages_skipped": t("stages_skipped"),
            "exec.tasks": t("tasks"),
            "exec.task_run_ms": t("task_run_ms"),
            "exec.task_cpu_ms": t("task_cpu_ms"),
            "exec.gc_ms": t("gc_ms"),
            "exec.sched_wait_ms": t("sched_wait_ms"),
            "exec.scan_bytes": t("scan_bytes"),
            "exec.shuffle_write_bytes": t("shuffle_write_bytes"),
            "exec.shuffle_read_bytes": t("shuffle_read_bytes"),
            "exec.spill_bytes": t("spill_bytes"),
            "exec.core_busy_frac": t("task_run_ms") / (after_build * cores) if after_build > 0 else 0.0,
            "codegen.compiles": t("compiles"),
            "codegen.compile_ms": t("compile_ms"),
            "sink.write_ms": f("write_ms"),
            "sink.jdbc_ms": f("jdbc_ms"),
            "sink.bytes": f("bytes"),
            "sink.rows": f("rows") + f("jdbc_rows"),
            "audit.plans_checked": t("plans_checked"),
            "pass_wall_ms": f("wall_ms"),
        }

    sums = [pass_sums(p) for p in traced]
    out = {k: median([s[k] for s in sums]) for k in sums[0]} if sums else {}
    reads = [x for p in traced for x in p.get("probe_read_ms", [])] + \
        [q["read_ms"] for p in traced for q in p["queries"] if "read_ms" in q]
    out["tables.read_ms"] = median(reads)
    out["audit.violations"] = float(
        sum(1 for p in rec["passes"] for q in p["queries"]
            if str(q.get("error", "")).startswith("PlanAudit")) + rec["audit_after_passes"])
    out["floor.noop_ms"] = median(rec["floor_noop_ms"])
    batch = lambda ps: median([sum(q["wall_ms"] for q in p["queries"]) for p in ps])
    out["trace.overhead_frac"] = batch(traced) / batch(plain) - 1.0
    tq = [q for p in traced for q in p["queries"] if q["ok"]]
    out["trace.reconcile_max_frac"] = max(
        (abs(layer_sum(q, etl) - q["wall_ms"]) / q["wall_ms"] for q in tq), default=0.0)
    counts = {}
    mismatched = set()
    for q in tq:
        c = tuple(q["t"].get(k) for k in COUNT_KEYS)
        if counts.setdefault(q["name"], c) != c:
            mismatched.add(q["name"])
    out["trace.count_mismatches"] = float(len(mismatched))
    out["trace.unattributed_jobs"] = float(sum(p.get("unattributed_jobs", 0) for p in traced))
    out["failed_frac"] = failed_frac
    return out, sorted(mismatched)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not os.path.isdir(SOURCES):
        fail(f"no program sources at {os.path.relpath(SOURCES, os.getcwd())}: "
             "run from the root of a full checkout")
    manifest = load("manifest.json")
    w = manifest["workloads"].get(a.workload)
    if w is None:
        fail(f"unknown workload {a.workload!r}; have {sorted(manifest['workloads'])}")
    expected = load("digests.json")
    for sf in (w["scale"], manifest["setup_scale"]):
        if not os.path.isdir(os.path.join(DATA, sf)):
            fail(f"missing data {sf}")

    classpath, jvm, stamp, built = build()
    # a run that compiled may take longer; the harness still gets its limit
    limit = RUN_LIMIT_S if built else RUN_LIMIT_S - (time.time() - t_start)
    n_cores = cores()
    work = os.path.join(OUT, "work", a.workload)
    raw = os.path.join(OUT, "work", f"{a.workload}-record.json")
    etl = w["kind"] == "etl"
    harness(classpath, jvm, work, "run", [
        "--kind", w["kind"], "--queries", ",".join(w["queries"]),
        "--data", os.path.join(DATA, w["scale"]),
        "--setup-data", os.path.join(DATA, manifest["setup_scale"]),
        "--warm-passes", str(manifest["warm_passes"]),
        "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--cap-seconds", str(TIMED_CAP_S), "--trace", str(a.trace),
        "--cores", str(n_cores), "--out", raw], timeout=limit)
    with open(raw) as f:
        rec = json.load(f)

    # correctness: every execution ok, every output equal to its digest
    want = expected["digests"][w["scale"]]
    execs = [q for p in rec["passes"] for q in p["queries"]]
    wrong = set()
    for n in set(w["queries"]):
        got = [q["digest"] for q in execs if q["name"] == n and "digest" in q] if etl \
            else [rec["digests"].get(n, {})]
        if any(g != want.get(n) for g in got):
            wrong.add(n)
    failed_execs = [q for q in execs if not q["ok"] or q["name"] in wrong]
    attempted, failed = len(execs), len(failed_execs)
    failed_names = sorted({q["name"] for q in failed_execs})

    plain = [p for p in rec["passes"] if not p["traced"]]
    per_query = {}
    for p in plain:
        for q in p["queries"]:
            per_query.setdefault(q["name"], []).append(q["wall_ms"] if q["ok"] else math.inf)
    lat = [x for xs in per_query.values() for x in xs]
    tail_ms, tail_pct = tail(lat)
    e2e = {
        "batch_s": median([sum(q["wall_ms"] for q in p["queries"]) / 1e3
                           for p in plain if p["complete"]]),
        # median over queries of each query's median: the typical query,
        # not whichever two samples straddle the middle of few clusters
        "query_p50_ms": median([median(xs) for xs in per_query.values()]),
        "query_tail_ms": tail_ms,
        "setup_s": median(rec["setup_s"]),
        "retained_heap_mb": rec["retained_heap_mb"],
    }
    layers, mismatched = per_layer(rec, etl, n_cores, failed / attempted)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)["per_layer" if a.trace else "end_to_end"]
    chosen = layers if a.trace else e2e
    missing = [m["name"] for m in spec if m["name"] not in chosen]
    if missing:
        fail(f"metrics not produced: {missing}", 1)
    metrics = {m["name"]: {"value": chosen[m["name"]], "unit": m["unit"]} for m in spec}
    unmeasured = [k for k, v in metrics.items() if not math.isfinite(v["value"])]
    if unmeasured:
        fail(f"metrics without a value (too few complete passes): {unmeasured}", 1)

    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "fingerprint": fingerprint(dict(rec["profile"], cores=n_cores, xmx=XMX), stamp),
        "end_to_end": e2e, "per_layer": layers,
        "query_tail_percentile": tail_pct, "query_samples": len(lat),
        "passes": [{"traced": p["traced"], "complete": p["complete"],
                    "queries": len(p["queries"])} for p in rec["passes"]],
        "setup_s_samples": rec["setup_s"], "warm_s": rec["warm_s"],
        "warm_compiles": rec["warm_compiles"], "warm_compile_ms": rec["warm_compile_ms"],
        "failed_queries": failed_names,
        "oracle_mismatch_in_sample": sorted(set(w["queries"]) & set(expected["oracle_mismatch"])),
        "count_mismatches": mismatched,
        "queries": execs,
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    res = os.path.join(OUT, "results", f"{a.workload}-s{a.seed}-t{a.trace}.json")
    with open(res, "w") as f:
        json.dump(record, f)

    if failed_names:
        print(f"perfbench: failed queries: {', '.join(failed_names)}", file=sys.stderr)
    if record["oracle_mismatch_in_sample"]:
        print("perfbench: sample holds queries whose seed output disagrees with "
              f"the DuckDB oracle: {', '.join(record['oracle_mismatch_in_sample'])}",
              file=sys.stderr)
    print(f"perfbench: {a.workload} seed={a.seed} trace={a.trace} "
          f"passes={len(rec['passes'])} samples={len(lat)} "
          f"tail=p{tail_pct:.0f} profile={record['fingerprint']['program'][:12]} "
          f"record={os.path.relpath(res, ROOT)}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
