#!/usr/bin/env python3
"""Regenerates what the benchmark freezes. A comparison never runs this.

    python3 perfbench/calibrate.py measure   # all suite queries at both scales -> calibration.json
    python3 perfbench/calibrate.py select    # calibration.json -> manifest.json
    python3 perfbench/calibrate.py digests   # manifest queries -> digests.json
    python3 perfbench/calibrate.py evidence  # traced run records -> manifest.json "evidence"

`measure` runs every query of graft.SparkEntry once at sf0.1 and twice at
sf0.001 (the second one is kept), traced, under the benchmark's session
profile. `select` applies each workload's membership rule to those
numbers. `digests` records each member's output digest twice (a query
whose two digests differ is reported as unstable), dumps the outputs and
compares them with DuckDB through tools/check_oracle.py; a query whose
output disagrees with its oracle is listed by name in `oracle_mismatch`
and stays in its workload. `evidence` summarises the traced runs found in
perfbench/out/results: each layer's share of the traced pass wall time per
workload, so the layer -> workload map in the manifest is backed by numbers.

Run from the root of the checkout, with nothing else busy on the box.
"""
import glob
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys

import run

CAL = os.path.join(run.BENCH, "calibration.json")
MANIFEST = os.path.join(run.BENCH, "manifest.json")
DIGESTS = os.path.join(run.BENCH, "digests.json")
SMALL, LARGE = "sf0.001", "sf0.1"


def java(mode, *args):
    classpath, jvm, _, _ = run.build()
    run.harness(classpath, jvm, os.path.join(run.OUT, "work", "calibrate"), mode,
                list(args), xmx="4g")


def measure():
    out = os.path.join(run.OUT, "calibration.jsonl")
    java("calibrate", "--small", os.path.join(run.DATA, SMALL),
         "--large", os.path.join(run.DATA, LARGE), "--out", out)
    compact(out)


def compact(out):
    rows = {}
    with open(out) as f:
        for line in f:
            r = json.loads(line)
            s, l = r["small"], r["large"]
            t = l.get("t", {})
            rows[r["name"]] = {
                "module": r["module"],
                "ok": s["ok"] and l["ok"],
                "small_wall_ms": round(s["wall_ms"], 1),
                "large_wall_ms": round(l["wall_ms"], 1),
                "large_build_ms": round(l.get("build_ms", 0.0), 1),
                "large_infer_ms": t.get("infer_ms", 0.0),
                "large_action_ms": t.get("action_ms", 0.0),
                "large_build_jobs": t.get("build_jobs", 0.0),
                "large_infer_jobs": t.get("infer_jobs", 0.0),
                "large_exec_ms": round(l.get("exec_ms", 0.0), 1),
            }
    with open(CAL, "w") as f:
        f.write("{\n" + ",\n".join(json.dumps(n) + ": " + json.dumps(rows[n])
                                   for n in sorted(rows)) + "\n}\n")


def ratio(c):
    return c["large_wall_ms"] / c["small_wall_ms"]


def build_share(c):
    return c["large_build_ms"] / c["large_wall_ms"]


def action_share(c):
    return c["large_action_ms"] / c["large_wall_ms"]


def pick(cands, budget_ms, key, rng):
    """Seeded sample of `cands` whose calibrated `key` times fit the budget."""
    order = sorted(cands)
    rng.shuffle(order)
    chosen, total = [], 0.0
    for n in order:
        if total + key(n) <= budget_ms:
            chosen.append(n)
            total += key(n)
    return sorted(chosen)


def select():
    with open(CAL) as f:
        cal = json.load(f)
    with open(MANIFEST) as f:
        manifest = json.load(f)
    rng = lambda wl: random.Random(f"{manifest['selection_seed']}-{wl}")
    ok = {n: c for n, c in cal.items() if c["ok"]}
    large = lambda n: ok[n]["large_wall_ms"]
    rules = manifest["rules"]
    w = manifest["workloads"]

    # data-bound: wall time at least doubles from sf0.001 to sf0.1, little
    # build; mostly the dedup/similarity and graph families
    r = rules["data-bound"]
    data = [n for n, c in ok.items() if ratio(c) >= r["min_scale_ratio"]
            and build_share(c) < r["max_build_share"]
            and c["large_wall_ms"] <= r["max_large_wall_ms"]]
    fam = pick([n for n in data if ok[n]["module"] in r["families"]],
               r["pass_budget_ms"] * r["family_share"], large, rng("data-bound"))
    rest = pick([n for n in data if n not in fam],
                r["pass_budget_ms"] - sum(large(n) for n in fam), large,
                rng("data-bound"))
    w["data-bound"]["queries"] = sorted(fam + rest)

    # etl-write: a suite sample plus the reference pipelines
    r = rules["etl-write"]
    pipelines = r["always"]
    suite = [n for n, c in ok.items() if n not in pipelines
             and c["large_wall_ms"] <= r["max_large_wall_ms"]]
    budget = r["pass_budget_ms"] - sum(large(n) for n in pipelines)
    w["etl-write"]["queries"] = sorted(pick(suite, budget, large, rng("etl-write"))
                                       + pipelines)

    # the class-data archive's training run loads what every kind uses
    manifest["training"] = {"scale": SMALL, "queries": sorted(
        set(w["data-bound"]["queries"]) | set(w["etl-write"]["queries"]))}

    for name, wl in w.items():
        wl["calibration"] = {n: {
            "module": cal[n]["module"],
            "small_wall_ms": cal[n]["small_wall_ms"],
            "large_wall_ms": cal[n]["large_wall_ms"],
            "scale_ratio": round(ratio(cal[n]), 3),
            "build_share": round(build_share(cal[n]), 3),
            "action_share": round(action_share(cal[n]), 3),
            "build_jobs": cal[n]["large_build_jobs"],
        } for n in wl["queries"]}
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")


def digests():
    with open(MANIFEST) as f:
        manifest = json.load(f)
    by_scale = {}
    for wl in manifest["workloads"].values():
        by_scale.setdefault(wl["scale"], set()).update(wl["queries"])
    out = {"digests": {}, "oracle": {}, "oracle_mismatch": [], "unstable": [],
           "parquet_differs": []}
    for sf, names in sorted(by_scale.items()):
        names = sorted(names)
        dump = os.path.join(run.OUT, "oracle", sf)
        shutil.rmtree(dump, ignore_errors=True)
        os.makedirs(dump)
        res_file = os.path.join(run.OUT, f"digests-{sf}.json")
        java("digest", "--data", os.path.join(run.DATA, sf), "--dump", dump,
             "--queries", ",".join(names), "--out", res_file)
        with open(res_file) as f:
            res = json.load(f)
        if res["audit_findings"]:
            sys.exit(f"PlanAudit findings while digesting {sf}: {res['audit_findings']}")
        out["digests"][sf] = {}
        for n in names:
            d = res["digests"][n]
            if "error" in d:
                sys.exit(f"{n} failed at {sf}: {d['error']}")
            out["digests"][sf][n] = d["digest"]
            if not d["stable"]:
                out["unstable"].append(n)
            if not d["parquet_same"]:
                out["parquet_differs"].append(n)
        check = subprocess.run(
            [sys.executable, os.path.join(run.ROOT, "tools", "check_oracle.py"),
             os.path.join(run.DATA, sf), dump, *names],
            capture_output=True, text=True)
        verdicts = {}
        for line in check.stdout.splitlines():
            m = re.match(r"(PASS|FAIL|SKIP)\s+(\S+?)[:\s]", line + " ")
            if m:
                verdicts[m.group(2)] = {"PASS": "pass", "SKIP": "no oracle"}.get(
                    m.group(1), line.strip())
        out["oracle"][sf] = {n: verdicts.get(n, "not compared") for n in names}
        out["oracle_mismatch"] += [n for n in names if verdicts.get(n, "").startswith("FAIL")]
    for k in ("oracle_mismatch", "unstable", "parquet_differs"):
        out[k] = sorted(set(out[k]))
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps({k: out[k] for k in ("oracle_mismatch", "unstable", "parquet_differs")}))


SHARES = ("tables.infer_ms", "build.ms", "build.action_ms", "build.self_ms",
          "plan.ms", "exec.ms", "codegen.compile_ms", "sink.write_ms", "sink.jdbc_ms")
COUNTS = ("tables.infer_jobs", "build.jobs", "exec.jobs", "exec.stages", "exec.tasks",
          "codegen.compiles", "audit.violations", "trace.overhead_frac",
          "trace.reconcile_max_frac", "trace.count_mismatches")


def evidence():
    with open(MANIFEST) as f:
        manifest = json.load(f)
    med = lambda xs: round(statistics.median(xs), 4)
    ev = {}
    for wl in manifest["workloads"]:
        recs = []
        for p in sorted(glob.glob(os.path.join(run.OUT, "results", f"{wl}-s*-t1.json"))):
            with open(p) as f:
                recs.append(json.load(f)["per_layer"])
        if not recs:
            continue
        wall = statistics.median(r["pass_wall_ms"] for r in recs)
        ev[wl] = {"traced_runs": len(recs), "pass_wall_ms": round(wall, 1),
                  "share_of_pass_wall": {k: med([r[k] / r["pass_wall_ms"] for r in recs])
                                         for k in SHARES},
                  "per_pass": {k: med([r[k] for r in recs]) for k in COUNTS}}
    manifest["evidence"] = {
        "source": "median over the traced runs (--trace 1) of each workload; "
                  "shares are of the traced pass wall time",
        "workloads": ev,
        "ranking": {k: sorted(ev, key=lambda w: -ev[w]["share_of_pass_wall"][k])
                    for k in SHARES}}
    with open(MANIFEST, "w") as f:
        json.dump(manifest, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    steps = {"measure": measure, "select": select, "digests": digests,
             "evidence": evidence}
    if len(sys.argv) != 2 or sys.argv[1] not in steps:
        sys.exit(__doc__)
    steps[sys.argv[1]]()
