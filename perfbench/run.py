#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload spatial_chain --seed 0 --seconds 15 --trace 0

Builds the engine and the benchmark's Scala code from source (once per source
state), makes the seed's fixture, runs the workload in one JVM with
`local[<cores>]`, checks every result, and prints each metric with its unit
and the correctness verdict. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}. The full result
(every sample, every failure with its exception, the spans of a traced run)
goes to .bench_build/perfbench/results/.
"""
import argparse
import contextlib
import hashlib
import io
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # import nothing into the checkout's dirs

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
DEADLINE_S = 170  # the whole run, build excluded, ends well inside 180 s

# Queries are named by their SparkEntry prefix. Why each list, and the
# layer each one loads, is in perfbench/README.md.
WORKLOADS = {
    "spatial_chain": {
        "queries": "q41 q43 q45 q46 q74 q07 q08".split(),
        "setup": ["scenes"],
    },
    "dedup_lsh": {
        "queries": "q24 q206 q207 q215 q119 q73 q108".split(),
        "setup": ["components"],
    },
}

# Queries that are never benchmarked, with the reason.
EXCLUDED = {
    "q49_gpkg_golden_area": "reads the reference lu.gpkg, which is not in the repository",
    "q51_reference_linked_view": "reads the reference lu.gpkg, which is not in the repository",
}

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)  # metric names and units

FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
MIN_WARM_PASSES = 3  # pass_s is the median of at least this many
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", flush=True)


def fail(msg):
    print(f"[perfbench] error: {msg}", file=sys.stderr, flush=True)
    sys.exit(2)


# ---- build --------------------------------------------------------------

def source_stamp():
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the benchmark's Scala code with sbt
    (offline); return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved = json.load(fh)
        if saved["stamp"] == stamp:
            return saved["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    os.makedirs(WORK, exist_ok=True)
    log_path = os.path.join(WORK, "build.log")
    log("building the engine and the benchmark with sbt (log: .bench_build/perfbench/build.log)")
    with open(log_path, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=840)
    with open(log_path) as fh:
        lines = fh.read().splitlines()
    if r.returncode != 0:
        fail("sbt build failed:\n" + "\n".join(lines[-30:]))
    cp = next(l for l in reversed(lines) if ".jar" in l and not l.startswith("["))
    with open(cp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp}, fh)
    return cp


# ---- inputs -------------------------------------------------------------

def fixture_for(seed):
    """Seed 0 is the committed fixture; other seeds derive a same-shaped one."""
    if seed == 0:
        return FIXTURE
    import fixture as fx  # perfbench/fixture.py
    out = os.path.join(WORK, "fixtures", f"seed{seed}", os.path.basename(FIXTURE))
    fx.derive(FIXTURE, out, seed)
    return out


def expected_path(seed, workload):
    if seed == 0:
        return os.path.join(HERE, "expected", f"{workload}.json")
    return os.path.join(WORK, "fixtures", f"seed{seed}", f"expected-{workload}.json")


# ---- one JVM ------------------------------------------------------------

def run_jvm(cp, cfg, run_dir, name, deadline):
    cfg_path = os.path.join(run_dir, f"{name}.config.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    tmp = os.path.join(run_dir, f"{name}.tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # a fixed, pre-touched heap, as production executors run: peak RSS is
    # then the heap plus the off-heap memory, not the collector's sizing
    cmd += ["-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch",
            "-Duser.timezone=UTC", "-Dspark.ui.enabled=false",
            f"-Djava.io.tmpdir={tmp}", f"-Dgraft.artifacts={tmp}/artifacts",
            f"-Dderby.system.home={tmp}", "-cp", cp, "perfbench.Main", cfg_path]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(tmp, "local"))
    log_path = os.path.join(run_dir, f"{name}.log")
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)

        def stop_jvm():
            # SIGTERM first, so the engine's shutdown hooks remove its
            # scratch and checkpoint dirs
            proc.terminate()
            try:
                proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

        def on_signal(signum, _frame):
            stop_jvm()
            fail(f"stopped by signal {signum}")
        for sig in (signal.SIGTERM, signal.SIGINT):
            signal.signal(sig, on_signal)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop_jvm()
            fail(f"{name} JVM passed the run deadline (log: {log_path})")
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        with open(log_path) as fh:
            tail = fh.read().splitlines()[-30:]
        fail(f"{name} JVM exited with {rc}:\n" + "\n".join(tail))
    with open(cfg["out"]) as fh:
        return json.load(fh)


def oracle_check(fixture, dump_dir):
    """Replay the dumped results against the DuckDB oracle
    (tools/crosscheck.py); return {query: None if accepted else reason}."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import crosscheck
    report_path = os.path.join(dump_dir, "crosscheck.json")
    with contextlib.redirect_stdout(io.StringIO()):
        crosscheck.main(fixture, dump_dir, report_path)
    with open(report_path) as fh:
        report = json.load(fh)
    return {q: (None if r["hash_match"] or r["err"] == "no_oracle" else r["err"] or "mismatch")
            for q, r in report.items()}


# ---- one run ------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    if args.seed < 0:
        fail("--seed must be >= 0")
    for need in ["build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join("tools", "crosscheck.py")]:
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} is missing: run from the root of a full checkout")

    t_build = time.time()
    cp = build()
    start = time.time()
    phases = {"build_s": start - t_build}
    deadline = start + DEADLINE_S
    sys.path.insert(0, HERE)
    fixture = fixture_for(args.seed)
    wl = WORKLOADS[args.workload]
    exp_path = expected_path(args.seed, args.workload)
    expected = None
    if os.path.exists(exp_path):
        with open(exp_path) as fh:
            expected = json.load(fh)

    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + f"-{os.getpid()}"
    run_name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}"
    run_dir = os.path.join(WORK, "runs", run_name)
    os.makedirs(run_dir, exist_ok=True)
    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    cores = len(os.sched_getaffinity(0))  # what nproc reports
    dump = os.path.join(run_dir, "dump") if expected is None else None
    cfg = {
        "workload": args.workload, "queries": wl["queries"], "fixture": fixture,
        "cores": cores, "trace": bool(args.trace), "setup": wl["setup"],
        "seconds": args.seconds,
        # a traced run makes this many traced and as many untraced passes
        "min_warm_passes": 2 if args.trace else MIN_WARM_PASSES,
        "out": os.path.join(run_dir, "main.out.json"),
        "spans": os.path.join(results_dir, run_name + ".spans.jsonl"),
    }
    if expected is not None:
        cfg["expected"] = expected
    if dump:
        cfg["dump"] = dump
    phases["fixture_s"] = time.time() - start
    res = run_jvm(cp, cfg, run_dir, "main", deadline)
    phases["jvm_s"] = time.time() - start - phases["fixture_s"]

    # results every pass must reproduce; a new seed's are accepted by the
    # oracle here, then kept for later runs on the same seed
    wrong = {}
    if dump:
        verdict = oracle_check(fixture, dump)
        for q in res["dumped"]:
            if verdict.get(q) is not None:
                wrong[q] = f"oracle: {verdict[q]}"
        if not wrong and len(res["dumped"]) == len(res["queries"]):
            with open(exp_path, "w") as fh:
                json.dump(res["reference"], fh, indent=1, sort_keys=True)
    phases["run_s"] = time.time() - start

    samples = res["samples"]
    failures = [dict(s, error=s["error"]) for s in samples if s["error"]]
    for q, why in sorted(wrong.items()):
        failures.append({"pass": None, "query": q, "seconds": None,
                         "error": {"class": "WrongResult", "message": why}})
    bad = {f["query"] for f in failures}
    attempted = len(samples)
    failed = sum(1 for s in samples if s["error"] or s["query"] in wrong)
    good = [s for s in samples if s["query"] not in bad]
    passes = {p["pass"]: p for p in res["passes"]}

    def pass_time(p):
        return sum(s["seconds"] for s in good if s["pass"] == p)

    warm = [p for p in passes if p > 0 and not passes[p]["traced"]]
    warm_samples = [s["seconds"] for s in good if s["pass"] in warm]

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "fixture": os.path.relpath(fixture, ROOT), "cores": cores,
              "seconds": args.seconds, "queries": res["queries"],
              "rows_only": res["rows_only"], "excluded": EXCLUDED,
              "attempted": attempted, "failed": failed, "failures": failures,
              "passes": [dict(passes[p], timed_s=pass_time(p)) for p in sorted(passes)],
              "setup": res["setup"], "warm_samples": len(warm_samples),
              "per_query": {q: {"cold_s": next((s["seconds"] for s in samples
                                                 if s["query"] == q and s["pass"] == 0), None),
                                "warm_s": [s["seconds"] for s in samples
                                           if s["query"] == q and s["pass"] in warm]}
                            for q in res["queries"]},
              "phases": phases}
    if good and warm:
        e2e = {
            "setup_s": res["setup"]["setup_s"],
            "cold_pass_s": pass_time(0),
            "pass_s": statistics.median(pass_time(p) for p in warm),
            "query_p50_s": statistics.median(warm_samples),
            "query_p90_s": statistics.quantiles(warm_samples, n=10, method="inclusive")[-1],
            "ok_frac": 1 - failed / attempted,
            "peak_rss_mb": res["peak_rss_mb"],
        }
        report["end_to_end"] = e2e
    else:
        e2e = {}
    correct = failed == 0 and bool(good)

    if args.trace:
        layers = res["layers"]
        traced = [p for p in passes if p > 0 and passes[p]["traced"]]
        overhead = (statistics.median(pass_time(p) for p in traced) -
                    statistics.median(pass_time(p) for p in warm)) if traced and warm else None
        report["tracing_overhead_s"] = overhead
        report["spans"] = layers.pop("spans")
        report["per_layer"] = layers
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in SPEC["per_layer"]}
        log(f"spans: {os.path.relpath(report['spans']['file'], ROOT)}")
        for layer, st in report["spans"]["layers"].items():
            log(f"  layer {layer:9s} spans={st['spans']:6d} total={st['total_s']:9.3f} s "
                f"self={st['self_s']:9.3f} s")
        log(f"jobs not attributable to a query: {layers['jobs_unattributed']}")
        if overhead is not None:
            log(f"tracing overhead: {overhead:+.4f} s per pass "
                f"(traced pass_s minus untraced pass_s, same run)")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in SPEC["end_to_end"] if m["name"] in e2e}

    with open(os.path.join(results_dir, run_name + ".json"), "w") as fh:
        json.dump(report, fh, indent=1)
    shutil.rmtree(run_dir, ignore_errors=True)
    for f in failures:
        log(f"FAILED {f['query']} pass {f['pass']}: {f['error']['class']}: {f['error']['message'][:300]}")
    log(f"workload {args.workload} seed {args.seed}: {len(res['queries'])} queries, "
        f"{len(passes)} passes, {len(warm_samples)} warm samples")
    for k, m in metrics.items():
        log(f"{k} = {m['value']:.6g} {m['unit']}")
    log(f"failed_frac = {failed / max(1, attempted):.6g} ({failed} of {attempted})")
    log("wall: " + ", ".join(f"{k} {v:.1f} s" for k, v in phases.items()))
    log(f"verdict: {'correct' if correct else 'WRONG'}")
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
