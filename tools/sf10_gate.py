#!/usr/bin/env python3
"""One-command sf10 gate: fixture -> verify -> bench -> crosscheck ->
slice/law checks -> artifacts. (VERDICT r13 #4: artifacts rot when
assembly is manual.)

Usage:
  python3 tools/sf10_gate.py [--regen] [--skip-bench] [--skip-verify]
                             [--sf1 /tmp/sf1] [--sf10 /tmp/sf10]

Steps (each logged, each resumable by re-running):
  1. --regen: MakeSf sf0.1 -> sf1 and sf0.1 -> sf10, each ONE application
     (stacked applications bury the copy salt past the 16-char token-hash
     prefix -- see the --regen comment; otherwise reuse existing dirs).
  2. graft.Verify on the spot-query list at sf10 (tools/sf10_spot.txt).
  3. graft.tools.TimeQ 2 reps over the spot list -> BENCH_sf10.json
     (min per query + total).
  4. crosscheck.py (GRAFT_DUCK_MEM-capped) on the oracle-bearing spot
     queries; out-of-budget oracles are EXPECTED to fail here and are
     superseded by step 5.
  5. sf10_checks.py slice/law/staged rows for the out-of-budget set.
  6. Merge 4+5 -> CORRECTNESS_sf10.json (a step-5 row overrides its
     step-4 failure; `err` names the method).

Run from the repo root. Uses a snapshot of target/scala-2.13/classes so
a concurrent sbt compile can't swap class files under the JVMs.
"""
import json, os, re, shutil, subprocess, sys, time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPOT_FILE = os.path.join(REPO, "tools", "sf10_spot.txt")
# oracles whose verbatim DuckDB replay exceeds the VM at sf10 — gated by
# tools/sf10_checks.py instead (slice/law/staged rows)
CHECKED = ["q25_minhash_pairs", "q89_edit_distance", "q101_dedup_pipeline",
           "q135_incremental_dedup", "q142_stream_incremental_dedup",
           "q147_hard_negatives", "q156_pagerank", "q206_minhash_oracle",
           "q208_dedup_pipeline_oracle", "q209_training_shards_oracle",
           "q210_incremental_dedup_oracle",
           "q211_stream_incremental_dedup_oracle", "q221_pq_adc_oracle",
           "q231_record_linkage",
           # r15: the five formerly-no-oracle rows now carry law checks
           # (exact planted pairs, DuckDB-exact ANN baselines + recall
           # floors, q101-anchored shard conservation)
           "q27_embedding_neardup", "q30_ann_lsh_topk", "q31_ann_ivf_topk",
           "q132_training_shards", "q193_ivfpq_search"]


def sh(cmd, env=None, log=None):
    print(f"[gate] $ {cmd}", flush=True)
    e = dict(os.environ)
    if env:
        e.update(env)
    t0 = time.time()
    with open(log, "a") if log else open(os.devnull, "w") as f:
        rc = subprocess.call(cmd, shell=True, env=e, stdout=f, stderr=f,
                             cwd=REPO)
    print(f"[gate]   rc={rc} ({time.time()-t0:.0f}s)", flush=True)
    return rc


def snapshot_classes():
    src = os.path.join(REPO, "target/scala-2.13/classes")
    dst = "/tmp/graft_cls_gate"
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)
    runner = "/tmp/run_gate.sh"
    txt = open(os.path.join(REPO, "tools/run.sh")).read()
    open(runner, "w").write(
        txt.replace("/root/repo/target/scala-2.13/classes", dst))
    os.chmod(runner, 0o755)
    return runner


def main():
    args = set(sys.argv[1:])
    sf1 = "/tmp/sf1"
    sf10 = "/tmp/sf10"
    out = "/tmp/ver_sf10_gate"
    log = "/tmp/sf10_gate.log"
    run = snapshot_classes()
    spot = open(SPOT_FILE).read().split()
    env32 = {"SPARK_DRIVER_MEM": "64g", "SPARK_GRAFT_CPUS": "32"}

    if "--regen" in args:
        # ONE MakeSf application per fixture (r17): STACKED applications
        # (sf0.1 -> sf1 -> sf10) pushed each generation's per-copy token
        # salt further down the token, and the third generation's salt
        # fell past the 16-char prefix the production token hash reads
        # (Dedup.tokenHashes) -- cross-copy docs got IDENTICAL minhash
        # signatures and every pair query went super-linear BY FIXTURE
        # CONSTRUCTION (the sf30 4.4x flag: 499k/522k natural sf30
        # candidates were cross-copy est=1.0 / jaccard=0.0 pairs;
        # plans/r17/pairsprobe_stacked_sf10_sf30.log).
        # A single application keeps the salt inside the hashed prefix.
        assert sh(f"{run} graft.tools.MakeSf /root/testdata/sf0.1 {sf1} 10",
                  env32, log) == 0
        assert sh(f"{run} graft.tools.MakeSf /root/testdata/sf0.1 {sf10} 100",
                  env32, log) == 0

    if "--skip-verify" not in args:
        # chunk the spot list so one long query can't starve the rest of
        # a wall-clock budget; Verify overwrite semantics make this
        # resumable
        for i in range(0, len(spot), 8):
            chunk = ",".join(spot[i:i + 8])
            sh(f"{run} graft.Verify {sf10} {out} {chunk}", env32, log)
        sh(f"{run} graft.tools.DumpEdges101 {sf10} {out}", env32, log)

    if "--skip-bench" not in args:
        qlist = " ".join(spot)
        rc = sh(f"{run} graft.tools.TimeQ {sf10} 2 {qlist}", env32,
                "/tmp/sf10_gate_timeq.log")
        times = {}
        for line in open("/tmp/sf10_gate_timeq.log"):
            m = re.match(r"\[timeq\] rep\d+ (\S+): ([0-9.]+) s", line)
            if m:
                q, t = m.group(1), float(m.group(2))
                times.setdefault(q, []).append(t)
        mins = {q: round(min(ts), 2) for q, ts in sorted(times.items())}
        bench = {"metric": "total", "value": round(sum(mins.values()), 1),
                 "unit": "sec", "queries": mins, "reps": 2, "sf": 10.0,
                 "note": "spot list, min/query over round-robin reps"}
        json.dump(bench, open(os.path.join(REPO, "BENCH_sf10.json"), "w"),
                  indent=1)
        print(f"[gate] BENCH_sf10.json total_min={bench['value']}")

    # crosscheck the replayable oracles ONLY: rewrite oracle_sql.json
    # without the expected-out-of-budget entries (their rows come from
    # sf10_checks) — crosscheck.py otherwise attempts the corpus-sized
    # replays and fills /tmp with DuckDB spill before failing
    osql_path = f"{out}/oracle_sql.json"
    osql = json.load(open(osql_path))
    json.dump({q: s for q, s in osql.items() if q not in CHECKED},
              open(osql_path, "w"))
    cc_json = "/tmp/cc_sf10_gate.json"
    sh(f"python3 tools/crosscheck.py {sf10} {out} {cc_json}",
       {"GRAFT_DUCK_MEM": "24GB"}, log)
    json.dump(osql, open(osql_path, "w"), indent=0)  # restore for checks
    report = json.load(open(cc_json)) if os.path.exists(cc_json) else {}
    report = {q: r for q, r in report.items()
              if q in spot}  # spot surface only

    chk_json = "/tmp/chk_sf10_gate.json"
    only = ",".join(CHECKED)
    sh(f"python3 tools/sf10_checks.py {sf10} {out} --only {only} "
       f"--json {chk_json}", None, log)
    if os.path.exists(chk_json):
        for q, row in json.load(open(chk_json)).items():
            report[q] = row

    json.dump(dict(sorted(report.items())),
              open(os.path.join(REPO, "CORRECTNESS_sf10.json"), "w"),
              indent=1)
    green = sum(1 for r in report.values() if r.get("hash_match"))
    print(f"[gate] CORRECTNESS_sf10.json: {green}/{len(report)} green")


if __name__ == "__main__":
    main()
