#!/usr/bin/env python3
"""Standing one-command round-close ritual (r18 verdict #1).

r18 shipped BLIND: the driver's CORRECTNESS_r18.json came back `{}` and
nothing in the repo noticed. This tool makes the round's correctness and
bench evidence a committed, self-checked artifact set:

  1. sbt compile (fail fast on red)
  2. graft.Verify @ sf0.01  -> tools/oracle_check.py
         -> CORRECTNESS_LOCAL_<round>.json
  3. graft.Verify @ sf0.1   -> tools/sf01_gate.py
         -> CORRECTNESS_SF01_<round>.json
  4. graft.Bench  @ sf0.1 full sweep (unless --skip-bench)
         -> BENCH_QUERIES_<round>.json   (ALL per-query floors — the
            driver's BENCH_rN.json capture truncates its tail, r18 lost
            87/149 floors)
  5. EMPTY-REPORT GUARD: refuse to close (exit 2, loud banner) if any
     artifact has zero query entries or any hard failure.
  6. git add + commit the artifacts.

Usage:
    python3 tools/round_close.py r19 [--skip-bench] [--no-commit]
"""
import json
import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF001 = "/root/testdata/sf0.01"
SF01 = "/root/testdata/sf0.1"
MIN_QUERIES = 100  # guard: the suite has 149+ entries; <100 means breakage


def run(cmd, env=None, **kw):
    print(f"[round_close] $ {' '.join(cmd)}", flush=True)
    return subprocess.run(cmd, cwd=REPO, env=env, **kw)


def die(msg):
    print("\n" + "=" * 70, flush=True)
    print(f"[round_close] ROUND NOT CLOSED: {msg}", flush=True)
    print("=" * 70, flush=True)
    sys.exit(2)


def verify(sfdir, outdir):
    shutil.rmtree(outdir, ignore_errors=True)
    r = run(["sbt", "-batch", f"runMain graft.Verify {sfdir} {outdir}"])
    if r.returncode != 0:
        die(f"graft.Verify rc={r.returncode} at {sfdir}")
    if not os.path.exists(os.path.join(outdir, "oracle_sql.json")):
        die(f"Verify produced no oracle_sql.json at {outdir}")


def check_report(path, kind):
    """The loud empty-report guard: a missing/empty/failing artifact
    must stop the close, never ship silently (the r18 failure mode)."""
    if not os.path.exists(path):
        die(f"{kind} report {path} was never written")
    with open(path) as f:
        rep = json.load(f)
    queries = rep.get("queries", {})
    counts = rep.get("counts", {})
    if len(queries) < MIN_QUERIES:
        die(f"{kind} report has only {len(queries)} query entries "
            f"(< {MIN_QUERIES}) — EMPTY/TRUNCATED ARTIFACT")
    # sf01_gate counts queries it found no dump for as `not_dumped`;
    # oracle_check counts those as failures and filtered-out ones as
    # `not_selected` — a round close must have neither
    skipped = counts.get("not_dumped", 0) + counts.get("not_selected", 0)
    if counts.get("fail", 1) != 0 or skipped != 0:
        die(f"{kind} report has failures: {counts}")
    print(f"[round_close] {kind}: {counts} ({len(queries)} queries) — OK",
          flush=True)


def main():
    if len(sys.argv) < 2 or not sys.argv[1].startswith("r"):
        sys.exit(__doc__)
    rnd = sys.argv[1]
    skip_bench = "--skip-bench" in sys.argv
    no_commit = "--no-commit" in sys.argv
    scratch = f"/tmp/graft_close_{rnd}"

    if run(["sbt", "-batch", "compile"]).returncode != 0:
        die("sbt compile failed")

    # sf0.01: the driver-gate mirror, hash-exact on every query
    local_report = os.path.join(REPO, f"CORRECTNESS_LOCAL_{rnd}.json")
    verify(SF001, f"{scratch}/v001")
    r = run([sys.executable, "tools/oracle_check.py",
             f"{scratch}/v001", SF001, local_report])
    if r.returncode != 0:
        die(f"oracle_check rc={r.returncode} — sf0.01 gate RED")
    check_report(local_report, "sf0.01")

    # sf0.1: the standing 10x gate (estimation bands + slow-oracle skips
    # handled inside sf01_gate)
    sf01_report = os.path.join(REPO, f"CORRECTNESS_SF01_{rnd}.json")
    verify(SF01, f"{scratch}/v01")
    r = run([sys.executable, "tools/sf01_gate.py",
             f"{scratch}/v01", SF01, sf01_report])
    if r.returncode != 0:
        die(f"sf01_gate rc={r.returncode} — sf0.1 gate RED")
    check_report(sf01_report, "sf0.1")

    artifacts = [os.path.basename(local_report), os.path.basename(sf01_report)]

    if not skip_bench:
        bench_art = f"BENCH_QUERIES_{rnd}.json"
        # The committed floor record wants min-of-5 on EVERY query —
        # the 2-sample heavy tier exists for the DRIVER's 1800 s budget,
        # and min-of-2 floors on the ~33 compositions read 1.3-1.7x
        # above min-of-5 on identical code (r20 measurement), which a
        # cross-round floor comparison would misread as regressions.
        # Locally we own the wall clock: full iterations, bigger budget.
        env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF01,
                   SPARK_GRAFT_BENCH_HEAVY_ITERS="5",
                   SPARK_GRAFT_BENCH_BUDGET_SEC="3600")
        env.pop("SPARK_GRAFT_BENCH_ONLY", None)  # full sweep only
        if run(["sbt", "-batch", "runMain graft.Bench"],
               env=env).returncode != 0:
            die("graft.Bench failed")
        bench_last = os.path.join(REPO, "bench_last.json")
        if not os.path.exists(bench_last):
            die("bench_last.json missing after Bench run")
        with open(bench_last) as f:
            bench = json.load(f)
        if len(bench.get("queries", {})) < MIN_QUERIES:
            die(f"bench payload has only {len(bench.get('queries', {}))} "
                f"floors — TRUNCATED")
        shutil.copyfile(bench_last, os.path.join(REPO, bench_art))
        print(f"[round_close] {bench_art}: "
              f"{len(bench['queries'])} per-query floors, "
              f"operator total {bench.get('value')}s", flush=True)
        artifacts.append(bench_art)

    if no_commit:
        print(f"[round_close] --no-commit: artifacts ready: {artifacts}")
        return

    run(["git", "add"] + artifacts)
    r = run(["git", "commit", "-m",
             f"Close {rnd}: correctness (sf0.01 + sf0.1) and bench artifacts"])
    if r.returncode != 0:
        # nothing staged (re-run with identical artifacts) is fine
        print("[round_close] git commit made no new commit", flush=True)
    print(f"\n[round_close] ROUND {rnd} CLOSED: {', '.join(artifacts)}",
          flush=True)


if __name__ == "__main__":
    main()
