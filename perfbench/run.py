#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload per call.

    python3 perfbench/run.py --workload etl_full --seed 1 --seconds 20 --trace 0

Run it from the root of a source checkout. The first call builds the
engine and the harness with sbt (offline) into ``.bench_build``; later calls
reuse the build until a source file changes. The inputs are generated from
``--seed``, the workload runs in one JVM on a ``GraftSession`` at
``local[<cores>]``, and the outputs are checked against an oracle that does
not use the engine. Progress and per-metric lines go to stdout; the last
line is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``). See perfbench/README.md.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("etl_full", "etl_incremental", "query_suite")

# etl_full: one reload reads this catalog and these daily logs.
FULL_SONGS = 1000
FULL_DAYS = gen.every_nth_day(dt.date(2018, 11, 1), dt.date(2021, 2, 28), 20)
FULL_EVENTS_PER_DAY = 700
FULL_OP_SECONDS = 9.0  # one warm reload on 4 cores; sets the op count

# etl_incremental: one op is one daily upload.
INC_EVENTS_PER_FILE = 2000
INC_OP_SECONDS = 0.5
INC_FIRST_DAY = dt.date(2018, 11, 1)

# query_suite: the roadmap's fourteen target rows. Its timed ops are the
# rows the roadmap's open items name; the other ten are timed once each in
# its traced runs. A traced etl_incremental run times all fourteen once.
QUERIES = ["q17_dedup_exact", "q41_tfidf", "q127_bpe_packed_ids", "q183_dpo_length_batches"]
PROBE_QUERIES = [
    "q21_ngram_jaccard", "q86_curation", "q97_semantic_dedup_ingest", "q105_incremental_spans",
    "q108_curate_steady", "q141_leakage_split", "q145_cluster_best", "q170_dup_profile",
    "q184_dpo_batch_padding", "q185_state_served_pairs",
]
SF = os.path.join(HERE, "data", "sf0.01")

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] %s" % msg, file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ build

def _sources():
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    for r in roots:
        if os.path.isfile(r):
            yield r
        for d, _, fs in os.walk(r):
            for f in fs:
                yield os.path.join(d, f)


def build():
    """Classpath of the harness, compiling first if any source changed."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "pipeline", "Pipeline.scala")):
        raise SystemExit("perfbench: no engine sources under %s/src; run from a source checkout" % ROOT)
    h = hashlib.sha256()
    for p in sorted(_sources()):
        st = os.stat(p)
        h.update(("%s %d %d\n" % (os.path.relpath(p, ROOT), st.st_size, st.st_mtime_ns)).encode())
    fp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(cp_file):
        with open(cp_file) as f:
            saved_fp, cp = f.read().split("\n", 1)
        if saved_fp == fp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    log("building with sbt (first run in a checkout)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    cp = [ln for ln in p.stdout.splitlines() if ln and not ln.startswith("[")][-1]
    log("built in %.0f s" % (time.time() - t0))
    with open(cp_file, "w") as f:
        f.write(fp + "\n" + cp + "\n")
    return cp


# ------------------------------------------------------------------ inputs

def make_inputs(workload, seed, seconds, trace, work):
    """Writes the workload's inputs under ``work``; returns (JVM flags,
    oracle state)."""
    if workload == "etl_full":
        inp, warm = os.path.join(work, "input") + "/", os.path.join(work, "warm") + "/"
        songs, events = gen.full_dataset(inp, seed, FULL_SONGS, FULL_DAYS, FULL_EVENTS_PER_DAY)
        gen.full_dataset(warm, seed + 1, 40, FULL_DAYS[:2], 300)
        n_ops = max(1, round(seconds / FULL_OP_SECONDS))
        return (["--input", inp, "--warm-input", warm, "--ops", str(n_ops)],
                {"songs": songs, "events": events})
    if workload == "etl_incremental":
        inp, warm = os.path.join(work, "raw"), os.path.join(work, "warm")
        n_files = max(20, round(seconds / INC_OP_SECONDS))
        files, truncated = gen.incremental_dataset(
            inp, seed, n_files, INC_EVENTS_PER_FILE, INC_FIRST_DAY, max(1, round(n_files / 20)))
        gen.incremental_dataset(warm, seed + 1, 6, 300, INC_FIRST_DAY, 1)
        flags = ["--input", inp, "--warm-input", warm]
        if trace:
            flags += ["--query-probes", ",".join(QUERIES + PROBE_QUERIES), "--query-sf", SF]
        return flags, {"files": files, "truncated": truncated}
    names = QUERIES[:]
    random.Random(seed).shuffle(names)
    return (["--input", SF, "--queries", ",".join(names),
             "--probe-queries", ",".join(PROBE_QUERIES)], {})


# ------------------------------------------------------------------ checks

def check(workload, res, state):
    """Names of failed ops, each with its reason."""
    bad = {}
    for op in res["ops"] + res["traced_ops"]:
        if op["error"]:
            bad[op["name"]] = op["error"]
    if workload == "etl_full":
        want = oracle.digests(oracle.expected_full(state["songs"], state["events"]))
        for out in res["outputs"]:
            problems = oracle.compare_tables(out, want)
            if problems:
                bad[out] = "; ".join(problems)
    elif workload == "etl_incremental":
        want = oracle.digests(oracle.expected_incremental(state["files"], state["truncated"]))
        for bucket, ops in zip(res["outputs"], [res["ops"], res["traced_ops"]]):
            problems = oracle.check_incremental(
                bucket, want, state["truncated"], {o["name"]: o["returned"] for o in ops})
            if problems:
                bad[bucket] = "; ".join(problems)
    else:
        bad.update(res.get("result_failures", {}))
        with open(os.path.join(res["results"], "oracle_sql.json")) as f:
            sql = json.load(f)
        checked = [n for n in res["checked"] if n not in bad]
        bad.update(oracle.check_queries(res["results"], SF, sql, checked,
                                        os.path.join(BUILD, "oracle")))
    return bad


# ------------------------------------------------------------------ metrics

def end_to_end(res):
    secs = [o["s"] for o in res["ops"]]
    return {
        "setup_s": (statistics.median(s + w for s, w in res["setup"]), "s"),
        "run_s": (res["run_s"], "s"),
        "op_p50_s": (statistics.median(secs), "s"),
        "op_p90_s": (statistics.quantiles(secs, n=10, method="inclusive")[8] if len(secs) > 1 else secs[0], "s"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }


def per_layer(workload, res, state, spec, failed_ratio):
    m = dict(res["layers"], failed_ratio=failed_ratio)
    m["session.start_s"] = statistics.median(s for s, _ in res["setup"])
    m["session.warmup_s"] = statistics.median(w for _, w in res["setup"])
    if workload == "etl_full":
        events = len(state["events"])
    elif workload == "etl_incremental":
        events = sum(len(evs) for _, evs in state["files"])
    else:
        events = 0
    m["events_per_s"] = events / res["run_s"]
    if "output_bytes" in res:
        m["output_mb"], m["output_files"] = res["output_bytes"] / 2**20, res["output_files"]
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    missing = sorted(set(units) - set(m))
    if missing:
        log("layers unused by %s, reported as 0: %s" % (workload, ", ".join(missing)))
    return {k: (m.get(k, 0.0), u) for k, u in units.items()}


# ------------------------------------------------------------------ main

def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    cp = build()
    work = os.path.join(BUILD, "work", "%s-%d-%d" % (a.workload, a.seed, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        flags, state = make_inputs(a.workload, a.seed, a.seconds, a.trace, work)
        log("inputs generated in %.1f s" % (time.time() - t0))
        result_file = os.path.join(work, "result.json")
        traces = os.path.join(BUILD, "traces")
        os.makedirs(traces, exist_ok=True)
        n = cores()
        cmd = (["java", "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp")]
               + [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
               + ["-cp", cp, "graft.perfbench.Main", "--workload", a.workload, "--work", work,
                  "--result", result_file, "--trace", str(a.trace),
                  "--trace-out", os.path.join(traces, "%s-seed%d.jsonl" % (a.workload, a.seed))]
               + flags)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(n))
        env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
        t0 = time.time()
        # A run must end within three minutes; a hung JVM is killed first.
        p = subprocess.run(cmd, env=env, cwd=work, stdin=subprocess.DEVNULL, stdout=sys.stderr, timeout=170)
        if p.returncode != 0 or not os.path.isfile(result_file):
            raise SystemExit("perfbench: the harness JVM failed (exit %d)" % p.returncode)
        log("JVM ran %.1f s" % (time.time() - t0))
        with open(result_file) as f:
            res = json.load(f)
        t0 = time.time()
        bad = check(a.workload, res, state)
        if a.workload != "query_suite":
            # The star-schema tables of the first op (etl_full) or of the final state.
            out = res["outputs"][0]
            if a.workload == "etl_incremental":
                out = os.path.join(out, "transformed")
            res["output_bytes"], res["output_files"] = oracle.output_size(out, oracle.COLUMNS)
        log("outputs checked in %.1f s" % (time.time() - t0))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for name, why in sorted(bad.items()):
        print("FAILED %s: %s" % (name, why))
    attempted = len(res["ops"]) + len(res["traced_ops"])
    failed = min(len(bad), attempted)
    metrics = per_layer(a.workload, res, state, spec, failed / attempted) if a.trace else end_to_end(res)
    print("workload=%s seed=%d cores=%d ops=%d failed_ratio=%.4f"
          % (a.workload, a.seed, res["cores"], len(res["ops"]), failed / attempted))
    for k, (v, u) in metrics.items():
        print("%-32s %14.6f %s" % (k, v, u))
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
