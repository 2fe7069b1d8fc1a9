#!/usr/bin/env python3
"""perfbench: graft's layered benchmark, one workload per call.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a graft checkout. The call
  1. builds graft's sources with the harness (sbt, skipped when the build
     under .bench_build is current),
  2. generates the workload's inputs from the seed (gen.py),
  3. runs the closed loop in one JVM (perfbench.Harness) with the JVM
     options of graft's own build.sbt: an untimed check pass, a reading of
     the live heap, WARM_PASSES untimed warm passes, timed passes for S
     seconds, each followed by a calibration, then a second check pass,
  4. checks every query's output: against its DuckDB oracle where one exists
     and finishes within ORACLE_TIMEOUT_S, otherwise by an order-insensitive
     digest that must match in the first and last check pass; then generates
     the inputs again and checks that the seed reproduced them byte for byte,
  5. prints every metric by name with its unit, then one JSON line:
     end-to-end metrics with --trace 0, per-layer metrics with --trace 1.

Any failed or wrong query is listed and makes the exit code non-zero. The
span profile of the run stays at .bench_build/runs/<workload>-s<seed>-t<trace>/.
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
import threading
import time

T_START = time.time()
LOAD_START = os.getloadavg()[0]

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)
import gen  # noqa: E402

WORKLOADS = ("sql_short", "llm_corpus_dup", "eager_pipelines")
# The JVM's share of a call, build excepted: a call must end within 180 s,
# and the output checks after the JVM take up to ORACLE_TIMEOUT_S a query.
HARNESS_DEADLINE_S = 120
ORACLE_TIMEOUT_S = 5
WARM_PASSES = 3  # pass walls settle only after a few passes
# Input size as a test-data scale factor. llm_corpus_dup runs smaller: at
# sf0.1 one of its passes takes about 22 s on 4 cores, too long for a call.
SCALE = {"sql_short": "0.1", "eager_pipelines": "0.1", "llm_corpus_dup": "0.01"}


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg):
    log("perfbench:", msg)
    sys.exit(2)


# ---------------------------------------------------------------- build

def sources():
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    files += sorted(glob.glob(os.path.join(BENCH, "src/**/*.scala"), recursive=True))
    return files + [os.path.join(BENCH, "build.sbt"),
                    os.path.join(BENCH, "project/build.properties")]


def build():
    """Compile graft + harness unless the stamp matches the sources."""
    h = hashlib.sha256()
    for f in sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(BUILD, "sbt", "perfbench.stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return
    log("perfbench: building graft and the harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # dependencies come from local caches
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
        env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=850)
    if r.returncode != 0:
        die("build failed")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())


# ---------------------------------------------------------------- inputs

def make_inputs(workload, seed, d):
    """Fresh inputs for (workload, seed) under d; returns (data dir, counts),
    counts being (documents, distinct texts) for llm_corpus_dup, else None."""
    base = os.path.join(d, "base")
    gen.base_tables(base, seed, SCALE[workload])
    if workload != "llm_corpus_dup":
        return base, None
    corpus = os.path.join(d, "corpus")
    return corpus, gen.dup_corpus(base, corpus, seed)


# ---------------------------------------------------------------- JVM

def build_jvm_options():
    """The --add-opens list, -Xmx and code-cache size of graft's build.sbt,
    so the harness JVM runs with the settings graft's own runs use."""
    text = open(os.path.join(ROOT, "build.sbt")).read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)", text, re.S)
    heap = re.search(r'-Xmx\$\{sys\.env\.getOrElse\("(\w+)", "(\w+)"\)\}', text)
    code = re.search(r'"(-XX:ReservedCodeCacheSize=\w+)"', text)
    if not (opens and heap and code):
        die("could not read the JVM options of build.sbt")
    return ([f"--add-opens={p}=ALL-UNNAMED" for p in re.findall(r'"([^"]+)"', opens.group(1))]
            + ["-Xmx" + os.environ.get(heap.group(1), heap.group(2)), code.group(1)])


def run_harness(args, data, run_dir, cpus):
    work = os.path.join(run_dir, "work")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        die("SPARK_HOME is not set")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    cp = os.pathsep.join([os.path.join(BUILD, "sbt", "scala-2.13", "classes"),
                          os.path.join(spark_home, "jars", "*")])
    cmd = [java] + build_jvm_options() + [
        "-XX:-UsePerfData",  # no hsperfdata file outside the checkout
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"), "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Harness",
        "--workload", args.workload, "--data", os.path.abspath(data),
        "--out", os.path.abspath(run_dir), "--seconds", str(args.seconds),
        "--warm", str(WARM_PASSES), "--trace", str(args.trace), "--cpus", str(cpus)]
    budget = HARNESS_DEADLINE_S - (time.time() - T_START)
    with open(os.path.join(run_dir, "harness.log"), "w") as out:
        env = dict(os.environ)
        env.pop("SPARK_LOCAL_DIRS", None)  # would override the session's spark.local.dir
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = None
    with open(os.path.join(run_dir, "harness.log")) as fh:
        fails = [l.rstrip() for l in fh if l.startswith("[perfbench] FAIL")]
    return rc, fails


# ---------------------------------------------------------------- correctness

def read_output(d):
    import pandas as pd
    parts = sorted(glob.glob(os.path.join(d, "*.parquet")))
    if not parts:
        return None
    df = pd.concat([pd.read_parquet(p) for p in parts])
    return df[sorted(df.columns)].reset_index(drop=True).astype(str)


def digest(df):
    """Order-insensitive: the sorted rows, as strings."""
    rows = sorted("\x1f".join(r) for r in df.itertuples(index=False, name=None))
    return hashlib.sha256(("\x1e".join(rows) + "|" + ",".join(df.columns)).encode()).hexdigest()


def oracle_frame(con, sql):
    """The oracle's result, or None if DuckDB cannot run it within
    ORACLE_TIMEOUT_S."""
    timer = threading.Timer(ORACLE_TIMEOUT_S, con.interrupt)
    timer.start()
    try:
        k = con.execute(sql).fetchdf()
    except Exception:  # interrupted (too slow on this input) or unsupported
        return None
    finally:
        timer.cancel()
    return k[sorted(k.columns)].reset_index(drop=True).astype(str)


def check_outputs(run_dir, data, queries):
    """{query: reason} for every query whose output is wrong or missing,
    and the numbers of queries found right by oracle and by digest. A query
    whose oracle is missing or does not finish in time is checked by digest."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    bad, by_oracle, by_digest = {}, 0, 0
    for q in queries:
        first = read_output(os.path.join(run_dir, "results", "check0", q))
        k = oracle_frame(con, oracle[q]) if q in oracle and first is not None else None
        if first is None:
            bad[q] = "no output"
        elif k is not None:
            if list(first.columns) != list(k.columns) or not first.equals(k):
                bad[q] = f"differs from its DuckDB oracle ({len(first)} vs {len(k)} rows)"
            else:
                by_oracle += 1
        else:
            last = read_output(os.path.join(run_dir, "results", "check1", q))
            if last is None or digest(first) != digest(last):
                bad[q] = "output digest differs between first and last check pass"
            else:
                by_digest += 1
    return bad, by_oracle, by_digest


# ---------------------------------------------------------------- metrics

def quantile(xs, q):
    xs = sorted(xs)
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1] if len(xs) > 1 else xs[0]


def end_to_end(rows, summary, failed, attempted):
    """The gated metrics, and the same timings in seconds for the reader.

    Timings are medians over the untraced timed passes and their query
    executions. The gated ones are divided by the median calibration time
    of the same run (Harness.calibrate, which runs no graft code between the
    timed passes), so that a change of the host's speed between runs
    cancels out. Set-up runs from input generation to the first timed pass,
    less the start calibration (the benchmark's own work)."""
    passes = [r for r in rows if r["kind"] == "pass" and r["label"] == "timed" and not r["traced"]]
    idx = {r["pass"] for r in passes}
    walls = [r["wall_s"] for r in rows if r["kind"] == "query" and r["pass"] in idx and r["ok"]]
    c = statistics.median(r["wall_s"] for r in rows if r["kind"] == "calib" and r["label"] == "timed")
    pass_s = statistics.median(r["wall_s"] for r in passes)
    p50, p90 = statistics.median(walls), quantile(walls, 90)
    print(f"timed: {len(passes)} passes, {len(walls)} query executions")
    for k, v, u in (("pass_s", pass_s, "s"), ("query_p50_s", p50, "s"), ("query_p90_s", p90, "s"),
                    ("fail_frac", failed / attempted, "fraction"),
                    ("peak_rss_mb", summary["peak_rss_mb"], "MB"), ("calib_s", c, "s")):
        print(f"{k} = {v:.6g} {u}")
    first_ms = min(r["start_ms"] for r in passes)
    calib_start = next(r["wall_s"] for r in rows if r["kind"] == "calib" and r["label"] == "start")
    return {
        "pass_calib": (pass_s / c, "calib"),
        "query_p50_calib": (p50 / c, "calib"),
        "query_p90_calib": (p90 / c, "calib"),
        "ok_frac": (1.0 - failed / attempted, "fraction"),
        "setup_s": (first_ms / 1000.0 - T_START - calib_start, "s"),
        "live_heap_mb": (next(r["live_mb"] for r in rows if r["kind"] == "heap"), "MB"),
    }


PHASE_KEYS = ("jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s", "task_wait_s",
              "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "task_failures")


def per_layer(rows, summary):
    cpus = summary["cpus"]
    timed = [r for r in rows if r["kind"] == "pass" and r["label"] == "timed"]
    traced = [r for r in timed if r["traced"]]
    per_pass = []
    for p in traced:
        ph = lambda name: [r for r in rows if r["kind"] == "phase" and r["pass"] == p["pass"]
                           and r["phase"] == name]
        tot = lambda spans, k: sum(r.get(k, 0.0) for r in spans)
        reads = [r for r in rows if r["kind"] == "tables" and r["pass"] == p["pass"]]
        c, pl, e = ph("construct"), ph("plan"), ph("exec")
        every = c + pl + e
        m = {
            "tables.read_s": tot(reads, "wall_s"),
            "tables.jobs_per_read": tot(reads, "jobs") / max(len(reads), 1),
            "construct.s": tot(c, "wall_s"),
            "construct.jobs": tot(c, "jobs"),
            "construct.tasks": tot(c, "tasks"),
            "construct.task_s": tot(c, "task_s"),
            "construct.ml_s": tot(c, "ml_s"),
            "construct.stream_s": tot(c, "trigger_s"),
            "plan.s": tot(pl, "wall_s"),
            "exec.s": tot(e, "wall_s"),
        }
        for k in PHASE_KEYS:
            m["exec." + k] = tot(e, k)
        m["exec.max_task_s"] = max([r.get("max_task_s", 0.0) for r in e] or [0.0])
        m["exec.core_busy_frac"] = m["exec.task_s"] / max(m["exec.s"] * cpus, 1e-9)
        for k in ("batches", "trigger_s", "add_batch_s", "wal_commit_s", "state_rows",
                  "state_commit_s"):
            m["stream." + k] = tot(every, k)
        m["trace.pass_s"] = p["wall_s"]
        per_pass.append(m)
    units = {"_s": "s", ".s": "s", "_mb": "MB", "frac": "fraction"}
    out = {}
    for k in per_pass[0]:
        unit = next((u for suf, u in units.items() if k.endswith(suf)), "count")
        out[k] = (statistics.median(m[k] for m in per_pass), unit)
    # each traced pass against the mean of the untraced passes on either
    # side of it, so that the JIT's remaining warm-up favours neither
    out["trace.overhead_s"] = (statistics.median(
        timed[i]["wall_s"] - (timed[i - 1]["wall_s"] + timed[i + 1]["wall_s"]) / 2
        for i in range(1, len(timed) - 1, 2)), "s")
    out["host.calib_s"] = (statistics.median(
        r["wall_s"] for r in rows if r["kind"] == "calib" and r["label"] == "timed"), "s")
    out["host.load_avg_start"] = (LOAD_START, "load")
    out["jvm.peak_rss_mb"] = (summary["peak_rss_mb"], "MB")
    return out


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die(f"graft sources not found under {ROOT}; run from a graft checkout")

    global T_START
    build()
    T_START = time.time()  # set-up is timed from here: inputs, JVM, cold pass
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    cpus = len(os.sched_getaffinity(0))

    data, counts = make_inputs(args.workload, args.seed, os.path.join(run_dir, "data"))
    if counts:
        print(f"inputs: documents {counts[0]}, distinct texts {counts[1]}")
    rc, fail_lines = run_harness(args, data, run_dir, cpus)
    profile = os.path.join(run_dir, "profile.jsonl")
    if rc != 0 or not os.path.exists(profile):
        log(f"perfbench: harness exited with {rc}; log in {run_dir}/harness.log")
        for l in fail_lines:
            log(l)
        sys.exit(1)

    rows = [json.loads(l) for l in open(profile)]
    summary = rows.pop()
    queries = summary["queries"].split()
    bad, by_oracle, by_digest = check_outputs(run_dir, data, queries)
    again, _ = make_inputs(args.workload, args.seed, os.path.join(run_dir, "data_again"))
    reproducible = gen.dir_digest(data) == gen.dir_digest(again)
    print(f"inputs: seed {args.seed} reproduces identical files: {reproducible}")
    runs = [r for r in rows if r["kind"] == "query"]
    failed = sum(1 for r in runs if not r["ok"] or r["query"] in bad)
    attempted = len(runs)
    print(f"correctness: {len(queries)} queries, {by_oracle} right by the DuckDB oracle, "
          f"{by_digest} by digest across passes; "
          f"{failed} of {attempted} executions failed")
    for l in fail_lines:
        print(l)
    for q, why in sorted(bad.items()):
        print(f"[perfbench] WRONG {q}: {why}")
    if not reproducible:
        print("[perfbench] WRONG inputs: the seed did not reproduce identical files")

    metrics = per_layer(rows, summary) if args.trace else \
        end_to_end(rows, summary, failed, attempted)
    for k, (v, u) in metrics.items():
        print(f"{k} = {v:.6g} {u}")
    print(f"profile: {profile}")
    for d in ("data", "data_again", "work", "results"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    correct = failed == 0 and reproducible
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
