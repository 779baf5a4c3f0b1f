#!/usr/bin/env python3
"""graft benchmark: one workload, one Spark JVM, one JSON result line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run
  1. compiles src/main/scala plus perfbench/scala (cached by source hash),
  2. generates the workload's corpus from the seed and checks its content
     fingerprint,
  3. runs the harness JVM: set-up, one cold pass (results written as
     parquet for the check), then steady passes for S seconds,
  4. checks every operation's cold-pass output apart from the program
     (DuckDB oracles; an independent `greatest`),
  5. prints the metrics as the last stdout line.

With --trace 0 the metrics are BENCHMARK.json's end_to_end ones; with
--trace 1 the per_layer ones, and the spans go to
.bench_build/run/<workload>/trace.json.
Build, corpus and oracle times go to stderr; they are not metrics.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
from stats import median  # noqa: E402

DEDUP = ["q43", "q44", "q45", "q46", "q47", "q66", "q73", "q74", "q84", "q101"]

# Every fourth entry of SparkEntry.allEntries in order, after leaving out
# the dedup entries (measured by dedup-organic), q39_array_fns (its oracle
# disagrees on some seeds; see CHANGES.md) and the seven entries that write
# under a fixed absolute directory (q56, q57, q58, q78, q92 through
# Sources.scala, q88 and q95 through Surface.scala), since a run may write
# only inside its own checkout.
# Fixed by name so that adding or removing an entry elsewhere leaves the
# workload unchanged.
SUITE = [
    "q1_agg", "q5_join_multiway", "q10_except", "q14_full_outer_join", "q18_cube",
    "q22_median_percentile", "q26_cte", "q30_greatest", "q34_regex_fns",
    "q38_conditional_fns", "q48_ann_topk_brute", "q50_lang_id_heuristic",
    "q65_sessionize", "q82_repetition_filter", "q59_struct_map",
    "q80_weighted_pct_window", "q69_misc_fns2", "q75_cast_matrix",
    "q87_repartition_integrity", "q90_information_schema", "q94_session_window",
    "tq8_market_share", "tq12_shipping_modes", "tq16_supplier_count",
    "tq21_suppliers_kept_waiting", "q99_greedy_packing", "q105_ann_lsh_multiprobe",
]

# name -> corpus scale, organic copies, sink, operation selector
WORKLOADS = {
    "suite-sf0.01": dict(sf=0.01, organic=1, sink="noop"),
    "dedup-organic": dict(sf=0.01, organic=3, sink="parquet"),
    "greatest-binding": dict(sf=0.001, organic=1, sink="binding"),
}
GREATEST_CALLS = 64        # calls per pass
GREATEST_ROWS = (8, 2000)  # rows of a small and of a large call
HEAP = "3g"
JVM_TIMEOUT_S = 150


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def select_ops(workload, entries):
    names = [e["name"] for e in entries]
    if workload == "dedup-organic":
        pick = [n for n in names if n.split("_")[0] in DEDUP]
        if len(pick) != len(DEDUP):
            sys.exit(f"perfbench: dedup entries missing: {sorted(DEDUP)} vs {pick}")
        return pick
    if workload == "greatest-binding":
        return [str(i) for i in range(GREATEST_CALLS)]
    missing = [n for n in SUITE if n not in names]
    if missing:
        sys.exit(f"perfbench: suite entries missing from SparkEntry.allEntries: {missing}")
    return list(SUITE)


def greatest_inputs(seed, calls):
    """Seeded column lists for Engine.runGreatest: Long, Double, NULL, NaN
    and infinities, half the calls small and half large."""
    rng = random.Random(seed)
    out = []
    for i in range(calls):
        rows = GREATEST_ROWS[i % 2]
        ncols = rng.randint(2, 8)
        kinds = [rng.choice(["long", "double", "mixed", "sparse"]) for _ in range(ncols)]
        if i % 8 == 7:
            kinds[rng.randrange(ncols)] = "null"
        cols = []
        for k in kinds:
            col = []
            for _ in range(rows):
                r = rng.random()
                if k == "null" or (k == "sparse" and r < 0.6) or r < 0.05:
                    col.append(None)
                elif k == "long" or (k in ("mixed", "sparse") and r < 0.5):
                    col.append(rng.randint(-10**12, 10**12))
                elif r < 0.07:
                    col.append(float("nan"))
                elif r < 0.075:
                    col.append(rng.choice([float("inf"), float("-inf")]))
                else:
                    col.append(rng.uniform(-1e9, 1e9))
            cols.append(col)
        out.append(cols)
    return out


def corpus_dir(build_dir, workload, seed):
    """Generate (or reuse, after a fingerprint check) the seeded corpus."""
    w = WORKLOADS[workload]
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        gen_hash = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(build_dir, "corpus",
                     f"sf{w['sf']}-og{w['organic']}-seed{seed}-{gen_hash}")
    stamp = os.path.join(d, "FINGERPRINT")

    def fingerprint():
        h = hashlib.sha256()
        for t in gen.TABLES:
            with open(os.path.join(d, f"{t}.parquet"), "rb") as f:
                h.update(f.read())
        return h.hexdigest()

    if os.path.isfile(stamp):
        try:
            if open(stamp).read() == fingerprint():
                return d, False
        except OSError:
            pass
        log(f"corpus {d} fails its fingerprint; regenerating")
    shutil.rmtree(d, ignore_errors=True)
    gen.generate(d, seed, w["sf"], w["organic"])
    with open(stamp, "w") as f:
        f.write(fingerprint())
    return d, True


def java_cmd(classes, *args):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "jdk.internal.ref", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cp = os.pathsep.join([classes] + build.spark_jars())
    return (["java", f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData"]
            + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in opens]
            + ["-Dio.netty.tryReflectionSetAccessible=true",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
               "-cp", cp, "perfbench.Harness"] + list(args))


def run_jvm(cmd, env, log_path, timeout):
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            return "timeout"


def entry_list(classes, env):
    path = classes + ".entries.json"
    if not os.path.isfile(path):
        rc = run_jvm(java_cmd(classes, "list", path + ".tmp"), env, path + ".log", 120)
        if rc != 0:
            sys.exit(f"perfbench: entry listing failed ({rc}); see {path}.log")
        os.replace(path + ".tmp", path)
    return json.load(open(path))


def check(workload, ops, corpus, check_dir, entries, inputs):
    """Map op -> failure reason for every op whose cold output is wrong."""
    bad = {}
    if workload == "greatest-binding":
        for op in ops:
            try:
                with open(os.path.join(check_dir, f"greatest_{op}.txt")) as f:
                    got = [oracle.decode(t) for t in f.read().split(",") if t]
                err = oracle.check_greatest(inputs[int(op)], got)
            except OSError as ex:
                err = f"no output: {ex}"
            if err:
                bad[op] = err
        return bad
    sql = {e["name"]: e["oracle"] for e in entries}
    con = oracle.connect(corpus, os.cpu_count())
    for op in ops:
        if not sql.get(op):
            bad[op] = "no oracle SQL"
            continue
        err = oracle.check_entry(con, sql[op], os.path.join(check_dir, op))
        if err:
            bad[op] = err
    con.close()
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("perfbench: run from the repository root (no src/main/scala here)")
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    os.makedirs(build_dir, exist_ok=True)
    w = WORKLOADS[a.workload]

    classes, build_s = build.build(root, build_dir)
    log(f"build {build_s:.1f}s -> {classes}")
    run_dir = os.path.join(build_dir, "run", a.workload)
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, sub))
    env = dict(os.environ,
               SPARK_GRAFT_WAREHOUSE=os.path.join(run_dir, "warehouse"),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}")
    for k in ("SPARK_GRAFT_OFFHEAP", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_PERIODIC_GC"):
        env.pop(k, None)
    entries = entry_list(classes, env)

    t0 = time.time()
    corpus, made = corpus_dir(build_dir, a.workload, a.seed)
    log(f"corpus {'generated' if made else 'reused'} in {time.time() - t0:.2f}s: {corpus}")
    ops = select_ops(a.workload, entries)
    ops_file = os.path.join(run_dir, "ops.txt")
    with open(ops_file, "w") as f:
        f.write("\n".join(ops) + "\n")
    inputs = None
    extra = []
    if w["sink"] == "binding":
        inputs = greatest_inputs(a.seed, GREATEST_CALLS)
        gpath = os.path.join(run_dir, "greatest.txt")
        with open(gpath, "w") as f:
            for cols in inputs:
                f.write(";".join(",".join(map(oracle.encode, c)) for c in cols) + "\n")
        extra = [f"greatest={gpath}"]

    cpus = str(os.cpu_count())
    cmd = java_cmd(classes, "run", f"workload={a.workload}", f"corpus={corpus}",
                   f"out={run_dir}", f"seed={a.seed}", f"seconds={a.seconds}",
                   f"trace={a.trace}", f"cpus={cpus}", f"sink={w['sink']}",
                   f"ops={ops_file}", *extra)
    t0 = time.time()
    rc = run_jvm(cmd, env, os.path.join(run_dir, "jvm.log"), JVM_TIMEOUT_S)
    log(f"harness exit {rc} after {time.time() - t0:.1f}s")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-3000:])
        sys.exit(f"perfbench: harness failed ({rc})")
    h = json.load(open(os.path.join(run_dir, "harness.json")))

    t0 = time.time()
    bad = check(a.workload, ops, corpus, os.path.join(run_dir, "check"), entries, inputs)
    log(f"checked {len(ops)} outputs in {time.time() - t0:.1f}s, {len(bad)} wrong")
    for op, why in sorted(bad.items()):
        log(f"CHECK FAILED {op}: {why}")

    attempted = failed = 0
    for p in h["passes"]:
        for o in p["ops"]:
            attempted += 1
            if o["error"] or o["op"] in bad:
                failed += 1
    if a.trace:
        metrics, trace_doc = layers.per_layer(h, w["sink"], run_dir)
        with open(os.path.join(run_dir, "trace.json"), "w") as f:
            json.dump(trace_doc, f)
    else:
        metrics = end_to_end(h)
    print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def end_to_end(h):
    reps = h["setup_reps"]
    setup = (h["jvm_to_main_s"] + h["session_s"]
             + median([r["prepare_s"] + r["warmup_s"] for r in reps]))
    cold = [p for p in h["passes"] if p["kind"] == "cold"][0]
    per_op = {}
    for p in h["passes"]:
        if p["kind"] == "steady":
            for o in p["ops"]:
                per_op.setdefault(o["op"], []).append(o["wall_s"])
    steady = [median(v) for v in per_op.values()]
    m = {
        "setup_s": (setup, "s"),
        "first_pass_s": (cold["wall_s"], "s"),
        "suite_s": (sum(steady), "s"),
        "op_p50_s": (median(steady), "s"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


if __name__ == "__main__":
    main()
