#!/usr/bin/env python3
"""Benchmark for the sync, import and curation paths.

Run from the repository root:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Each run builds the program's main sources and the runner in `perfbench/src`
with the Scala compiler shipped among the Spark jars (cached by source hash
under `.bench_build/perfbench`), generates the workload's inputs from the
seed, starts one JVM that sets up, measures for `--seconds` and checks its
outputs, and prints one JSON result as the last stdout line. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` the per-layer
metrics. A failed correctness check prints the result with `correct: false`
and exits 1. See perfbench/NOTES.md for the workloads and their limits.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(".bench_build", "perfbench")
RUN_LIMIT_S = 175  # every run must end within 180 s once the build is cached
# batch_ms_tail percentile. A run holds only 6-12 operations, so fewer than
# ten lie beyond it; the detail record gives the count.
TAIL_PCT = 75
LLM_QUERIES = ["sim_knn_hamming2", "pipeline_training_set"]

# Sizes per workload; `smoke` sizes serve the benchmark's own tests.
WORKLOADS = {
    "cdc_mixed": dict(
        gen=lambda d, s, z: gen.gen_cdc(
            d, s, batches=2 if z else 3, fanout_tables=3, fanout_events=2,
            fanout_rows=20, fanout_keyspace=2000, hot_events=8, hot_rows=150,
            hot_keyspace=3000, ddl_every=3),
        setup_reps=3),
    "etl_bulk": dict(
        gen=lambda d, s, z: gen.gen_etl(d, s, rows=3000 if z else 20000, files=4),
        setup_reps=3, etl_param="1000"),
    # one fixed corpus whatever the seed: the query work (cluster and pair
    # counts) shifts by up to a third between generated corpora
    "llm_curation": dict(
        gen=lambda d, s, z: gen.gen_corpus(d, 0, docs=300 if z else 500, vecs=300 if z else 500),
        setup_reps=2),
}


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def effective_cpus():
    n = len(os.sched_getaffinity(0))
    try:
        quota, period = open("/sys/fs/cgroup/cpu.max").read().split()
        if quota != "max":
            n = min(n, max(1, math.ceil(int(quota) / int(period))))
    except (OSError, ValueError):
        pass
    return n


def spark_jars():
    """The jar directory the repository's own build compiles against
    (`unmanagedBase` in build.sbt), else $SPARK_HOME/jars."""
    try:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open("build.sbt").read())
    except OSError:
        m = None
    d = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    jars = sorted(glob.glob(os.path.join(d, "*.jar")))
    if not jars:
        fail("no Spark jars found (build.sbt unmanagedBase or $SPARK_HOME/jars)")
    return jars


def tree_hash(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def compile_scala(jars, sources, classpath, out):
    """Compile `sources` into the jar `out` once; an existing `out` is a
    cache hit. Jars rather than class directories, because the JVM's class
    data sharing archives classes from jars only."""
    if os.path.isfile(out):
        return
    tmp = out + ".tmp%d" % os.getpid()
    os.makedirs(tmp)
    compiler = [j for j in jars if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    argfile = tmp + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", tmp, "-classpath", ":".join(classpath), "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    os.remove(argfile)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    with zipfile.ZipFile(tmp + ".jar", "w") as z:
        for d, _, files in sorted(os.walk(tmp)):
            for name in sorted(files):
                z.write(os.path.join(d, name), os.path.relpath(os.path.join(d, name), tmp))
    shutil.rmtree(tmp)
    os.rename(tmp + ".jar", out)


def build(jars):
    prog_src = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench_src = sorted(glob.glob(os.path.join(HERE, "src", "*.scala")))
    if not prog_src or not bench_src:
        fail("run from the repository root: program sources (src/main/scala) or "
             "benchmark sources (perfbench/src) are missing")
    os.makedirs(BUILD, exist_ok=True)
    prog = os.path.join(BUILD, "classes-%s.jar" % tree_hash(prog_src))
    compile_scala(jars, prog_src, jars, prog)
    runner = os.path.join(BUILD, "runner-%s.jar" % tree_hash(bench_src, prog))
    compile_scala(jars, bench_src, [prog] + jars, runner)
    return [runner, prog] + jars


JVM_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


# A fixed, pre-touched heap: the resident set then holds the whole heap from
# the start, and peak_rss_mb moves with off-heap memory and heap overflow
# rather than with how far the collector happened to grow the heap.
HEAP = ["-Xms1536m", "-Xmx1536m", "-XX:+AlwaysPreTouch"]


def run_jvm(classpath, work, args, deadline):
    """Run the runner JVM. The first run of a workload on a classpath dumps
    a class data sharing archive at exit, which later runs map in; that
    halves JVM and Spark start-up and leaves the measured work alone."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cds = os.path.join(BUILD, "cds-%s-%s.jsa" % (
        args["workload"], tree_hash([], ":".join(classpath))))
    dump = cds + ".tmp%d" % os.getpid()
    share = (["-XX:SharedArchiveFile=" + cds] if os.path.isfile(cds)
             else ["-XX:ArchiveClassesAtExit=" + dump])
    cmd = (["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in JVM_OPENS] +
           share + HEAP + ["-Xss8m", "-Duser.timezone=UTC", "-Djava.io.tmpdir=" + tmp,
                    "-Dderby.system.home=" + os.path.join(work, "derby"),
                    "-Dderby.stream.error.file=" + os.path.join(work, "derby.log"),
                    "-Dspark.ui.enabled=false", "-cp", ":".join(classpath), "perfbench.Runner"] +
           ["%s=%s" % kv for kv in args.items()])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            return None
        finally:
            # on timeout, SIGTERM or any error the JVM must not outlive us
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if os.path.isfile(dump):
        os.rename(dump, cds)
    try:
        return json.load(open(os.path.join(work, "result.json")))
    except (OSError, ValueError):
        return None


def log_tail(work, n=40):
    try:
        return "".join(open(os.path.join(work, "jvm.log"), errors="replace").readlines()[-n:])
    except OSError:
        return ""


def check_llm(corpus, out_dir, corrupt):
    """Compare each dumped query result with its DuckDB oracle (row for
    row, in the query's own order); queries without an oracle must return
    rows. Returns the list of failures."""
    import duckdb
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM '%s/%s.parquet'" % (t, corpus, t))
    oracle = json.load(open(os.path.join(out_dir, "oracle_sql.json")))
    failures = []
    for q in LLM_QUERIES:
        try:
            got = con.execute("SELECT * FROM '%s/%s/*.parquet'" % (out_dir, q)).fetchall()
            cols = [d[0] for d in con.description]
        except duckdb.Error as e:
            failures.append("%s: unreadable result: %s" % (q, e))
            continue
        if corrupt and q == LLM_QUERIES[0]:
            got = got[1:]
        if q not in oracle:
            if not got:
                failures.append("%s: no rows" % q)
            continue
        exp = con.execute(oracle[q]).fetchall()
        exp_cols = [d[0] for d in con.description]
        if sorted(cols) != sorted(exp_cols):
            failures.append("%s: columns %s vs oracle %s" % (q, cols, exp_cols))
            continue
        idx = [exp_cols.index(c) for c in cols]
        exp = [tuple(r[i] for i in idx) for r in exp]
        if len(got) != len(exp):
            failures.append("%s: %d rows vs oracle %d" % (q, len(got), len(exp)))
        else:
            bad = [i for i, (g, e) in enumerate(zip(got, exp)) if tuple(g) != tuple(e)]
            if bad:
                failures.append("%s: %d rows differ from the oracle, first %r vs %r"
                                % (q, len(bad), got[bad[0]], exp[bad[0]]))
    return failures


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return 0.0
    r = p / 100 * (len(s) - 1)
    lo = int(r)
    return s[-1] if lo + 1 >= len(s) else s[lo] + (r - lo) * (s[lo + 1] - s[lo])


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs (benchmark self-tests)")
    ap.add_argument("--corrupt", action="store_true",
                    help="damage the output before the gate (proves the gate trips)")
    a = ap.parse_args()
    try:
        bench = json.load(open("BENCHMARK.json"))
    except (OSError, ValueError):
        fail("BENCHMARK.json not found in the current directory")
    load_start = os.getloadavg()[0]
    cpus = effective_cpus()
    classpath = build(spark_jars())
    # a cold build may take minutes; the measured part keeps its own budget
    deadline = max(T_START + RUN_LIMIT_S, time.time() + 120)

    w = WORKLOADS[a.workload]
    work = os.path.abspath(os.path.join(
        BUILD, "runs", "%s-s%d-t%d-%d" % (a.workload, a.seed, a.trace, os.getpid())))
    shutil.rmtree(work, ignore_errors=True)
    inputs = os.path.join(work, "inputs")
    os.makedirs(inputs)
    try:
        t_gen = time.time()
        meta = w["gen"](inputs, a.seed, a.smoke)
        gen_s = time.time() - t_gen
        fp = gen.fingerprint(inputs)
        args = {"workload": a.workload, "inputs": inputs, "work": work, "cpus": cpus,
                "seconds": a.seconds, "trace": a.trace, "setup_reps": w["setup_reps"],
                "corrupt": int(a.corrupt), "rows": meta["rows"]}
        if "tables" in meta:
            args["tables"] = ",".join(meta["tables"])
            args["hot_table"] = meta["hot_table"]
        if "etl_param" in w:
            args["etl_param"] = w["etl_param"]
        if a.workload == "llm_curation":
            args["queries"] = ",".join(LLM_QUERIES)
        t_jvm = time.time()
        res = run_jvm(classpath, work, args, deadline)
        if res is None or "error" in res:
            print(log_tail(work), file=sys.stderr)
            fail("runner failed: %s" % ((res or {}).get("error") or "no result (timeout or crash)"))
        failures = list(res["mismatches"])
        attempted = max(int(res["attempted"]), int(res["failed"]))
        failed = int(res["failed"]) + (1 if res["mismatch_count"] else 0)
        if a.workload == "llm_curation":
            oracle_fail = check_llm(inputs, os.path.join(work, "llm_out"), a.corrupt)
            failures += oracle_fail
            attempted += len(LLM_QUERIES)
            failed += len(oracle_fail)
        ops = res["op_ms"]
        if a.workload == "llm_curation":
            per_q = {}
            for ms, g in zip(ops, res["op_groups"]):
                per_q.setdefault(g.split(":")[1], []).append(ms / 1e3)
            wall = sum(statistics.median(v) for v in per_q.values())
        else:
            wall = statistics.median(res["pass_wall_s"])
        values = {
            "setup_s": statistics.median(res["setup_s_reps"]),
            "rows_per_s": res["rows_per_pass"] / wall,
            "batch_ms_p50": percentile(ops, 50),
            "batch_ms_tail": percentile(ops, TAIL_PCT),
            "wall_s": wall,
            "peak_rss_mb": res["peak_rss_kb"] / 1024,
        }
        tail = values["batch_ms_tail"]
        if a.trace:
            values = res["layers"]
        kind = "per_layer" if a.trace else "end_to_end"
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in bench[kind]}
        correct = not failures and failed == 0
        detail = {
            "workload": a.workload, "seed": a.seed, "trace": a.trace, "smoke": a.smoke,
            "input_fingerprint": fp, "input": meta, "cpus_effective": cpus,
            "load_avg_1m_start": load_start, "load_avg_1m_end": os.getloadavg()[0],
            "input_gen_s": gen_s,
            "first_op_s": (t_jvm - T_START) + res["first_op_s"],
            "setup_s_reps": res["setup_s_reps"], "pass_wall_s": res["pass_wall_s"],
            "batch_ms_tail_percentile": TAIL_PCT, "batch_samples": len(ops),
            "samples_beyond_tail": sum(1 for x in ops if x > tail),
            "failed_ratio": failed / max(1, attempted), "failures": failures[:20],
            "window_s": res["window_s"], "passes": res["passes"],
        }
        os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
        stem = os.path.join(BUILD, "results", "%s-s%d-t%d" % (a.workload, a.seed, a.trace))
        with open(stem + ".json", "w") as f:
            json.dump({"detail": detail, "metrics": metrics, "raw": res}, f, indent=1)
        if a.trace and os.path.exists(os.path.join(work, "spans.jsonl")):
            shutil.copy(os.path.join(work, "spans.jsonl"), stem + "-spans.jsonl")
        print(json.dumps(detail, separators=(",", ":")))
        print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                          "metrics": metrics}, separators=(",", ":")))
        sys.exit(0 if correct else 1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
