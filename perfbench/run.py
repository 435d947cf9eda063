#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the program
(``src/main``) and the benchmark's Scala files into ``.bench_build``
(or ``$CARGO_TARGET_DIR``) and reuses them while the sources are
unchanged. Each run then:

1. generates its inputs from the seed (excluded from every timing);
2. starts one JVM that sets up a Spark session, runs a cold pass and
   warm passes (at least two) until ``--seconds`` seconds of warm time
   are spent, and writes the outputs the correctness check reads;
3. checks the outputs, untimed;
4. prints every metric by name and unit, writes the full record to
   ``<build>/records/``, and prints as its last line the JSON result
   ``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` attaches the
benchmark's SparkListener and StreamingQueryListener and reports the
per-layer metrics instead. Each run uses its own ``java.io.tmpdir`` and
``SPARK_LOCAL_DIRS`` and removes them when it ends.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen       # noqa: E402
import layers    # noqa: E402

ROOT = os.path.dirname(HERE)
HEAP = "2g"
SETUPS = 3              # session set-ups per run; setup_s is their median
JVM_TIMEOUT_S = 170
TABLES_SF = 0.01
MINUTE_DAYS = 2
MINUTE_TICKERS = 10
GEN_VERSION = 1         # bump when a generator's output changes

# Each pass of `query_rows` runs its rows once, in an order permuted by
# the seed: two short plans bound by fixed costs and one composite whose
# model fits run on the fit pool.
WORKLOADS = {
    "minute_pipeline": [],
    "query_rows": ["ql3_backfill_overwrite", "q07_window_lag", "qst24_stream_model_swap"],
}
ALL_ROWS = [r for rows in WORKLOADS.values() for r in rows]

# JDK 17 module opens Spark needs outside spark-submit (the same list
# build.sbt passes to forked runs)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(f"error: {msg}")
    sys.exit(1)


# ---- build -----------------------------------------------------------------

def spark_jars():
    """The jar directory build.sbt compiles against (its unmanagedBase),
    else $SPARK_HOME/jars."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    cands = [m.group(1)] if m else []
    if os.environ.get("SPARK_HOME"):
        cands.append(os.path.join(os.environ["SPARK_HOME"], "jars"))
    for c in cands:
        if os.path.isdir(c):
            return c
    fail("no Spark jar directory: build.sbt names none and SPARK_HOME is unset")


def sources(top, exts):
    out = []
    for d, _, files in os.walk(top):
        out += [os.path.join(d, f) for f in files if f.endswith(exts)]
    return sorted(out)


def scalac(jars, classpath, out, files):
    if os.path.exists(out):
        shutil.rmtree(out)
    os.makedirs(out)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-cp", classpath] + files
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        fail(f"compile of {out} failed:\n{r.stdout[-3000:]}{r.stderr[-3000:]}")


def build(build_dir, jars):
    """Compile the program and the benchmark; skip when nothing changed."""
    prog_src = sources(os.path.join(ROOT, "src", "main", "scala"), (".scala", ".java"))
    res_dir = os.path.join(ROOT, "src", "main", "resources")
    bench_src = sources(os.path.join(HERE, "scala"), (".scala",))
    h = hashlib.sha256(jars.encode())
    for p in prog_src + sources(res_dir, ("",)) + bench_src:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    stamp_file = os.path.join(build_dir, "classes.stamp")
    prog, bench = os.path.join(build_dir, "program"), os.path.join(build_dir, "bench")
    if os.path.exists(stamp_file) and open(stamp_file).read() == h.hexdigest():
        return prog, bench
    t = time.time()
    log("compiling the program and the benchmark")
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, prog, prog_src)
    if os.path.isdir(res_dir):
        shutil.copytree(res_dir, prog, dirs_exist_ok=True)
    scalac(jars, prog + os.pathsep + jar_cp, bench, bench_src)
    with open(stamp_file, "w") as f:
        f.write(h.hexdigest())
    log(f"compiled in {time.time() - t:.1f} s")
    return prog, bench


# ---- inputs ----------------------------------------------------------------

def tables(build_dir):
    """The query tables, generated once per checkout (fixed seed)."""
    d = os.path.join(build_dir, "data", f"tables-sf{TABLES_SF}-v{GEN_VERSION}")
    if not os.path.isdir(d):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen.gen_tables(tmp, TABLES_SF)
        os.replace(tmp, d)
    return d


def dir_mb(path):
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total / layers.MB


def git_provenance():
    try:
        sha = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, check=True).stdout.strip()
        dirty = subprocess.run(["git", "-C", ROOT, "status", "--porcelain"],
                               capture_output=True, text=True, check=True).stdout != ""
        return sha, dirty
    except (OSError, subprocess.CalledProcessError):
        return None, None


# ---- one run ---------------------------------------------------------------

def run_jvm(cmd, env, log_path):
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            return p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def main():
    # a SIGTERM unwinds through the finally blocks, which stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be positive")
    cores = len(os.sched_getaffinity(0))
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"{ROOT} holds no program sources (build.sbt, src/main/scala)")
    import check  # reads the repository's scripts/selfcheck.py

    load0 = os.getloadavg()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or
                                os.path.join(ROOT, ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    jars = spark_jars()
    prog, bench = build(build_dir, jars)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    try:
        rows = WORKLOADS[a.workload]
        if a.workload == "minute_pipeline":
            data = os.path.join(work, "data")
            truth = gen.gen_minute_drop(data, a.seed, MINUTE_DAYS, MINUTE_TICKERS)
            input_size = {"csv_rows": truth["rows"], "days": MINUTE_DAYS,
                          "tickers": len(truth["tickers"])}
        else:
            data = tables(build_dir)
            input_size = {"tables_sf": TABLES_SF}
        rec_path = os.path.join(work, "record.json")
        cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", f"-Djava.io.tmpdir={tmp}"]
               + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", os.pathsep.join([bench, prog, os.path.join(jars, "*")]),
                  "perfbench.BenchMain", f"workload={a.workload}", f"data={data}",
                  f"work={work}", f"out={rec_path}", f"seed={a.seed}",
                  f"cores={cores}", f"seconds={a.seconds}", f"trace={a.trace}",
                  f"setups={SETUPS}", f"rows={','.join(rows)}", f"days={MINUTE_DAYS}"])
        env = dict(os.environ, SPARK_LOCAL_DIRS=local)
        jvm_log = os.path.join(work, "jvm.log")
        rc = run_jvm(cmd, env, jvm_log)
        if rc != 0 or not os.path.exists(rec_path):
            with open(jvm_log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"benchmark process ended with {'a timeout' if rc is None else rc}")
        with open(rec_path) as f:
            rec = json.load(f)
        tmp_left_mb = dir_mb(tmp)

        # correctness, untimed
        if a.workload == "minute_pipeline":
            verdict = check.check_minute(data, rec["checks"])
        elif "error" in rec["checks"]:
            verdict = {r: rec["checks"]["error"] for r in rows}
        else:
            expected = check.oracle_digests(
                data, rec["checks"]["oracles"],
                os.path.join(data, "oracle-digests.json"))
            verdict = check.check_rows(rec["checks"]["dir"], expected)
        wrong = {op: why for op, why in verdict.items() if why}
        attempted = failed = 0
        for p in rec["passes"]:
            for o in p["ops"]:
                attempted += 1
                failed += (not o["ok"]) or o["name"] in wrong
        for op, why in sorted(wrong.items()):
            log(f"check failed: {op}: {why}")

        if a.trace:
            metrics = layers.per_layer(rec, ALL_ROWS, tmp_left_mb)
            units = dict(layers.LAYER_UNITS, **{m: "s" for m in layers.row_metrics(ALL_ROWS)})
        else:
            metrics = layers.end_to_end(rec, failed, attempted)
            units = {k: u for k, (u, _) in layers.END_TO_END.items()}

        sha, dirty = git_provenance()
        provenance = {
            "git_sha": sha, "git_dirty": dirty, "nproc": os.cpu_count(),
            "cores": cores, "loadavg_start": load0, "loadavg_end": os.getloadavg(),
            "seed": a.seed, "passes": len(rec["passes"]), "seconds": a.seconds,
            "trace": a.trace, "jvm": rec["info"]["jvm"], "spark": rec["info"]["spark"],
            "driver_heap_mb": rec["info"]["heap_max_mb"], "input": input_size,
            "rows": rows, "fail_ratio": failed / attempted,
        }
        for k in sorted(metrics):
            print(f"{k} {metrics[k]:.6g} {units[k]}")
        print("provenance " + json.dumps(provenance, sort_keys=True))
        records = os.path.join(build_dir, "records")
        os.makedirs(records, exist_ok=True)
        with open(os.path.join(records, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
                  "w") as f:
            json.dump({"provenance": provenance, "metrics": metrics, "units": units,
                       "checks": verdict, "setups_s": rec["setups_s"],
                       "passes": rec["passes"]}, f, indent=1)
        result = {"correct": not wrong and failed == 0, "attempted": attempted,
                  "failed": failed,
                  "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}
        print(json.dumps(result))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
