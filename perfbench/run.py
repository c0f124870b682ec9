#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload sync-churn --seed 1 --seconds 10 --trace 0

Workloads: sync-churn, llm-dedup (see perfbench/README.md).
The first run in a checkout compiles the program and the harness with the
Scala compiler that ships in $SPARK_HOME/jars and generates the shared
input tables; everything it writes goes under .bench_build/perfbench.
Human-readable tables go to stdout first; the last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"} holding the end-to-end
metrics (--trace 0) or the per-layer metrics (--trace 1).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # keep the benchmark directory free of build output
import gen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("sync-churn", "llm-dedup")
SYNC_OPS = 8        # one block: 7 syncs at mixed churn, then an upsert
JVM_TIMEOUT = 165   # seconds; a run must end within 180
BUILD_TIMEOUT = 600
# what a SparkSession built outside spark-submit needs on JDK 17
OPENS = [x for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not glob.glob(os.path.join(home, "jars", "scala-compiler-*.jar")):
        fail("SPARK_HOME must point at a Spark 4 install with its jars/ directory")
    return os.path.join(home, "jars", "*")


def heap():
    """The tier-1 SPARK_DRIVER_MEM formula: half of RAM, clamped to 2..8 GiB."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return f"{min(8, max(2, kb // 2097152))}g"


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def stamped(path, key, make):
    """Rebuild `path` with make(tmp_path) unless its stamp already says `key`."""
    stamp = path + ".stamp"
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(path):
        return
    shutil.rmtree(path, ignore_errors=True)
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    os.rename(tmp, path)
    with open(stamp, "w") as f:
        f.write(key)


def run_logged(cmd, log, timeout, cwd, env=None):
    with open(log, "w") as out:
        try:
            r = subprocess.run(cmd, stdout=out, stderr=subprocess.STDOUT, cwd=cwd, env=env,
                               timeout=timeout)
        except subprocess.TimeoutExpired:
            return f"timed out after {timeout} s"
    return None if r.returncode == 0 else f"exit code {r.returncode}"


def log_tail(log):
    with open(log, errors="replace") as f:
        return "".join(f.readlines()[-40:])


def java(jars, classes, tmp, main, args, log, timeout, cwd, xmx):
    env = dict(os.environ, SPARK_GRAFT_CPUS="4")
    env.pop("SPARK_GRAFT_CODEGEN_CACHE", None)
    os.makedirs(tmp, exist_ok=True)
    # the parallel collector with a pre-sized heap: no concurrent GC threads
    # competing with the four task slots on a four-core box (steadier runs)
    cmd = ["java", *OPENS, "-XX:-UsePerfData", "-XX:+UseParallelGC",
           f"-Xms{min(3, int(xmx[:-1]))}g", f"-Xmx{xmx}", "-Dspark.ui.enabled=false",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
           "-cp", f"{classes}:{jars}", main, *args]
    return run_logged(cmd, log, timeout, cwd, env)


def prepare(jars):
    """Compile the program and the harness; generate the shared inputs."""
    srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not srcs:
        fail(f"no program sources under {os.path.join(ROOT, 'src/main/scala')}")
    srcs += sorted(glob.glob(os.path.join(HERE, "harness/**/*.scala"), recursive=True))
    classes = os.path.join(BUILD, "classes")
    os.makedirs(BUILD, exist_ok=True)

    def compile_into(out):
        log = os.path.join(BUILD, "compile.log")
        err = run_logged(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp", jars,
                          "scala.tools.nsc.Main",
                          "-nowarn", "-classpath", jars, "-d", out, *srcs],
                         log, BUILD_TIMEOUT, BUILD)
        if err:
            fail(f"compile failed ({err}):\n{log_tail(log)}")
    stamped(classes, digest(srcs), compile_into)

    data = os.path.join(BUILD, "data")
    gen_key = digest([os.path.join(HERE, "gen.py")])
    stamped(os.path.join(data, "base"), gen_key, gen.tables)
    stamped(os.path.join(data, "small"), gen_key, lambda d: gen.tables(d, sf=gen.SF / 10))
    return classes, data


def tail_stat(values):
    """Highest percentile with at least ten samples beyond it."""
    v = sorted(values)
    n = len(v)
    if n < 11:
        return None, None, n
    return v[n - 11], 100.0 * (n - 10) / n, n


def end_to_end(res):
    """Gated metrics, plus the ones printed beside them."""
    ops = res["ops"]
    times = [o["s"] for o in ops]
    tail, pct, n = tail_stat(times)
    m = {
        "setup_s": (res["setup_s"], "s"),
        "pass_s": (statistics.median(p["s"] for p in res["passes"]), "s"),
        "op_p50_s": (statistics.median(times), "s"),
        "heap_retained_mb": (res["heap_retained_mb"], "MB"),
    }
    # printed, not gated: see README.md, "End-to-end metrics"
    failed = sum(1 for o in ops if not o["ok"])
    shown = {"op_tail_s": (tail, "s"), "failed_frac": (failed / len(ops), "frac")}
    notes = {"op_tail_s": f"p{pct:.1f} of {n} ops" if pct else f"undefined: {n} ops < 11"}
    return m, shown, notes


def sync_stats(res):
    """The sync verb's own figures, over the untraced ops; 0 without syncs."""
    ops = [o for o in res["ops"] if not o["traced"]]
    med = lambda xs: statistics.median(xs) if xs else 0.0
    syncs = [o["s"] for o in ops if o["kind"] == "sync"]
    both = [o for o in ops if o["kind"] in ("sync", "noop")]
    tail, pct, n = tail_stat(syncs)
    sync_time = sum(o["s"] for o in both)
    final = [o for o in ops if o["kind"] in ("sync", "upsert")]
    return {
        "sync_p50_s": (med(syncs), "s"),
        "sync_tail_s": (tail if tail is not None else max(syncs, default=0.0), "s"),
        "noop_sync_p50_s": (med([o["s"] for o in ops if o["kind"] == "noop"]), "s"),
        "upsert_p50_s": (med([o["s"] for o in ops if o["kind"] == "upsert"]), "s"),
        "reconciled_rows_per_s": (sum(o["rows"] for o in both) / sync_time if sync_time else 0.0,
                                  "1/s"),
        "bytes_per_user_byte": (med([o["target_bytes"] / o["sheet_bytes"] for o in final]),
                                "ratio"),
    }, {"sync_tail_s": f"p{pct:.1f} of {n} syncs" if pct else f"max of {n} syncs"}


def table(title, metrics, notes=None):
    print(f"== {title}")
    for name, (v, unit) in metrics.items():
        note = (notes or {}).get(name, "")
        shown = "n/a" if v is None else f"{v:.6g}"
        print(f"  {name:32s} {shown:>14s} {unit:8s} {note}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    jars = spark_jars()
    classes, data = prepare(jars)
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    sheets = os.path.join(work, "sheets")
    if a.workload == "sync-churn":
        gen.sheets(os.path.join(data, "base", "orders.parquet"), sheets, a.seed, SYNC_OPS)
    tables = os.path.join(data, "small" if a.workload == "llm-dedup" else "base")
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    err = java(jars, classes, os.path.join(work, "tmp"), "perfbench.Main",
               ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--data", tables, "--sheets", sheets,
                "--work", work, "--out", out], log, JVM_TIMEOUT, work, heap())
    if err or not os.path.exists(out):
        fail(f"benchmark JVM failed ({err or 'no result'}):\n{log_tail(log)}")
    with open(out) as f:
        res = json.load(f)

    # query outputs: each key's first-pass result against its DuckDB oracle
    # (the harness compared the later passes with the first); a key that
    # fails fails every op of it
    if res["oracle"]:
        t0 = time.monotonic()
        verdicts = oracle.check_all(res["oracle"], tables, os.path.join(work, "results"), work)
        for key, (ok, detail) in sorted(verdicts.items()):
            print(f"  oracle {key:32s} {'PASS' if ok else 'FAIL'} {detail}")
        print(f"  oracle checks took {time.monotonic() - t0:.2f} s")
        for o in res["ops"]:
            if not verdicts.get(o["name"], (False, ""))[0]:
                o["ok"] = False
    for o in res["ops"]:
        if not o["ok"]:
            print(f"  FAILED op {o['op']} {o['name']}: {o.get('error') or 'output check failed'}")

    if a.trace:
        with open(os.path.join(work, "result.trace.json")) as f:
            trace = json.load(f)
        metrics, rows = layers.per_layer(res, trace)
        metrics.update(sync_stats(res)[0])
        layers.print_table(rows)
        table(f"{a.workload} per-layer (pass totals of the traced ops)", metrics)
    else:
        metrics, shown, notes = end_to_end(res)
        table(f"{a.workload} end-to-end (seed {a.seed}, {a.seconds:g} s)", {**metrics, **shown}, notes)
        if a.workload == "sync-churn":
            table("sync verb", *sync_stats(res))
    attempted = len(res["ops"])
    failed = sum(1 for o in res["ops"] if not o["ok"])
    shutil.rmtree(os.path.join(work, "results"), ignore_errors=True)
    shutil.rmtree(os.path.join(work, "tmp"), ignore_errors=True)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()
