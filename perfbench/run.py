#!/usr/bin/env python3
"""Closed-loop benchmark of the engine, measured from outside.

    python3 perfbench/run.py --workload tabular_board --seed 1 --trace 0
    python3 perfbench/run.py --smoke    # every workload, traced, tiny inputs

Builds the engine and perfbench/src from source with scalac
(into .bench_build/), generates the seeded inputs once per (workload, seed)
with perfbench/gen.py, runs one JVM at local[4] (perfbench.Main) for
run_seconds of BENCHMARK.json, checks the query outputs against the DuckDB
oracle of SparkEntry.oracleSql (and the prep loop against its invariants,
inside the JVM), and prints every metric. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} -- end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Exits non-zero when an output
check fails. Workloads, metrics and the layer map: BENCHMARK.json and
perfbench/layers.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")


def spark_home():
    """SPARK_HOME, or the installation that holds spark-submit on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    submit = shutil.which("spark-submit")
    return os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else ""


SPARK_JARS = os.path.join(spark_home(), "jars")
SCALA = "2.13.17"
DEADLINE_S = 150

# (timed, smoke) input sizes per workload.
SCALES = {
    "tabular_board": (0.002, 0.001),    # TPC-H-ish scale factor
    "corpus_x5": (200, 100),            # base documents, replicated 5x
}

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


# Fixed heap, touched up front. Serial GC: G1's parallel workers wait for
# each other by spinning, which on a host that steals CPU from them added
# 30-40% to the process CPU of a pass. C1 only: at these input sizes a pass
# is engine overhead, not hot loops, and C2 compiles doubled the process
# CPU of a run and landed in the timed region at varying times. No code
# cache flushing: the sweeper flushed compiled methods every few passes,
# and recompiling them added 3-8 s of CPU to whichever pass came next.
JVM_FLAGS = ["-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:+UseSerialGC",
             "-XX:TieredStopAtLevel=1", "-XX:-UseCodeCacheFlushing",
             "-XX:ReservedCodeCacheSize=512m"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    engine = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not engine:
        die(f"no engine sources under {ROOT}/src/main/scala")
    return engine + bench


def build():
    """Compiles the engine and perfbench/src with scalac; reuses a build of
    the same sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isdir(out):
        return out
    jars = sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar")))
    compiler = [os.path.join(SPARK_JARS, f"scala-{n}-{SCALA}.jar")
                for n in ("compiler", "library", "reflect")]
    if not all(os.path.exists(j) for j in compiler):
        die(f"scala {SCALA} compiler jars not found in {SPARK_JARS}")
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx2g", "-cp", ":".join(compiler),
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", ":".join(jars), "@" + argfile])
    if r.returncode != 0:
        die("scalac failed")
    os.rename(tmp, out)
    print(f"built {len(srcs)} sources in {time.time() - t0:.1f} s", file=sys.stderr)
    return out


def inputs(workload, seed, smoke):
    """Seeded inputs, made once per (workload, seed, size) and cached."""
    size = SCALES[workload][1 if smoke else 0]
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    path = os.path.join(BUILD, "inputs", workload, f"seed{seed}-{size}-{version}")
    if workload == "tabular_board":
        gen.ensure(path, lambda d: gen.board_tables(seed, size, d))
    else:
        gen.ensure(path, lambda d: gen.corpus_tables(seed, size, 5, d))
    return path


def oracle_check(tables_dir, name, dump_dir, sql):
    """tools/check.py's comparison of one dumped output with its oracle."""
    import duckdb
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check import canon
    con = duckdb.connect()
    for t in glob.glob(os.path.join(tables_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(t)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{t}/*.parquet')")
    got = con.execute(f"SELECT * FROM read_parquet('{dump_dir}/*.parquet')")
    gc, gr = canon([d[0] for d in got.description], got.fetchall())
    exp = con.execute(sql)
    ec, er = canon([d[0] for d in exp.description], exp.fetchall())
    if gc != ec:
        return f"{name}: columns {gc} != oracle {ec}"
    if gr != er:
        only_g = [r for r in gr if r not in set(er)][:2]
        only_e = [r for r in er if r not in set(gr)][:2]
        return f"{name}: rows {len(gr)} vs oracle {len(er)}; engine-only {only_g}; oracle-only {only_e}"
    return None


def run_once(workload, seed, seconds, trace, smoke, classes):
    t0 = time.time()
    tables = inputs(workload, seed, smoke)
    t_inputs = time.time() - t0
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    verified_file = tables + ".verified.tsv"
    out = os.path.join(work, "result.json")
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}:{SPARK_JARS}/*", "perfbench.Main",
              "--workload", workload, "--inputs", tables,
              "--work", work, "--seconds", str(seconds), "--seed", str(seed),
              "--trace", "1" if trace else "0",
              "--expect", verified_file, "--out", out])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT, cwd=work)
        try:
            p.wait(timeout=DEADLINE_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die(f"{workload}: JVM exceeded {DEADLINE_S} s (log: {log})")
    if p.returncode != 0 or not os.path.exists(out):
        with open(log) as f:
            tail = f.read()[-3000:]
        die(f"{workload}: JVM exited {p.returncode}\n{tail}")
    with open(out) as f:
        res = json.load(f)

    t_jvm = time.time() - t0 - t_inputs
    # oracle check of every op whose digest was not verified for this seed
    verified = {}
    if os.path.exists(verified_file):
        with open(verified_file) as f:
            verified = {l.split("\t")[0]: l.rstrip("\n") for l in f if l.strip()}
    for op, d in res["unverified"].items():
        if d["oracle"] is None:
            err = f"{op}: no oracle SQL"
        else:
            err = oracle_check(tables, op, os.path.join(work, "dump", op), d["oracle"])
        if err:
            res["failures"].append(err)
            res["failed"] += res["passes"] + 1  # every run of the op computed this output
        else:
            verified[op] = f"{op}\t{d['digest'][0]}\t{d['digest'][1]}"
    with open(verified_file + ".tmp", "w") as f:
        f.write("".join(v + "\n" for v in verified.values()))
    os.replace(verified_file + ".tmp", verified_file)
    res["failed"] = min(res["failed"], res["attempted"])
    print(f"{workload}: inputs {t_inputs:.1f} s, JVM {t_jvm:.1f} s, oracle check of "
          f"{len(res['unverified'])} outputs {time.time() - t0 - t_inputs - t_jvm:.1f} s",
          file=sys.stderr)
    return res


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def report(res, trace, bench):
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    wl = res["workload"]
    print(f"# {wl}: {res['passes']} passes ({res['traced_passes']} traced) in "
          f"{res['timed_s']:.1f} s; "
          f"pass wall {' '.join('%.2f' % s for s in res['pass_wall_s'])}; "
          f"pass cpu {' '.join('%.2f' % s for s in res['pass_cpu_s'])}")
    steps = res["step_wall_s"]
    total = sum(steps.values()) or 1.0
    for name, w in sorted(steps.items(), key=lambda kv: -kv[1]):
        cpu = res["step_task_cpu_s"].get(name)
        print(f"# {wl} step {name}: wall {w:.3f} s ({100 * w / total:.1f}% of a pass)"
              + (f", task cpu {cpu:.3f} s" if cpu is not None else ""))
    for name, unit in e2e.items():
        print(f"{wl} {name} {res['e2e'][name]:.4f} {unit}")
    print(f"# {wl} wall clock, not gated: set-up {res['e2e']['setup_wall_s']:.2f} s, "
          f"pass {res['e2e']['wall_s']:.2f} s")
    print(f"{wl} failed_frac {res['failed'] / res['attempted']:.4f} 1")
    print(f"{wl} ops_attempted {res['attempted']} count")
    print(f"{wl} box: steal_s/pass {res['box']['box.steal_s']:.3f}, "
          f"loadavg_1m {res['box']['box.loadavg_1m']:.2f}, cores {os.cpu_count()}, "
          f"cpu_util {res['box']['box.cpu_util']:.3f}")
    for f in res["failures"]:
        print(f"{wl} FAILED {f}")
    if trace:
        print(f"{wl} spans: {os.path.join(BUILD, 'work', wl, 'spans.jsonl')}")
        for name in sorted(res["layer"]):
            print(f"{wl} {name} {res['layer'][name]:.4f} {layer.get(name, '')}")
        metrics = {n: {"value": res["layer"].get(n, 0.0), "unit": u} for n, u in layer.items()}
    else:
        metrics = {n: {"value": res["e2e"][n], "unit": u} for n, u in e2e.items()}
    return {"correct": res["failed"] == 0, "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=sorted(SCALES))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None,
                    help="must equal run_seconds of BENCHMARK.json when given")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload, traced, on tiny inputs; asserts "
                         "every metric of BENCHMARK.json is measured")
    a = ap.parse_args()
    bench = spec()
    classes = build()
    if a.smoke:
        measured = set()
        ok = True
        for wl in sorted(SCALES):
            res = run_once(wl, a.seed, 0, True, True, classes)
            ok &= res["failed"] == 0
            measured |= set(res["e2e"]) | set(res["layer"])
            for f in res["failures"]:
                print(f"{wl} FAILED {f}")
        names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]]
        missing = [n for n in names if n not in measured]
        print(json.dumps({"smoke": "ok" if ok and not missing else "failed",
                          "missing": missing}))
        sys.exit(0 if ok and not missing else 1)
    if not a.workload:
        die("--workload is required")
    if a.seconds is not None and a.seconds != bench["run_seconds"]:
        die(f"--seconds {a.seconds:g} differs from run_seconds {bench['run_seconds']} "
            "of BENCHMARK.json, for which the figures are defined")
    res = run_once(a.workload, a.seed, bench["run_seconds"], bool(a.trace), False, classes)
    out = report(res, bool(a.trace), bench)
    print(json.dumps(out))
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
