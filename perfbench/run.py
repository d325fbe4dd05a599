#!/usr/bin/env python3
"""Benchmark of the graft engine, run from the root of a source checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

It compiles the engine (`src/main`) and the benchmark's own Scala files
into `.bench_build/`, runs the workload in a fresh JVM on local[nproc],
checks the outputs and prints every metric by name with its unit. The
last stdout line is one JSON object: correct, attempted, failed, metrics.
See perfbench/README.md for the workloads and metrics."""
import argparse
import fcntl
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, HERE)
import benchlib  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402

WORKLOADS = ("drain_keyed", "gate_mix")
# The local[1] drain pass of a traced run measures at most this long.
LOCAL1_SECONDS = 5
# Every JVM of one invocation (build excluded) must end within this.
BUDGET_S = 170
_deadline = [time.monotonic() + BUDGET_S]


def remaining():
    return max(0.1, _deadline[0] - time.monotonic())
ADD_OPENS = ["java.base/" + p for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(msg, flush=True)


def spark_jars():
    """Spark's jars: $SPARK_HOME/jars, else the directory build.sbt names
    as `unmanagedBase`."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
        if not m:
            raise SystemExit("set SPARK_HOME: build.sbt names no unmanagedBase")
        jars = m.group(1)
    found = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    if not any("scala-compiler" in j for j in found):
        raise SystemExit("no Spark jars with a Scala compiler under " + jars)
    return found


def scala_files(d):
    out = []
    for base, _, files in os.walk(d):
        out += [os.path.join(base, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def digest(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(srcs, out, classpath, jars):
    """Compile with the Scala compiler that ships in Spark's jars."""
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    args = ["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", ":".join(jars),
            "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", ":".join(classpath)] + srcs
    r = subprocess.run(args, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compile failed: " + out)


def build():
    """Compile the engine and the benchmark when their sources changed;
    returns the JVM classpath and the digest of the sources built."""
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit("no engine sources at src/main/scala: run from the root of a checkout")
    jars = spark_jars()
    os.makedirs(BUILD, exist_ok=True)
    repo_out = os.path.join(BUILD, "classes", "repo")
    bench_out = os.path.join(BUILD, "classes", "bench")
    stamps = []
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        resources = os.path.join(ROOT, "src", "main", "resources")
        res_files = sorted(os.path.join(b, f) for b, _, fs in os.walk(resources) for f in fs)
        repo_src = scala_files(main_src)
        bench_src = scala_files(os.path.join(HERE, "scala"))
        for out, srcs, cp, extra in ((repo_out, repo_src, jars, res_files),
                                     (bench_out, bench_src, [repo_out] + jars, [])):
            stamp = os.path.join(out + ".stamp")
            want = digest(srcs + extra) + digest(repo_src) if out == bench_out else digest(srcs + extra)
            stamps.append(want)
            if os.path.exists(stamp):
                with open(stamp) as f:
                    if f.read() == want:
                        continue
            t = time.time()
            scalac(srcs, out, cp, jars)
            if out == repo_out and os.path.isdir(resources):
                shutil.copytree(resources, out, dirs_exist_ok=True)
            with open(stamp, "w") as f:
                f.write(want)
            log("built %s in %.1f s" % (os.path.relpath(out, ROOT), time.time() - t))
    return [bench_out, repo_out] + jars, "".join(stamps)


def host():
    """nproc, heap, load average and cumulative CPU steal ticks."""
    with open("/proc/loadavg") as f:
        load = f.read().split()[:3]
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else 0
    return {"nproc": os.cpu_count(), "heap": "%dg" % heap_gb(), "loadavg": " ".join(load),
            "steal_ticks": steal}


def heap_gb():
    """Driver heap: a sixth of MemTotal, between 1 and 4 GiB. It is
    committed and touched at start, so peak RSS does not depend on when
    the collector grew the heap."""
    with open("/proc/meminfo") as f:
        kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    return max(1, min(4, kb // (6 * 1024 * 1024)))


def fresh_dir(name):
    """A wiped private scratch directory under .bench_build/work."""
    work = os.path.join(BUILD, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    return work


def jvm(classpath, work, main_args):
    heap = "%dg" % heap_gb()
    return (["java", "-Xmx" + heap, "-Xms" + heap, "-XX:+AlwaysPreTouch", "-XX:+UseG1GC", "-XX:-UsePerfData",
             "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
            + [a for p in ADD_OPENS for a in ("--add-opens", p + "=ALL-UNNAMED")]
            + ["-cp", ":".join(classpath), "perfbench.Main"] + [str(a) for a in main_args])


def gate_data(classpath, cores):
    """The gate tables, generated once per checkout and DataGen version."""
    with open(os.path.join(HERE, "scala", "DataGen.scala"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    data = os.path.join(BUILD, "data", "sf0.1-" + version)
    if not os.path.exists(os.path.join(data, "_COMPLETE")):
        shutil.rmtree(data, ignore_errors=True)
        work = fresh_dir("datagen")
        t = time.time()
        r = subprocess.run(jvm(classpath, work, ["datagen", cores, work, data]), cwd=ROOT,
                           stdout=subprocess.DEVNULL, stderr=subprocess.PIPE, text=True,
                           timeout=remaining())
        if r.returncode != 0:
            sys.stderr.write(r.stderr[-4000:])
            raise SystemExit("gate data generation failed")
        open(os.path.join(data, "_COMPLETE"), "w").close()
        log("generated gate tables in %.1f s" % (time.time() - t))
    return data


def launch(classpath, workload, seed, seconds, trace, cores):
    """One workload in a fresh JVM. Returns (result, setup_s):
    set-up is process launch until the JVM prints that timing begins."""
    work = fresh_dir(workload)
    out = os.path.join(work, "result.json")
    env = dict(os.environ, GRAFT_STREAM_SCRATCH=os.path.join(work, "stream"))
    extra = [gate_data(classpath, cores)] if workload == "gate_mix" else []
    args = jvm(classpath, work, [workload, seed, seconds, trace, cores, work, out] + extra)
    stderr = open(os.path.join(BUILD, "work", "%s.stderr.log" % workload), "w")
    t0 = time.perf_counter()
    proc = subprocess.Popen(args, cwd=ROOT, env=env, stdout=subprocess.PIPE, stderr=stderr, text=True)
    marks = {}

    def read():
        for line in proc.stdout:
            if line.startswith("@@timing-begin"):
                marks["begin"] = time.perf_counter()
    reader = threading.Thread(target=read, daemon=True)
    reader.start()
    try:
        proc.wait(timeout=remaining())
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("%s ran past the %d s budget" % (workload, BUDGET_S))
    finally:
        reader.join(timeout=5)
        stderr.close()
    if proc.returncode != 0 or "begin" not in marks:
        with open(stderr.name) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("%s JVM failed with exit code %d" % (workload, proc.returncode))
    with open(out) as f:
        return json.load(f), marks["begin"] - t0


def run(classpath, workload, seed, seconds, trace, cores):
    result, setup_s = launch(classpath, workload, seed, seconds, trace, cores)
    metrics, extra, lat = benchlib.end_to_end(workload, result["measure"])
    metrics = dict({"setup_s": (setup_s, "s")}, **metrics, peak_rss_mb=(result["peak_rss_mb"], "MB"))
    attempted, failed = result["attempted"], result["failed"]
    if workload == "gate_mix":
        # a gate that threw is already counted, once per execution
        m = result["measure"]
        bad = [g for g in oracle.compare(m["dir"], os.path.join(BUILD, "work", "gate_mix", "gate_out"),
                                         m["order"])
               if g not in result["detail"]["errors"]]
        result["detail"]["oracle_mismatch"] = bad
        failed += len(bad) * (len(result["measure"]["passes"]) + 1)
    return {"result": result, "metrics": metrics, "extra": extra, "latencies": lat,
            "attempted": attempted, "failed": failed}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    classpath, stamp = build()
    _deadline[0] = time.monotonic() + BUDGET_S
    cores = os.cpu_count()
    h0 = host()
    log("perfbench workload=%s seed=%d seconds=%g trace=%d local[%d] heap=%dg" % (
        a.workload, a.seed, a.seconds, a.trace, cores, heap_gb()))
    log("host start: " + json.dumps(h0))
    last = os.path.join(BUILD, "results", a.workload + ".json")
    # an untraced run is the baseline of a traced one with the same code,
    # seed, seconds and cores
    key = {"build": stamp, "seed": a.seed, "seconds": a.seconds, "cores": cores}
    if not a.trace:
        r = run(classpath, a.workload, a.seed, a.seconds, 0, cores)
        runs = [r]
        report(r)
        metrics = r["metrics"]
        os.makedirs(os.path.dirname(last), exist_ok=True)
        with open(last, "w") as f:
            json.dump(dict(key=key, **{k: r[k] for k in ("metrics", "extra")}), f)
    else:
        runs = []
        base = None
        if os.path.exists(last):
            with open(last) as f:
                base = json.load(f)
        if base is not None and base.get("key") == key:
            log("untraced baseline: the untraced run of this code and seed")
        else:
            base = run(classpath, a.workload, a.seed, a.seconds, 0, cores)
            runs.append(base)
            log("untraced baseline:")
            report(base)
        log("traced:")
        t = run(classpath, a.workload, a.seed, a.seconds, 1, cores)
        runs.append(t)
        report(t)
        local1 = None
        if a.workload == "drain_keyed":
            log("local[1]:")
            local1 = run(classpath, a.workload, a.seed, min(a.seconds, LOCAL1_SECONDS), 0, 1)
            runs.append(local1)
            report(local1)
        metrics = layers.per_layer(a.workload, base, t, local1, BUILD, a.seed)
        for k, (v, unit) in metrics.items():
            log("layer %s = %.6g %s" % (k, v, unit))
    h1 = host()
    log("host end: " + json.dumps(dict(h1, steal_ticks_during=h1["steal_ticks"] - h0["steal_ticks"])))
    failed = sum(x["failed"] for x in runs)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": sum(x["attempted"] for x in runs),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}), flush=True)


def report(r):
    for k, (v, unit) in r["metrics"].items():
        log("metric %s = %.6g %s" % (k, v, unit))
    for k, (v, unit) in r["extra"].items():
        log("  %s = %.6g %s" % (k, v, unit))
    log("  " + benchlib.describe("operation latency", r["latencies"], "ms"))
    log("  error_rate = %.6g (failed %d of %d attempted operations; %s)" % (
        r["failed"] / r["attempted"], r["failed"], r["attempted"], json.dumps(r["result"]["detail"])))


if __name__ == "__main__":
    main()
