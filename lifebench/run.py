#!/usr/bin/env python3
"""Lifecycle benchmark of the qbeast engine: builds the engine and the
benchmark from source, runs one workload in one JVM, and prints the
result as the last line of standard output.

  python3 lifebench/run.py --workload query|ingest|mutate --seed N \
      --seconds S --trace 0|1 [--size full|smoke]
  python3 lifebench/run.py --selfcheck

Build outputs, work tables and traces go to .bench_build/lifebench/ at
the root of the checkout. See lifebench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time
import zipfile

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "lifebench")
WORKLOADS = ("query", "ingest", "mutate")
# what a run may take, start-up included, once the build is done
RUN_TIMEOUT_S = 165

# Spark on JDK 17 outside spark-submit needs these (the list in build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"lifebench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The jar directory the project's build.sbt compiles against."""
    build = os.path.join(ROOT, "build.sbt")
    if not os.path.isfile(build):
        fail("no build.sbt at the checkout root")
    m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(build).read())
    jars = m.group(1) if m else os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        fail(f"no Spark jars in {jars}")
    return jars


def sources(*dirs):
    files = []
    for d in dirs:
        files += glob.glob(os.path.join(d, "**", "*.scala"), recursive=True)
    return sorted(files)


def digest(files, extra=""):
    h = hashlib.sha256(extra.encode())
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def scalac(jars, classpath, srcs, dest):
    """Compiles with the Scala compiler shipped among the Spark jars."""
    if os.path.isdir(dest):
        shutil.rmtree(dest)
    os.makedirs(dest)
    argfile = dest + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs) + "\n")
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + OUT,
           "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", dest, "-cp", classpath, "@" + argfile]
    if subprocess.run(cmd, stdout=sys.stderr, stderr=sys.stderr).returncode != 0:
        shutil.rmtree(dest, ignore_errors=True)
        fail(f"compilation into {dest} failed")


def fresh(target, stamp, suffix=".jar"):
    """True when `target` was built from sources with this stamp."""
    s = target + ".stamp"
    return (os.path.isfile(s) and open(s).read() == stamp
            and os.path.isfile(target + suffix))


def jar(classes, dest):
    """Packs a class directory into a jar: the class-data archive only
    records classes loaded from jars."""
    with zipfile.ZipFile(dest, "w", zipfile.ZIP_STORED) as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def build():
    """Compiles the engine (src/main) and the benchmark when their
    sources changed, then records a class-data archive of a smoke run,
    which cuts each run's JVM start-up and first-use class loading.
    Returns (classpath, archive)."""
    jars = spark_jars()
    engine_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    if not engine_src:
        fail("no engine sources under src/main/scala")
    resources = os.path.join(ROOT, "src", "main", "resources")
    res_files = sorted(p for p in glob.glob(os.path.join(resources, "**"), recursive=True)
                       if os.path.isfile(p))
    engine = os.path.join(OUT, "engine")
    stamp = digest(engine_src + res_files)
    if not fresh(engine, stamp):
        t0 = time.time()
        scalac(jars, os.path.join(jars, "*"), engine_src, engine)
        for p in res_files:
            dst = os.path.join(engine, os.path.relpath(p, resources))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        jar(engine, engine + ".jar")
        open(engine + ".stamp", "w").write(stamp)
        print(f"lifebench: engine built in {time.time() - t0:.0f} s", file=sys.stderr)
    bench = os.path.join(OUT, "bench")
    bench_src = sources(os.path.join(BENCH, "src"))
    bstamp = digest(bench_src, stamp)
    if not fresh(bench, bstamp):
        scalac(jars, engine + os.pathsep + os.path.join(jars, "*"), bench_src, bench)
        jar(bench, bench + ".jar")
        open(bench + ".stamp", "w").write(bstamp)
    classpath = os.pathsep.join([bench + ".jar", engine + ".jar", os.path.join(jars, "*")])
    archive = os.path.join(OUT, "classes.jsa")
    if not fresh(archive, bstamp, ""):
        if os.path.exists(archive):
            os.remove(archive)
        t0 = time.time()
        # query and mutate between them load what ingest loads too
        ok = run(classpath, None, "query,mutate", 1, 0, False, "smoke",
                 jvm=["-XX:ArchiveClassesAtExit=" + archive], timeout=600)
        if ok is None or not os.path.isfile(archive):
            fail("the smoke run that records the class-data archive failed")
        open(archive + ".stamp", "w").write(bstamp)
        print(f"lifebench: class-data archive recorded in {time.time() - t0:.0f} s",
              file=sys.stderr)
    return classpath, archive


def run(classpath, archive, workload, seed, seconds, trace, size, fault=False, jvm=(),
        timeout=RUN_TIMEOUT_S):
    """Runs one workload; returns its result object, or None."""
    work = os.path.join(OUT, "work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    traces = os.path.join(OUT, "traces")
    os.makedirs(traces, exist_ok=True)
    # no perf-data file in /tmp: a run writes only inside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", "-XX:-UsePerfData"] + list(jvm)
    if archive:
        cmd.append("-XX:SharedArchiveFile=" + archive)
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-Djava.io.tmpdir=" + work,
            "-cp", classpath, "lifebench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--size", size, "--fault", "1" if fault else "0",
            "--work", work,
            "--trace-out", os.path.join(traces, f"{workload}-{size}-seed{seed}.json")]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"lifebench: {workload} run exceeded {timeout} s", file=sys.stderr)
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.startswith('{"correct"')]
    if proc.returncode != 0 or not lines:
        print(f"lifebench: {workload} run exited with {proc.returncode}", file=sys.stderr)
        return None
    return json.loads(lines[-1])


# ops a wrong expectation must fail: query has a dropped row and a
# doubled sample fraction; ingest a lost row; mutate a feed image lost
SELFCHECK_FAILS = {"query": 2, "ingest": 1, "mutate": 1}


def selfcheck(classpath, archive):
    """Each workload's checks must catch a wrong expectation (the op is
    counted as failed) and pass on the true one, at smoke size."""
    ok = True
    for w in WORKLOADS:
        for fault in (False, True):
            r = run(classpath, archive, w, 1, 1, False, "smoke", fault=fault)
            good = r is not None and (
                (r["failed"] >= SELFCHECK_FAILS[w] and not r["correct"]) if fault
                else (r["failed"] == 0 and r["correct"]))
            print(f"selfcheck {w} {'wrong' if fault else 'true'} expectation: "
                  f"{'ok' if good else 'FAILED'} "
                  f"({r and {k: r[k] for k in ('correct', 'attempted', 'failed')}})")
            ok &= good
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--selfcheck", action="store_true")
    a = ap.parse_args()
    if not a.selfcheck and not a.workload:
        ap.error("--workload is required")
    classpath, archive = build()
    if a.selfcheck:
        sys.exit(0 if selfcheck(classpath, archive) else 1)
    r = run(classpath, archive, a.workload, a.seed, a.seconds, a.trace == 1, a.size)
    if r is None:
        sys.exit(1)
    print(json.dumps(r))


if __name__ == "__main__":
    main()
