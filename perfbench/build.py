#!/usr/bin/env python3
"""Build file of the benchmark. No sbt, no network, and nothing written
outside the build directory ($CARGO_TARGET_DIR, default .bench_build):

1. compiles the program (src/main/scala) and the benchmark's own JVM
   program (perfbench/src) with the Scala compiler that ships in the Spark
   jars directory build.sbt names, into one jar each;
2. trains a class-data-sharing archive: one JVM runs every workload gate
   once and dumps the classes it loaded. Runs map the archive instead of
   loading and verifying Spark's classes from the jars again, which cuts
   JVM and SparkContext start by several seconds and makes set-up steadier.

  python3 perfbench/build.py [SF_DIR]

Every output carries a stamp (a hash of its inputs); an output whose stamp
still matches is kept. Prints the run classpath.
"""
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import zipfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
DEFAULT_DATA = "/root/testdata/sf0.1"  # the sf0.1 tables of TESTDATA.md


def spark_jars():
    """The jars directory build.sbt compiles against (`unmanagedBase`), else
    $SPARK_HOME/jars."""
    try:
        with open(os.path.join(ROOT, "build.sbt")) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        if m:
            return m.group(1)
    except OSError:
        pass
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    raise SystemExit("build: no Spark jars directory (build.sbt unmanagedBase or SPARK_HOME)")


JARS = spark_jars()
# A fixed heap and young generation: with G1's adaptive sizing the peak
# heap, and so rss_peak_mb, varied by a third between identical runs. No
# hsperfdata file, which HotSpot writes outside the checkout.
JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:-UsePerfData"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def stamp(files, extra=""):
    h = hashlib.sha256(extra.encode())
    h.update("\n".join(sorted(os.listdir(JARS))).encode())
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def fresh(out, want):
    s = out + ".stamp"
    return os.path.exists(out) and os.path.exists(s) and open(s).read() == want


def seal(work, out, want):
    """Moves a finished output into place, then writes its stamp, so an
    interrupted build never leaves a stamped half-written output."""
    if os.path.exists(out + ".stamp"):
        os.remove(out + ".stamp")
    if os.path.isdir(out):
        shutil.rmtree(out)
    elif os.path.exists(out):
        os.remove(out)
    os.rename(work, out)
    with open(out + ".stamp", "w") as fh:
        fh.write(want)


def compile_jar(out, files, classpath, tmp, depends=""):
    """scalac the files against classpath into the jar out. `depends` is the
    stamp of what on classpath this jar is compiled against."""
    want = stamp(files, depends)
    if fresh(out, want):
        return want
    if not files:
        raise SystemExit(f"build: no Scala sources for {out}")
    compiler = [glob.glob(os.path.join(JARS, f"{p}-2.13*.jar")) for p in
                ("scala-compiler", "scala-library", "scala-reflect")]
    if not all(compiler):
        raise SystemExit(f"build: no Scala 2.13 compiler in {JARS}")
    classes = os.path.join(tmp, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(tmp, "scalac.args")
    with open(argfile, "w") as fh:
        fh.write("\n".join(files) + "\n")
    cmd = ["java", "-Xss16m", "-Xmx2g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
           "-cp", ":".join(c[0] for c in compiler), "scala.tools.nsc.Main",
           "-nowarn", "-d", classes, "-classpath", classpath, "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        raise SystemExit(f"build: scalac failed for {out}")
    work = out + ".part"
    with zipfile.ZipFile(work, "w", zipfile.ZIP_STORED) as z:
        for d, _, fs in sorted(os.walk(classes)):
            for f in sorted(fs):
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes)
    seal(work, out, want)
    return want


def jvm_args(classpath, scratch):
    """JVM options of every benchmark JVM (training included: the archive
    only maps into a JVM started with the same classpath)."""
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    return ["java", *opens, *JVM_FLAGS,
            f"-Djava.io.tmpdir={scratch}/tmp", f"-Dderby.system.home={scratch}/derby",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath]


def train_archive(bdir, classpath, depends, data):
    out = os.path.join(bdir, "cds", "classes.jsa")
    workloads = json.load(open(os.path.join(HERE, "workloads.json")))
    gates = [g for w in workloads.values() for g in w["gates"]]
    want = hashlib.sha256("\n".join([depends, data] + JVM_FLAGS + gates).encode()).hexdigest()
    if fresh(out, want):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    scratch = os.path.join(bdir, "cds", "train-scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    for d in ("tmp", "derby"):
        os.makedirs(os.path.join(scratch, d))
    work = out + ".part"
    cmd = jvm_args(classpath, scratch) + [
        f"-XX:ArchiveClassesAtExit={work}", "perfbench.Runner", "--mode", "train",
        "--cores", str(len(os.sched_getaffinity(0))), "--scratch", scratch,
        "--data", data, "--gates", ",".join(gates)]
    with open(os.path.join(bdir, "cds", "train.log"), "w") as log:
        r = subprocess.run(cmd, cwd=scratch, stdout=log, stderr=subprocess.STDOUT)
    shutil.rmtree(scratch, ignore_errors=True)
    if r.returncode != 0 or not os.path.exists(work):
        raise SystemExit(f"build: archive training failed, see {log.name}")
    seal(work, out, want)
    return out


def build(data):
    """Returns (run classpath, class-data archive, program source stamp)."""
    bdir = build_dir()
    main_src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(main_src):
        raise SystemExit(f"build: program sources not found at {main_src}")
    tmp = os.path.join(bdir, "build-tmp")
    os.makedirs(tmp, exist_ok=True)
    main_jar = os.path.join(bdir, "jars", "graft.jar")
    bench_jar = os.path.join(bdir, "jars", "perfbench.jar")
    os.makedirs(os.path.dirname(main_jar), exist_ok=True)
    jars = os.path.join(JARS, "*")
    main_stamp = compile_jar(main_jar, sources(main_src), jars, tmp)
    bench_stamp = compile_jar(bench_jar, sources(os.path.join(HERE, "src")),
                              f"{main_jar}:{jars}", tmp, depends=main_stamp)
    shutil.rmtree(tmp, ignore_errors=True)
    classpath = f"{bench_jar}:{main_jar}:{jars}"
    archive = train_archive(bdir, classpath, bench_stamp, data)
    return classpath, archive, main_stamp


if __name__ == "__main__":
    print(build(sys.argv[1] if len(sys.argv) > 1 else DEFAULT_DATA)[0])
