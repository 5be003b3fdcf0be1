"""Builds graft and the benchmark program from source.

Compiles src/main/scala (the program) and perfbench/src (the benchmark) with
the Scala compiler that ships in Spark's jars directory and packs each into
a jar under .bench_build/. A stamp over the sources skips the build when
nothing changed. run.py then records a class-data-sharing archive of the
classes one warm-up loads, so each benchmark JVM maps Spark's classes
instead of parsing them again. Spark is found through SPARK_HOME, else through spark-submit on
the PATH.
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

BUILD = ".bench_build"

# Spark on JDK 17 needs these when the session is created outside
# spark-submit (the same list the sbt build passes to forked runs)
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not os.path.isdir(jars):
        sys.exit("graftbench: Spark not found (set SPARK_HOME)")
    found = sorted(os.path.join(jars, j) for j in os.listdir(jars) if j.endswith(".jar"))
    if not any(os.path.basename(j).startswith("scala-compiler") for j in found):
        sys.exit(f"graftbench: no scala-compiler jar in {jars}")
    return found


def sources(root, rel):
    out = []
    for d, _, files in os.walk(os.path.join(root, rel)):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def stamp(paths):
    h = hashlib.sha256()
    for p in paths:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def scalac(jars, classpath, srcs, out, log):
    os.makedirs(out)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xmx2g", "-Xss8m", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-nowarn", "-classpath", os.pathsep.join(classpath),
           "-d", out, "@" + argfile]
    if subprocess.run(cmd, stdout=log, stderr=log).returncode != 0:
        sys.exit(f"graftbench: compile failed, see {log.name}")


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for d, _, files in os.walk(classes):
            for f in files:
                p = os.path.join(d, f)
                z.write(p, os.path.relpath(p, classes))


def classpath(root):
    """Jars to run the benchmark with, building them first when needed."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        sys.exit("graftbench: no graft sources (src/main/scala) in this checkout")
    build = os.path.join(root, BUILD)
    jars = spark_jars()
    program = sources(root, "src/main/scala")
    bench = sources(root, "perfbench/src")
    key = stamp(program + bench + [os.path.abspath(__file__)])
    graft_jar = os.path.join(build, "graft.jar")
    bench_jar = os.path.join(build, "graftbench.jar")
    cp = [bench_jar, graft_jar] + jars
    stamp_file = os.path.join(build, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == key:
        return cp
    for p in ("classes", "graft.jar", "graftbench.jar", "graft.jsa", "graft.jsa.tried", "stamp"):
        p = os.path.join(build, p)
        if os.path.isdir(p):
            shutil.rmtree(p)
        elif os.path.exists(p):
            os.remove(p)
    os.makedirs(build, exist_ok=True)
    with open(os.path.join(build, "build.log"), "w") as log:
        scalac(jars, jars, program, os.path.join(build, "classes", "graft"), log)
        pack(os.path.join(build, "classes", "graft"), graft_jar)
        scalac(jars, [graft_jar] + jars, bench, os.path.join(build, "classes", "bench"), log)
        pack(os.path.join(build, "classes", "bench"), bench_jar)
    with open(stamp_file, "w") as f:
        f.write(key)
    return cp


def jvm_options(build, work):
    opts = ADD_OPENS + [
        "-Xmx2g",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dspark.local.dir=" + os.path.join(work, "local"),
        "-Dderby.system.home=" + work,
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # deep enough call sites to find the graft module behind each job
        "-Dspark.callstack.depth=64",
    ]
    # class loading only: classes come from the archive instead of the
    # jars, and compiled code is unchanged
    jsa = os.path.join(build, "graft.jsa")
    if os.path.exists(jsa):
        opts.append("-XX:SharedArchiveFile=" + jsa)
    return opts
