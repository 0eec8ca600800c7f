"""Build the program and the benchmark's JVM side from source.

The program's `src/main` and the benchmark's `perfbench/scala` are compiled
with the Scala compiler that ships among the Spark jars into two class
directories, `program` and `perfbench`, in the build directory (`$CARGO_TARGET_DIR`, by default `.bench_build` at the root
of the checkout). The classes carry a stamp: a digest of every source file
they were built from. A run rebuilds when the stamp differs from the sources and
refuses to start if the classes still do not match them.
"""
import hashlib
import json
import os
import shutil
import subprocess
import sys

SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", "/opt/spark"), "jars")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def out_dir(root):
    d = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    return os.path.join(root, d) if not os.path.isabs(d) else d


def tmp_dir(out):
    d = os.path.join(out, "tmp")
    os.makedirs(d, exist_ok=True)
    return d


def _sources(root):
    trees = [os.path.join(root, "src", "main"),
             os.path.join(root, "perfbench", "scala")]
    files = []
    for t in trees:
        if not os.path.isdir(t):
            raise SystemExit(f"missing source tree {os.path.relpath(t, root)}")
        for dirpath, _, names in os.walk(t):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(files)


def fingerprint(root):
    h = hashlib.sha256()
    for f in _sources(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_base(out):
    """`java` with the flags every benchmark JVM needs: the module opens
    Spark wants on JDK 17, temp files kept inside the build directory, and
    no shared-memory perf file outside it."""
    cmd = ["java", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp_dir(out)}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd


def classpath(out):
    return ":".join([os.path.join(out, "perfbench"),
                     os.path.join(out, "program"),
                     os.path.join(SPARK_JARS, "*")])


def _scalac(out, dest, cp, files, log):
    os.makedirs(dest)
    cmd = java_base(out) + ["-Xss8m", "-Xmx2g", "-cp",
                            os.path.join(SPARK_JARS, "*"),
                            "scala.tools.nsc.Main", "-nowarn", "-d", dest,
                            "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"compile failed, see {log.name}")


def ensure_built(root, log=lambda m: print(m, file=sys.stderr)):
    """Compile if the stamp is missing or stale; return the build dir."""
    out = out_dir(root)
    stamp = os.path.join(out, "classes.stamp")
    want = fingerprint(root)
    try:
        with open(stamp) as f:
            have = f.read().strip()
    except FileNotFoundError:
        have = None
    built = all(os.path.exists(os.path.join(out, f))
                for f in ("program", "perfbench", "oracle_sql.json"))
    if have != want or not built:
        log("build: compiling the program and the benchmark")
        os.makedirs(out, exist_ok=True)
        for f in ("classes.stamp", "oracle_sql.json"):
            if os.path.exists(os.path.join(out, f)):
                os.remove(os.path.join(out, f))
        for d in ("program", "perfbench"):
            shutil.rmtree(os.path.join(out, d), ignore_errors=True)
        with open(os.path.join(out, "build.log"), "w") as blog:
            main = [f for f in _sources(root)
                    if f.startswith(os.path.join(root, "src", "main", "scala"))
                    and f.endswith(".scala")]
            classes = os.path.join(out, "program")
            _scalac(out, classes, os.path.join(SPARK_JARS, "*"), main, blog)
            res = os.path.join(root, "src", "main", "resources")
            if os.path.isdir(res):
                shutil.copytree(res, classes, dirs_exist_ok=True)
            bench = sorted(os.path.join(root, "perfbench", "scala", f)
                           for f in os.listdir(os.path.join(root, "perfbench", "scala")))
            _scalac(out, os.path.join(out, "perfbench"),
                    classes + ":" + os.path.join(SPARK_JARS, "*"), bench, blog)
        subprocess.run(java_base(out) + ["-cp", classpath(out), "perfbench.Main",
                                         "dump-oracle",
                                         os.path.join(out, "oracle_sql.json")],
                       check=True, stdout=subprocess.DEVNULL)
        with open(stamp, "w") as f:
            f.write(want + "\n")
    if fingerprint(root) != want:
        raise SystemExit("refusing to run: the sources changed while building")
    return out


def oracle_sql(out):
    with open(os.path.join(out, "oracle_sql.json")) as f:
        return json.load(f)
