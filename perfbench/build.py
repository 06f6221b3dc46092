"""Build file of the benchmark package.

Compiles the engine sources (src/main/scala) together with the benchmark's
own Scala sources (perfbench/src) into one jar, using the Scala compiler that
ships in Spark's jars directory, so no build tool or network is needed. Then
a training run of every workload records a class-data-sharing archive, which
cuts JVM start-up and class loading in every later run by a few seconds.
The build is skipped when a stamp over every source, the jar set and the
compiler flags is unchanged.

    python3 perfbench/build.py          # build into .bench_build/
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile

SCALAC_FLAGS = ["-nowarn"]
JVM_HEAP = "3g"
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def spark_jars_dir():
    """Spark's jars dir: $SPARK_HOME/jars, else next to spark-submit on PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        raise SystemExit("perfbench: Spark jars not found (set SPARK_HOME)")
    return jars


def java_bin():
    home = os.environ.get("JAVA_HOME")
    cand = os.path.join(home, "bin", "java") if home else shutil.which("java")
    if not cand or not os.path.exists(cand):
        raise SystemExit("perfbench: java not found (set JAVA_HOME)")
    return cand


def jar_classpath():
    d = spark_jars_dir()
    return [os.path.join(d, j) for j in sorted(os.listdir(d)) if j.endswith(".jar")]


def _sources(root):
    out = []
    for top in ("src/main/scala", "perfbench/src"):
        for dirpath, _, files in os.walk(os.path.join(root, top)):
            out += [os.path.join(dirpath, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def jvm_command(build_dir, work, cds="use"):
    """java command line up to the main class, for a run in `work`."""
    jar = os.path.join(build_dir, "perfbench.jar")
    archive = os.path.join(build_dir, "classes.jsa")
    # A fixed-size heap, touched at start: no resizing decisions and no
    # first-touch page faults during the measured phases, so peak RSS and
    # GC work repeat from run to run.
    # -XX:-UsePerfData: no hsperfdata file outside the checkout.
    cmd = [java_bin(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "-Xss4m",
           "-XX:CompileThresholdScaling=0.5",
           "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp"]
    if cds == "dump":
        cmd.append(f"-XX:ArchiveClassesAtExit={archive}")
    elif os.path.exists(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", os.pathsep.join([jar] + jar_classpath()), "perfbench.Main"]


def _train(root, build_dir):
    """Runs every workload briefly with -XX:ArchiveClassesAtExit."""
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import datagen
    work = os.path.join(build_dir, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(os.path.join(work, "sf"))
    datagen.generate(os.path.join(work, "sf"), 0.01, 1)
    cmd = jvm_command(build_dir, work, cds="dump") + [
        "--workload", "train", "--seed", "1", "--seconds", "2", "--trace", "1",
        "--work", work, "--out", os.path.join(work, "result.json"), "--nproc",
        str(len(os.sched_getaffinity(0))), "--sf", os.path.join(work, "sf")]
    with open(os.path.join(build_dir, "train.log"), "w") as log:
        res = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT, timeout=600)
    shutil.rmtree(work, ignore_errors=True)
    if res.returncode != 0:
        sys.stderr.write("perfbench: class-data-sharing training run failed; "
                         "runs start without the archive (see .bench_build/train.log)\n")
        try:
            os.remove(os.path.join(build_dir, "classes.jsa"))
        except OSError:
            pass


def build(root, build_dir):
    """Compiles and trains if needed."""
    jars = jar_classpath()
    sources = _sources(root)
    h = hashlib.sha256()
    for path in sources:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(os.path.basename(j) for j in jars).encode())
    h.update(" ".join(SCALAC_FLAGS + [JVM_HEAP]).encode())
    stamp = h.hexdigest()
    stamp_file = os.path.join(build_dir, "build.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    for f in ("build.stamp", "perfbench.jar", "classes.jsa"):
        if os.path.exists(os.path.join(build_dir, f)):
            os.remove(os.path.join(build_dir, f))
    classes = os.path.join(build_dir, "classes")
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    argfile = os.path.join(build_dir, "sources.txt")
    with open(argfile, "w") as f:
        f.write("\n".join(sources))
    cmd = [java_bin(), "-Xmx2g", "-Xss8m", "-XX:-UsePerfData", "-cp", os.pathsep.join(jars),
           "scala.tools.nsc.Main", "-d", classes, "-classpath", os.pathsep.join(jars)]
    cmd += SCALAC_FLAGS + ["@" + argfile]
    res = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stdout[-8000:])
        raise SystemExit("perfbench: compile failed")
    # Class-data sharing archives classes from jars only.
    with zipfile.ZipFile(os.path.join(build_dir, "perfbench.jar"), "w") as z:
        for d, _, files in sorted(os.walk(classes)):
            for f in sorted(files):
                z.write(os.path.join(d, f), os.path.relpath(os.path.join(d, f), classes))
    shutil.rmtree(classes)
    _train(root, build_dir)
    with open(stamp_file, "w") as f:
        f.write(stamp)


if __name__ == "__main__":
    here = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(here)
    os.makedirs(os.path.join(root, ".bench_build"), exist_ok=True)
    build(root, os.path.join(root, ".bench_build"))
    print("built")
