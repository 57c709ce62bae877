"""Build step of the benchmark: compile the program and the harness.

Compiles `src/main/scala` (the program, untouched) and then
`perfbench/scala` (the harness) with the Scala compiler that ships in
the Spark distribution, into two jars under `.bench_build/perfbench/`
of the checkout. A stamp of every source's content skips the build when
nothing changed.

    python3 perfbench/build.py          # from the repository root
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys
import zipfile

OUT = os.path.join(".bench_build", "perfbench")
PROGRAM_SRC = os.path.join("src", "main", "scala")
HARNESS_SRC = os.path.join("perfbench", "scala")


def spark_classpath():
    """The Spark jars the program builds against: the directory the
    repository's build.sbt names as its unmanagedBase."""
    with open("build.sbt") as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        raise SystemExit("build: no Spark jars at build.sbt's unmanagedBase")
    return jars


def sources(root):
    return sorted(glob.glob(os.path.join(root, "**", "*.scala"), recursive=True))


JARS = [os.path.join(OUT, "harness.jar"), os.path.join(OUT, "program.jar")]


def classpath():
    """Run-time classpath: harness, program, Spark."""
    return os.pathsep.join(JARS + spark_classpath())


def _stamp(files):
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def _scalac(files, extra_cp, jar, log):
    out = jar[:-len(".jar")]
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    cp = os.pathsep.join(spark_classpath() + extra_cp)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", cp, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", cp, "-d", out] + files
    r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        raise SystemExit(f"build: scalac failed for {out} (see {log.name})")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for root, _, files in sorted(os.walk(out)):
            for f in sorted(files):
                z.write(os.path.join(root, f), os.path.relpath(os.path.join(root, f), out))
    shutil.rmtree(out)


def build():
    """Compile what changed; return the run-time classpath."""
    prog, harness = sources(PROGRAM_SRC), sources(HARNESS_SRC)
    if not prog or not harness:
        raise SystemExit("build: program or harness sources missing "
                         "(run from the repository root)")
    os.makedirs(OUT, exist_ok=True)
    stamp = _stamp(prog + harness)
    stamp_file = os.path.join(OUT, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classpath()
    for f in [stamp_file] + JARS:
        if os.path.exists(f):
            os.remove(f)
    prog_jar, harness_jar = JARS[1], JARS[0]
    with open(os.path.join(OUT, "build.log"), "w") as log:
        _scalac(prog, [], prog_jar, log)
        _scalac(harness, [prog_jar], harness_jar, log)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classpath()


if __name__ == "__main__":
    build()
    print("build ok", file=sys.stderr)
