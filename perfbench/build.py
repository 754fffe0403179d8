"""Build step of the benchmark: the program's classes from the live source
tree, the benchmark's own classes, and a class-data-sharing archive that
trims JVM start-up.

The program jar is `dist/graft.jar` only when its recorded fingerprint
(`dist/graft.jar.srchash`, the `tools/srctree_hash.sh` hash) equals the
fingerprint of the tree being measured; otherwise `src/main` is compiled
with scalac. Outputs live under `.bench_build/`, keyed by content hashes,
so a changed tree is rebuilt and an unchanged one is reused.

Usage: python3 perfbench/build.py   (prints the classpath)
"""
import glob
import hashlib
import os
import re
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar"]]


class BuildError(Exception):
    pass


def _spark_jars_dir() -> str:
    """The Spark jars the program builds against: build.sbt's `unmanagedBase`."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise BuildError("build.sbt declares no unmanagedBase for the Spark jars")
    return m.group(1)


def srctree_hash(root: str = ROOT) -> str:
    """Same fingerprint as tools/srctree_hash.sh: sha256 over the
    `sha256sum` lines of every src/main *.scala file (C-sorted) and
    build.sbt."""
    paths = sorted(p for p in glob.glob("src/main/**/*.scala", root_dir=root, recursive=True)
                   if os.path.isfile(os.path.join(root, p)))
    lines = []
    for p in paths + ["build.sbt"]:
        with open(os.path.join(root, p), "rb") as f:
            lines.append(f"{hashlib.sha256(f.read()).hexdigest()}  {p}\n")
    return hashlib.sha256("".join(lines).encode()).hexdigest()


def spark_classpath() -> list:
    jars = sorted(glob.glob(os.path.join(_spark_jars_dir(), "*.jar")))
    if not jars:
        raise BuildError(f"no Spark jars under {_spark_jars_dir()}")
    return jars


def scalac(sources: list, classpath: list, out: str):
    j = _spark_jars_dir()
    compiler = ":".join(f"{j}/{n}" for n in [
        "scala-compiler-2.13.17.jar", "scala-library-2.13.17.jar", "scala-reflect-2.13.17.jar"])
    os.makedirs(out, exist_ok=True)
    cmd = ["java", "-Xss8m", "-Xmx3g", "-cp", compiler, "scala.tools.nsc.Main", "-nowarn",
           "-classpath", ":".join(classpath), "-d", out] + sources
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        raise BuildError("scalac failed:\n" + (r.stdout + r.stderr)[-4000:])


def jar(classes: str, out: str):
    subprocess.run(["jar", "cf", out, "-C", classes, "."], check=True)


def _atomic_dir(final: str, make):
    """Build into final + '.tmp', then rename into place. Older builds of
    the same kind (same name before the hash) are removed."""
    if os.path.isdir(final):
        return final
    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    make(tmp)
    kind = os.path.basename(final).rsplit("-", 1)[0]
    for old in glob.glob(os.path.join(os.path.dirname(final), kind + "-*")):
        if old != tmp:
            shutil.rmtree(old, ignore_errors=True)
    os.rename(tmp, final)
    return final


def program_jar() -> str:
    h = srctree_hash()
    dist = os.path.join(ROOT, "dist", "graft.jar")
    stamp = dist + ".srchash"
    if os.path.isfile(dist) and os.path.isfile(stamp):
        with open(stamp) as f:
            if f.read().strip() == h:
                return dist

    def make(tmp):
        srcs = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*.scala"), recursive=True))
        scalac(srcs, spark_classpath(), os.path.join(tmp, "classes"))
        jar(os.path.join(tmp, "classes"), os.path.join(tmp, "graft.jar"))
    return os.path.join(_atomic_dir(os.path.join(BUILD, f"program-{h[:16]}"), make), "graft.jar")


def bench_jar(program: str) -> str:
    srcs = sorted(glob.glob(os.path.join(HERE, "scala/**/*.scala"), recursive=True))
    h = hashlib.sha256(program.encode())
    with open(program, "rb") as f:
        h.update(hashlib.sha256(f.read()).digest())
    for s in srcs:
        with open(s, "rb") as f:
            h.update(f.read())

    def make(tmp):
        scalac(srcs, spark_classpath() + [program], os.path.join(tmp, "classes"))
        jar(os.path.join(tmp, "classes"), os.path.join(tmp, "perfbench.jar"))
    return os.path.join(_atomic_dir(os.path.join(BUILD, f"bench-{h.hexdigest()[:16]}"), make),
                        "perfbench.jar")


def classpath() -> list:
    program = program_jar()
    return [bench_jar(program), program] + spark_classpath()


def jvm_command(cp: list, main_args: list, tmp_dir: str, archive=None, dump_archive=None) -> list:
    cmd = ["java", f"-Djava.io.tmpdir={tmp_dir}", "-Xms3g", "-Xmx3g", "-Xmn1g", "-XX:+UseParallelGC", "-XX:TieredStopAtLevel=1",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS
    if dump_archive:
        cmd.append(f"-XX:ArchiveClassesAtExit={dump_archive}")
    elif archive and os.path.isfile(archive):
        cmd.append(f"-XX:SharedArchiveFile={archive}")
    return cmd + ["-cp", ":".join(cp), "perfbench.Main"] + main_args


if __name__ == "__main__":
    try:
        print(":".join(classpath()))
    except BuildError as e:
        sys.exit(str(e))
