"""Build file of the benchmark package.

Compiles the program (`src/main/scala`) and then the benchmark
(`perfbench/src`) with the Scala compiler that ships in the Spark
distribution the program runs on, into `.bench_build/perfbench/`, and packs
each into a jar (the JVM archives classes for class-data sharing only from
jars; see `run.py`). A stamp over every source file and jar name skips the
build when nothing changed.

    python3 perfbench/build.py        # from the repository root
"""
import hashlib
import os
import shutil
import subprocess
import sys
import zipfile
from pathlib import Path

OUT = Path(".bench_build") / "perfbench"
# Class-data sharing archive of the benchmark JVM, written after each build
# (see `run.py`).
CDS_ARCHIVE = "classes.jsa"


def spark_jars():
    """The jars of the Spark distribution: `$SPARK_HOME`, else the first one
    whose `bin/spark-submit` is on the PATH."""
    homes = [os.environ.get("SPARK_HOME")] + [
        str(Path(d).parent) for d in os.environ.get("PATH", "").split(os.pathsep)
        if (Path(d) / "spark-submit").is_file()]
    for home in filter(None, homes):
        jars = Path(home) / "jars"
        if any(jars.glob("spark-sql_*.jar")):
            return jars
    raise SystemExit("perfbench: no Spark distribution found (set SPARK_HOME)")


def sources(root):
    main = sorted((root / "src" / "main" / "scala").rglob("*.scala"))
    bench = sorted((root / "perfbench" / "src").rglob("*.scala"))
    if not main:
        raise SystemExit("perfbench: no program sources under src/main/scala; run from the repository root")
    return main, bench


def stamp(root, files, jars):
    h = hashlib.sha256()
    for f in files:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    for j in sorted(p.name for p in jars.glob("*.jar")):
        h.update(j.encode())
    return h.hexdigest()


def scalac(jars, classpath, dest, files):
    dest.mkdir(parents=True)
    cmd = ["java", "-Xss8m", "-Xmx2g", "-XX:-UsePerfData", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-usejavacp", "-nowarn", "-d", str(dest)]
    if classpath:
        cmd += ["-cp", os.pathsep.join(map(str, classpath))]
    subprocess.run(cmd + [str(f) for f in files], check=True, stdout=sys.stderr)


def pack(classes, jar):
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
        for f in sorted(classes.rglob("*")):
            if f.is_file():
                z.write(f, f.relative_to(classes).as_posix())


def build(root=Path(".")):
    """Returns the classpath to run the benchmark with, building if needed."""
    root = root.resolve()
    jars = spark_jars()
    main, bench = sources(root)
    out = root / OUT
    classes = [out / "classes-bench", out / "classes-main"]
    packed = [c.with_suffix(".jar") for c in classes]
    want = stamp(root, main + bench, jars)
    stamp_file = out / "stamp"
    if not (stamp_file.exists() and stamp_file.read_text() == want and all(j.exists() for j in packed)):
        for c in classes:
            shutil.rmtree(c, ignore_errors=True)
        for f in packed + [out / CDS_ARCHIVE]:
            f.unlink(missing_ok=True)
        stamp_file.unlink(missing_ok=True)
        print("perfbench: compiling the program and the benchmark", file=sys.stderr)
        scalac(jars, [], classes[1], main)
        scalac(jars, [classes[1]], classes[0], bench)
        for c, j in zip(classes, packed):
            pack(c, j)
        stamp_file.write_text(want)
    return [str(j) for j in packed] + [f"{jars}/*"]


if __name__ == "__main__":
    print(os.pathsep.join(build()))
