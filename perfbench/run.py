"""Extraction benchmark: times `graft.RunPipeline.main` in one warm JVM.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the program from source (see
`build.py`), runs one workload in a benchmark JVM under
`.bench_build/perfbench/`, and prints each metric with its unit and sample
count on stderr. The last line on stdout is the result JSON; `--trace 1`
reports the per-layer ledger instead of the end-to-end metrics and keeps the
full ledger under `.bench_build/perfbench/`. Exits non-zero when a pass
fails the output gate. `--workload all` runs every workload in turn.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

WORKLOADS = ["extract_mixed", "resume_mega"]
# A run must end within 180 s of its start (a first run also builds).
RUN_LIMIT_S = 170
# The first run after a build also writes the class-data sharing archive.
TRAIN_LIMIT_S = 300
HEAP = "3g"

# What spark-submit would pass on JDK 17 (as in the repository's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classpath, base, label, args, cds, deadline):
    """Runs `perfbench.Main args` in a fresh working directory under `base`
    and returns the result file it wrote; the JVM's output goes to
    `base/<label>.log`. Stops the JVM if it outlives `deadline`."""
    work = base / "work" / f"{label}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    result_file = work / "result.json"
    log = base / f"{label}.log"
    # A fixed heap keeps G1's sizing choices out of the timings; `peak_rss_mb`
    # then tracks the heap G1 touches plus what grows outside it, and
    # `peak_live_mb` what the program holds live.
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss8m", "-XX:-UsePerfData", cds, "-Xlog:cds=off"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={work / 'tmp'}",
        f"-Djava.io.tmpdir={work / 'tmp'}",
        "-cp", os.pathsep.join(classpath), "perfbench.Main",
    ] + args + ["--out", str(result_file)]
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                raise SystemExit(f"perfbench: {label} ran out of time; log in {log}")
            finally:
                if proc.poll() is None:
                    proc.kill()
                    proc.wait()
        if rc != 0 or not result_file.exists():
            tail = log.read_text(errors="replace").splitlines()[-40:]
            print("\n".join(tail), file=sys.stderr)
            raise SystemExit(f"perfbench: {label} JVM exited with {rc}; log in {log}")
        return json.loads(result_file.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)


def archive(classpath, base):
    """The class-data sharing archive of the benchmark JVM, which cuts JVM
    and Spark start-up by several seconds. After a build (which deletes it),
    an untimed training JVM (set-up, one pass and the output gate of
    `extract_mixed`) writes it as it exits, so that every measured run maps
    the same archive."""
    path = base / build.CDS_ARCHIVE
    if not path.exists():
        print("perfbench: writing the class-data sharing archive", file=sys.stderr)
        dump = base / f"{build.CDS_ARCHIVE}.{os.getpid()}.tmp"
        try:
            jvm(classpath, base, "train", ["--workload", "extract_mixed", "--seed", "0", "--seconds", "0",
                                           "--trace", "train"],
                f"-XX:ArchiveClassesAtExit={dump}", time.monotonic() + TRAIN_LIMIT_S)
            dump.replace(path)
        finally:
            dump.unlink(missing_ok=True)
    return path


def run_one(classpath, cds, workload, seed, seconds, trace, deadline):
    base = build.OUT.resolve()
    out = jvm(classpath, base, f"{workload}-{seed}",
              ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
              f"-XX:SharedArchiveFile={cds}", deadline)
    for name, m in out["result"]["metrics"].items():
        print(f"perfbench: {workload} {name} = {m['value']} {m['unit']} "
              f"(n={out['samples'][name]})", file=sys.stderr)
    for p in out["problems"]:
        print(f"perfbench: GATE FAILED {p}", file=sys.stderr)
    return out["result"]


def main():
    # A terminated run stops its JVM too (see the `finally` in jvm).
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if not (Path("src/main/scala/graft/RunPipeline.scala").exists() and Path("perfbench/src").is_dir()):
        raise SystemExit("perfbench: run from the repository root (src/main/scala and perfbench/src needed)")
    classpath = build.build()
    cds = archive(classpath, build.OUT.resolve())
    start = time.monotonic()
    if a.workload == "all":
        results = {}
        for w in WORKLOADS:
            results[w] = run_one(classpath, cds, w, a.seed, a.seconds, a.trace, time.monotonic() + RUN_LIMIT_S)
        print(json.dumps(results))
        sys.exit(0 if all(r["correct"] for r in results.values()) else 1)
    result = run_one(classpath, cds, a.workload, a.seed, a.seconds, a.trace, start + RUN_LIMIT_S)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
