#!/usr/bin/env python3
"""Allocation shares from a JDK Flight Recorder recording.

    python3 dev/jfr.py <recording.jfr> [<frame> ...] [--under <frame>] [--window <from> <to>] [--layers]

Reads the recording's `jdk.ObjectAllocationSample` events through the JDK's
`jfr print` and sums their weights (the bytes a thread allocated since its
previous sample). For each `<frame>` it prints the share of the total weight
whose stack holds that frame; with `--under`, only stacks that also hold the
`--under` frame deeper down (as a caller) count. With `--window`, only
samples taken from `<from>` to `<to>` seconds after the JVM started count;
perfbench's JVM log (`.bench_build/perfbench/<workload>-<seed>.log`) notes
when its phases end in those seconds ("set up and warmed up", "timed passes
done"), so the window of the timed passes can be read from it. Then it
prints the 10 frames that allocate the most weight themselves (the top
frame of each stack).

With `--layers` it first splits the weight across the pipeline's layers
(`LAYERS`): each sample goes to the layer of the first frame, from the
allocating one down, that matches one of the layer's patterns, and a sample
no frame matches goes to "driver/other". A pattern ending in `.` is a
package prefix; any other is a prefix of the frame's `SimpleClass.method`
(`GeneratedClass` matches every generated iterator class,
`ExtractPipeline$.extractDoc` that one method).

A frame is `Class.method` or `Class`, with the class named as far as
needed: `SerializableConfiguration.readObject` matches
`org.apache.spark.util.SerializableConfiguration.readObject`, and
`BytesToBytesMap` matches every method of that class. `jfr print`
shows weights rounded to four digits, so a share is good to about 0.1%.

Record a perfbench run by wrapping it (the build and the class-data
sharing archive must already exist, so that the benchmark JVM is the only
JVM the run starts); a deep stack depth keeps task frames such as
`ResultTask.runTask` in the stacks:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/run.jfr,settings=profile \\
      -XX:FlightRecorderOptions=stackdepth=256" \\
      python3 perfbench/run.py --workload extract_mixed --seed 1 --seconds 10 --trace 0
    python3 dev/jfr.py /tmp/run.jfr SerializableConfiguration.readObject --under ResultTask.runTask
    python3 dev/jfr.py /tmp/run.jfr TorrentBroadcast.blockifyObject --layers --window 20 45
    grep "since JVM start" .bench_build/perfbench/extract_mixed-1.log
"""
import argparse
import subprocess
import sys
from collections import Counter

LAYERS = [
    ("kernel", ("graft.core.",)),
    ("fold", ("MetricsFold", "ExtractPipeline$.extractDoc")),
    ("parquet write", ("ParquetWriteSupport", "InternalParquetRecordWriter", "ColumnChunkPageWriteStore",
                       "CodecFactory")),
    ("parquet read", ("VectorizedParquetRecordReader", "ParquetFileReader")),
    ("conf decode", ("SerializableConfiguration.readObject",)),
    ("codegen", ("org.codehaus.janino.", "CodeGenerator")),
    ("task deserialization", ("JavaSerializerInstance.deserialize",)),
    ("generated code", ("GeneratedClass",)),
]
OTHER = "driver/other"

UNITS = {"byte": 1, "bytes": 1, "B": 1, "kB": 1 << 10, "KB": 1 << 10, "MB": 1 << 20, "GB": 1 << 30, "TB": 1 << 40}


def clock_s(text):
    """Seconds since midnight of a `jfr print` time of day (`HH:MM:SS.mmm`)."""
    h, m, sec = text.split()[0].split(":")
    return int(h) * 3600 + int(m) * 60 + float(sec)


def jvm_start_s(path):
    """When the recorded JVM started, as `clock_s`."""
    out = subprocess.run(["jfr", "print", "--events", "jdk.JVMInformation", str(path)],
                         stdout=subprocess.PIPE, text=True, check=True).stdout
    for line in out.splitlines():
        if line.strip().startswith("jvmStartTime = "):
            return clock_s(line.split("=", 1)[1].strip())
    sys.exit(f"jfr.py: no jdk.JVMInformation event in {path}")


def samples(path):
    """Yields (seconds since midnight, weight in bytes, frames from the
    allocating one down) per event."""
    cmd = ["jfr", "print", "--events", "jdk.ObjectAllocationSample", "--stack-depth", "1024", str(path)]
    with subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, errors="replace") as proc:
        at, weight, frames, in_stack = 0.0, 0, [], False
        for line in proc.stdout:
            text = line.strip()
            if in_stack:
                if text == "]":
                    in_stack = False
                elif text != "...":
                    frames.append(text.split("(", 1)[0])
            elif text.startswith("jdk.ObjectAllocationSample {"):
                at, weight, frames = 0.0, 0, []
            elif text.startswith("startTime = "):
                at = clock_s(text[len("startTime = "):])
            elif text.startswith("weight = "):
                number, unit = text[len("weight = "):].split()
                weight = float(number.replace(",", "")) * UNITS[unit]
            elif text == "stackTrace = [":
                in_stack = True
            elif text == "}":
                yield at, weight, frames
    if proc.returncode:
        sys.exit(f"jfr.py: jfr print exited with {proc.returncode}")


def matches(frame, name):
    """Whether `frame` (`pkg.Class.method`) is `name`'s method, or a method of
    `name`'s class (a Scala object's `Class$` included)."""
    cls, _, method = frame.rpartition(".")
    cls = cls.removesuffix("$")
    return any(s == name or s.endswith("." + name) for s in (frame, f"{cls}.{method}", cls))


def layer_of(frames):
    """The first of `LAYERS` that a frame, from the allocating one down,
    matches; else `OTHER`."""
    for frame in frames:
        cls, _, method = frame.rpartition(".")
        key = cls.rsplit(".", 1)[-1] + "." + method
        for name, patterns in LAYERS:
            if any(frame.startswith(p) if p.endswith(".") else key.startswith(p) for p in patterns):
                return name
    return OTHER


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("recording")
    ap.add_argument("frames", nargs="*", metavar="frame")
    ap.add_argument("--under", help="count only stacks that hold this frame below the one asked for")
    ap.add_argument("--window", nargs=2, type=float, metavar=("FROM", "TO"),
                    help="count only samples taken in these seconds after the JVM started")
    ap.add_argument("--layers", action="store_true", help="split the weight across the pipeline's layers")
    a = ap.parse_args()
    if not a.frames and not a.layers:
        ap.error("name a frame, or ask for --layers")

    start = jvm_start_s(a.recording) if a.window else 0.0
    total, count = 0.0, 0
    held = Counter()
    alloc = Counter()
    layers = Counter()
    for at, weight, frames in samples(a.recording):
        # a recording that passes midnight wraps the time of day
        if a.window and not a.window[0] <= (at - start) % 86400 <= a.window[1]:
            continue
        total += weight
        count += 1
        if frames:
            alloc[frames[0]] += weight
        if a.layers:
            layers[layer_of(frames)] += weight
        for name in a.frames:
            at = next((i for i, f in enumerate(frames) if matches(f, name)), None)
            if at is not None and (a.under is None or any(matches(f, a.under) for f in frames[at + 1:])):
                held[name] += weight
    if not count:
        sys.exit(f"jfr.py: no jdk.ObjectAllocationSample events in {a.recording}")

    mib = 1 << 20
    window = f" from {a.window[0]:g} s to {a.window[1]:g} s" if a.window else ""
    print(f"{count} samples, {total / mib:.1f} MiB sampled weight{window}")
    if a.layers:
        print("by layer:")
        for name in [n for n, _ in LAYERS] + [OTHER]:
            print(f"{layers[name] / total:7.2%} {layers[name] / mib:10.1f} MiB  {name}")
    for name in a.frames:
        where = f" under {a.under}" if a.under else ""
        print(f"{held[name] / total:7.2%} {held[name] / mib:10.1f} MiB  {name}{where}")
    print("top allocating frames:")
    for frame, weight in alloc.most_common(10):
        print(f"{weight / total:7.2%} {weight / mib:10.1f} MiB  {frame}")


if __name__ == "__main__":
    main()
