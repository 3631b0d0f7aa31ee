#!/usr/bin/env python3
"""Bucket a JFR recording's executor CPU samples by source layer.

    python3 tools/jfr_layers.py RECORDING.jfr [--thread SUBSTRING] [--top N]
                                [--show LAYER]

RECORDING.jfr comes from a benchmark run with the JVM's flight recorder on:

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=/tmp/snap.jfr,settings=profile" \\
      python3 cdcbench/run.py --workload snapshot_load --seed 1 --seconds 20 --trace 0

The script runs `jfr print --json` on it (the JDK's `jfr` tool must be on
PATH), keeps the `jdk.ExecutionSample` events of threads whose name holds
SUBSTRING (default: Spark's task threads, "Executor task launch worker"),
and assigns each sample to the first layer that claims a frame, walking
from the executing frame towards the thread's root:

    lines       reading and splitting record lines (file windows, bisection)
    json scan   the single-pass scanner and the Jackson tree decode
    routing     the shared W2 log routing (probing and packing the slice)
    overlay     the per-partition overlay build and its index
    merge/emit  the chunk merge, the emitted rows' completion and copies
    projection  Spark's generated UnsafeProjection of the emitted rows
    plumbing    iterator chains and per-row resource-scope bookkeeping
    other       everything else (task set-up, GC-free JDK work, Spark)

The quick-field probes (`scanLongField` and friends) have no layer of their
own: a probe counts for the layer of the code that called it. Prints one
line per layer with its sample count and share, then the N most frequent
executing frames of one layer (--show, default "other").

    python3 tools/jfr_layers.py RECORDING.jfr --forks [--top N]

counts the recording's `jdk.ProcessStart` events (in the `profile`
settings) instead: one line per command word (`chmod`, `readlink`, ...)
with its count, then the N most frequent call sites that started it. A
call site is the first frame outside the JDK and Hadoop's process
plumbing (`org.apache.hadoop.util.Shell`, `FileUtil.execCommand`), e.g.
`org.apache.hadoop.fs.RawLocalFileSystem.setPermission` for `chmod`.
"""
import argparse
import collections
import json
import subprocess
import sys

# (layer, predicate on "Class.method"), tried in order on each frame
LAYERS = [
    ("json scan", lambda f: "graft.cdc.source.JsonRowCodec" in f
        or f.startswith("com.fasterxml.jackson.")
        or any(f.startswith("graft.cdc.source.EnvelopeDecoder." + m)
               for m in ("decode", "codec", "parse"))),
    ("routing", lambda f: "graft.cdc.source.BackfillRouting" in f
        or "graft.cdc.source.SnapshotOverlayCache" in f),
    ("overlay", lambda f: "graft.cdc.source.SnapshotOverlay" in f
        or "buildOverlay" in f or "overlay$lzycompute" in f
        or "OverlayEntry" in f),
    ("merge/emit", lambda f: "graft.cdc.source.ChunkMerge" in f
        or "graft.cdc.source.LongIndex" in f
        or f.startswith("graft.cdc.source.EnvelopeDecoder.")
        or f.startswith("graft.cdc.source.SnapshotChunkReader.")
        or f.startswith("graft.cdc.source.LogRangeReader.")
        or f.startswith("scala.collection.mutable.LinkedHashMap")
        or f.startswith("scala.collection.mutable.HashMap")),
    ("lines", lambda f: f.startswith("graft.cdc.FileCdcDatabase")
        or f.startswith("graft.cdc.Utf8Line")
        or f.startswith("graft.cdc.dialect.")
        or f.startswith("sun.nio.ch.FileChannelImpl")),
    ("projection", lambda f: "UnsafeProjection" in f
        or "GeneratedClass" in f or "UnsafeRowWriter" in f
        or "UnsafeWriter" in f),
]

# frames that take the layer of their caller
TRANSPARENT = ("graft.cdc.FileCdcDatabase$.scanLongField",
               "graft.cdc.FileCdcDatabase$.parseLongAt",
               "graft.cdc.FileCdcDatabase$.skipSpace",
               "graft.cdc.FileCdcDatabase$.quick")

PLUMBING = ("scala.collection.Iterator", "scala.collection.AbstractIterator",
            "java.lang.ThreadLocal", "graft.cdc.FileCdcDatabase$.inScope",
            "graft.cdc.FileCdcDatabase$.scopeNow",
            "graft.cdc.FileCdcDatabase$ResourceScope")


def frame_name(fr):
    m = fr["method"]
    # the JSON form names classes by their internal (slashed) names
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def classify(frames):
    names = [frame_name(f) for f in frames]
    if names and any(names[0].startswith(p) for p in PLUMBING):
        return "plumbing"
    for name in names:
        if any(name.startswith(t) for t in TRANSPARENT):
            continue
        for layer, pred in LAYERS:
            if pred(name):
                return layer
    return "other"


def read_events(recording, event):
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", "256",
         "--events", event, recording],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


# frames that start a process rather than ask for one
FORK_PLUMBING = ("java.", "jdk.", "sun.", "org.apache.hadoop.util.Shell",
                 "org.apache.hadoop.fs.FileUtil.execCommand")


def forks(recording, top):
    words = collections.Counter()
    sites = collections.defaultdict(collections.Counter)
    for e in read_events(recording, "jdk.ProcessStart"):
        v = e["values"]
        word = (v.get("command") or "").split(" ", 1)[0].rsplit("/", 1)[-1]
        frames = (v.get("stackTrace") or {}).get("frames") or []
        names = [frame_name(f) for f in frames]
        site = next((n for n in names if not n.startswith(FORK_PLUMBING)),
                    names[-1] if names else "?")
        words[word] += 1
        sites[word][site] += 1
    print(f"{sum(words.values())} process starts")
    for word, n in words.most_common():
        print(f"  {n:>6}  {word}")
        for site, k in sites[word].most_common(top):
            print(f"  {k:>14}  {site}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="Executor task launch worker")
    ap.add_argument("--top", type=int, default=10)
    ap.add_argument("--show", default="other")
    ap.add_argument("--forks", action="store_true",
                    help="count jdk.ProcessStart by command word and call site")
    a = ap.parse_args()
    if a.forks:
        forks(a.recording, a.top)
        return
    events = read_events(a.recording, "jdk.ExecutionSample")
    counts = collections.Counter()
    shown = collections.Counter()
    for e in events:
        v = e["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        if a.thread not in thread:
            continue
        frames = (v.get("stackTrace") or {}).get("frames") or []
        layer = classify(frames)
        counts[layer] += 1
        if layer == a.show and frames:
            shown[frame_name(frames[0])] += 1
    total = sum(counts.values())
    if total == 0:
        sys.exit(f"no samples of threads matching {a.thread!r}")
    print(f"{total} samples of threads matching {a.thread!r}")
    order = [l for l, _ in LAYERS] + ["plumbing", "other"]
    for layer in order:
        n = counts[layer]
        print(f"  {layer:<11} {n:>6}  {100.0 * n / total:5.1f}%")
    if a.top > 0 and shown:
        print(f"top executing frames in {a.show!r}:")
        for name, n in shown.most_common(a.top):
            print(f"  {n:>6}  {name}")


if __name__ == "__main__":
    main()
