#!/usr/bin/env python3
"""Bucket a JFR recording's driver-thread CPU samples by Spark layer.

Reads the `jdk.ExecutionSample` events of a flight recording (through
`jfr print --json --events jdk.ExecutionSample`, or an already printed
JSON file) and keeps the samples of one thread, `main` by default: the
thread a perfbench run or a `graft.Bench` main calls graft on. Each
sample goes to the Spark layer of the frame nearest its leaf that
belongs to one:

  closure    Spark's ClosureCleaner and the ASM class reader it parses
             closures' classes with (once per job submitted)
  codegen    Janino and Spark's generated-code compile
  analysis   Catalyst analysis, optimization and physical planning
  file_index file listing, partition pruning and parquet footers
  scheduler  job submission, the DAG scheduler and the wait for results

A sample with no such frame counts as `other`. With `--spans` (a
perfbench `spans-<workload>-<seed>.jsonl`, written by `--trace 1`) the
samples are split by the request class whose op span holds them, and
`--skip N` drops each class's first N ops (on `serve`, 2: the cold pass
and the warm-up round).

    JAVA_TOOL_OPTIONS="-XX:FlightRecorderOptions=stackdepth=1024 \
      -XX:StartFlightRecording=filename=/tmp/serve.jfr,jdk.ExecutionSample#period=1ms" \
      python3 perfbench/run.py --workload serve --seed 1 --seconds 8 --trace 1
    python3 tools/jfr_buckets.py /tmp/serve.jfr \
      --spans perfbench/.work/spans-serve-1.jsonl --skip 2

Prints one JSON object: per class (or `all`), the sample count and each
layer's share of it. JFR samples a thread in Java code only, at most
once per period, so shares are comparable between runs and counts are
not milliseconds.
"""
import argparse
import bisect
import collections
import datetime
import json
import re
import subprocess
import sys

# (layer, class-name prefixes); a frame matches the first layer listing
# a prefix of its class
LAYERS = [
    ("closure", ("org.apache.spark.util.ClosureCleaner", "org.apache.spark.util.SparkClosureCleaner",
                 "org.apache.xbean.asm")),
    ("codegen", ("org.codehaus.janino", "org.codehaus.commons",
                 "org.apache.spark.sql.catalyst.expressions.codegen")),
    ("analysis", ("org.apache.spark.sql.catalyst.analysis", "org.apache.spark.sql.catalyst.optimizer",
                  "org.apache.spark.sql.catalyst.planning", "org.apache.spark.sql.catalyst.rules",
                  "org.apache.spark.sql.execution.SparkStrategies", "org.apache.spark.sql.execution.SparkPlanner",
                  "org.apache.spark.sql.execution.QueryExecution", "org.apache.spark.sql.execution.adaptive")),
    ("file_index", ("org.apache.spark.sql.execution.datasources.InMemoryFileIndex",
                    "org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex",
                    "org.apache.spark.sql.execution.datasources.PartitioningUtils",
                    "org.apache.spark.util.HadoopFSUtils", "org.apache.hadoop.fs", "org.apache.parquet")),
    ("scheduler", ("org.apache.spark.scheduler", "org.apache.spark.SparkContext.runJob",
                   "org.apache.spark.rpc", "org.apache.spark.util.ThreadUtils")),
]
NAMES = [name for name, _ in LAYERS] + ["other"]


def frame_class(frame):
    """binary class name of a printed frame, dots as separators"""
    t = frame.get("method", {}).get("type", {})
    return (t.get("name") or "").replace("/", ".")


def layer_of(frames):
    for f in frames:  # leaf first
        c = frame_class(f)
        m = f.get("method", {}).get("name", "")
        for name, prefixes in LAYERS:
            if any(c.startswith(p) or f"{c}.{m}".startswith(p) for p in prefixes):
                return name
    return "other"


ISO_TS = re.compile(r"(\d{4}-\d\d-\d\dT\d\d:\d\d:\d\d)(?:\.(\d+))?(Z|[+-]\d\d:?\d\d)?")


def epoch_ms(ts):
    """JFR's ISO-8601 startTime (nanosecond digits and a zone offset
    allowed; no zone reads as UTC) in epoch ms

    >>> epoch_ms("2026-10-21T15:40:23.123456789Z")
    1792597223123.4568
    >>> epoch_ms("2026-10-21T17:40:23.123456789+02:00")
    1792597223123.4568
    >>> epoch_ms("2026-10-21T10:10:23.5-05:30")
    1792597223500.0
    """
    if isinstance(ts, (int, float)):
        return float(ts)
    m = ISO_TS.fullmatch(ts)
    if not m:
        raise ValueError(f"not an ISO-8601 timestamp: {ts!r}")
    head, frac, zone = m.groups()
    tz = datetime.timezone.utc
    if zone and zone != "Z":
        digits = zone[1:].replace(":", "")
        off = datetime.timedelta(hours=int(digits[:2]), minutes=int(digits[2:]))
        tz = datetime.timezone(off if zone[0] == "+" else -off)
    t = datetime.datetime.fromisoformat(head).replace(tzinfo=tz)
    return t.timestamp() * 1000 + (float("0." + frac) * 1000 if frac else 0.0)


def load_events(path):
    if path.endswith(".json"):
        with open(path) as f:
            doc = json.load(f)
    else:
        out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                             check=True, capture_output=True, text=True).stdout
        doc = json.loads(out)
    return doc["recording"]["events"]


def load_ops(path, skip):
    """sorted (start_ms, end_ms, class) of the op spans, each class's
    first `skip` ops dropped"""
    seen = collections.Counter()
    ops = []
    with open(path) as f:
        for line in f:
            s = json.loads(line)
            if s.get("span") != "op":
                continue
            seen[s["name"]] += 1
            if seen[s["name"]] > skip:
                ops.append((s["start_ms"], s["end_ms"], s["name"]))
    return sorted(ops)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording", help="a .jfr file, or the JSON `jfr print --json` made of one")
    ap.add_argument("--thread", default="main", help="the Java name of the driver thread (default main)")
    ap.add_argument("--spans", help="perfbench spans JSONL: split the samples by request class")
    ap.add_argument("--skip", type=int, default=0, help="with --spans, drop each class's first N ops")
    a = ap.parse_args()

    ops = load_ops(a.spans, a.skip) if a.spans else None
    starts = [o[0] for o in ops] if ops else None
    counts = collections.defaultdict(collections.Counter)
    for e in load_events(a.recording):
        v = e.get("values", {})
        if (v.get("sampledThread") or {}).get("javaName") != a.thread:
            continue
        key = "all"
        if ops is not None:
            t = epoch_ms(v["startTime"])
            i = bisect.bisect_right(starts, t) - 1
            if i < 0 or t > ops[i][1]:
                continue
            key = ops[i][2]
        counts[key][layer_of((v.get("stackTrace") or {}).get("frames") or [])] += 1

    out = {}
    for key in sorted(counts):
        n = sum(counts[key].values())
        out[key] = {"samples": n, **{l: round(counts[key][l] / n, 3) for l in NAMES}}
    json.dump(out, sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
