#!/usr/bin/env python3
"""Where the CPU samples of a JFR recording went, by thread and frame family.

    jfr print --json --events jdk.ExecutionSample rec.jfr > rec.json
    python3 tools/jfr_top.py rec.json [--skip-s 22] [--top 15]

Prints the share of execution samples per thread family, then, for Spark
executor task threads only, the share per frame family. A sample's frame
family is the first family that matches a frame, scanning from the top
of its stack down, so a BigDecimal constructor called from generated
aggregate code counts as double->decimal, and the generated aggregate
loop itself as hash aggregate. `--skip-s` drops the samples of the first
N seconds of the recording (a benchmark's set-up; `perfbench/run.py`
reports it as `setup_s`). `--top` also lists the most frequent top frames
of the executor samples no family matched. Standard library only.
"""
import argparse
import collections
import datetime
import json
import re
import sys

THREADS = [
    ("executor task", r"^Executor task launch worker"),
    ("request pool", r"^pool-\d+-thread-\d+$|^HTTP-Dispatcher$"),
    ("AQE / broadcast", r"QueryStageExecution|^broadcast-exchange"),
    ("http clients", r"^HttpClient-"),
    ("spark internals", r"^(dag-scheduler|dispatcher|rpc-|spark-listener|"
                        r"element-tracking|block-manager|task-result|map-output|"
                        r"netty|files-client|shuffle-|Spark Context Cleaner|"
                        r"executor-heartbeater)"),
    ("main", r"^main$"),
]

FRAMES = [
    ("double->decimal", r"^(jdk/internal/math/FloatingDecimal|java/math/BigDecimal|"
                        r"java/math/BigInteger|scala/math/BigDecimal|"
                        r"org/apache/spark/sql/types/Decimal\b|"
                        r"java/lang/Double\.toString)"),
    ("date/time", r"^(java/time/|sun/util/calendar/|java/util/TimeZone|"
                  r"org/apache/spark/sql/catalyst/util/(Spark)?DateTimeUtils)"),
    ("hash aggregate", r"hashAgg_|FastHashMap|BytesToBytesMap|"
                       r"UnsafeFixedWidthAggregationMap|RowBasedKeyValueBatch|"
                       r"^org/apache/spark/sql/execution/aggregate/"),
    ("class loading", r"^(java/lang/ClassLoader|jdk/internal/loader/|java/util/zip/|"
                      r"java/util/jar/|org/codehaus/|"
                      r"org/apache/spark/sql/catalyst/expressions/codegen/CodeGenerator)"),
]


def thread_family(name):
    for fam, rx in THREADS:
        if re.search(rx, name):
            return fam
    return re.sub(r"\d+", "N", name)


def frame_name(frame):
    m = frame["method"]
    return f"{m['type']['name']}.{m['name']}"


def frame_family(frames):
    for f in frames:
        name = frame_name(f)
        for fam, rx in FRAMES:
            if re.search(rx, name):
                return fam
    return "other"


def stamp(s):
    # JFR prints nanosecond timestamps; fromisoformat takes microseconds
    s = s.rstrip("Z")
    if "." in s:
        head, frac = s.split(".", 1)
        s = f"{head}.{frac[:6]}"
    return datetime.datetime.fromisoformat(s)


def table(title, counts, total):
    print(f"{title} ({total} samples)")
    for fam, n in counts.most_common():
        print(f"  {100.0 * n / total:5.1f}%  {n:6d}  {fam}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("recording", help="output of jfr print --json --events jdk.ExecutionSample")
    ap.add_argument("--skip-s", type=float, default=0.0)
    ap.add_argument("--top", type=int, default=0)
    a = ap.parse_args()
    with open(a.recording) as fh:
        events = [e["values"] for e in json.load(fh)["recording"]["events"]
                  if e["type"] == "jdk.ExecutionSample"]
    if not events:
        sys.exit("no jdk.ExecutionSample events in the recording")
    start = min(stamp(e["startTime"]) for e in events)
    cutoff = start + datetime.timedelta(seconds=a.skip_s)
    events = [e for e in events if stamp(e["startTime"]) >= cutoff]

    threads, frames, unmatched = (collections.Counter() for _ in range(3))
    for e in events:
        t = e["sampledThread"]
        fam = thread_family(t.get("javaName") or t.get("osName") or "")
        threads[fam] += 1
        if fam == "executor task":
            stack = (e.get("stackTrace") or {}).get("frames") or []
            ff = frame_family(stack)
            frames[ff] += 1
            if ff == "other" and stack:
                unmatched[frame_name(stack[0])] += 1
    table("thread family", threads, sum(threads.values()))
    if frames:
        print()
        table("executor frame family", frames, sum(frames.values()))
    if a.top and unmatched:
        print()
        table("executor top frames in 'other'",
              collections.Counter(dict(unmatched.most_common(a.top))),
              frames["other"])


if __name__ == "__main__":
    main()
