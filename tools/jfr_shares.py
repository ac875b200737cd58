#!/usr/bin/env python3
"""Share of named frame groups in a JFR CPU profile.

    python3 tools/jfr_shares.py <x.jfr | x.json> [--after S] [--top N]
        [--group NAME=REGEX ...]

Reads the `jdk.ExecutionSample` events of a recording (a `.jfr` file is
converted with `jfr print --json --events jdk.ExecutionSample`; a `.json`
file is read as that command's output). Samples taken in the first `S`
seconds after the first sample are dropped, which cuts JVM and Spark
set-up out of the profile.

A group is a regular expression matched against every frame of a sample's
stack, written `package.Class.method`. A sample counts once for each group
with a matching frame, so shares of nested groups overlap and need not sum
to 100%. The report prints each group's share of the kept samples, then
the `N` most frequent leaf frames (the method on CPU).

Example, the MinHash layer of a `curate_docs` run (its `setup_s` as the
cut-off):

    JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=filename=x.jfr,settings=profile" \\
      python3 e2ebench/run.py --workload curate_docs --seed 2001 --seconds 20
    python3 tools/jfr_shares.py x.jfr --after 22 \\
      --group sketch=MinHashSketch --group hashed_relation=HashedRelation
"""
import argparse
import collections
import datetime
import json
import re
import subprocess
import sys


def load_samples(path):
    """The ExecutionSample events of a `.jfr` recording or its JSON print."""
    if path.endswith(".jfr"):
        out = subprocess.run(["jfr", "print", "--json", "--events", "jdk.ExecutionSample", path],
                             check=True, stdout=subprocess.PIPE).stdout
        doc = json.loads(out)
    else:
        with open(path) as f:
            doc = json.load(f)
    return [e["values"] for e in doc["recording"]["events"]
            if e["type"] == "jdk.ExecutionSample"]


def frame_name(frame):
    method = frame["method"]
    return "%s.%s" % (method["type"]["name"].replace("/", "."), method["name"])


def start_time(sample):
    # JFR prints nanosecond ISO-8601 instants; microseconds are enough here
    t = re.sub(r"(\.\d{6})\d*", r"\1", sample["startTime"]).replace("Z", "+00:00")
    return datetime.datetime.fromisoformat(t).timestamp()


def shares(samples, groups, after_s):
    """(kept sample count, {group: samples}, Counter of leaf frames)."""
    if not samples:
        return 0, {name: 0 for name, _ in groups}, collections.Counter()
    t0 = min(start_time(s) for s in samples)
    hits = {name: 0 for name, _ in groups}
    leaves = collections.Counter()
    kept = 0
    for s in samples:
        if start_time(s) < t0 + after_s or not s.get("stackTrace"):
            continue
        frames = [frame_name(f) for f in s["stackTrace"]["frames"]]
        if not frames:
            continue
        kept += 1
        leaves[frames[0]] += 1
        for name, regex in groups:
            if any(regex.search(f) for f in frames):
                hits[name] += 1
    return kept, hits, leaves


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording", help="a .jfr file, or the JSON `jfr print --json` wrote")
    ap.add_argument("--after", type=float, default=0.0,
                    help="drop samples in the first S seconds after the first sample")
    ap.add_argument("--group", action="append", default=[], metavar="NAME=REGEX",
                    help="a named frame group (repeatable)")
    ap.add_argument("--top", type=int, default=15, help="leaf frames to list")
    args = ap.parse_args(argv)
    groups = []
    for g in args.group:
        name, sep, regex = g.partition("=")
        if not sep or not name or not regex:
            ap.error("--group takes NAME=REGEX, got %r" % g)
        groups.append((name, re.compile(regex)))
    kept, hits, leaves = shares(load_samples(args.recording), groups, args.after)
    print("samples after %.1f s: %d" % (args.after, kept))
    for name, _ in groups:
        print("%-28s %6.1f%%  %d" % (name, 100.0 * hits[name] / max(kept, 1), hits[name]))
    if args.top > 0 and leaves:
        print("top leaf frames:")
        for frame, n in leaves.most_common(args.top):
            print("  %6.1f%%  %s" % (100.0 * n / kept, frame))


if __name__ == "__main__":
    main(sys.argv[1:])
