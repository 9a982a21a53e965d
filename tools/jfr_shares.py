#!/usr/bin/env python3
"""Inclusive frame shares of a JFR recording's execution samples on the
serving threads.

    python3 tools/jfr_shares.py <recording.jfr> [--thread graft-http]
        [--depth 256] [--top 40] [--frame PointReader.scan ...] [--under FRAME]

A frame's inclusive share is the fraction of the selected threads'
execution samples whose stack holds that frame at least once (so nested
and recursive frames count once per sample). Frames are printed as
`Class.method` with the class's simple name (`LocalServe.partRel` for the
Scala object's method); `--frame` prints only the
frames whose label contains one of the given substrings, in that order;
`--under` keeps only the samples below a frame whose label contains it
(shares stay relative to all samples of the threads), to see what a frame
spends its time in.

`jfr print` keeps only the top 5 frames of every stack unless told
otherwise, which hides every engine frame below the HTTP handler; this
script always passes `--stack-depth` (`--depth`, default 256), and reports
how many samples reached that depth so a truncated profile shows.

A recording of a benchmark run, for example:

    JDK_JAVA_OPTIONS='-XX:StartFlightRecording=filename=/tmp/miss.jfr,settings=profile' \\
        python3 perfbench/run.py --workload serve_miss --seed 1302 --seconds 10 --trace 0
    python3 tools/jfr_shares.py /tmp/miss.jfr --frame PointReader.scan LocalServe.partRel
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def samples(path, depth):
    """The execution samples of `path` as parsed `jfr print --json` events."""
    out = subprocess.run(
        ["jfr", "print", "--json", "--stack-depth", str(depth),
         "--events", "jdk.ExecutionSample", path],
        check=True, capture_output=True, text=True).stdout
    return json.loads(out)["recording"]["events"]


def label(frame):
    method = frame["method"]
    # simple class name; a Scala object's trailing `$` dropped
    cls = method["type"]["name"].replace("/", ".").rsplit(".", 1)[-1].rstrip("$")
    return cls + "." + method["name"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="graft-http",
                    help="regex the sampled thread's whole name must match")
    ap.add_argument("--depth", type=int, default=256, help="jfr print --stack-depth")
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--frame", nargs="*", default=[],
                    help="print only frames whose label contains one of these")
    ap.add_argument("--under", help="count only samples below a frame containing this")
    a = ap.parse_args()

    thread = re.compile(a.thread)
    counts = collections.Counter()
    total = truncated = 0
    for ev in samples(a.recording, a.depth):
        vals = ev["values"]
        t = vals.get("sampledThread") or {}
        name = t.get("javaName") or t.get("osName") or ""
        if not thread.fullmatch(name):
            continue
        stack = vals.get("stackTrace") or {}
        frames = stack.get("frames") or []
        total += 1
        if stack.get("truncated"):
            truncated += 1
        labels = [label(f) for f in frames]  # innermost first
        if a.under:
            below = [i for i, f in enumerate(labels) if a.under in f]
            if not below:
                continue
            labels = labels[:below[-1] + 1]
        counts.update(set(labels))
    if total == 0:
        sys.exit("no execution samples on threads matching %r" % a.thread)

    print("%d samples on threads matching %r; %d truncated at depth %d"
          % (total, a.thread, truncated, a.depth))
    if a.frame:
        rows = []
        for want in a.frame:
            hits = [(n, f) for f, n in counts.items() if want in f]
            rows += sorted(hits, reverse=True)[:1] if hits else [(0, want)]
    else:
        rows = [(n, f) for f, n in counts.most_common(a.top)]
    for n, f in rows:
        print("%6.1f%%  %6d  %s" % (100.0 * n / total, n, f))


if __name__ == "__main__":
    main()
