#!/usr/bin/env python3
"""Hot methods of a JFR recording, from its CPU samples.

Record a JVM with the profiling settings, for example an sbt main or a
forked test JVM:

  java -XX:StartFlightRecording=filename=rec.jfr,settings=profile ...

(with sbt: `set run / javaOptions += "-XX:StartFlightRecording=filename=rec.jfr,settings=profile"`).
Then:

  tools/jfr_hot.py rec.jfr [--thread PREFIX] [--top N] [--stack-depth D]
                   [--grep REGEX ...]

It runs `jfr print --json --events jdk.ExecutionSample` over the recording
and keeps the samples of the threads whose Java name starts with PREFIX
(default: Spark's executor threads, "Executor task launch worker"; pass
--thread "" for every thread). It prints, with each one's share of those
samples:

  - leaf frames: the method a sample was running (self time);
  - inclusive frames: the methods on a sample's stack (counted once per
    sample), i.e. time spent in a method and everything it called;
  - with --grep: the samples whose stack holds a frame matching any of the
    regexes (e.g. --grep DictionaryValuesWriter --grep fallBackAllValuesTo).

Frames are `package.Class.method`. Stacks are cut at --stack-depth frames
(default 64, JFR's own recording depth), so inclusive shares of frames
deeper than that are undercounted. The events stream through one at a
time, so a long recording needs little memory. It only reads the
recording.
"""
import argparse
import collections
import json
import re
import subprocess
import sys


def events(path, depth):
    """Yield each jdk.ExecutionSample event of `path` as a dict."""
    proc = subprocess.Popen(
        ["jfr", "print", "--json", "--events", "jdk.ExecutionSample",
         "--stack-depth", str(depth), path],
        stdout=subprocess.PIPE, text=True)
    decoder = json.JSONDecoder()
    buf, pos, started = "", 0, False
    for chunk in iter(lambda: proc.stdout.read(1 << 20), ""):
        buf = buf[pos:] + chunk
        pos = 0
        if not started:
            at = buf.find('"events": [')
            if at < 0:
                continue
            pos, started = at + len('"events": ['), True
        while True:
            while pos < len(buf) and buf[pos] in " \t\r\n,":
                pos += 1
            if pos >= len(buf) or buf[pos] == "]":
                break
            try:
                ev, end = decoder.raw_decode(buf, pos)
            except json.JSONDecodeError:
                break  # the event continues in the next chunk
            pos = end
            yield ev
    if proc.wait() != 0:
        sys.exit(f"jfr print failed on {path}")


def frame_name(frame):
    m = frame["method"]
    return m["type"]["name"].replace("/", ".") + "." + m["name"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="Executor task launch worker",
                    help="Java thread-name prefix of the samples to keep")
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--stack-depth", type=int, default=64)
    ap.add_argument("--grep", action="append", default=[],
                    help="regex; report the samples with a matching frame")
    args = ap.parse_args()

    leaf, incl = collections.Counter(), collections.Counter()
    greps = [re.compile(g) for g in args.grep]
    hits, n, total = 0, 0, 0
    for ev in events(args.recording, args.stack_depth):
        total += 1
        v = ev["values"]
        thread = (v.get("sampledThread") or {}).get("javaName") or ""
        frames = ((v.get("stackTrace") or {}).get("frames")) or []
        if not thread.startswith(args.thread) or not frames:
            continue
        n += 1
        names = [frame_name(f) for f in frames]
        leaf[names[0]] += 1
        incl.update(set(names))
        if greps and any(g.search(x) for g in greps for x in names):
            hits += 1

    print(f"{n} samples of threads '{args.thread}*' ({total} in the recording)")
    if n == 0:
        return
    for title, counts in (("leaf frames", leaf), ("inclusive frames", incl)):
        print(f"\n{title}:")
        for name, c in counts.most_common(args.top):
            print(f"{c:8d} {100.0 * c / n:6.1f} %  {name}")
    if greps:
        print(f"\nstack matches {' | '.join(args.grep)}: {hits} "
              f"({100.0 * hits / n:.1f} %)")


if __name__ == "__main__":
    main()
