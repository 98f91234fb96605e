#!/usr/bin/env python3
"""Inclusive-frame counts of the CPU samples in a JFR recording.

Usage:
  tools/jfr_frames.py RUN.jfr [--thread REGEX] [--window FROM TO]
                      [--frame REGEX] [--top N] [--depth N]

Runs `jfr print --stack-depth N --events jdk.ExecutionSample RUN.jfr`
and reads its text. A sample counts once for every distinct method on
its stack (inclusive, recursion counted once), so a method's count is
the samples spent in it or in anything it called. Methods are named
`package.Class.method`, without arguments or line.

  --thread REGEX   keep samples whose thread name matches (re.search),
                   e.g. 'Executor task launch' for Spark task threads
  --window FROM TO keep samples with FROM <= start time < TO; each bound
                   is a clock time as `jfr print` shows it (HH:MM:SS or
                   HH:MM:SS.fff) or +SECONDS after the first sample
  --frame REGEX    print only methods that match (shares stay of all
                   kept samples), after the count of samples holding any
  --top N          methods to print, most samples first (default 40)
  --depth N        stack frames read per sample (default 256; deeper
                   frames are lost, which undercounts outer methods)

Prints the kept-sample count and the time span of all samples, then
one line per method: samples, share of the kept samples, method.
"""
import argparse
import collections
import re
import subprocess
import sys

TIME = re.compile(r"(\d\d):(\d\d):(\d\d(?:\.\d+)?)")
THREAD = re.compile(r'sampledThread = "(.*)" \(')
FRAME = re.compile(r"^\s+([\w$.<>]+)\(")


def clock(text):
    """Seconds since midnight of a HH:MM:SS[.fff] time."""
    h, m, s = TIME.search(text).groups()
    return int(h) * 3600 + int(m) * 60 + float(s)


def samples(path, depth):
    """(start seconds, thread name, frame list) per jdk.ExecutionSample."""
    cmd = ["jfr", "print", "--stack-depth", str(depth), "--events", "jdk.ExecutionSample", path]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    start, thread, frames = None, "", None
    for line in proc.stdout:
        s = line.strip()
        if s.startswith("jdk.ExecutionSample"):
            start, thread, frames = None, "", []
        elif s.startswith("startTime = "):
            start = clock(s)
        elif s.startswith("sampledThread = "):
            m = THREAD.search(s)
            thread = m.group(1) if m else s
        elif frames is not None:
            m = FRAME.match(line)
            if m:
                frames.append(m.group(1))
            elif s == "}":
                yield start, thread, frames
                frames = None
    if proc.wait() != 0:
        sys.exit("jfr print failed on " + path)


def bound(text, first):
    return first + float(text[1:]) if text.startswith("+") else clock(text)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("recording")
    ap.add_argument("--thread", default="")
    ap.add_argument("--window", nargs=2, metavar=("FROM", "TO"))
    ap.add_argument("--frame", default="")
    ap.add_argument("--top", type=int, default=40)
    ap.add_argument("--depth", type=int, default=256)
    a = ap.parse_args()

    every = list(samples(a.recording, a.depth))
    if not every:
        sys.exit("no jdk.ExecutionSample events in " + a.recording)
    # a recording that crosses midnight: later clock times wrap to 0
    origin = every[0][0]
    day = lambda t: t + 86400 if t < origin - 43200 else t
    every = [(day(t), name, fs) for t, name, fs in every]
    first = min(t for t, _, _ in every)
    last = max(t for t, _, _ in every)
    lo, hi = (day(bound(a.window[0], first)), day(bound(a.window[1], first))) if a.window \
        else (first, last + 1)
    thread = re.compile(a.thread)
    kept = [fs for t, name, fs in every if lo <= t < hi and thread.search(name)]
    counts = collections.Counter(f for fs in kept for f in set(fs))
    frame = re.compile(a.frame)
    print(f"{len(kept)} of {len(every)} samples kept; samples span {last - first:.1f} s")
    if a.frame:
        hit = sum(any(frame.search(f) for f in set(fs)) for fs in kept)
        print(f"{hit} samples ({100.0 * hit / max(len(kept), 1):.1f}%) hold a matching method")
    shown = (kv for kv in counts.most_common() if frame.search(kv[0]))
    for name, n in list(shown)[:a.top]:
        print(f"{n:7d} {100.0 * n / max(len(kept), 1):5.1f}%  {name}")


if __name__ == "__main__":
    main()
