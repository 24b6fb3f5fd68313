#!/usr/bin/env python3
"""Job timeline of one span of a traced perfbench run.

    python3 tools/trace_timeline.py <.out prefix> <span>

e.g. `python3 tools/trace_timeline.py
perfbench/.out/daily_increment-seed23-trace1 streaming.admit`.

Reads the `<prefix>.spans.json` and `<prefix>.jobs.json` files that a
`--trace 1` run of perfbench/run.py writes, and for every span called
<span> prints:

  - each Spark job that started inside it: offset from the span start,
    duration, task count and the call site of the action behind it;
  - the time before the first job;
  - per call-site file (the `X` of `... at X.scala:N`), the jobs, the busy
    time (union of the file's job intervals) and the driver time. The
    driver time before a job (since the span start, or since the latest
    end of the jobs before it) is charged to that job's file; the time
    after the last job is listed as `(after last job)`.

It only reads the files; nothing under perfbench/ changes.
"""
import json
import re
import signal
import sys

SITE_FILE = re.compile(r" at ([A-Za-z0-9_$]+)\.(scala|java):\d+")


def site_file(site):
    m = SITE_FILE.search(site)
    return m.group(1) if m else "other"


def union_ms(intervals):
    covered, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


def timeline(span, jobs):
    start, end = span["start_ms"], span["end_ms"]
    inside = sorted((j for j in jobs if start <= j["start_ms"] <= end),
                    key=lambda j: (j["start_ms"], j["job"]))
    print(f"== {span['name']} (span {span['id']}): {(end - start) / 1e3:.3f} s, "
          f"{len(inside)} jobs")
    print(f"{'offset_s':>9} {'dur_s':>7} {'tasks':>5}  call site")
    for j in inside:
        j_end = min(j["end_ms"], end)
        print(f"{(j['start_ms'] - start) / 1e3:9.3f} {(j_end - j['start_ms']) / 1e3:7.3f} "
              f"{j['tasks']:5d}  {j['site']}")
    first = (inside[0]["start_ms"] if inside else end) - start
    print(f"before first job: {first / 1e3:.3f} s")

    per_file = {}
    reached = start
    for j in inside:
        f = per_file.setdefault(site_file(j["site"]), {"jobs": 0, "ivs": [], "driver": 0})
        f["jobs"] += 1
        f["ivs"].append((j["start_ms"], min(j["end_ms"], end)))
        f["driver"] += max(0, j["start_ms"] - reached)
        reached = max(reached, min(j["end_ms"], end))
    print(f"{'file':<22} {'jobs':>4} {'busy_s':>7} {'driver_s':>8}")
    for name, f in sorted(per_file.items(), key=lambda kv: -kv[1]["driver"]):
        print(f"{name:<22} {f['jobs']:4d} {union_ms(f['ivs']) / 1e3:7.3f} "
              f"{f['driver'] / 1e3:8.3f}")
    print(f"{'(after last job)':<22} {'':>4} {'':>7} {max(0, end - reached) / 1e3:8.3f}")
    busy = union_ms([(j["start_ms"], min(j["end_ms"], end)) for j in inside])
    print(f"{'(span)':<22} {len(inside):4d} {busy / 1e3:7.3f} "
          f"{(end - start - busy) / 1e3:8.3f}")


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__.strip().split("\n\n")[1])
    prefix, name = sys.argv[1], sys.argv[2]
    with open(f"{prefix}.spans.json") as fh:
        spans = [s for s in json.load(fh) if s["name"] == name]
    with open(f"{prefix}.jobs.json") as fh:
        jobs = json.load(fh)
    if not spans:
        sys.exit(f"no span called {name} in {prefix}.spans.json")
    for s in spans:
        timeline(s, jobs)


if __name__ == "__main__":
    # a closed pipe (`| head`) ends the output quietly, as for other
    # command-line tools, instead of a BrokenPipeError traceback
    signal.signal(signal.SIGPIPE, signal.SIG_DFL)
    main()
