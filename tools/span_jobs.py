#!/usr/bin/env python3
"""Per-span job counts and driver gaps of a traced perfbench run.

    python3 tools/span_jobs.py TRACE_DIR [NAME_SUBSTRING]

TRACE_DIR holds the sidecar a traced run keeps (`spans.jsonl`,
`jobs.jsonl`), e.g. perfbench/results/trace_lake_cdc/ or
.bench_build/perfbench/trace/<workload>-s<seed>/. For each span (only
those whose name contains NAME_SUBSTRING, when given) it prints the
span's wall time, its job count, the union of its job intervals and the
driver gap: wall time minus that union, the time the driver spent
between jobs. A job belongs to the span its job group names
(`graftbench-span-<id>`), else to the innermost span open when it
started, the attribution the recorder itself uses. Job intervals are
clipped to the span. Reads the files only.
"""
import json
import os
import sys

GROUP_PREFIX = "graftbench-span-"


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def union_ms(intervals):
    """Length of the union of [a, b] intervals."""
    total, cur = 0.0, None
    for a, b in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur is None or a > cur[1]:
            if cur is not None:
                total += cur[1] - cur[0]
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    if cur is not None:
        total += cur[1] - cur[0]
    return total


def attribute(spans, jobs):
    """Jobs by the id of the span they ran under."""
    by_id = {s["id"]: s for s in spans}

    def span_at(ms):
        open_ = [s for s in spans
                 if s["start_ms"] <= ms <= s["start_ms"] + s["dur_ms"]]
        return max(open_, key=lambda s: (s["start_ms"], s["id"]),
                   default=None)

    out = {}
    for j in jobs:
        g = j.get("group") or ""
        s = None
        if g.startswith(GROUP_PREFIX):
            s = by_id.get(int(g[len(GROUP_PREFIX):]))
        if s is None:
            s = span_at(j["start_ms"])
        if s is not None:
            out.setdefault(s["id"], []).append(j)
    return out


def rows(spans, jobs, name_filter=None):
    """(id, name, wall, jobs, in_jobs, gap) for each selected span."""
    by_span = attribute(spans, jobs)
    out = []
    for s in spans:
        if name_filter and name_filter not in s["name"]:
            continue
        start, end = s["start_ms"], s["start_ms"] + s["dur_ms"]
        js = by_span.get(s["id"], [])
        busy = union_ms([(max(j["start_ms"], start), min(j["end_ms"], end))
                         for j in js if j["end_ms"] >= 0])
        out.append((s["id"], s["name"], s["dur_ms"], len(js), busy,
                    s["dur_ms"] - busy))
    return out


def main(argv):
    if len(argv) not in (2, 3):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    d = argv[1]
    spans = load(os.path.join(d, "spans.jsonl"))
    jobs = load(os.path.join(d, "jobs.jsonl"))
    print(f"{'span':>5}  {'name':<22} {'wall_ms':>9} {'jobs':>5} "
          f"{'in_jobs_ms':>11} {'gap_ms':>9}")
    for sid, name, wall, n, busy, gap in rows(
            spans, jobs, argv[2] if len(argv) == 3 else None):
        print(f"{sid:>5}  {name:<22} {wall:>9.1f} {n:>5} {busy:>11.1f} "
              f"{gap:>9.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
