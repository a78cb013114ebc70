#!/usr/bin/env python3
"""Per-operation timeline of lake spans in a perfbench trace.

Usage: trace_timeline.py <trace.jsonl> <span-name,...>

<trace.jsonl> is the record file a traced benchmark run writes
(`python3 perfbench/run.py ... --trace 1` puts it under
.bench_build/traces/). Each <span-name> selects lake spans by layer
("lake.erase") or by layer and name ("lake.erase:DeleteRow").

For every matching span this prints, in start order:
  - each Spark job that started inside the span: its start offset from
    the span's start, duration, task count and summed task time, and the
    driver gap before it (time since the span opened or since the latest
    end of an earlier job in the span)
  - the driver gap after the last job
  - each QueryExecution record that started inside the span: plan_ms,
    files_read, rows_read
and closes with per-span means for each matching `layer:name`, so one
call compares, say, `lake.sql:Merge` with `lake.commit:Update`.
"""
import json
import sys


def load(path):
    spans, jobs, qes = [], [], []
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            if "span" in r:
                spans.append(r)
            elif "job" in r:
                jobs.append(r)
            elif "qe_start_ms" in r:
                qes.append(r)
    return spans, jobs, qes


def matches(span, names):
    if not span["layer"].startswith("lake."):
        return False
    full = f"{span['layer']}:{span['name']}"
    return span["layer"] in names or full in names


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spans, jobs, qes = load(sys.argv[1])
    names = {n.strip() for n in sys.argv[2].split(",") if n.strip()}
    chosen = sorted((s for s in spans if matches(s, names)),
                    key=lambda s: s["start_ms"])
    if not chosen:
        sys.exit(f"no lake span matches {sorted(names)}")
    totals = {}
    for s in chosen:
        t0, t1 = s["start_ms"], s["start_ms"] + s["dur_ms"]
        inside = sorted((j for j in jobs if t0 <= j["start_ms"] <= t1),
                        key=lambda j: j["start_ms"])
        extra = {k: v for k, v in s.items() if k not in
                 ("span", "parent", "op", "layer", "name", "start_ms",
                  "dur_ms")}
        print(f"{s['layer']}:{s['name']} op={s['op']} "
              f"dur={s['dur_ms']:.1f}ms jobs={len(inside)} "
              + " ".join(f"{k}={v:g}" for k, v in sorted(extra.items())))
        cursor, gap = t0, 0.0
        for j in inside:
            before = max(0.0, j["start_ms"] - cursor)
            gap += before
            print(f"  job {j['job']:>5} +{j['start_ms'] - t0:>7.0f}ms "
                  f"dur={j['end_ms'] - j['start_ms']:>6.0f}ms "
                  f"tasks={j['tasks']:>3} task_ms={j['task_ms']:>6.0f} "
                  f"gap_before={before:.0f}ms")
            cursor = max(cursor, j["end_ms"])
        tail = max(0.0, t1 - cursor)
        gap += tail
        print(f"  gap after last job: {tail:.0f}ms; driver gap total "
              f"{gap:.0f}ms")
        for q in sorted((q for q in qes if t0 <= q["qe_start_ms"] <= t1),
                        key=lambda q: q["qe_start_ms"]):
            print(f"  qe +{q['qe_start_ms'] - t0:>7.0f}ms "
                  f"plan_ms={q['plan_ms']:g} files_read={q['files_read']:g} "
                  f"rows_read={q['rows_read']:g}")
        t = totals.setdefault(f"{s['layer']}:{s['name']}", {
            "spans": 0, "dur_ms": 0.0, "jobs": 0, "task_ms": 0.0,
            "gap_ms": 0.0})
        t["spans"] += 1
        t["dur_ms"] += s["dur_ms"]
        t["jobs"] += len(inside)
        t["task_ms"] += sum(j["task_ms"] for j in inside)
        t["gap_ms"] += gap
    for name, t in sorted(totals.items()):
        n = t.pop("spans")
        print(f"{name}: {n} spans; per span: " + " ".join(
            f"{k}={v / n:.1f}" for k, v in t.items()))


if __name__ == "__main__":
    main()
