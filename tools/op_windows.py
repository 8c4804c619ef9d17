#!/usr/bin/env python3
"""Split each traced perfbench operation into its wall-time windows.

Reads the `spans.jsonl` a `--trace 1` perfbench run writes into its work
directory (`perfbench/.work/<workload>/spans.jsonl`) and prints, per
operation, where its wall time went:

  pre-SQL              operation start -> first SQL execution start
  SQL start -> job 1   SQL execution start -> its first job start
  job N                job N's own time (start -> end)
  gap job N -> job M   one job's end -> the next job's start (AQE re-plans here)
  last job -> SQL end  the last job's end -> SQL execution end
  post-SQL             last SQL execution end -> operation end

An operation with several SQL executions also gets a "between SQL" window
for the time from one execution's end to the next one's start.

Usage:
  python3 tools/op_windows.py perfbench/.work/l3_day_1km/spans.jsonl [more.jsonl ...]
  python3 tools/op_windows.py --json spans.jsonl   # one JSON object per operation
"""
import argparse
import json
import sys
from collections import defaultdict


def load(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def windows(spans):
    """[(label, ms)] of one operation, from its spans."""
    op = next(s for s in spans if s["parent"] == "")
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    sqls = sorted((s for s in children[op["id"]] if s["id"].startswith("sql-")),
                  key=lambda s: s["start_ms"])
    if not sqls:
        return [("operation (no SQL execution)", op["end_ms"] - op["start_ms"])]
    out = [("pre-SQL", sqls[0]["start_ms"] - op["start_ms"])]
    prev_end = None
    for sql in sqls:
        tag = "" if len(sqls) == 1 else f" [{sql['id']}]"
        if prev_end is not None:
            out.append((f"between SQL{tag}", sql["start_ms"] - prev_end))
        jobs = sorted((s for s in children[sql["id"]] if s["id"].startswith("job-")),
                      key=lambda s: s["start_ms"])
        if not jobs:
            out.append((f"SQL without jobs{tag}", sql["end_ms"] - sql["start_ms"]))
        else:
            out.append((f"SQL start -> job 1{tag}", jobs[0]["start_ms"] - sql["start_ms"]))
            for k, job in enumerate(jobs, 1):
                if k > 1:
                    out.append((f"gap job {k - 1} -> job {k}{tag}",
                                job["start_ms"] - jobs[k - 2]["end_ms"]))
                out.append((f"job {k} ({job['id']}){tag}", job["end_ms"] - job["start_ms"]))
            out.append((f"last job -> SQL end{tag}", sql["end_ms"] - jobs[-1]["end_ms"]))
        prev_end = sql["end_ms"]
    out.append(("post-SQL", op["end_ms"] - prev_end))
    out.append(("operation", op["end_ms"] - op["start_ms"]))
    return out


def operations(rows):
    """{(run_id, operation id): spans}, each span under the operation its parents lead to."""
    parent = {(s["run_id"], s["id"]): s["parent"] for s in rows}

    def root(run, sid):
        while parent.get((run, sid), ""):
            sid = parent[(run, sid)]
        return sid

    ops = defaultdict(list)
    for s in rows:
        ops[(s["run_id"], root(s["run_id"], s["id"]))].append(s)
    return ops


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("spans", nargs="+", help="spans.jsonl files of --trace 1 runs")
    ap.add_argument("--json", action="store_true", help="one JSON object per operation")
    args = ap.parse_args()
    for path in args.spans:
        for (run, op), spans in operations(load(path)).items():
            ws = windows(spans)
            if args.json:
                print(json.dumps({"file": path, "run_id": run, "op": op,
                                  "windows_ms": dict(ws)}))
            else:
                print(f"# {path} {run} {op}")
                for label, ms in ws:
                    print(f"  {label:<32} {ms:9.1f} ms")
    return 0


if __name__ == "__main__":
    sys.exit(main())
