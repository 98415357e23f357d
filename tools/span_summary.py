#!/usr/bin/env python3
"""Per-request-class means from a perfbench `-spans.jsonl`.

    python3 tools/span_summary.py perfbench/results/standalone-seed11-trace1-spans.jsonl

A traced perfbench run (`python3 perfbench/run.py ... --trace 1`) writes
one JSON line per server request. This prints one row per request
class: the count, the mean handler, plan and execute ms, the mean Spark
jobs, eager (plan-time) jobs, stages and tasks, the mean task CPU ms,
and the range of jobs/stages/tasks seen in the class.

Classes follow how perfbench's query pool (`Data.queryPool`) builds its
requests: `insert`; the selects `agg` (an aggregate over a regex
selection), `raw` (`select *` of one series), `diff` (`=> difference()`)
and `merge` (`merge as ... using`); and one class per metadata verb
(`list series`, `count series`, `count series length`, ...).
"""
import json
import sys
from collections import OrderedDict

MEANS = [("handler ms", "handler_ms"), ("plan ms", "plan_ms"),
         ("execute ms", "execute_ms"), ("jobs", "jobs"),
         ("eager", "eager_jobs"), ("stages", "stages"), ("tasks", "tasks"),
         ("task CPU ms", "task_cpu_ms")]


def request_class(span):
    if span["kind"] == "insert":
        return "insert"
    text = " ".join(span["text"].split())
    if text.startswith("select "):
        if "=> difference()" in text:
            return "diff"
        if " merge as " in text:
            return "merge"
        if text.startswith("select * from '"):
            return "raw"
        return "agg"
    words = text.split(" ")
    verb = " ".join(words[:2])
    if verb == "count series" and len(words) > 2 and words[2] == "length":
        return "count series length"
    return verb


def span_range(values):
    lo, hi = min(values), max(values)
    return str(lo) if lo == hi else f"{lo}–{hi}"


def summarize(spans):
    classes = OrderedDict((c, []) for c in ("insert", "agg", "raw", "diff", "merge"))
    for s in spans:
        classes.setdefault(request_class(s), []).append(s)
    rows = []
    for name, members in classes.items():
        if not members:
            continue
        means = [sum(m[key] for m in members) / len(members) for _, key in MEANS]
        shape = "/".join(span_range([m[k] for m in members])
                         for k in ("jobs", "stages", "tasks"))
        rows.append([name, str(len(members))] + [f"{v:.1f}" for v in means] + [shape])
    return rows


def main(argv):
    if len(argv) != 2:
        print("usage: python3 tools/span_summary.py <spans.jsonl>", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    header = ["class", "n"] + [label for label, _ in MEANS] + ["jobs/stages/tasks"]
    rows = [header] + summarize(spans)
    widths = [max(len(r[i]) for r in rows) for i in range(len(header))]
    for r in rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
