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

When the run's `-detail.json` sits beside the spans file, a second table
sets the client-side p50 of perfbench's `select_ms`, `meta_ms` and
`insert_ms` (what the load generator measured over the wire) next to the
handler ms of the same kind (selects: agg/raw/diff/merge; meta: every
metadata verb). The difference of the two p50s is what a request of
that kind spends outside the handler: codec, transport and client.
"""
import json
import os
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


SELECTS = ("agg", "raw", "diff", "merge")


def request_kind(cls):
    if cls == "insert":
        return "insert"
    return "select" if cls in SELECTS else "meta"


def pct(xs, p):
    """Linear-interpolated percentile, as perfbench's `Stats.pct`."""
    if not xs:
        return float("nan")
    s = sorted(xs)
    r = p / 100.0 * (len(s) - 1)
    lo, hi = int(r), min(int(r) + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (r - lo)


def wire_rows(spans, detail):
    handler = {"select": [], "meta": [], "insert": []}
    for s in spans:
        handler[request_kind(request_class(s))].append(s["handler_ms"])
    rows = []
    for kind, h in handler.items():
        client = detail.get(f"{kind}_ms", [])
        if not h and not client:
            continue
        mean = sum(h) / len(h) if h else float("nan")
        hp50, cp50 = pct(h, 50), pct(client, 50)
        rows.append([kind, str(len(h)), f"{mean:.1f}", f"{hp50:.1f}",
                     str(len(client)), f"{cp50:.1f}", f"{cp50 - hp50:.1f}"])
    return rows


def print_table(rows):
    widths = [max(len(r[i]) for r in rows) for i in range(len(rows[0]))]
    for r in rows:
        print("  ".join(c.ljust(w) if i == 0 else c.rjust(w)
                        for i, (c, w) in enumerate(zip(r, widths))))


def main(argv):
    if len(argv) != 2:
        print("usage: python3 tools/span_summary.py <spans.jsonl>", file=sys.stderr)
        return 2
    with open(argv[1]) as f:
        spans = [json.loads(line) for line in f if line.strip()]
    header = ["class", "n"] + [label for label, _ in MEANS] + ["jobs/stages/tasks"]
    print_table([header] + summarize(spans))
    detail_path = argv[1][:-len("-spans.jsonl")] + "-detail.json"
    if argv[1].endswith("-spans.jsonl") and os.path.exists(detail_path):
        with open(detail_path) as f:
            detail = json.load(f)
        print()
        print(f"wire overhead per kind (client p50 from {os.path.basename(detail_path)})")
        print_table([["kind", "n", "handler ms", "handler p50", "client n",
                      "client p50", "client - handler p50"]] + wire_rows(spans, detail))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
