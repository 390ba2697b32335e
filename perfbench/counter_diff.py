#!/usr/bin/env python3
"""Compare the deterministic counters of two traced runs.

    python3 perfbench/counter_diff.py perfbench/.work/traces/A.json perfbench/.work/traces/B.json

For every span the two traces share (same request id and name) it
compares counts that depend only on the inputs and the code, never on
the host's speed: jobs, tasks, input rows, shuffle records, rows out of
every plan node, Arrow rows back from Python, result rows, and
checkpoint units and files.  It prints every difference and exits 1 if
there is any, 0 if there is none.  Run both traces with the same
workload and seed.
"""

from __future__ import annotations

import json
import sys

EXTRA_KEYS = ("result", "rows", "units_written", "units_skipped", "files")


def counters(span: dict) -> dict:
    out = {
        "jobs": span["jobs"],
        "tasks": span["tasks"],
        "input_rows": span["stages"].get("input_rows", 0),
        "shuffle_records": span["stages"].get("shuffle_records", 0),
    }
    for name, desc, metrics in span["nodes"]:
        for key in ("numOutputRows", "pythonNumRowsReceived"):
            if key in metrics:
                k = f"plan:{name.strip()}.{key}"
                out[k] = out.get(k, 0) + metrics[key]
    for name, rows in span["sql_rows"].items():
        out[f"sql:{name}.rows"] = rows
    for key in EXTRA_KEYS:
        if span["extra"].get(key) is not None:
            out[key] = span["extra"][key]
    return out


def spans_by_key(trace: dict) -> dict:
    """(request, name, occurrence) -> counters; checks run between ops
    and appear several times per request."""
    out, seen = {}, {}
    for sp in trace["spans"]:
        base = (sp["request"], sp["name"])
        n = seen[base] = seen.get(base, -1) + 1
        out[(*base, n)] = counters(sp)
    return out


def diff(a: dict, b: dict) -> list[str]:
    lines = []
    for key in ("workload", "seed"):
        if a["meta"][key] != b["meta"][key]:
            lines.append(f"meta {key}: {a['meta'][key]!r} != {b['meta'][key]!r}")
    sa, sb = spans_by_key(a), spans_by_key(b)
    for key in sorted(sa.keys() & sb.keys()):
        ca, cb = sa[key], sb[key]
        for name in sorted(ca.keys() | cb.keys()):
            if ca.get(name) != cb.get(name):
                lines.append(f"request {key[0]} {key[1]}#{key[2]} {name}: {ca.get(name)} != {cb.get(name)}")
    return lines


def main() -> None:
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    a, b = (json.loads(open(p).read()) for p in sys.argv[1:])
    lines = diff(a, b)
    print("\n".join(lines) if lines else "no counter differences")
    sys.exit(1 if lines else 0)


if __name__ == "__main__":
    main()
