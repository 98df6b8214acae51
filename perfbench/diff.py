#!/usr/bin/env python3
"""Diff two benchmark records: per-layer self time and metric deltas.

    python3 perfbench/diff.py BEFORE.json AFTER.json

The records are the files perfbench/run.py keeps under
.bench_build/perfbench/records/ (<workload>-seed<N>-trace<0|1>.json).
Traced records carry spans; for each span name the tool prints count and
self time (the span minus the part of it its child spans cover), total
and median, before and after. Then it prints every end-to-end and
per-layer metric present in either record with its change.

Records from different core counts are not compared: the tool says so
and exits with status 2. A different workload, seed or commit is printed
as a label above the tables.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def fmt(v):
    if v is None:
        return "-"
    return f"{v:.4g}" if isinstance(v, (int, float)) else str(v)


def change(a, b):
    if a is None or b is None:
        return "-"
    d = b - a
    rel = f" ({100.0 * d / a:+.1f}%)" if a else ""
    return f"{d:+.4g}{rel}"


def table(title, rows, header):
    print(f"\n{title}")
    widths = [max(len(str(r[i])) for r in rows + [header]) for i in range(len(header))]
    for r in [header] + rows:
        print("  " + "  ".join(str(c).ljust(w) for c, w in zip(r, widths)))


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    a, b = load(argv[1]), load(argv[2])
    ra, rb = a["record"], b["record"]
    if ra["cores"] != rb["cores"]:
        print(f"NOT COMPARABLE: different core counts "
              f"({ra['cores']} in {argv[1]}, {rb['cores']} in {argv[2]})")
        return 2
    for key in ("workload", "seed", "seconds", "git_commit", "source_digest",
                "heap_max_mb"):
        if ra.get(key) != rb.get(key):
            print(f"label: {key} differs: {ra.get(key)} -> {rb.get(key)}")
    print(f"cores: {ra['cores']}; correct: {a['correct']} -> {b['correct']}; "
          f"failed/attempted: {a['failed']}/{a['attempted']} -> "
          f"{b['failed']}/{b['attempted']}")

    sa, sb = a.get("self_time", {}), b.get("self_time", {})
    names = sorted(set(sa) | set(sb),
                   key=lambda n: -max(sa.get(n, {}).get("total_ms", 0),
                                      sb.get(n, {}).get("total_ms", 0)))
    if names:
        rows = []
        for n in names:
            x, y = sa.get(n, {}), sb.get(n, {})
            rows.append([n, fmt(x.get("count")), fmt(y.get("count")),
                         fmt(x.get("total_ms")), fmt(y.get("total_ms")),
                         change(x.get("total_ms"), y.get("total_ms")),
                         fmt(x.get("p50_ms")), fmt(y.get("p50_ms"))])
        table("self time per span (ms)", rows,
              ["span", "n before", "n after", "total before", "total after",
               "change", "p50 before", "p50 after"])

    for section in ("end_to_end", "per_layer"):
        ma, mb = a.get(section, {}), b.get(section, {})
        keys = sorted(set(ma) | set(mb))
        if not keys:
            continue
        rows = []
        for k in keys:
            x = ma.get(k, {}).get("value")
            y = mb.get(k, {}).get("value")
            unit = (ma.get(k) or mb.get(k))["unit"]
            rows.append([k, unit, fmt(x), fmt(y), change(x, y)])
        table(section.replace("_", "-") + " metrics", rows,
              ["metric", "unit", "before", "after", "change"])
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
