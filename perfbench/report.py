#!/usr/bin/env python3
"""Read the run records that ``perfbench/run.py`` appends.

    python3 perfbench/report.py show [--last N] [--workload W]
    python3 perfbench/report.py diff A B
    python3 perfbench/report.py overhead

``show`` prints every metric of each record with its unit.  ``diff``
compares two records, named by run id or by index into the records file
(``-1`` is the newest), metric by metric.  ``overhead`` gives, per
workload, the median docs/s of the traced runs against the untraced ones:
the cost of the event log.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

RECORDS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "out",
                       "records.jsonl")


def load(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def pick(records: list[dict], ref: str) -> dict:
    for r in records:
        if r["run_id"] == ref:
            return r
    return records[int(ref)]


def header(r: dict) -> str:
    sha = r.get("git_sha") or r["source_sha256"][:12]
    return (f"{r['run_id']}  workload={r['workload']} seed={r['seed']} "
            f"trace={r['trace']} src={sha[:12]} steal_ticks={r['steal_ticks']} "
            f"correct={r['correct']} failed={r['failed']}/{r['attempted']}")


def show(records: list[dict]) -> None:
    for r in records:
        print(header(r))
        for name, m in sorted(r["metrics"].items()):
            print(f"  {name:34s} {m['value']:>16.6g} {m['unit']}")


def diff(a: dict, b: dict) -> None:
    print("A", header(a))
    print("B", header(b))
    for name in sorted(set(a["metrics"]) | set(b["metrics"])):
        va = a["metrics"].get(name, {}).get("value")
        vb = b["metrics"].get(name, {}).get("value")
        unit = (a["metrics"].get(name) or b["metrics"][name])["unit"]
        rel = (f"{100 * (vb - va) / va:+8.1f} %"
               if va not in (None, 0) and vb is not None else "")
        fa = "-" if va is None else f"{va:.6g}"
        fb = "-" if vb is None else f"{vb:.6g}"
        print(f"  {name:34s} {fa:>14} {fb:>14} {unit:6s} {rel}")


def overhead(records: list[dict]) -> None:
    """Per workload, over the records with the same sources and config as
    its newest traced record."""
    for wl in sorted({r["workload"] for r in records}):
        traced_recs = [r for r in records if r["workload"] == wl
                       and r["trace"] and "trace.docs_per_s" in r["metrics"]]
        if not traced_recs:
            print(f"{wl}: needs traced and untraced records")
            continue
        ref = traced_recs[-1]
        same = [r for r in records if r["workload"] == wl
                and r["source_sha256"] == ref["source_sha256"]
                and r["config"] == ref["config"]]
        plain = [r["metrics"]["docs_per_s"]["value"] for r in same
                 if not r["trace"] and "docs_per_s" in r["metrics"]]
        traced = [r["metrics"]["trace.docs_per_s"]["value"] for r in same
                  if r["trace"]]
        if not plain or not traced:
            print(f"{wl}: needs traced and untraced records")
            continue
        p, t = statistics.median(plain), statistics.median(traced)
        print(f"{wl}: untraced {p:.1f} docs/s (n={len(plain)}), traced "
              f"{t:.1f} docs/s (n={len(traced)}), overhead "
              f"{100 * (p - t) / p:+.1f} %")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--records", default=RECORDS)
    sub = ap.add_subparsers(dest="cmd", required=True)
    s = sub.add_parser("show")
    s.add_argument("--last", type=int, default=1)
    s.add_argument("--workload")
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b")
    sub.add_parser("overhead")
    args = ap.parse_args(argv)
    records = load(args.records)
    if args.cmd == "show":
        sel = [r for r in records
               if args.workload in (None, r["workload"])][-args.last:]
        show(sel)
    elif args.cmd == "diff":
        diff(pick(records, args.a), pick(records, args.b))
    else:
        overhead(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
