"""Compare two bench.py JSON outputs: per-query deltas, regressions over a
threshold, and added/removed queries — the round-over-round movement check.

Usage:
    python bench.py > /tmp/a.json        # before
    python bench.py > /tmp/b.json        # after
    python tools/bench_compare.py /tmp/a.json /tmp/b.json [--pct 20]

Accepts either a raw bench line or a driver BENCH_r{N}.json whose "tail"
holds (possibly truncated) bench output — truncated tails are parsed
best-effort for whatever per-query numbers survive. When both inputs are
tools/probe.py records, PLAN-CHANGED marks each query whose plan changed,
and PLAN-UNSTABLE one whose fingerprint differs but can also differ between
two sessions of the same tree (probe.py marks such records "unstable").
"""

from __future__ import annotations

import argparse
import json
import re
import sys


def load_queries(path: str) -> dict[str, float]:
    with open(path) as fh:
        text = fh.read()
    try:
        doc = json.loads(text)
    except json.JSONDecodeError:
        doc = None
    if isinstance(doc, dict):
        if isinstance(doc.get("queries"), dict):
            return {k: float(v) for k, v in doc["queries"].items()}
        # driver artifact: salvage pairs from the (possibly truncated) tail
        text = str(doc.get("tail", ""))
    out: dict[str, float] = {}
    known = _registry_names()
    for m in re.finditer(r'"([a-z0-9_]+)":\s*([0-9]+(?:\.[0-9]+)?)', text):
        name, val = m.group(1), float(m.group(2))
        if known is not None:
            if name in known:
                out[name] = val
        elif name not in ("value", "sf", "n", "rc", "cpus", "parsed"):
            out[name] = val
    return out


def load_plans(path: str) -> dict[str, dict]:
    """Per-query plan records of a tools/probe.py output; {} for other inputs."""
    try:
        with open(path) as fh:
            return dict(json.load(fh).get("plans") or {})
    except (json.JSONDecodeError, AttributeError):
        return {}


def _registry_names() -> frozenset[str] | None:
    """Query names the engine actually registers — salvaged pairs from a
    truncated tail are restricted to these so stray numeric fields in a
    driver artifact can never masquerade as phantom queries. None if the
    registry can't be imported (standalone use of this tool)."""
    try:
        import os
        import sys as _sys

        _sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        from pumle_spark.workload import REGISTRY, _load_modules

        _load_modules()
        return frozenset(REGISTRY)
    except Exception:
        return None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--pct", type=float, default=20.0, help="regression threshold %%")
    ap.add_argument("--floor", type=float, default=0.3,
                    help="ignore deltas where both sides are under this many seconds")
    args = ap.parse_args(argv)

    a, b = load_queries(args.before), load_queries(args.after)
    shared = sorted(set(a) & set(b))
    added = sorted(set(b) - set(a))
    removed = sorted(set(a) - set(b))

    ta, tb = sum(a[q] for q in shared), sum(b[q] for q in shared)
    if not shared:
        print("no shared queries")
    elif ta == 0.0:
        # all-sub-ms before side: totals exist but a percent delta doesn't
        print(f"shared queries: {len(shared)}  total {ta:.1f}s -> {tb:.1f}s (n/a%)")
    else:
        print(f"shared queries: {len(shared)}  total {ta:.1f}s -> {tb:.1f}s "
              f"({(tb - ta) / ta * 100:+.1f}%)")
    if added:
        print(f"added ({len(added)}): {' '.join(added)}")
    if removed:
        print(f"removed ({len(removed)}): {' '.join(removed)}")

    pa, pb = load_plans(args.before), load_plans(args.after)
    for q in sorted(set(pa) & set(pb)):
        if pa[q]["fingerprint"] != pb[q]["fingerprint"]:
            if pa[q].get("unstable") or pb[q].get("unstable"):
                print(f"PLAN-UNSTABLE {q}: distinct-aggregate order varies by session; "
                      "re-probe it alone in both trees")
            else:
                print(f"PLAN-CHANGED {q}")

    regressions = []
    for q in shared:
        if a[q] < args.floor and b[q] < args.floor:
            continue
        delta_pct = (b[q] - a[q]) / a[q] * 100 if a[q] else 0.0
        if delta_pct > args.pct:
            regressions.append((delta_pct, q, a[q], b[q]))
    for delta_pct, q, va, vb in sorted(regressions, reverse=True):
        print(f"REGRESSION {q}: {va:.2f}s -> {vb:.2f}s ({delta_pct:+.0f}%)")
    if not regressions:
        print(f"no regressions > {args.pct:.0f}%")
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
