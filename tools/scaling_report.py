"""Scaling-exponent report between two tools/probe.py records at different
scale factors: the mechanical super-linear detector (round-5 verdict item 7).

For each query timed at both scales, the fitted exponent is

    alpha = log(t_hi / t_lo) / log(sf_hi / sf_lo)

alpha ~ 1 is linear (the shape that survives 100 TB), alpha < 1 means fixed
overhead still dominates at the small scale, and alpha meaningfully > 1 is a
super-linear plan — the thing this report exists to catch registry-wide
instead of by 19-operator sampling (PERF.md's probe table).

Caveats the thresholds encode:
- sub-second timings at BOTH scales are mostly session overhead; their
  ratio is noise, so they are reported but never flagged.
- queries that moved from timed to budget-refused at the high scale are a
  PASS (the guard fired exactly where it is designed to), listed separately.

Usage:
    python tools/scaling_report.py BENCH_ALL_r06.json BENCH_ALL_SF1_r06.json \
        --sf-lo 0.1 --sf-hi 1.0 [--alpha 1.3] [--floor 1.0]

Exit 1 if any query above the floor exceeds the alpha threshold.
"""

from __future__ import annotations

import argparse
import json
import math
import sys

# Adjudicated super-linear queries (the plan_lint ALLOW contract): each
# entry names a query whose WORK is genuinely pair-growth-bound — the
# semantics enumerate pairs whose count grows faster than the input under
# the sf-replica's densification (the replica multiplies rows inside the
# SAME time span / band structure, so within-band pairs grow ~quadratically
# while real-world growth would mostly extend the axis). A flag on a
# labeled query reports as info and does not fail the gate; anything NOT
# listed here still exits 1.
LABELED_PAIR_GROWTH = {
    "interval_overlap_sessions": (
        "pairs of concurrent sessions ARE the output contract; the sf "
        "replica densifies a fixed 720-hour span so same-band pairs grow "
        "~quadratically (r6 verdict adjudicated at 1.26; banded prefilter "
        "is the correct plan — candidates bounded per band, top-k output)"
    ),
    "dedup_ngram_jaccard": "labeled all-pairs truth baseline (budget-guarded)",
    "dedup_blocking_quality": "carries the all-pairs truth subtree by design",
}


def _load(path: str) -> tuple[dict[str, float], dict[str, str]]:
    with open(path) as fh:
        doc = json.load(fh)
    return (
        {k: float(v) for k, v in doc.get("queries", {}).items()},
        dict(doc.get("refused", {})),
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("lo", help="probe.py JSON at the smaller scale")
    ap.add_argument("hi", help="probe.py JSON at the larger scale")
    ap.add_argument("--sf-lo", type=float, default=0.1)
    ap.add_argument("--sf-hi", type=float, default=1.0)
    ap.add_argument("--alpha", type=float, default=1.3,
                    help="flag queries whose fitted exponent exceeds this")
    ap.add_argument("--floor", type=float, default=1.0,
                    help="never flag queries under this many seconds at the high scale")
    args = ap.parse_args()

    lo_t, lo_ref = _load(args.lo)
    hi_t, hi_ref = _load(args.hi)
    scale = math.log(args.sf_hi / args.sf_lo)

    rows = []
    for q in sorted(set(lo_t) & set(hi_t)):
        if lo_t[q] <= 0 or hi_t[q] <= 0:
            continue
        alpha = math.log(hi_t[q] / lo_t[q]) / scale
        rows.append((alpha, q, lo_t[q], hi_t[q]))
    rows.sort(reverse=True)

    newly_refused = sorted(set(hi_ref) - set(lo_ref))
    over = [r for r in rows if r[0] > args.alpha and r[3] >= args.floor]
    flagged = [r for r in over if r[1] not in LABELED_PAIR_GROWTH]
    labeled = [r for r in over if r[1] in LABELED_PAIR_GROWTH]

    print(f"== scaling sf{args.sf_lo} -> sf{args.sf_hi}: "
          f"{len(rows)} queries timed at both scales ==")
    for alpha, q, tl, th in rows[:25]:
        mark = " <-- SUPER-LINEAR" if (alpha, q, tl, th) in flagged else ""
        print(f"{alpha:6.2f}  {q}: {tl:.2f}s -> {th:.2f}s{mark}")
    if len(rows) > 25:
        print(f"... {len(rows) - 25} more (exponents descend)")
    if newly_refused:
        print(f"budget-guard fired at sf{args.sf_hi} (correct refusal): "
              f"{' '.join(newly_refused)}")
    only_lo = sorted(set(lo_t) - set(hi_t) - set(hi_ref))
    if only_lo:
        print(f"MISSING at sf{args.sf_hi} (errored or skipped, check the probe "
              f"artifact): {' '.join(only_lo)}")
    med = sorted(r[0] for r in rows)[len(rows) // 2] if rows else float("nan")
    print(f"== median exponent {med:.2f}; {len(flagged)} flagged over "
          f"alpha={args.alpha} (floor {args.floor}s) ==")
    for alpha, q, tl, th in labeled:
        print(f"info  {q}: exponent {alpha:.2f} ({tl:.2f}s -> {th:.2f}s) — "
              f"labeled pair-growth, adjudicated: {LABELED_PAIR_GROWTH[q]}")
    for alpha, q, tl, th in flagged:
        print(f"FLAG {q}: exponent {alpha:.2f} ({tl:.2f}s -> {th:.2f}s)")
    return 1 if flagged else 0


if __name__ == "__main__":
    sys.exit(main())
