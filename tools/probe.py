"""Registry probe: per registered query, in one session, a canonical plan
fingerprint, plan-shape counts and the min-of-N wall time of a no-op write
(each rep includes the build, as in bench.py; --reps 0 plans only).

A budget-guard refusal (RuntimeError naming "refused") is an outcome, not an
error: at sf1-equivalent scale, failing fast with the documented message IS
the measured behaviour. Any other exception is recorded and the sweep goes on.
--out writes the JSON record bench_compare.py and scaling_report.py read.

Usage:
    python tools/probe.py [names...] [--sf DIR] [--reps N] [--out PATH]
                          [--plans DIR] [--stages]
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pumle_spark import workload  # noqa: E402
from pumle_spark.plans.inspect import formatted_plan  # noqa: E402
from pumle_spark.session import get_spark  # noqa: E402
from pumle_spark.tables import DEFAULT_SF_DIR, TABLE_NAMES, table  # noqa: E402

# Session- and directory-scoped tokens. With them stripped the text changes
# only when the plan shape does, so the hash is stable across sessions.
_STRIP = [
    (re.compile(r"#\d+L?"), "#_"),  # expression ids
    (re.compile(r"plan_id=\d+"), "plan_id=_"),
    (re.compile(r"\[id=#?\d+\]"), "[id=_]"),
    (re.compile(r"Statistics\([^)]*\)"), "Statistics(_)"),
    (re.compile(r"Location: .*"), "Location: _"),
    (re.compile(r"file:[^\s,\]]+"), "file:_"),
    (re.compile(r"isFinalPlan=(true|false)"), "isFinalPlan=_"),
    (re.compile(r"cachedrdd-\d+"), "cachedrdd-_"),
    (re.compile(r"RDD\[\d+\]"), "RDD[_]"),  # session-scoped rdd ids
    (re.compile(r"_common_expr_\d+"), "_common_expr__"),  # CSE counter
    (re.compile(r"ExistingRDD\[[^\]]*\]"), "ExistingRDD[_]"),  # checkpoint col ids
    (re.compile(r"Result \[\d+\]"), "Result [_]"),
    # operator ordinals only: the "(N) Op" detail headers and the tree's
    # trailing " (N)". Integer literals such as count(1) must keep their value.
    (re.compile(r"(?m)^\(\d+\) "), "(_) "),
    (re.compile(r"(?m) \(\d+\)$"), " (_)"),
]

# Shape counts match operator names in the "(N) Op" detail headers, so each
# node counts once (the tree above them repeats every name).
_OP = re.compile(r"(?m)^\(\d+\) ([^\[\n]*)")
_SHAPE = {
    "exchange": "Exchange",
    "broadcast_exchange": "BroadcastExchange",
    "bhj": "BroadcastHashJoin",
    "smj": "SortMergeJoin",
    "shj": "ShuffledHashJoin",
    "bnlj": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "window": "Window",
    "sort": "Sort",
    "hashagg": "HashAggregate",
    "objhashagg": "ObjectHashAggregate",
    "sortagg": "SortAggregate",
    "python": ".*(Python|Pandas|MapInArrow).*",
    "generate": "Generate",
    "scans": "Scan parquet.*",
}


# Spark's distinct-aggregate rewrite numbers its groups in hash-map order, so
# the Expand's projections, its gid literals, the column order of every
# operator above it and the gid filters of the aggregates can all come out
# permuted between sessions. The gid literals tie each projection to its
# aggregate, so sorting the projections alone would not be sound: such a
# plan's fingerprint is marked unstable instead.
_DISTINCT_EXPAND = re.compile(r"(?m)^\(\d+\) Expand\n(?:.+\n)*?Arguments: .*\bgid#\d+")


def canonicalize(plan: str) -> str:
    for pat, rep in _STRIP:
        plan = pat.sub(rep, plan)
    return plan


def plan_shape(plan: str) -> dict:
    """Fingerprint (sha256 prefix of the canonical text), whether it can
    change between sessions with no plan change, and operator counts of one
    formatted plan."""
    ops = [op.strip() for op in _OP.findall(plan)]
    shape = {k: sum(bool(re.fullmatch(p, op)) for op in ops) for k, p in _SHAPE.items()}
    shape["codegen_spans"] = len(set(re.findall(r"\[codegen id : (\d+)\]", plan)))
    return {"fingerprint": hashlib.sha256(canonicalize(plan).encode()).hexdigest()[:16],
            "unstable": bool(_DISTINCT_EXPAND.search(plan)), **shape}


def print_stages(spark) -> None:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages?status=COMPLETE"
    with urllib.request.urlopen(url) as r:
        stages = json.loads(r.read())
    stages.sort(key=lambda s: -s["executorRunTime"])
    for s in stages[:40]:
        print(f"stage {s['stageId']:4d} run={s['executorRunTime'] / 1000.0:7.2f}s "
              f"shR={s['shuffleReadBytes'] / 1e6:8.2f}MB "
              f"shW={s['shuffleWriteBytes'] / 1e6:8.2f}MB  "
              f"{(s.get('description') or s['name'])[:90]}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="default: every registered query")
    ap.add_argument("--sf", default=DEFAULT_SF_DIR, metavar="DIR", help="table directory")
    ap.add_argument("--reps", type=int, default=1, metavar="N",
                    help="timed no-op writes; 0 = plans only")
    ap.add_argument("--out", metavar="PATH", help="write the JSON record to this path")
    ap.add_argument("--plans", metavar="DIR", help="write each formatted plan to DIR/<name>.txt")
    ap.add_argument("--stages", action="store_true", help="print the 40 longest stages")
    args = ap.parse_args(argv)

    qs = workload.queries()
    if unknown := [n for n in args.names if n not in qs]:
        ap.error(f"unknown queries: {' '.join(unknown)}")
    names = args.names or list(qs)

    spark = get_spark(app_name="probe")
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    for t in TABLE_NAMES:
        table(spark, args.sf, t).write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    refused: dict[str, str] = {}
    errors: dict[str, str] = {}
    plans: dict[str, dict] = {}
    for name in names:
        fn = qs[name]
        try:
            sc.setJobDescription(f"probe:{name}:plan")
            plan = formatted_plan(fn(spark, args.sf))
            plans[name] = plan_shape(plan)
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                    fh.write(plan)
            for i in range(args.reps):
                sc.setJobDescription(f"probe:{name}:rep{i}")
                t0 = time.perf_counter()
                fn(spark, args.sf).write.format("noop").mode("overwrite").save()
                dt = round(time.perf_counter() - t0, 2)
                timings[name] = min(dt, timings.get(name, dt))
        except Exception as e:  # noqa: BLE001 — the probe must finish the sweep
            if isinstance(e, RuntimeError) and "refused" in str(e):
                refused[name] = str(e).split(".")[0]
            else:
                errors[name] = repr(e)[:200]
        outcome = refused.get(name) or errors.get(name) or timings.get(name, "")
        print(f"{name}: {plans.get(name, {}).get('fingerprint', '-')} {outcome}", flush=True)

    if args.stages:
        print_stages(spark)
    if args.out:
        doc = {"sf_dir": args.sf, "reps": args.reps,
               "total_sec": round(sum(timings.values()), 2), "n_timed": len(timings),
               "refused": refused, "errors": errors,
               "queries": dict(sorted(timings.items(), key=lambda kv: -kv[1])),
               "plans": plans}
        with open(args.out, "w") as fh:
            json.dump(doc, fh, indent=1)
    print(f"== {len(plans)} planned, {len(timings)} timed, {len(refused)} refused, "
          f"{len(errors)} errors" + (f" -> {args.out}" if args.out else ""))
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())
