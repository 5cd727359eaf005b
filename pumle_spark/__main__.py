"""CLI driver — the engine's replacement for the reference's interactive
menu (reference main.py:144-197: 1=run simulation, 2=persist data,
3=show database).

    python -m pumle_spark sweep    --ini setup.ini --vary pres_ref:0.2 srw:0.2 --catalog ./catalog
    python -m pumle_spark dispatch --catalog ./catalog --staging ./staging --cmd '...'
    python -m pumle_spark ingest   --bronze ./bronze --case GCS01 --golden ./golden
    python -m pumle_spark export   --golden ./golden --attr sg --out ./tabular --fmt csv
    python -m pumle_spark catalog  --catalog ./catalog [--status RUNNING]

Each subcommand is a thin wrapper over the library modules; everything
stays a lazy Spark plan until the final write. Unlike the reference menu,
commands are idempotent and per-sim statuses are accurate (no blanket
COMPLETED, pumle.py:260-262).
"""

from __future__ import annotations

import argparse
import sys


def _spark(args):
    from pumle_spark.session import get_spark

    s = get_spark(app_name=f"pumle_spark_{args.cmd}")
    s.sparkContext.setLogLevel("ERROR")
    return s


def cmd_sweep(args) -> int:
    """Menu 1a: generate the parameter sweep and register it (SURVEY §3.1)."""
    from pumle_spark.catalog import SimulationCatalog
    from pumle_spark.sources.ini import read_ini
    from pumle_spark.sweep import VariedParam, generate_variations, variation_summary

    spark = _spark(args)
    base = read_ini(args.ini).section("Fluid")
    varied = []
    for spec in args.vary:
        name, _, delta = spec.partition(":")
        if name not in base:
            print(f"error: unknown parameter {name!r}; Fluid params: {sorted(base)}")
            return 2
        varied.append(VariedParam(name, float(base[name]), float(delta or 0.2)))
    sweep = generate_variations(spark, base, varied)
    cat = SimulationCatalog(spark, args.catalog)
    n_new = cat.register(sweep)
    total = cat.load().count()
    n = variation_summary(varied)["total_combinations"]
    print(f"sweep: {n} combinations, {n_new} newly registered, catalog total {total}")
    return 0


def cmd_dispatch(args) -> int:
    """Menu 1b: run the external simulator for pending sims (X1/X2/X5)."""
    from pumle_spark.catalog import SimulationCatalog
    from pumle_spark.interop import dispatch, write_staging

    spark = _spark(args)
    cat = SimulationCatalog(spark, args.catalog)
    configs = cat.load().select("sim_hash", "sim_id", "fluid_params")
    write_staging(configs, args.staging)
    results = dispatch(configs, cat, args.staging, args.cmd, parallelism=args.parallelism)
    for r in results.collect():
        tag = "SKIP" if r.skipped else ("OK" if r.returncode == 0 else f"FAIL({r.returncode})")
        print(f"  {r.sim_hash}  {tag}")
    return 0


def cmd_ingest(args) -> int:
    """Menu 2a: bronze JSON → golden Parquet (SURVEY §3.2)."""
    from pumle_spark.ingest import ingest_golden, read_golden, write_golden

    spark = _spark(args)
    golden = ingest_golden(
        spark,
        states_glob=f"{args.bronze}/states_{args.case}_*.json",
        actnum_glob=f"{args.bronze}/grdecl_{args.case}_*.json",
        dims_path=f"{args.bronze}/g_{args.case}.json",
    )
    write_golden(golden, args.golden)
    n = read_golden(spark, args.golden).count()
    print(f"golden: {n} rows at {args.golden} (partitioned by sim_hash)")
    return 0


def cmd_export(args) -> int:
    """Menu 2b: golden → tabular CSV or dense npy tensors."""
    from pumle_spark.exports import export_tensors, write_tabular_csv
    from pumle_spark.ingest import read_golden

    spark = _spark(args)
    golden = read_golden(spark, args.golden)
    if args.fmt == "csv":
        write_tabular_csv(golden, args.attr, args.out)
        print(f"tabular csv: {args.out}")
    else:
        if not args.dims:
            print("error: --dims I J K required for tensor export")
            return 2
        manifest = export_tensors(golden, tuple(args.dims), args.attr, args.out, fmt=args.fmt)
        for m in manifest.collect():
            print(f"  {m.path} (T={m.n_t})")
    return 0


def cmd_catalog(args) -> int:
    """Menu 3: show the simulation catalog (fixed: the reference's
    show_database crashes on a nonexistent db.connect, main.py:131)."""
    from pumle_spark.catalog import SimulationCatalog

    spark = _spark(args)
    cat = SimulationCatalog(spark, args.catalog).load()
    if args.status:
        cat = cat.filter(cat.status == args.status)
    rows = cat.orderBy("sim_id").collect()
    print(f"{'sim_hash':10} {'sim_id':6} {'status':10} created_at")
    for r in rows:
        print(f"{r.sim_hash:10} {r.sim_id!s:6} {r.status:10} {r.created_at}")
    print(f"({len(rows)} simulations)")
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="pumle_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("sweep", help="generate + register a parameter sweep")
    p.add_argument("--ini", required=True)
    p.add_argument("--vary", nargs="+", required=True, metavar="PARAM[:DELTA]")
    p.add_argument("--catalog", required=True)
    p.set_defaults(fn=cmd_sweep)

    p = sub.add_parser("dispatch", help="run external simulator for pending sims")
    p.add_argument("--catalog", required=True)
    p.add_argument("--staging", required=True)
    p.add_argument("--cmd", required=True, help="template with {staging_dir} {sim_hash}")
    p.add_argument("--parallelism", type=int, default=4)
    p.set_defaults(fn=cmd_dispatch)

    p = sub.add_parser("ingest", help="bronze JSON → golden Parquet")
    p.add_argument("--bronze", required=True)
    p.add_argument("--case", default="GCS01")
    p.add_argument("--golden", required=True)
    p.set_defaults(fn=cmd_ingest)

    p = sub.add_parser("export", help="golden → csv/npy/zarr")
    p.add_argument("--golden", required=True)
    p.add_argument("--attr", default="sg", choices=["pressure", "sw", "sg"])
    p.add_argument("--out", required=True)
    p.add_argument("--fmt", default="csv", choices=["csv", "npy", "zarr"])
    p.add_argument("--dims", nargs=3, type=int, metavar=("I", "J", "K"))
    p.set_defaults(fn=cmd_export)

    p = sub.add_parser("catalog", help="show the simulation catalog")
    p.add_argument("--catalog", required=True)
    p.add_argument("--status", choices=["CREATED", "RUNNING", "COMPLETED", "FAILED"])
    p.set_defaults(fn=cmd_catalog)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
