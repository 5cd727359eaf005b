"""The benchmark's two workloads.

An op is one registry query or one pipeline step. Every op runs inside an op
span whose children time the calls into one layer each:

- ``workload.build``: ``queries()[name](spark, sf_dir)``, including the
  eager ``localCheckpoint`` jobs some queries start while building;
- ``plans.plan`` (traced runs only): ``plans.inspect.physical_plan(df)``,
  which forces analysis, optimization and physical planning;
- ``execution.action``: the no-op write, file write or collect;
- ``<module>.build``: the pipeline modules' DataFrame builders.

Output checks run outside the op spans, so they are never timed.
"""

from __future__ import annotations

import glob
import os
import random
import re
import shutil

import numpy as np

import bronze_gen
import tables_gen

# every 7th bench.HEADLINE query from the 5th: 9 of 61. The offset leaves out
# the queries whose first run alone costs seconds, which a run cannot afford.
HEADLINE_START, HEADLINE_STRIDE = 4, 7
SF = 0.01
ETL_FLEET = {"n_sims": 4, "n_t": 6, "dims": (10, 10, 5)}

_PY_NODE = re.compile(r"^[\s:|+\-*]*(\w*(?:Python|InPandas|InArrow)\w*)", re.M)


def headline_ops() -> tuple[str, ...]:
    import bench

    return tuple(bench.HEADLINE[HEADLINE_START::HEADLINE_STRIDE])


def plan_counters(df) -> dict[str, int]:
    """Physical-plan shape of a DataFrame, read from the plan string."""
    from pumle_spark.plans.inspect import physical_plan

    plan = physical_plan(df)
    return {
        "plans.exchanges": plan.count("Exchange "),
        "plans.python_nodes": len(_PY_NODE.findall(plan)),
    }


def dir_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under path, ignoring Spark's hidden/marker files."""
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


class Op:
    """One op execution: its latency, failure flag and counters."""

    def __init__(self, name: str, pass_no: int, traced: bool) -> None:
        self.name = name
        self.pass_no = pass_no
        self.traced = traced
        self.latency = 0.0
        self.failed = False
        self.error = ""
        self.span_id = -1
        self.counters: dict[str, float] = {}


class QueryWorkload:
    """Registry queries on the generated tables, written to the no-op sink."""

    def __init__(self, names: tuple[str, ...], work_dir: str) -> None:
        from pumle_spark import workload

        self.names = names
        self.sf_dir = tables_gen.ensure_tables(work_dir, SF)
        self.queries = workload.queries()
        self.oracles = workload.oracle_sql()
        self.last_df: dict = {}
        unknown = [n for n in names if n not in self.queries]
        if unknown:
            raise KeyError(f"queries not registered: {unknown}")

    def describe(self) -> str:
        return f"{len(self.names)} registry queries at sf{SF:g}"

    def warm(self, spark) -> None:
        from pumle_spark.tables import TABLE_NAMES, table

        for t in TABLE_NAMES:
            table(spark, self.sf_dir, t).write.format("noop").mode("overwrite").save()

    def pass_order(self, rng: random.Random) -> list[str]:
        order = list(self.names)
        rng.shuffle(order)
        return order

    def run_op(self, spark, op: Op, spans, tag) -> None:
        """Run one op inside the caller's op span. Registry queries are
        checked once per run by ``check_all``, so no per-op check returns."""
        with spans.span("workload.build"):
            tag("build")
            df = self.queries[op.name](spark, self.sf_dir)
        if op.traced:
            with spans.span("plans.plan"):
                tag("plan")
                op.counters.update(plan_counters(df))
        with spans.span("execution.action"):
            tag("action")
            df.write.format("noop").mode("overwrite").save()
        self.last_df[op.name] = df

    def check_all(self, spark) -> dict[str, list[str]]:
        """name -> problems, comparing each query's result with its DuckDB
        oracle the way tools/oracle_check.py does."""
        import duckdb

        from tools.oracle_check import TABLES, _kinds, canon_rows, lint_oracle_types, value_hash

        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        out: dict[str, list[str]] = {}
        for name in sorted(set(self.names)):
            problems: list[str] = []
            try:
                df = self.last_df.get(name)
                if df is None:
                    df = self.queries[name](spark, self.sf_dir)
                spdf = df.toPandas()
            except Exception as exc:  # the check itself must report, not abort the run
                out[name] = [f"spark error: {exc}"]
                continue
            sql = self.oracles.get(name)
            if sql is None:
                out[name] = [] if len(spdf) else ["no oracle and no rows"]
                continue
            bad_types = lint_oracle_types(con, sql)
            dpdf = con.execute(sql).df()
            if bad_types:
                problems.append(f"oracle emits banned types {bad_types}")
            sc, sr = canon_rows(list(spdf.columns), list(spdf.itertuples(index=False, name=None)))
            dc, dr = canon_rows(list(dpdf.columns), list(dpdf.itertuples(index=False, name=None)))
            if len(sr) != len(dr):
                problems.append(f"rowcount spark={len(sr)} duckdb={len(dr)}")
            if sc != dc:
                problems.append(f"columns spark={sc} duckdb={dc}")
            if not problems:
                sk, dk = _kinds(spdf), _kinds(dpdf)
                for c in sc:
                    if sk[c] != dk[c] and {sk[c], dk[c]} <= {"i", "u", "f"}:
                        problems.append(f"dtype kind col={c} spark={sk[c]} duckdb={dk[c]}")
            if not problems and value_hash(sr) != value_hash(dr):
                problems.append("value-hash mismatch")
            out[name] = problems
        con.close()
        return out

    def pass_stats(self) -> dict[str, float]:
        return {}

    def cleanup_pass(self) -> None:
        pass


# sweep over three fluid parameters: 4 x 4 x 2 = 32 configurations
_SWEEP_BASE = {"pres_ref": 10.0, "temp_ref": 40.0, "xnacl": 0.1, "rho_h2o": 1000.0, "srw": 0.1}
_SWEEP_VARIED = (("pres_ref", 0.25), ("temp_ref", 0.25), ("xnacl", 0.5))


class EtlWorkload:
    """The PUMLE dataflow on a seeded bronze fleet: ingest, plume analytics,
    exports, parameter sweep and catalog bookkeeping."""

    READS = (
        "plume.size_over_time",
        "plume.centroid",
        "plume.saturation_deltas",
        "exports.tabular_csv",
        "exports.tensors",
    )
    CHAIN_CATALOG = (
        "sweep.generate_variations",
        "catalog.register",
        "catalog.update_status",
        "catalog.pending",
    )

    def __init__(self, run_dir: str, seed: int) -> None:
        from pumle_spark.sweep import VariedParam, n_points

        self.root = run_dir
        self.bronze = os.path.join(run_dir, "bronze")
        self.fleet = bronze_gen.make_fleet(self.bronze, seed, **ETL_FLEET)
        outs = ("golden", "csv", "tensors", "catalog", "monitor", "monitor_ckpt")
        self.out = {k: os.path.join(run_dir, k) for k in outs}
        self.varied = [VariedParam(n, _SWEEP_BASE[n], d) for n, d in _SWEEP_VARIED]
        self.n_configs = int(np.prod([n_points(d) for _n, d in _SWEEP_VARIED]))
        self.names = ("ingest", *self.READS, *self.CHAIN_CATALOG, "streaming.plume_monitor")
        self.configs = None
        self.catalog = None

    def describe(self) -> str:
        f = self.fleet
        return (
            f"{len(f.sims)} sims x {f.n_t} timesteps x {f.n_cells} cells "
            f"({f.golden_rows()} golden rows, {f.bronze_bytes / 2**20:.1f} MiB bronze JSON)"
        )

    def _glob(self, kind: str) -> str:
        sub = "states" if kind == "states" else ""
        return os.path.join(self.bronze, sub, f"{kind}_{bronze_gen.CASE}_*.json")

    def warm(self, spark) -> None:
        paths = [os.path.join(self.bronze, "*.json"), self._glob("states")]
        spark.read.text(paths, wholetext=True).write.format("noop").mode("overwrite").save()

    def pass_order(self, rng: random.Random) -> list[str]:
        """Ingest precedes the golden reads, whose order is shuffled; the
        sweep precedes the catalog ops; the three chains run in a shuffled
        order."""
        reads = list(self.READS)
        rng.shuffle(reads)
        chains = [["ingest", *reads], list(self.CHAIN_CATALOG), ["streaming.plume_monitor"]]
        rng.shuffle(chains)
        return [name for chain in chains for name in chain]

    # -- ops ------------------------------------------------------------------
    # Each op runs its timed calls and returns its output check, which the
    # caller runs after the op span has closed.

    def run_op(self, spark, op: Op, spans, tag):
        return getattr(self, "_op_" + op.name.replace(".", "_"))(spark, op, spans, tag)

    def _lazy(self, op: Op, spans, tag, module: str, build, action):
        with spans.span(f"{module}.build"):
            tag("build")
            df = build()
        if op.traced:
            with spans.span("plans.plan"):
                tag("plan")
                op.counters.update(plan_counters(df))
        with spans.span("execution.action"):
            tag("action")
            return df, action(df)

    @staticmethod
    def _action(spans, tag, call):
        with spans.span("execution.action"):
            tag("action")
            return call()

    @staticmethod
    def _noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def _golden(self, spark):
        from pumle_spark.ingest import read_golden

        return read_golden(spark, self.out["golden"])

    def _op_ingest(self, spark, op, spans, tag):
        from pumle_spark.ingest import ingest_golden, write_golden

        dims = os.path.join(self.bronze, f"g_{bronze_gen.CASE}.json")
        self._lazy(
            op, spans, tag, "ingest",
            lambda: ingest_golden(spark, self._glob("states"), self._glob("grdecl"), dims),
            lambda df: write_golden(df, self.out["golden"]),
        )

        def check():
            g = self._golden(spark)
            got = (g.count(), g.filter("pressure IS NOT NULL").count())
            want = (self.fleet.golden_rows(), self.fleet.non_null_rows())
            return None if got == want else f"golden rows/non-null {got}, expected {want}"

        return check

    def _op_plume_size_over_time(self, spark, op, spans, tag):
        from pumle_spark.plume import plume_size_over_time

        df, _ = self._lazy(op, spans, tag, "plume",
                           lambda: plume_size_over_time(self._golden(spark)), self._noop)

        def check():
            got = {(r["sim_hash"], r["t"]): r["n_plume_cells"] for r in df.collect()}
            return None if got == self.fleet.plume_counts() else "plume counts per (sim, t) differ"

        return check

    def _op_plume_centroid(self, spark, op, spans, tag):
        from pumle_spark.plume import plume_centroid

        df, _ = self._lazy(op, spans, tag, "plume",
                           lambda: plume_centroid(self._golden(spark)), self._noop)
        want = len(self.fleet.plume_counts())
        return lambda: self._expect_rows(df.count(), want, "centroid")

    def _op_plume_saturation_deltas(self, spark, op, spans, tag):
        from pumle_spark.plume import saturation_deltas

        df, _ = self._lazy(op, spans, tag, "plume",
                           lambda: saturation_deltas(self._golden(spark)), self._noop)
        return lambda: self._expect_rows(df.count(), self.fleet.golden_rows(), "delta")

    def _op_exports_tabular_csv(self, spark, op, spans, tag):
        from pumle_spark.exports import write_tabular_csv

        with spans.span("exports.build"):
            tag("build")
            g = self._golden(spark)
        self._action(spans, tag, lambda: write_tabular_csv(g, "sg", self.out["csv"]))

        def check():
            rows = 0
            for path in glob.glob(os.path.join(self.out["csv"], "*.csv")):
                with open(path) as fh:
                    rows += max(0, sum(1 for _ in fh) - 1)  # minus the header
            want = sum(int((s.sg[:, : s.n_active] != 0).sum()) for s in self.fleet.sims.values())
            return self._expect_rows(rows, want, "csv")

        return check

    def _op_exports_tensors(self, spark, op, spans, tag):
        from pumle_spark.exports import export_tensors

        f = self.fleet
        _, manifest = self._lazy(
            op, spans, tag, "exports",
            lambda: export_tensors(self._golden(spark), f.dims, "sg", self.out["tensors"]),
            lambda df: df.collect(),
        )

        def check():
            if sorted(r["sim_hash"] for r in manifest) != sorted(f.sims):
                return "tensor manifest does not list each sim once"
            for r in manifest:
                arr = np.load(r["path"])
                nans = int(np.isnan(arr).sum())
                if arr.shape != (*f.dims, f.n_t) or nans != f.tensor_nans(r["sim_hash"]):
                    return f"tensor {r['sim_hash']}: shape {arr.shape}, {nans} NaN"
            return None

        return check

    def _op_sweep_generate_variations(self, spark, op, spans, tag):
        from pumle_spark.sweep import generate_variations

        df, rows = self._lazy(op, spans, tag, "sweep",
                              lambda: generate_variations(spark, _SWEEP_BASE, self.varied),
                              lambda df: df.collect())
        self.configs = df

        def check():
            ids = sorted(r["sim_id"] for r in rows)
            if ids == list(range(1, self.n_configs + 1)) and len({r["sim_hash"] for r in rows}) == len(rows):
                return None
            return f"sweep gave {len(rows)} rows, expected {self.n_configs} distinct"

        return check

    def _catalog(self, spark):
        if self.configs is None:  # the catalog chain runs after the sweep
            raise RuntimeError("catalog op before sweep.generate_variations")
        if self.catalog is None:
            from pumle_spark.catalog import SimulationCatalog

            self.catalog = SimulationCatalog(spark, self.out["catalog"])
        return self.catalog

    def _op_catalog_register(self, spark, op, spans, tag):
        cat = self._catalog(spark)
        n = self._action(spans, tag, lambda: cat.register(self.configs))

        def check():
            again = cat.register(self.configs)
            if (n, again) == (self.n_configs, 0):
                return None
            return f"register gave {n} then {again}, expected {self.n_configs} then 0"

        return check

    def _op_catalog_update_status(self, spark, op, spans, tag):
        cat = self._catalog(spark)
        self._action(spans, tag, lambda: cat.update_status(None, "COMPLETED"))

        def check():
            statuses = {r["status"] for r in cat.load().select("status").collect()}
            return None if statuses == {"COMPLETED"} else f"statuses after update: {statuses}"

        return check

    def _op_catalog_pending(self, spark, op, spans, tag):
        cat = self._catalog(spark)
        n = self._action(spans, tag, lambda: cat.pending(self.configs).count())
        return lambda: None if n == 0 else f"{n} configs pending after COMPLETED"

    def _op_streaming_plume_monitor(self, spark, op, spans, tag):
        from pumle_spark.streaming.pipeline import start_plume_monitor

        with spans.span("streaming.build"):
            tag("build")
            query = start_plume_monitor(spark, os.path.dirname(self._glob("states")),
                                        self._glob("grdecl"), self.out["monitor"],
                                        self.out["monitor_ckpt"])
        try:
            self._action(spans, tag, query.processAllAvailable)
        finally:
            query.stop()

        def check():
            rows = spark.read.parquet(self.out["monitor"]).collect()
            got = {(r["sim_hash"], r["t"]): r["n_plume_cells"] for r in rows}
            if len(got) == len(rows) and got == self.fleet.plume_counts():
                return None
            return "monitored plume counts per (sim, t) differ from the bronze"

        return check

    @staticmethod
    def _expect_rows(got: int, want: int, what: str):
        return None if got == want else f"{got} {what} rows, expected {want}"

    # -- between passes ---------------------------------------------------------

    def check_all(self, spark) -> dict[str, list[str]]:
        return {}  # every op checks its own output right after it runs

    def pass_stats(self) -> dict[str, float]:
        """Files and bytes the pass left on disk, read before cleanup."""
        golden_files, golden_bytes = dir_stats(self.out["golden"])
        export_bytes = dir_stats(self.out["csv"])[1] + dir_stats(self.out["tensors"])[1]
        catalog_bytes = dir_stats(self.out["catalog"])[1]  # monitor output is not a store
        return {
            "ingest.golden_files": golden_files,
            "exports.bytes": export_bytes,
            "storage.stored_bytes_ratio": (golden_bytes + export_bytes + catalog_bytes)
            / self.fleet.bronze_bytes,
        }

    def cleanup_pass(self) -> None:
        for path in self.out.values():
            shutil.rmtree(path, ignore_errors=True)
        self.configs = None
        self.catalog = None
