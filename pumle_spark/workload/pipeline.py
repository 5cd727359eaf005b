"""PUMLE pipeline semantics (SURVEY.md §2.6, §2.7, §2.10) expressed on the
driver test tables so the DuckDB oracle can validate them.

The same operators run on real simulation data through pumle_spark.sources /
pumle_spark.operators; here each one is restated over the star schema:

- F1  canonical md5 param hash          → param_hash_customers
- G1-G3 linspace sweep + cartesian grid → sweep_linspace_grid
- J1  sparse→dense scatter join         → scatter_dense_grid
- F12 F-order cell_id ↔ (i,j,k)         → forder_index_roundtrip
- J4  equi+range well-layer join        → wells_range_join
- §2.10 constraint validation           → validate_customer_constraints
- A3  min-positive clamp                → minpos_quantity_floor
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import broadcast

from pumle_spark.functions import money
from pumle_spark.sources.local import local_frame
from pumle_spark.tables import table
from pumle_spark.validation import in_range, isin, regex_check, with_violations
from pumle_spark.workload import register

# --------------------------------------------------------------------------
# Flagship: the full bronze→golden→plume pipeline (SURVEY §3.2 + §7.2)
# --------------------------------------------------------------------------


# The flagship's oracle reads the SAME bronze JSON files DuckDB-side
# (read_text + json_transform), so the whole ingest contract — positional
# zip, active-count bounds guard, strict plume threshold — is hash-checked
# cross-engine, not just rows-counted. Fixtures are materialized at
# registration time so the static path in the SQL always exists when the
# driver runs the oracle. (The dense NULL scatter and F-order coordinates
# drop out of the plume count by construction — their bit-exactness stays
# pinned by the NumPy-parity tests in tests/test_ingest.py/test_exports.py.)
from pumle_spark.fixtures import DEFAULT_FIXTURE_ROOT as _FIXROOT
from pumle_spark.fixtures import ensure_demo_bronze as _ensure_bronze

_ensure_bronze()

_GOLDEN_SQL = f"""
    WITH sf AS (
      SELECT regexp_extract(filename, 'states_GCS01_([0-9a-f]+)\\.json', 1) AS sim_hash,
             json_transform(content,
               '[{{"pressure": ["DOUBLE"], "s": [["DOUBLE"]]}}]') AS sts
      FROM read_text('{_FIXROOT}/states_GCS01_*.json')
    ),
    af AS (
      SELECT regexp_extract(filename, 'grdecl_GCS01_([0-9a-f]+)\\.json', 1) AS sim_hash,
             len(list_filter(json_transform(content, '["DOUBLE"]'), x -> x <> 0))
               AS n_active
      FROM read_text('{_FIXROOT}/grdecl_GCS01_*.json')
    ),
    st AS (
      SELECT sf.sim_hash, g.t, sf.sts[g.t + 1].s AS s
      FROM sf CROSS JOIN generate_series(0, 15) g(t)
      WHERE g.t < len(sf.sts)
    )
    SELECT st.sim_hash, CAST(st.t AS INTEGER) AS t, COUNT(*) AS n_plume_cells
    FROM st
    JOIN af ON af.sim_hash = st.sim_hash
    CROSS JOIN generate_series(0, 63) p(p)
    WHERE p.p < least(len(st.s), af.n_active)
      AND st.s[p.p + 1][2] > 0.05
    GROUP BY 1, 2
"""


@register(
    "pumle_golden_pipeline",
    sql=_GOLDEN_SQL,
    tags=("pipeline", "flagship", "M1"),
)
def pumle_golden_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end PUMLE pipeline on deterministic bronze fixtures: JSON
    states/ACTNUM/dims scans → per-sim cell layout broadcast to the state
    rows → dense scatter with the bounds rule → F-order coordinates → plume
    size per (sim, t)
    (SURVEY §7.2's minimum slice, run as one lazy plan over 4 simulations).

    Fixtures are seeded and cached under /tmp so repeated driver runs see
    identical inputs; the result is a deterministic function of the seed
    (generation lives in pumle_spark.fixtures — no test-tree imports, no
    sys.path mutation).
    """
    from pumle_spark.fixtures import ensure_demo_bronze
    from pumle_spark.ingest import ingest_golden
    from pumle_spark.plume import plume_size_over_time

    fixture_root = ensure_demo_bronze()

    golden = ingest_golden(
        spark,
        states_glob=str(fixture_root / "states_GCS01_*.json"),
        actnum_glob=str(fixture_root / "grdecl_GCS01_*.json"),
        dims_path=str(fixture_root / "g_GCS01.json"),
    )
    return plume_size_over_time(golden, threshold=0.05).orderBy("sim_hash", "t")


@register(
    "stream_plume_monitor_final",
    sql=_GOLDEN_SQL,
    tags=("streaming", "plume", "pipeline", "flagship"),
)
def stream_plume_monitor_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING twin of pumle_golden_pipeline, driver-checked: a real
    StreamingQuery (streaming/pipeline.start_plume_monitor) watches the
    bronze landing directory, and as each simulation's states JSON arrives
    computes the plume cell count per (sim, t) with the SHARED batch
    plume.plume_size_over_time — the reference's headline metric (notebook
    cell 5.5, SURVEY §7.2) as continuous monitoring instead of a nightly
    batch.

    The oracle is the SAME DuckDB SQL as the batch flagship: streaming over
    a closed input must equal the batch computation exactly (the shared
    ingest scatter and its bounds rule, strict threshold included), so this
    row hash-checks the batch/streaming equivalence contract itself, not
    just the stream plumbing. Checkpoint and sink are fresh per call; the
    file-source offsets make each run process the full fixture set."""
    from pumle_spark.streaming.pipeline import closed_stream, start_plume_monitor

    fixture_root = _ensure_bronze()
    with closed_stream(spark, "plume_monitor_") as run:
        out_dir = f"{run.dir}/out"
        q = start_plume_monitor(
            spark,
            str(fixture_root),
            actnum_glob=str(fixture_root / "grdecl_GCS01_*.json"),
            out_dir=out_dir,
            checkpoint_dir=run.checkpoint,
            threshold=0.05,
        )
        return run.complete(
            q,
            lambda: spark.read.parquet(out_dir).select(
                "sim_hash",
                F.col("t").cast("int").alias("t"),
                F.col("n_plume_cells").cast("bigint").alias("n_plume_cells"),
            ),
        )


# --------------------------------------------------------------------------
# F1 — canonical hash (utils.py:52-81 parity shape)
# --------------------------------------------------------------------------


@register(
    "param_hash_customers",
    sql="""
    SELECT c_custkey,
           SUBSTR(md5('{"acctbal": ' || CAST(ROUND(c_acctbal, 2) AS VARCHAR)
                      || ', "nationkey": ' || CAST(c_nationkey AS VARCHAR)
                      || ', "segment": "' || c_mktsegment || '"}'), 1, 8) AS param_hash
    FROM customer
    """,
    tags=("F1", "hash"),
)
def param_hash_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content hash of a canonical sorted-key JSON rendering.

    Engine analogue of sim_hash = md5(json.dumps(params, sort_keys=True))[:8]
    (reference utils.py:52-81): keys alphabetical, stable float formatting,
    md5 truncated to 8 hex chars. All JVM-side string/expr work — the hash is
    a pure column expression, usable as a partition key at any scale.
    """
    c = table(spark, sf_dir, "customer")
    canonical = F.concat(
        F.lit('{"acctbal": '),
        F.round("c_acctbal", 2).cast("string"),
        F.lit(', "nationkey": '),
        F.col("c_nationkey").cast("string"),
        F.lit(', "segment": "'),
        F.col("c_mktsegment"),
        F.lit('"}'),
    )
    return c.select(
        "c_custkey",
        F.substring(F.md5(canonical), 1, 8).alias("param_hash"),
    )


# --------------------------------------------------------------------------
# G1-G3 — linspace sweep + cartesian product + sim_id assignment
# --------------------------------------------------------------------------

_SWEEP_POINTS = 5  # clamp(int(1/0.2), 2, 100) — parameters_variation.py:77-84
_P1_LO, _P1_HI = 28.0, 42.0  # pres_ref ± 20% of base 35 (setup.ini:15)
_P2_LO, _P2_HI = 0.088, 0.132  # srw ± 20% of base 0.11 (setup.ini:18)


@register(
    "sweep_linspace_grid",
    sql=f"""
    WITH g1 AS (SELECT i AS i1,
                       {_P1_LO} + i * ({_P1_HI} - {_P1_LO}) / {_SWEEP_POINTS - 1} AS pres_ref
                FROM generate_series(0, {_SWEEP_POINTS - 1}) t(i)),
         g2 AS (SELECT i AS i2,
                       {_P2_LO} + i * ({_P2_HI} - {_P2_LO}) / {_SWEEP_POINTS - 1} AS srw
                FROM generate_series(0, {_SWEEP_POINTS - 1}) t(i))
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY i1, i2) AS INTEGER) AS sim_id,
           ROUND(pres_ref, 9) AS pres_ref,
           ROUND(srw, 9)      AS srw
    FROM g1 CROSS JOIN g2
    """,
    tags=("G1", "G2", "G3", "sweep"),
)
def sweep_linspace_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parameter sweep as a lazy plan: linspace per parameter (G1), cartesian
    crossJoin (G2), deterministic sim_id by row_number (G3).

    Replaces np.meshgrid(np.linspace(...)) + enumerate
    (parameters_variation.py:125-200). The grid never materializes on the
    driver — pointsⁿ combos stream out of a crossJoin of n tiny DataFrames.
    """
    from pyspark.sql import Window

    def linspace(idx_name: str, val_name: str, lo: float, hi: float, n: int) -> DataFrame:
        return spark.range(n).select(
            F.col("id").alias(idx_name),
            (F.lit(lo) + F.col("id") * (F.lit(hi) - F.lit(lo)) / F.lit(n - 1)).alias(val_name),
        )

    g1 = linspace("i1", "pres_ref", _P1_LO, _P1_HI, _SWEEP_POINTS)
    g2 = linspace("i2", "srw", _P2_LO, _P2_HI, _SWEEP_POINTS)
    w = Window.orderBy("i1", "i2")
    return (
        g1.crossJoin(g2)
        .select(
            F.row_number().over(w).cast("int").alias("sim_id"),
            F.round("pres_ref", 9).alias("pres_ref"),
            F.round("srw", 9).alias("srw"),
        )
    )


# --------------------------------------------------------------------------
# J1 — sparse→dense scatter as left outer join over the dense key domain
# --------------------------------------------------------------------------


@register(
    "scatter_dense_grid",
    sql=f"""
    WITH dense AS (SELECT n.n_nationkey, s.o_orderstatus
                   FROM nation n
                   CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s),
         obs AS (SELECT c.c_nationkey AS n_nationkey, o.o_orderstatus,
                        COUNT(*) AS n_orders,
                        {money.sql_money2("o.o_totalprice", money.DP4)}
                          AS sum_price
                 FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
                 GROUP BY 1, 2)
    SELECT d.n_nationkey, d.o_orderstatus,
           obs.n_orders, obs.sum_price
    FROM dense d
    LEFT JOIN obs ON obs.n_nationkey = d.n_nationkey
                 AND obs.o_orderstatus = d.o_orderstatus
    """,
    tags=("J1", "scatter", "join"),
)
def scatter_dense_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse→dense scatter (arrays.py:94-135): the dense domain (all cells ×
    all timesteps there; all nations × all statuses here) left-joins the
    sparse observations; unmatched slots surface as NULL — exactly the NaN
    placeholder of the golden tensor. NULLs are intentional output."""
    n = table(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders")
    c = table(spark, sf_dir, "customer")
    statuses = o.select("o_orderstatus").distinct()
    dense = n.select("n_nationkey").crossJoin(statuses)
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("n_nationkey"), "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            money.sum_money2(F.col("o_totalprice"), money.DP4).alias("sum_price"),
        )
    )
    return dense.join(obs, ["n_nationkey", "o_orderstatus"], "left")


# --------------------------------------------------------------------------
# F12 — F-order linear index ↔ (i,j,k) round trip
# --------------------------------------------------------------------------

_GI, _GJ, _GK = 81, 58, 20  # UNISIM-I-D grid dims (setup.ini:8, BASELINE.md)


@register(
    "forder_index_roundtrip",
    sql=f"""
    SELECT cell_id,
           CAST(cell_id % {_GI} AS INTEGER)                  AS i,
           CAST((cell_id // {_GI}) % {_GJ} AS INTEGER)       AS j,
           CAST(cell_id // {_GI * _GJ} AS INTEGER)           AS k,
           CAST((cell_id % {_GI})
                + {_GI} * ((cell_id // {_GI}) % {_GJ})
                + {_GI * _GJ} * (cell_id // {_GI * _GJ}) AS BIGINT) AS cell_id_roundtrip
    FROM (SELECT CAST(g AS BIGINT) AS cell_id
          FROM generate_series(0, {_GI * _GJ * _GK - 1}, 997) t(g))
    """,
    tags=("F12", "grid"),
)
def forder_index_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fortran-order linear index math (arrays.py:138-140 order='F';
    co2lab3DPUMLE.m:415 sub2ind): cell_id = i + I*(j + J*k), and back.

    Pure integer column arithmetic — at 100 TB this is how every (i,j,k)
    coordinate is derived from the partition-friendly cell_id key without a
    join. Sampled every 997 cells to keep the oracle small.
    """
    cells = spark.range(0, _GI * _GJ * _GK, 997).select(F.col("id").alias("cell_id"))
    i = (F.col("cell_id") % _GI).cast("int")
    j = ((F.col("cell_id") / _GI).cast("bigint") % _GJ).cast("int")
    k = (F.col("cell_id") / (_GI * _GJ)).cast("bigint").cast("int")
    return cells.select(
        "cell_id",
        i.alias("i"),
        j.alias("j"),
        k.alias("k"),
        (i.cast("bigint") + _GI * (j.cast("bigint") + _GJ * k.cast("bigint"))).alias(
            "cell_id_roundtrip"
        ),
    )


# --------------------------------------------------------------------------
# J4 — equi + range join (well (i,j) × layer interval k)
# --------------------------------------------------------------------------

# Wells from setup.ini:32 / co2lab3DPUMLE.m:406-423: (name, i, j, k_min, k_max)
_WELLS = [
    ("NA1A", 38, 36, 6, 11),
    ("NA2", 21, 36, 6, 11),
    ("NA3D", 44, 43, 6, 11),
    ("RJS19", 31, 27, 6, 11),
]


@register(
    "wells_range_join",
    sql=f"""
    WITH wells(well_name, wi, wj, k_min, k_max) AS (
      VALUES {", ".join(f"('{n}', {i}, {j}, {kl}, {kh})" for n, i, j, kl, kh in _WELLS)}
    ),
    cells AS (
      SELECT CAST(g AS BIGINT) AS cell_id,
             CAST(g % {_GI} AS INTEGER)            AS i,
             CAST((g // {_GI}) % {_GJ} AS INTEGER) AS j,
             CAST(g // {_GI * _GJ} AS INTEGER)     AS k
      FROM generate_series(0, {_GI * _GJ * _GK - 1}) t(g)
    )
    SELECT w.well_name, COUNT(*) AS n_cells,
           CAST(MIN(c.cell_id) AS BIGINT) AS min_cell_id,
           CAST(MAX(c.cell_id) AS BIGINT) AS max_cell_id
    FROM wells w
    JOIN cells c ON c.i = w.wi AND c.j = w.wj AND c.k BETWEEN w.k_min AND w.k_max
    GROUP BY w.well_name
    """,
    tags=("J4", "range-join"),
)
def wells_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi+range join (J4, co2lab3DPUMLE.m:406-423): wells match grid cells
    on (i, j) equality plus a k-layer interval.

    The well table is tiny → broadcast; the equi part keys the hash lookup
    and the range predicate filters inside the match, so the grid side is
    streamed once with no shuffle.
    """
    wells = local_frame(spark, _WELLS, "well_name string, wi int, wj int, k_min int, k_max int")
    cells = spark.range(_GI * _GJ * _GK).select(
        F.col("id").alias("cell_id"),
        (F.col("id") % _GI).cast("int").alias("i"),
        ((F.col("id") / _GI).cast("bigint") % _GJ).cast("int").alias("j"),
        (F.col("id") / (_GI * _GJ)).cast("bigint").cast("int").alias("k"),
    )
    return (
        cells.join(
            broadcast(wells),
            (cells.i == wells.wi)
            & (cells.j == wells.wj)
            & cells.k.between(wells.k_min, wells.k_max),
        )
        .groupBy("well_name")
        .agg(
            F.count(F.lit(1)).alias("n_cells"),
            F.min("cell_id").alias("min_cell_id"),
            F.max("cell_id").alias("max_cell_id"),
        )
    )


# --------------------------------------------------------------------------
# G5/G6 — ramp-up timestep generator + schedule control assignment
# --------------------------------------------------------------------------

_SCHED_TIME, _SCHED_DT, _SCHED_N = 100.0, 4.0, 8
_SCHED_RAMP_SUM = _SCHED_DT * (1 - 2.0 ** (-_SCHED_N))
_SCHED_M = int((_SCHED_TIME - _SCHED_RAMP_SUM) // _SCHED_DT)
_SCHED_REM = (_SCHED_TIME - _SCHED_RAMP_SUM) - _SCHED_M * _SCHED_DT
_SCHED_N_INJ = _SCHED_N + _SCHED_M + 1
_MIG_TIME, _MIG_STEPS = 20.0, 10


@register(
    "schedule_rampup",
    sql=f"""
    SELECT CAST(i AS INTEGER) AS step_idx,
           CASE WHEN i < {_SCHED_N} THEN {_SCHED_DT} / power(2.0, {_SCHED_N} - i)
                WHEN i < {_SCHED_N + _SCHED_M} THEN {_SCHED_DT}
                ELSE {_SCHED_REM!r} END AS dt_step,
           1 AS control
    FROM generate_series(0, {_SCHED_N_INJ - 1}) t(i)
    UNION ALL
    SELECT CAST({_SCHED_N_INJ} + i AS INTEGER),
           {_MIG_TIME / _MIG_STEPS}, 2
    FROM generate_series(0, {_MIG_STEPS - 1}) t(i)
    """,
    tags=("G5", "G6", "schedule"),
)
def schedule_rampup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MRST-compatible ramp-up schedule (G5, co2lab3DPUMLE.m:452-465):
    geometric warm-up dt/2ⁿ…dt/2, constant steps, remainder step — then
    constant migration steps with control switching 1→2 at shut-in (G6,
    m:478-487). Closed-form arithmetic over spark.range; no driver loop."""
    from pumle_spark.functions.schedule import full_schedule

    return full_schedule(
        spark, _SCHED_TIME, _MIG_TIME, _SCHED_DT, _MIG_STEPS, _SCHED_N
    ).select("step_idx", "dt_step", F.col("control").cast("int").alias("control"))


# --------------------------------------------------------------------------
# §2.10 — constraint validation (pandera BASE_SCHEMA → column expressions)
# --------------------------------------------------------------------------


@register(
    "validate_customer_constraints",
    sql="""
    SELECT c_custkey,
           (CASE WHEN c_acctbal BETWEEN -1000 AND 10000 THEN 0 ELSE 1 END
            + CASE WHEN c_name LIKE 'Customer%' THEN 0 ELSE 1 END
            + CASE WHEN c_nationkey BETWEEN 0 AND 24 THEN 0 ELSE 1 END
            + CASE WHEN c_mktsegment IN ('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY')
                   THEN 0 ELSE 1 END) AS n_violations
    FROM customer
    """,
    tags=("validate", "2.10"),
)
def validate_customer_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint validation as column expressions (pandera BASE_SCHEMA,
    metadata.py:30-59 → in_range / regex / isin checks).

    Returns per-row violation counts: the size of validation.with_violations'
    failed-check array, the same array validate() splits valid from violating
    rows on. One scan, no UDFs, fully pushed to codegen.
    """
    checks = [
        in_range("c_acctbal", -1000, 10000),
        regex_check("c_name", "^Customer"),
        in_range("c_nationkey", 0, 24),
        isin("c_mktsegment", ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")),
    ]
    flagged = with_violations(table(spark, sf_dir, "customer"), checks)
    return flagged.select("c_custkey", F.size("violations").alias("n_violations"))


# --------------------------------------------------------------------------
# A3 — min-positive clamp (co2lab3DPUMLE.m:132-135 porosity floor)
# --------------------------------------------------------------------------


@register(
    "minpos_quantity_floor",
    sql="""
    WITH floors AS (
      SELECT l_returnflag, MIN(CASE WHEN l_discount > 0 THEN l_discount END) AS min_pos_disc
      FROM lineitem GROUP BY 1
    )
    SELECT l.l_returnflag,
           ROUND(f.min_pos_disc, 6) AS min_pos_disc,
           COUNT(*) AS n_items,
           COUNT(CASE WHEN l.l_discount <= 0 THEN 1 END) AS n_clamped
    FROM lineitem l JOIN floors f ON f.l_returnflag = l.l_returnflag
    GROUP BY l.l_returnflag, f.min_pos_disc
    """,
    tags=("A3", "agg"),
)
def minpos_quantity_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-over-positive-subset + conditional clamp count (A3: the porosity
    floor rock.poro(poro < min(poro(poro>0))) = 1e-3 at co2lab3DPUMLE.m:132).

    Conditional aggregation avoids a second scan: min(CASE WHEN x>0 THEN x)
    computes the positive floor in the same agg pass.
    """
    li = table(spark, sf_dir, "lineitem")
    # r11: min_pos_disc is functionally dependent on l_returnflag, so the
    # floors-then-join-back form (two full lineitem scans + a broadcast
    # join) collapses to ONE groupBy computing all three aggregates in a
    # single pass — identical result, half the scan work, no join.
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.min(F.when(F.col("l_discount") > 0, F.col("l_discount"))).alias("_floor"),
            F.count(F.lit(1)).alias("n_items"),
            F.count(F.when(F.col("l_discount") <= 0, 1)).alias("n_clamped"),
        )
        .select(
            "l_returnflag",
            F.round("_floor", 6).alias("min_pos_disc"),
            "n_items",
            "n_clamped",
        )
    )


# --------------------------------------------------------------------------
# §2.10 extension — cross-table referential-integrity audit
# --------------------------------------------------------------------------

# (relationship, child table, child FK, parent table, parent PK)
_FK_EDGES = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)

_SQL_FK_AUDIT = "\nUNION ALL\n".join(
    f"""SELECT '{rel}' AS relationship,
           (SELECT COUNT(*) FROM {child}) AS n_child_rows,
           (SELECT COUNT(*) FROM {child} c
             WHERE c.{fk} IS NOT NULL
               AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{fk}))
             AS n_orphans"""
    for rel, child, fk, parent, pk in _FK_EDGES
)


@register(
    "validate_fk_orphans",
    sql=_SQL_FK_AUDIT,
    tags=("validate", "2.10", "referential-integrity"),
)
def validate_fk_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit across every FK edge of the warehouse
    schema: per relationship, the child row count and the number of child
    rows whose (non-null) FK has no parent — the first data-quality gate a
    training pipeline runs after ingesting a new drop, extending the
    per-row constraint checks of validate_customer_constraints (§2.10,
    pandera BASE_SCHEMA, metadata.py:30-59) to cross-table invariants.

    Each edge is a LEFT ANTI join (Spark's dedicated null-skipping
    existence operator — the plan the §2.11 J5 anti-join family pins) plus
    one count; the seven audits are independent subtrees unioned into a
    single job, so Spark schedules them concurrently. At scale each
    anti-join shuffles only the FK column — never the child payload — and
    AQE broadcasts the small parents (nation, region, supplier)."""
    rows = []
    for rel, child, fk, parent, pk in _FK_EDGES:
        c = table(spark, sf_dir, child)
        p = table(spark, sf_dir, parent)
        orphans = c.filter(F.col(fk).isNotNull()).join(
            p, c[fk] == p[pk], "left_anti"
        )
        rows.append(
            c.agg(F.count(F.lit(1)).alias("n_child_rows")).crossJoin(
                orphans.agg(F.count(F.lit(1)).alias("n_orphans"))
            ).select(
                F.lit(rel).alias("relationship"), "n_child_rows", "n_orphans"
            )
        )
    out = rows[0]
    for df in rows[1:]:
        out = out.unionAll(df)
    return out


# --------------------------------------------------------------------------
# K2/K3 export sinks + S5/S6 tensor scans, driver-gated (round-5 verdict
# item 8: the npy/zarr export path was pytest-only; these queries run the
# REAL export sink and the REAL tensor scan inside a hash-checked query).
# --------------------------------------------------------------------------

from pumle_spark.fixtures import DIMS as _FDIMS

_NCELLS = _FDIMS[0] * _FDIMS[1] * _FDIMS[2]

# Shared DuckDB CTE block: the bronze-fixture scatter (states JSON ×
# ACTNUM index map), reused by the export round-trip oracles. `obs` is
# one row per (sim, t, active cell) with sg and pressure — the exact rows
# exports.py scatters into the dense tensor (arrays.py:94-135 semantics).
_SCATTER_CTES = f"""
    sf AS (
      SELECT regexp_extract(filename, 'states_GCS01_([0-9a-f]+)\\.json', 1) AS sim_hash,
             json_transform(content,
               '[{{"pressure": ["DOUBLE"], "s": [["DOUBLE"]]}}]') AS sts
      FROM read_text('{_FIXROOT}/states_GCS01_*.json')
    ),
    araw AS (
      SELECT regexp_extract(filename, 'grdecl_GCS01_([0-9a-f]+)\\.json', 1) AS sim_hash,
             json_transform(content, '["DOUBLE"]') AS arr
      FROM read_text('{_FIXROOT}/grdecl_GCS01_*.json')
    ),
    act AS (
      SELECT sim_hash, gs - 1 AS cell_id,
             ROW_NUMBER() OVER (PARTITION BY sim_hash ORDER BY gs) - 1 AS row_idx
      FROM (SELECT sim_hash, unnest(arr) AS v, generate_subscripts(arr, 1) AS gs
            FROM araw)
      WHERE v <> 0
    ),
    sv AS (
      SELECT sf.sim_hash, g.t AS t, p.p AS row_idx,
             sf.sts[g.t + 1].s[p.p + 1][2]      AS sg,
             sf.sts[g.t + 1].pressure[p.p + 1]  AS pres
      FROM sf
      CROSS JOIN generate_series(0, 15) g(t)
      CROSS JOIN generate_series(0, 63) p(p)
      WHERE g.t < len(sf.sts) AND p.p < len(sf.sts[g.t + 1].s)
    ),
    obs AS (
      SELECT sv.sim_hash, sv.t, act.cell_id, sv.sg, sv.pres
      FROM sv JOIN act ON act.sim_hash = sv.sim_hash AND act.row_idx = sv.row_idx
    ),
    nt AS (SELECT sim_hash, CAST(len(sts) AS INTEGER) AS n_t FROM sf)
"""


def _tensor_roundtrip(spark: SparkSession, attr: str, fmt: str) -> DataFrame:
    """Run golden → export_tensors(fmt) → tensor scan → per-sim summary.

    The checksum weights each non-NaN tensor element by its F-order flat
    index + 1 (flat = cell_id + ncells·t for an (i,j,k,t) tensor —
    arrays.py:138-140 order='F'), so a value written to the wrong cell,
    timestep, or axis order changes the sum: layout parity, not just
    value parity, is hash-checked.
    """
    import shutil
    import tempfile

    from pumle_spark.exports import export_tensors
    from pumle_spark.ingest import ingest_golden
    from pumle_spark.sources.tensors import read_npy_tensors, read_zarr_tensors

    fixture_root = _ensure_bronze()
    golden = ingest_golden(
        spark,
        states_glob=str(fixture_root / "states_GCS01_*.json"),
        actnum_glob=str(fixture_root / "grdecl_GCS01_*.json"),
        dims_path=str(fixture_root / "g_GCS01.json"),
    )
    tmp = tempfile.mkdtemp(prefix=f"export_{fmt}_")
    try:
        # the export is an eager sink: the call writes every sim's tensor
        # on the driver, then the scan lists the written files
        export_tensors(golden, _FDIMS, attr, tmp, fmt=fmt)
        if fmt == "npy":
            longdf = read_npy_tensors(spark, f"{tmp}/{attr}_*.npy")
        else:
            longdf = read_zarr_tensors(spark, f"{tmp}/{attr}_*.zarr")
        micro = F.round(F.col("value") * 1000000).cast("bigint")
        out = (
            longdf.groupBy("sim_hash")
            .agg(
                (F.max("t") + 1).cast("int").alias("n_t"),
                F.count("value").cast("bigint").alias("n_values"),
                F.sum(F.when(F.col("value").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_nan"),
                F.sum((F.col("cell_id") + _NCELLS * F.col("t") + 1) * micro)
                .cast("bigint")
                .alias("checksum"),
            )
            .orderBy("sim_hash")
            .localCheckpoint(eager=True)  # decouple from tmp before cleanup
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


_EXPORT_SUMMARY_SQL = f"""
    WITH {_SCATTER_CTES}
    SELECT o.sim_hash,
           MAX(n.n_t) AS n_t,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(MAX(n.n_t) * {_NCELLS} - COUNT(*) AS BIGINT) AS n_nan,
           CAST(SUM((o.cell_id + {_NCELLS} * o.t + 1)
                    * CAST(ROUND(%s * 1000000) AS BIGINT)) AS BIGINT) AS checksum
    FROM obs o JOIN nt n ON n.sim_hash = o.sim_hash
    GROUP BY o.sim_hash
    ORDER BY o.sim_hash
"""


@register(
    "export_tensor_checksum",
    sql=_EXPORT_SUMMARY_SQL % "o.sg",
    tags=("export", "K2", "S5", "npy", "roundtrip"),
)
def export_tensor_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K2 .npy export + S5 .npy scan, driver-gated end to end: golden →
    per-sim dense (i,j,k,t) saturation tensors written by the REAL
    export sink (exports.export_tensors, arrays.py:149-169 semantics) →
    read back through the REAL binaryFile+mapInPandas scan
    (sources/tensors.read_npy_tensors) → per-sim summary with an
    F-order-position-weighted integer checksum.

    The oracle computes the same summary straight from the bronze JSON
    fixtures, so a divergence ANYWHERE in the write/read pair — F-order
    reshape, NaN placement at inactive cells, bounds guard, hash naming —
    flips the checksum. The pytest suite pins bitwise npy equality
    against a NumPy replica; this query puts the sink+scan pair under the
    driver's cross-engine hash gate too (round-5 scope: the one §2.2 sink
    family the driver record never covered).

    Scale: one sim = one tensor file, written on the driver from one
    Arrow collect of the golden rows (no shuffle, no Python worker); the
    read-back fans out one task per file. The checksum aggregation is a plain
    map-side-combinable groupBy."""
    return _tensor_roundtrip(spark, "sg", "npy")


@register(
    "export_zarr_roundtrip",
    sql=_EXPORT_SUMMARY_SQL % "o.pres",
    tags=("export", "K3", "S6", "zarr", "roundtrip"),
)
def export_zarr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K3 zarr-v2 export + S6 zarr scan, driver-gated end to end — the
    zarr twin of export_tensor_checksum, over the PRESSURE tensor: golden
    → dependency-free zarr-v2 stores (exports.write_zarr_v2: .zarray JSON
    + one zlib chunk per timestep, arrays.py:171-197 semantics) → chunk
    files fanned out through sources/tensors.read_zarr_tensors (one task
    per chunk — the layout that makes a zarr store a parallel scan) →
    the same F-order-position-weighted checksum, hash-matched against the
    bronze-JSON oracle.

    Chunk-level edge behavior (padding trim, C-order chunk bytes under an
    F-order logical layout) is exactly what the checksum would catch if
    either side of the zlib round-trip slipped."""
    return _tensor_roundtrip(spark, "pressure", "zarr")


# --------------------------------------------------------------------------
# L1 layout: Z-order clustering key on the golden store (verdict item 7)
# --------------------------------------------------------------------------

from pumle_spark.layout import DEFAULT_BITS as _ZBITS
from pumle_spark.layout import bucketize as _zbucket
from pumle_spark.layout import zorder_key as _zkey


def _zterms_sql(xb: str, yb: str) -> str:
    terms = []
    for i in range(_ZBITS):
        terms.append(f"(({xb} >> {i}) & 1) * {1 << (2 * i)}")
        terms.append(f"(({yb} >> {i}) & 1) * {1 << (2 * i + 1)}")
    return " + ".join(terms)


@register(
    "layout_zorder_golden",
    sql=f"""
    WITH {_SCATTER_CTES},
    dense AS (
      SELECT n.sim_hash, g.t AS t, c.c AS cell_id
      FROM nt n
      CROSS JOIN generate_series(0, 15) g(t)
      CROSS JOIN generate_series(0, {_NCELLS - 1}) c(c)
      WHERE g.t < n.n_t
    ),
    bounds AS (
      SELECT MIN(t) AS tmin, MAX(t) AS tmax,
             MIN(cell_id) AS cmin, MAX(cell_id) AS cmax
      FROM dense
    ),
    bucketed AS (
      SELECT d.sim_hash, d.t, d.cell_id,
             ((d.t - b.tmin) * {1 << _ZBITS}) // (b.tmax - b.tmin + 1) AS tb,
             ((d.cell_id - b.cmin) * {1 << _ZBITS}) // (b.cmax - b.cmin + 1) AS cb,
             o.sg
      FROM dense d
      CROSS JOIN bounds b
      LEFT JOIN obs o ON o.sim_hash = d.sim_hash AND o.t = d.t
                     AND o.cell_id = d.cell_id
    )
    SELECT sim_hash, CAST(t AS INTEGER) AS t, CAST(cell_id AS BIGINT) AS cell_id,
           CAST({_zterms_sql("tb", "cb")} AS BIGINT) AS zkey,
           CAST(ROUND(sg * 1000000) AS BIGINT) AS sg_micro
    FROM bucketed
    ORDER BY sim_hash, t, cell_id
    """,
    tags=("layout", "zorder", "golden"),
)
def layout_zorder_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering key for the GOLDEN store over (t, cell_id) —
    the layout the engine writes per sim partition so a box predicate
    (timestep range × cell region) prunes row groups in BOTH dimensions
    (layout_zorder_orders proves the effect on orders; this applies the
    same Morton key to the reference's own data model, where plume
    queries are exactly t-range × cell-region boxes: notebook cell 5.5).

    The saturation value rides along (NULL at inactive cells) so the row
    set under the key is the full golden scatter — the oracle recomputes
    BOTH the dense domain and the Morton interleave from the bronze JSON
    fixtures. sim_hash stays the partition key (SURVEY §4.1); the z-key
    orders rows WITHIN a partition, which is why the bounds are global
    (t and cell domains are partition-invariant). Pure integer
    arithmetic end to end; tests/test_layout.py measures the pruning
    delta of this exact layout on a scaled golden store."""
    fixture_root = _ensure_bronze()
    from pumle_spark.ingest import ingest_golden

    golden = ingest_golden(
        spark,
        states_glob=str(fixture_root / "states_GCS01_*.json"),
        actnum_glob=str(fixture_root / "grdecl_GCS01_*.json"),
        dims_path=str(fixture_root / "g_GCS01.json"),
    )
    bounds = golden.select(
        F.min("t").alias("tmin"), F.max("t").alias("tmax"),
        F.min("cell_id").alias("cmin"), F.max("cell_id").alias("cmax"),
    )
    tb = _zbucket(F.col("t").cast("long"), F.col("tmin").cast("long"),
                  F.col("tmax").cast("long"), _ZBITS)
    cb = _zbucket(F.col("cell_id"), F.col("cmin"), F.col("cmax"), _ZBITS)
    return (
        golden.crossJoin(broadcast(bounds))
        .withColumn("tb", tb)
        .withColumn("cb", cb)
        .select(
            "sim_hash",
            F.col("t").cast("int").alias("t"),
            F.col("cell_id").cast("bigint").alias("cell_id"),
            _zkey(F.col("tb"), F.col("cb"), _ZBITS).alias("zkey"),
            F.round(F.col("sg") * 1000000).cast("bigint").alias("sg_micro"),
        )
        .orderBy("sim_hash", "t", "cell_id")
    )
