"""Export sinks (M3 / SURVEY §2.2, §2.8): tabular CSV, flattened metadata,
dense-tensor .npy / zarr.

Design stance (SURVEY §7.0): the LONG golden DataFrame is canonical; dense
(i, j, k, t) tensors exist only at the export boundary. Tensorization runs
on the driver over one Arrow collect of the export columns (one Spark job,
no shuffle, no Python worker): the rows split per sim with one argsort and
each sim's tensor is scattered with NumPy, with the exact reference
semantics: Fortran-order reshape, NaN at inactive cells (arrays.py:88-147).

The reference's tabular exporter loops (sim, t) with pd.concat in a loop —
O(n²) (tabular.py:131-135) — and its melt step disappears entirely here
because the canonical layout already IS the melted form (SURVEY §2.8 R2).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pumle_spark.sources.local import local_frame

# zlib level of every zarr chunk (the .zarray "compressor" records it).
ZARR_ZLIB_LEVEL = 5
MANIFEST_SCHEMA = "sim_hash string, path string, n_t int"

# --------------------------------------------------------------------------
# R2 → K4: tabular CSV export
# --------------------------------------------------------------------------


def tabular(golden: DataFrame, attr: str) -> DataFrame:
    """(simulation, timestamp, x, y, z, values) of nonzero cells for one
    attribute (tabular.py:117-135, 161) — a select+filter on the long form;
    the reference's 5D melt is gone by construction."""
    return (
        golden.select(
            F.col("sim_hash").alias("simulation"),
            F.col("t").alias("timestamp"),
            F.col("i").alias("x"),
            F.col("j").alias("y"),
            F.col("k").alias("z"),
            F.col(attr).alias("values"),
        )
        # NaN-aware nonzero filter (P4): reference keeps nonzero, and NaN
        # (inactive) cells are not exported
        .filter(F.col("values").isNotNull() & ~F.isnan("values") & (F.col("values") != 0))
    )


def write_tabular_csv(golden: DataFrame, attr: str, path: str) -> None:
    tabular(golden, attr).write.mode("overwrite").option("header", True).csv(path)


# --------------------------------------------------------------------------
# R3/R4 → K5: metadata flatten + constant augmentation + CSV
# --------------------------------------------------------------------------


def flatten_metadata(
    configs: DataFrame,
    section_map: dict[str, list[str]],
    dims: tuple[int, int, int] | None = None,
    timestamps: int | None = None,
) -> DataFrame:
    """Flatten per-section params to `section__param` columns
    (metadata.py:119-129 naming: lower, spaces/hyphens → '_', '__' join)
    and add dims/timestamps constants (metadata.py:257-300)."""

    def norm(s: str) -> str:
        return s.lower().replace(" ", "_").replace("-", "_")

    cols = [F.col("sim_hash"), F.col("sim_id").cast("string").alias("sim_id")]
    for section, params in section_map.items():
        for p in params:
            cols.append(F.col(p).alias(f"{norm(section)}__{norm(p)}"))
    out = configs.select(*cols)
    if dims is not None:
        for name, v in zip(("dimension_x", "dimension_y", "dimension_z"), dims):
            out = out.withColumn(name, F.lit(int(v)))
    if timestamps is not None:
        out = out.withColumn("timestamps", F.lit(int(timestamps)))
    return out


# --------------------------------------------------------------------------
# R1 → K2/K3: dense tensor export (npy / zarr)
# --------------------------------------------------------------------------


def _write_tensor(
    path: str, dims: tuple[int, int, int], fmt: str,
    t: np.ndarray, cell_id: np.ndarray, vals: np.ndarray,
) -> int:
    """One sim's rows → its dense (i, j, k, t) tensor file; returns n_t."""
    ni, nj, nk = dims
    n_t = int(t.max()) + 1
    # scatter into (ncells, T) with NaN placeholder, then F-order reshape
    # — bit-for-bit the reference consolidation (arrays.py:88-143, esp.
    # :138-140 order='F')
    flat = np.full((ni * nj * nk, n_t), np.nan, dtype=np.float64)
    mask = ~np.isnan(vals)
    flat[cell_id[mask], t[mask]] = vals[mask]
    tensor = flat.reshape((ni, nj, nk, n_t), order="F")
    if fmt == "npy":
        np.save(path, tensor)  # K2 (arrays.py:149-169)
    else:  # K3 (arrays.py:171-197)
        write_zarr_v2(path, tensor)
    return n_t


def write_zarr_v2(store_dir: str, tensor: np.ndarray, chunk_t: int = 1) -> None:
    """Spec-conformant zarr-v2 directory store, written with no zarr
    dependency: `.zarray` JSON metadata + one zlib-compressed C-order chunk
    file per `chunk_t` timesteps (chunk key "0.0.0.<ct>"). Chunking along t
    means the companion scan (sources/tensors.py read_zarr_tensors)
    parallelizes one task per timestep chunk. Any standard zarr client can
    open the result (compressor {"id": "zlib"} is zarr-core)."""
    import json
    import zlib

    os.makedirs(store_dir, exist_ok=True)
    ni, nj, nk, n_t = tensor.shape
    chunks = (ni, nj, nk, chunk_t)
    meta = {
        "zarr_format": 2,
        "shape": [ni, nj, nk, n_t],
        "chunks": list(chunks),
        "dtype": tensor.dtype.str,
        "compressor": {"id": "zlib", "level": ZARR_ZLIB_LEVEL},
        "fill_value": "NaN" if tensor.dtype.kind == "f" else 0,
        "order": "C",
        "filters": None,
    }
    with open(os.path.join(store_dir, ".zarray"), "w") as fh:
        json.dump(meta, fh)
    for ct in range((n_t + chunk_t - 1) // chunk_t):
        block = tensor[:, :, :, ct * chunk_t : (ct + 1) * chunk_t]
        if block.shape[3] < chunk_t:  # edge chunk: pad to full chunk shape
            fill = np.nan if tensor.dtype.kind == "f" else 0  # match fill_value branch
            pad = np.full((ni, nj, nk, chunk_t - block.shape[3]), fill, dtype=tensor.dtype)
            block = np.concatenate([block, pad], axis=3)
        payload = zlib.compress(np.ascontiguousarray(block).tobytes(), ZARR_ZLIB_LEVEL)
        with open(os.path.join(store_dir, f"0.0.0.{ct}"), "wb") as fh:
            fh.write(payload)


def export_tensors(
    golden: DataFrame,
    dims: tuple[int, int, int],
    attr: str,
    out_dir: str,
    fmt: str = "npy",
) -> DataFrame:
    """K2/K3: one dense (i, j, k, t) tensor file per sim, written on the
    driver when called (eager, like write_golden); returns the manifest
    (sim_hash, path, n_t) as a local frame.

    One Spark job collects (sim_hash, t, cell_id, attr) as Arrow, with no
    exchange and no Python worker. The rows split per sim on the driver:
    sim_hash is dictionary-encoded and one stable argsort of the codes
    groups each sim's rows, whatever batches they arrived in. Every
    exported row transits the driver: 32 B of Arrow (8-char sim_hash and
    its offset, t, cell_id, value), ~60 B per row at the Python peak with
    the NumPy copies, plus the JVM's copy of the collected batches; PERF.md
    gives the UNISIM-grid ceiling. ``out_dir`` is written where the caller
    runs.

    NaN semantics: the long form stores NULL at inactive cells; to_numpy
    maps those to NaN and the scatter skips them, leaving the prefilled NaN
    — exactly arrays.py:90-92.
    """
    table = golden.select("sim_hash", "t", "cell_id", attr).toArrow()
    sims = pc.dictionary_encode(table.column("sim_hash")).combine_chunks()
    t, cell_id, vals = (table.column(c).to_numpy() for c in ("t", "cell_id", attr))
    del table  # the sim_hash strings are the largest column
    codes = sims.indices.to_numpy(zero_copy_only=False)
    order = np.argsort(codes, kind="stable")
    counts = np.bincount(codes, minlength=len(sims.dictionary))
    ends = np.cumsum(counts)
    ext = "npy" if fmt == "npy" else "zarr"
    manifest = []
    for sim_hash, lo, hi in zip(sims.dictionary.to_pylist(), ends - counts, ends):
        rows = order[lo:hi]
        path = os.path.join(out_dir, f"{attr}_{sim_hash}.{ext}")
        os.makedirs(out_dir, exist_ok=True)
        n_t = _write_tensor(path, dims, fmt, t[rows], cell_id[rows], vals[rows])
        manifest.append((sim_hash, path, n_t))
    return local_frame(golden.sparkSession, manifest, MANIFEST_SCHEMA)
