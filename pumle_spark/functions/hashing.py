"""Canonical parameter hashing and filename encoding (F1, F2).

Reference semantics (MUST be reproduced bit-exactly for cache-hit parity):
- sim_hash = md5(json.dumps(fluid_params, sort_keys=True).encode()).hexdigest()[:8]
  (reference utils.py:52-81; config utils.py:16-21)
- filename string: sorted keys, floats "%.2e" with '.'→'p', '+'→'', '-'→'m',
  strings sanitized to [a-zA-Z0-9_-], joined '_', capped at 100 chars
  (reference utils.py:200-242)

Hash parity is the #1 hard part (SURVEY §7.3): Python's float repr is
shortest-roundtrip with Python-specific exponent formatting, which no Spark
built-in reproduces. So there is one hash path, on the driver, and it is
the reference algorithm itself (stock json/hashlib):

- ``sim_hash`` — the md5 prefix of ``canonical_params_json``. The sweep
  (``sweep.generate_variations``) builds its rows on the driver and hashes
  each one here; ``canonical_json_hash`` lets it reuse the canonical JSON
  it also stores as ``fluid_params``.
- ``params_to_filename_string`` has an exact expression-level equivalent
  (``filename_expr``) because "%.2e" formatting IS identical between Python
  and Java's format_string.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Mapping

import pyspark.sql.functions as F
from pyspark.sql import Column

# --------------------------------------------------------------------------
# F1 — sim_hash
# --------------------------------------------------------------------------

HASH_LEN = 8  # utils.py:16-21 HASH_CONFIG

# json.dumps(..., sort_keys=True) builds a new encoder on every call; one
# shared encoder with the same settings writes the same bytes.
_CANONICAL_JSON = json.JSONEncoder(sort_keys=True)


def canonical_params_json(params: Mapping) -> str:
    """The exact byte stream the reference hashes (utils.py:73)."""
    return _CANONICAL_JSON.encode(dict(params))


def sim_hash(params: Mapping) -> str:
    """Bit-exact reference hash (utils.py:52-81): first 8 hex chars of the
    md5 of the canonically-serialized params dict."""
    return canonical_json_hash(canonical_params_json(params))


def canonical_json_hash(canonical_json: str) -> str:
    """sim_hash of the params whose canonical_params_json is ``canonical_json``."""
    return hashlib.md5(canonical_json.encode()).hexdigest()[:HASH_LEN]


# --------------------------------------------------------------------------
# F2 — params_to_filename_string
# --------------------------------------------------------------------------

_MAX_FILENAME = 100  # utils.py:200 max_length default


def _format_value(v) -> str:
    """utils.py:221-230: ONLY floats use '%.2e' with .→p, +→'', -→m;
    everything else (ints, bools, strings) is str()'d, then ' '→'_',
    '/'→'-', and stripped to [alnum_-]."""
    if isinstance(v, float):
        return f"{v:.2e}".replace(".", "p").replace("+", "").replace("-", "m")
    s = str(v).replace(" ", "_").replace("/", "-")
    return "".join(c for c in s if c.isalnum() or c in ("_", "-"))


def params_to_filename_string(params: Mapping, max_length: int = _MAX_FILENAME) -> str:
    """Reference utils.py:200-242 semantics, bit-exact: sorted keys,
    per-type value encoding, and WHOLE-part truncation — stop adding parts
    once the budget would be exceeded, but always keep at least one part.
    Empty dict → 'no_params'; non-mapping → 'invalid_params'."""
    if not isinstance(params, Mapping):
        return "invalid_params"
    parts: list[str] = []
    current_length = 0
    for key in sorted(params):
        part = f"{key}_{_format_value(params[key])}"
        if current_length + len(part) + 1 > max_length and parts:
            break
        parts.append(part)
        current_length += len(part) + 1
    if not parts:
        return "no_params"
    return "_".join(parts)


def filename_value_expr(col: Column) -> Column:
    """Expression-level float encoding identical to _format_value for
    doubles: format_string('%.2e') then translate. Java and Python produce
    the same '%.2e' rendering (e.g. 3.50e+01), verified in tests."""
    # translate deletes chars with no replacement: '.'->'p', '-'->'m', '+'->(removed)
    return F.translate(F.format_string("%.2e", col), ".-+", "pm")


def filename_expr(cols: dict[str, Column], max_length: int = _MAX_FILENAME) -> Column:
    """Concatenate sorted key_value pairs with the reference's WHOLE-part
    cap (F2, utils.py:231-238): parts are added in sorted-key order until
    the next one would exceed the budget (separator counted), the first
    part always survives, and truncation never cuts mid-token — bit-exact
    with params_to_filename_string (property-tested).

    Expression mechanics: one aggregate() fold over the parts array counts
    how many whole parts fit (struct accumulator carries running length +
    count + a stop flag, because the reference BREAKS at the first
    non-fitting part rather than skipping it), then slice + concat_ws
    keeps exactly those. Per-row cost is one fold over ≤|keys| strings —
    stays in codegen, no UDF."""
    if not cols:
        return F.lit("no_params")
    parts = F.array(
        *[
            F.concat(F.lit(name + "_"), filename_value_expr(cols[name]))
            for name in sorted(cols)
        ]
    )
    acc0 = F.struct(
        F.lit(0).alias("len"), F.lit(0).alias("n"), F.lit(False).alias("stop")
    )

    def step(acc, p):
        fits = (~acc["stop"]) & (
            (acc["len"] + F.length(p) + 1 <= F.lit(max_length)) | (acc["n"] == 0)
        )
        return F.struct(
            F.when(fits, acc["len"] + F.length(p) + 1).otherwise(acc["len"]).alias("len"),
            F.when(fits, acc["n"] + 1).otherwise(acc["n"]).alias("n"),
            (~fits).alias("stop"),
        )

    n_keep = F.aggregate(parts, acc0, step, lambda acc: acc["n"])
    return F.concat_ws("_", F.slice(parts, F.lit(1), n_keep))
