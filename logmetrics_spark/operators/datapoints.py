"""Datapoint contract: matched+transformed lines -> long-format metric rows.

The rows ``datapool.go:59-215`` builds (tag extraction, value scaling,
cross-group arithmetic, key fan-out). The engine computes them in one
place, ``fused.make_datapoint_frame_fn``; this module holds their
schema and the native reservoir-seed hash that ``partial_stage``
applies to them (route hashes sinks in Arrow, ``route.route_keyed``).

Output schema (one row per dataPoint, ``datapool.go:14-19``):

- ``key_id``      string   — full series identity (name template + tags)
- ``group``       string   — log group name
- ``metric_type`` string   — meter | histogram | counter
- ``key_prefix``, ``key_suffix``, ``tags`` (sorted ``k=v`` string,
  ``datapool.go:59-90``), ``ref_tag`` (per-reference tag)
- ``never_stale`` boolean
- ``ts_sec``      long     — event time, unix seconds
- ``value``       long     — int64 value contract (``datapool.go:16``)
- ``record_id``   long     — deterministic 52-bit id (md5 of the url
  mixed with ts and line_no, contracts.py), drives the reservoir's
  reproducible randomness

Value semantics (``datapool.go:138-207``):

- position 0 => constant 1 (count-a-line, ``README.md:103``);
- ``format="int"``: int64 parse (engine-wide contract: strip, then
  strict ``[+-]?\\d+`` fullmatch — identical in the fused kernel and
  the Python oracle), then ``*multiply`` then integer ``/divide``
  (each only when >1, matching the reference's guards);
- ``format="float"``: float parse then scale then truncate to int64;
  multiply and divide are each computed from the RAW parsed float, so
  divide *overrides* multiply when both >1 (``datapool.go:149-156`` —
  the reference never composes them); the multiply==divide==1 =>
  stays-0 quirk (``datapool.go:150-155``) is behind
  ``compat.float_noscale_zero``;
- any referenced group failing to parse drops the WHOLE line
  (``datapool.go:168-171``);
- ``add``/``sub`` operands are int64 parses of the referenced
  positions, position-0 operands skipped (``datapool.go:179-201``);
  a negative result drops the line when ``warn_on_operation_fail`` —
  the reference applies this check to EVERY datapoint, with or
  without add/sub ops (``datapool.go:203-207``);
- ``compat.cumulative_ops`` replays the reference's shared-value
  mutation across references at the same position (block order;
  ``datapool.go:181-211``); default computes each reference
  independently.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DATAPOINT_SCHEMA = (
    "key_id string, group string, metric_type string, key_prefix string, "
    "key_suffix string, tags string, ref_tag string, never_stale boolean, "
    "ts_sec long, value long, record_id long"
)


def md5_52bit(col: Column) -> Column:
    """First 52 bits of md5 as a long — the engine-wide deterministic
    hash (``contracts.md5_52_py`` in Python, md5 in DuckDB); used by
    :func:`h52_expr`."""
    return F.conv(F.substring(F.md5(col), 1, 13), 16, 10).cast("long")


def h52_expr(key_id: Column, record_id: Column) -> Column:
    """Native reservoir seed (contracts.py r03): md5 of the key mixed
    with the record id — bit-identical to contracts.h52_py."""
    from ..contracts import HASH_PRIME, MASK52, SEED_A, SEED_A2, SEED_B, XS, XS2

    z = md5_52bit(key_id).bitwiseXOR(record_id.bitwiseAND(F.lit(MASK52)))
    w = (F.lit(SEED_A) * z.bitwiseXOR(F.shiftright(z, XS))) % F.lit(HASH_PRIME)
    return (
        F.lit(SEED_A2) * w.bitwiseXOR(F.shiftright(w, XS2)) + F.lit(SEED_B)
    ) % F.lit(HASH_PRIME)
