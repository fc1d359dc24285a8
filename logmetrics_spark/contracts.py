"""Engine-wide value-parse contracts (pure constants, no Spark).

Shared verbatim by the fused pandas kernel (``operators/fused.py``)
and the sequential Python oracle (``oracle.py``) — the two paths MUST
parse identically:

- ASCII-only digit classes (``[0-9]``): Python/pandas ``\\d`` matches
  unicode digits ('٥٣'), Java's does not;
- int bodies capped at 18 digits — always exact in BOTH int64 and
  float64 (Python ``int()`` is unbounded, Spark ``try_cast`` overflows
  to NULL, pandas ``to_numeric`` degrades to lossy float64; 19+ digit
  bodies now uniformly fail to parse and drop the line);
- the strip set pinned to ASCII whitespace (Spark ``F.trim`` strips
  only spaces, Python ``.strip()`` strips unicode whitespace — both
  replaced by this explicit set);
- floats: plain decimal/scientific only — no '1_0' underscore
  separators, no 'inf'/'nan' words, no hex floats.
"""

STRIP_CHARS = " \t\r\n\f\v"
INT_RE = r"[+-]?[0-9]{1,18}"
FLOAT_RE = r"[+-]?(?:[0-9]+\.?[0-9]*|\.[0-9]+)(?:[eE][+-]?[0-9]+)?"

# ---------------------------------------------------------------------
# Deterministic id / reservoir-seed contract (r03).
#
# r02 derived record_id = md5_52("url|ts|line") per MATCHED LINE and
# h52 = md5_52("key_id|record_id") per HISTOGRAM DATAPOINT — a Python
# hashlib loop over the widest data in the job (the verdict's last
# per-row-Python item; ~1.5 us/row irreducible, and a numpy-vectorized
# MD5 measured 0.5x hashlib on this VM's memory bandwidth). r03 keeps
# md5 only where cardinality is LOW (one per distinct url / distinct
# key per batch, JVM-expressible) and derives the per-row values with
# an exact int64 multiply-xorshift mix mod P — vectorizable in numpy,
# expressible in ANSI Spark SQL and DuckDB, bit-identical in all four
# engines (every intermediate < 2^63; see the bound notes below).
#
#   page_h    = md5_52(url)                     (per distinct url)
#   key_h     = md5_52(key_id)                  (per distinct key)
#   y         = ((RID_A*page_h) % P + RID_B*ts_sec + RID_C*line_no) % P
#   record_id = (RID_M * (y ^ (y >> XS))) % P
#   z         = key_h ^ (record_id & (2^52 - 1))
#   w         = (SEED_A  * (z ^ (z >> XS ))) % P
#   h52       = (SEED_A2 * (w ^ (w >> XS2)) + SEED_B) % P
#   u         = (h52 + 1) / (2^52 + 1)          (reservoir uniform)
#
# h52 uses TWO multiply-xorshift rounds: one round with an 11-bit
# multiplier measurably biased the uniform on correlated real-shaped
# inputs (mean 0.461, chi2 ~900/16 bins); the second round restores
# uniformity (chi2 ~9) — pinned by the uniformity test below.
#
# Bounds: P = 2^52 + 21 (prime); every multiplier is odd < 2^11, so
# mult * x <= 2047*(2^52-1) and mult*x + SEED_B <= 2^63 - 2027 — exact
# in signed int64 everywhere (numpy, Spark long under ANSI, DuckDB
# BIGINT, Python int). The 52-bit operand bound needs care at two
# spots: (a) record_id is reduced mod P, so it can carry BIT 52
# (values in [2^52, 2^52+20], p ~ 21/2^52 per row — reachable at
# 10^12-row scale); z therefore masks record_id to 52 bits before the
# XOR, else SEED_A*(z^(z>>XS)) could reach ~1.83e19 > int64 max (ANSI
# overflow on Spark, silent wrap divergence in numpy). (b) the
# record_id finalizer's own y can also carry bit 52, but y's LOW bits
# are then tiny (y in [2^52, 2^52+20]), so y^(y>>XS) <= 2^52 + 2^31ish
# and RID_M * that stays under 2^63 — checked, no mask needed. xorshift distance 21 breaks the affine
# structure (multiply-xorshift is the standard integer-hash finalizer
# shape); uniformity of u is pinned by
# tests/test_timemetrics.py::test_seed_mix_uniformity.
# ---------------------------------------------------------------------

HASH_PRIME = 4503599627370517  # smallest prime above 2^52
RID_A = 1685
RID_B = 1031
RID_C = 1523
RID_M = 1999
SEED_A = 2027
SEED_A2 = 1787
SEED_B = 1234567890123456
XS = 21
XS2 = 13


def md5_52_py(s: str) -> int:
    """int(md5(s).hexdigest()[:13], 16) — the engine-wide 52-bit md5
    prefix (same bits as the JVM conv(substring(md5..)) expression and
    DuckDB's CAST('0x'||substr(md5..) AS BIGINT))."""
    import hashlib

    return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:13], 16)


def record_id_py(page_h: int, ts_sec: int, line_no: int) -> int:
    """Pure-python reference for the per-line record id."""
    y = ((RID_A * page_h) % HASH_PRIME + RID_B * ts_sec + RID_C * line_no) % HASH_PRIME
    return (RID_M * (y ^ (y >> XS))) % HASH_PRIME


MASK52 = (1 << 52) - 1


def h52_py(key_h: int, record_id: int) -> int:
    """Pure-python reference for the reservoir seed."""
    z = key_h ^ (record_id & MASK52)
    w = (SEED_A * (z ^ (z >> XS))) % HASH_PRIME
    return (SEED_A2 * (w ^ (w >> XS2)) + SEED_B) % HASH_PRIME
