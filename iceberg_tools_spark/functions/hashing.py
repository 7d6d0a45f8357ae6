"""Deterministic cross-engine (Spark ⇄ DuckDB ⇄ Python) hash toolkit.

Everything bottoms out in md5 — the one hash all three engines
compute identically — then derives what each consumer needs:

* hex-string keys for LSH buckets / minhash slots (fixed-width hex
  compares numerically, so MIN over hex == numeric min — no 64-bit
  integer arithmetic required, which DuckDB's and Spark's differing
  signedness would complicate);
* ``md5_i64`` when an integer key IS wanted (salting, modular
  bucketing): the first 15 hex digits → a non-negative bigint that
  both engines compute with the same expression shape;
* per-bit extraction for SimHash planes.

Spark expressions that an oracle replicates have a ``*_duck`` twin
returning the equivalent DuckDB SQL, so the arithmetic matches 1:1.
The dedup / similarity operators (operators/dedup.py,
operators/similarity.py, functions/vectors.py) follow exactly these
recipes.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column
from pyspark.sql import functions as F


# ---- hex keys ------------------------------------------------------


def salted_md5_hex(col: Column | str, salt: str) -> Column:
    """md5(f"{salt}|{value}") — independent hash per salt; the basis
    of minhash slots (salt = slot index) and hash families."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat(F.lit(f"{salt}|"), c))


# ---- integer keys --------------------------------------------------

_I64_HEX_DIGITS = 15  # 15 hex digits < 2^60: always a positive BIGINT


def md5_i64(col: Column | str, salt: str = "") -> Column:
    """Non-negative 60-bit integer hash: conv(md5[:15], 16, 10).

    Uniform by construction → safe as a shuffle/bucket key with no
    skew; cheap modular bucketing via ``md5_i64(c) % n_buckets``.
    """
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(f"{salt}|"), c)
    return F.conv(F.substring(F.md5(c), 1, _I64_HEX_DIGITS), 16, 10).cast("bigint")


def md5_i64_duck(expr: str, salt: str = "") -> str:
    inner = f"'{salt}|' || {expr}" if salt else expr
    return (
        f"CAST(('0x' || substring(md5({inner}), 1, {_I64_HEX_DIGITS}))::UBIGINT AS BIGINT)"
    )


def md5_i64_py(value: str, salt: str = "") -> int:
    """Python replica (for tests / driver-side planning)."""
    s = f"{salt}|{value}" if salt else value
    return int(hashlib.md5(s.encode()).hexdigest()[:_I64_HEX_DIGITS], 16)


# ---- bit extraction (SimHash planes) -------------------------------


def md5_bit(hex_col: str, j: int) -> Column:
    """Bit j (0-based, little-endian within each hex nibble) of an
    md5 hex-digest column — 0/1 int. Matches operators/dedup.py's
    SimHash plane definition."""
    return F.expr(
        f"shiftright(conv(substring({hex_col}, {j // 4 + 1}, 1), 16, 10), {j % 4}) & 1"
    ).cast("int")


def md5_bit_duck(hex_expr: str, j: int) -> str:
    return (
        f"((strpos('0123456789abcdef', substring({hex_expr}, {j // 4 + 1}, 1)) - 1)"
        f" >> {j % 4}) & 1"
    )
