"""Fixed-memory sketches for corpus profiling at 100 TB scale —
HyperLogLog distinct counting (Flajolet et al. 2007) and Count-Min
frequency estimation (Cormode & Muthukrishnan 2005).

An exact vocabulary count is a ``count_distinct`` over every token
hash — one corpus-wide shuffle whose state grows with the true
cardinality (billions of 8-byte keys at real scale).  The sketch
versions bound the state by construction: an HLL register table is
``m`` rows and a Count-Min table is ``d*w`` rows no matter how large
the corpus, both produced by a single map-side-
combined ``groupBy`` whose key space is the fixed sketch geometry.
Both sketches are also MERGEABLE (register-wise max / cell-wise sum),
so per-partition or per-day sketch tables combine by a groupBy over a
few thousand rows — the profile of an incremental corpus monitor.

Cross-engine determinism (the repo's bit-stable contract): no RNG and
no float transcendentals in the distributed path.  Hashing is the
portable md5-based H60; the HLL rank (leading-zero count) is derived
from ``length(bin(x))`` — exact integer string length, never
``floor(log2(x))``, whose double rounding misranks values just below a
power of two (e.g. log2(2^50 - 1) rounds to exactly 50.0).  The sketch
TABLES therefore replay bit-for-bit in DuckDB
(tests/test_sketch.py); the scalar HLL estimate is computed driver-side
from the tiny collected register table (one place, one engine — the
distributed artifact is the table, not the float).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from jobcan_data_integrator_spark.operators.minhash import H60

#: default HLL register count (2^10; standard error ~ 1.04/sqrt(m) = 3.3%)
HLL_M = 1024

#: default Count-Min geometry: 4 rows x 1024 columns
CMS_DEPTH = 4
CMS_WIDTH = 1024


def _hll_max_rank(m: int) -> int:
    """Max possible rank for an m-register sketch over the 60-bit H60
    hash: ``bucket`` consumes log2(m) bits, the remainder ``v`` has
    ``60 - log2(m)`` bits, and rank = leading zeros of v + 1, so the
    all-zero remainder ranks ``61 - log2(m)``.  m must be a power of
    two (the bucket/remainder split is a bit split) in [16, 2^20] —
    below 16 the alpha constant is wrong, above 2^20 the remainder
    gets too short for useful ranks."""
    b = m.bit_length() - 1
    if m != (1 << b) or not (16 <= m <= (1 << 20)):
        raise ValueError(f"m must be a power of two in [16, 2^20]: {m}")
    return 61 - b


def hll_registers(
    items: DataFrame, col: str, m: int = HLL_M
) -> DataFrame:
    """(bucket, r): the HyperLogLog register table of a column.

    The 60-bit item hash splits into ``bucket = h mod m`` and a
    ``60 - log2(m)``-bit remainder ``v = h div m``; the register holds
    the max rank, where rank = leading zeros of v's field + 1 =
    ``maxrank - length(bin(v))`` with ``maxrank = 61 - log2(m)``
    (and maxrank itself when v = 0 — all bits zero).  One map-side-
    combined groupBy with at most m output rows; registers never seen
    stay absent (rank 0 — ``hll_estimate`` fills them in).  Two
    register tables over different corpus slices merge with
    ``union -> groupBy(bucket).max(r)`` — sketch addition."""
    maxrank = _hll_max_rank(m)
    h = F.expr(H60.format(x=col))
    bucket = F.pmod(h, F.lit(m)).cast("int")
    # integer division — h is up to 60 bits, beyond double's 53-bit
    # mantissa, so float '/' + floor would corrupt low bits
    v = F.expr(f"({H60.format(x=col)}) div {m}").cast("bigint")
    rank = (
        F.when(F.col("_v") == 0, F.lit(maxrank))
        .otherwise(F.lit(maxrank) - F.length(F.expr("bin(_v)")))
        .cast("int")
    )
    return (
        items.select(bucket.alias("bucket"), v.alias("_v"))
        .select("bucket", rank.alias("rank"))
        .groupBy("bucket")
        .agg(F.max("rank").alias("r"))
    )


def hll_estimate(registers: list[tuple[int, int]], m: int = HLL_M) -> float:
    """Cardinality estimate from a collected register table.

    ``registers``: (bucket, r) pairs (absent buckets = rank 0).  The
    harmonic mean is computed over exact integers — sum of
    2^(maxrank - r), maxrank = 61 - log2(m), scaled so the total fits
    a Python int regardless of order — then one float division; the
    small-range correction is Flajolet's linear counting when the raw
    estimate is below 2.5 m and empty registers remain.  Driver-side on
    <= m rows by design (the distributed artifact is the register
    TABLE; see module docstring)."""
    maxrank = _hll_max_rank(m)
    ranks = {b: r for b, r in registers}
    s = sum(1 << (maxrank - ranks.get(j, 0)) for j in range(m))
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m * (1 << maxrank) / s
    zeros = m - len(ranks)
    if raw <= 2.5 * m and zeros > 0:
        return m * math.log(m / zeros)
    return raw


def hll_count_distinct(items: DataFrame, col: str, m: int = HLL_M) -> float:
    """Convenience: registers -> collect -> estimate in one call."""
    regs = [(r.bucket, r.r) for r in hll_registers(items, col, m).collect()]
    return hll_estimate(regs, m)


def cms_table(
    items: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(row, bucket, c): the Count-Min table of a column's value counts.

    Each item increments one cell per hash row; the d row-hashes are
    the H60 of the salted value ``'cms<i>|' || x``.  The build is one
    explode to d rows per item + one map-side-combined groupBy with at
    most depth*width output rows.  Two tables over different slices
    merge with ``union -> groupBy(row, bucket).sum(c)``."""
    rows = F.array(*[F.lit(i) for i in range(depth)])
    bucket = F.pmod(
        F.expr(H60.format(x=f"concat('cms', cast(_row as string), '|', {col})")),
        F.lit(width),
    ).cast("int")
    return (
        items.select(F.col(col), F.explode(rows).alias("_row"))
        .select(F.col("_row").alias("row"), bucket.alias("bucket"))
        .groupBy("row", "bucket")
        .agg(F.count("*").cast("bigint").alias("c"))
    )


def cms_lookup(
    probes: DataFrame,
    cms: DataFrame,
    col: str,
    depth: int = CMS_DEPTH,
    width: int = CMS_WIDTH,
) -> DataFrame:
    """(<col>, est): Count-Min frequency estimates for probe values.

    est = min over the d rows of the probed cell — always >= the true
    count, and <= true + (e/width) * N with probability 1 - e^-depth.
    The cms table is <= depth*width rows → broadcast hash join; probes
    are never shuffled."""
    rows = F.array(*[F.lit(i) for i in range(depth)])
    bucket = F.pmod(
        F.expr(H60.format(x=f"concat('cms', cast(_row as string), '|', {col})")),
        F.lit(width),
    ).cast("int")
    keyed = probes.select(F.col(col), F.explode(rows).alias("_row")).select(
        F.col(col), F.col("_row").alias("row"), bucket.alias("bucket")
    )
    return (
        keyed.join(F.broadcast(cms), ["row", "bucket"], "left")
        .groupBy(col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("est"))
    )
