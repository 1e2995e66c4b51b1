"""SimHash pigeonhole-block building blocks for the full-corpus gates
(gate/llm.py dd_simhash, dd_simhash_pairs) and the scale smoke's
candidate-volume budget (scale_smoke.py simhash_experiment).

Geometry: a ``bits``-wide fingerprint splits into ``n_blocks`` blocks;
any pair within Hamming distance ``n_blocks - 1`` must agree on at least
one whole block (pigeonhole), so candidate generation is an equi-join on
(block_idx, block_value) instead of an O(n²) scan.  Block-value
cardinality 2^(bits/n_blocks) is the quadratic-control knob — widen the
fingerprint as the corpus grows.

Scaling rule (measured, r8 probe): candidate volume is
``n_blocks * n² / 2^block_bits`` TIMES a skew factor for hot block
values (real corpora vote similar bits on short/templated docs; the
sf0.1 synthetic corpus's hottest value holds ~5% of docs, so candidates
measured 103x for 10x docs — pure n²).  Signature compute is linear
(7.9x for 10x docs).  To hold per-join candidate volume constant,
grow ``block_bits`` by ``2*log2(corpus growth)`` — e.g. 10x docs needs
block_bits +7; at 100 TB use a 128-bit fingerprint (two longs) with
4 x 32-bit blocks rather than today's 60-bit/15-bit demo geometry.
Unlike the shingle path there is no lossless hot-value cap: dropping a
hot block value breaks the pigeonhole completeness guarantee, so width
is THE knob.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def simhash_signatures(
    docs: DataFrame, bits: int = 60, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash): ``bits``-wide fingerprint over word tokens —
    per-bit signed vote of each token hash bit, majority sign → bit.
    Fully in-row (nested higher-order aggregates over the split text):
    zero shuffle at any corpus size.  Same formulation as the
    dd_simhash gate (gate/llm.py), factored here for the scale smoke."""
    from jobcan_data_integrator_spark.operators.minhash import H60

    h = H60.format(x="t")
    hashed = docs.withColumn(
        "_hashes", F.expr(f"transform(split({text_col}, ' '), t -> {h})")
    )
    fp = F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> acc +"
        " case when aggregate(_hashes, 0L,"
        "        (a, h) -> a + (pmod(shiftright(h, j), 2) * 2 - 1)) > 0"
        "      then shiftleft(1L, j) else 0L end)"
    )
    return hashed.select("doc_id", fp.alias("simhash"))


def block_rows(signatures: DataFrame, n_blocks: int, block_bits: int) -> DataFrame:
    """(doc_id, simhash, b, block_val): one row per fingerprint block —
    a narrow per-row explode, no shuffle."""
    return signatures.select(
        "doc_id",
        "simhash",
        F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("b"),
    ).withColumn(
        "block_val",
        F.expr(
            f"(simhash >> cast({block_bits} * b as int))"
            f" & {(1 << block_bits) - 1}"
        ),
    )


def derived_block_bits(
    n_docs: int,
    *,
    bits: int = 60,
    n_blocks: int = 4,
    target_candidates_per_doc: float = 8.0,
) -> int:
    """The block width that HOLDS expected per-doc candidate volume at
    ``target_candidates_per_doc`` for a ``n_docs`` corpus — the module
    docstring's scaling rule (candidates ≈ n_blocks · n² / 2^block_bits
    under the uniform-block model) solved for block_bits:
    ``ceil(log2(n_blocks · n_docs / target))``, clamped to
    ``[1, bits // n_blocks]`` (every block must fit the fingerprint).

    At the cap the geometry is SATURATED (``simhash_geometry_saturated``
    tells you): per-doc candidates grow linearly with further corpus
    growth and the fix is a wider fingerprint (128-bit two-long blocks),
    not this knob.  Pass the result to ``block_rows`` /
    ``near_dup_pairs_wide``."""
    import math

    need = math.ceil(
        math.log2(max(n_blocks * n_docs / target_candidates_per_doc, 2.0))
    )
    return min(max(need, 1), bits // n_blocks)


def simhash_geometry_saturated(
    n_docs: int,
    *,
    bits: int = 60,
    n_blocks: int = 4,
    target_candidates_per_doc: float = 8.0,
) -> bool:
    """True when even the widest block the fingerprint allows cannot
    hold the candidate target — the documented signal to move to a
    wider fingerprint (the scale smoke emits the measured ratio next to
    this bound)."""
    import math

    need = math.ceil(
        math.log2(max(n_blocks * n_docs / target_candidates_per_doc, 2.0))
    )
    return need > bits // n_blocks


# ---------------------------------------------------------------------------
# Wide (multi-long) fingerprints — the documented >60-bit scale path
# ---------------------------------------------------------------------------


def simhash_signatures_wide(
    docs: DataFrame,
    limbs: int = 2,
    bits_per_limb: int = 60,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, simhash array<bigint>): a ``limbs`` x ``bits_per_limb``
    fingerprint — the module docstring's "at 100 TB use a 128-bit
    fingerprint (two longs)" made concrete.  Limb 0 votes with the same
    token hash as ``simhash_signatures`` (so ``limbs=1`` reproduces it
    bit-for-bit — pinned); limb k>0 salts the token hash with k, giving
    an independent projection, so the concatenated fingerprint behaves
    as one ``limbs*bits_per_limb``-bit SimHash.  Fully in-row like the
    60-bit version: zero shuffle at any corpus size, per-doc cost
    scales linearly with total width."""
    from jobcan_data_integrator_spark.operators.minhash import H60

    hashed = docs
    for k in range(limbs):
        tok = "t" if k == 0 else f"concat(t, '\\u0001{k}')"
        h = H60.format(x=tok)
        hashed = hashed.withColumn(
            f"_h{k}", F.expr(f"transform(split({text_col}, ' '), t -> {h})")
        )
    limb_fps = [
        F.expr(
            f"aggregate(sequence(0, {bits_per_limb - 1}), 0L, (acc, j) ->"
            f" acc + case when aggregate(_h{k}, 0L,"
            "        (a, h) -> a + (pmod(shiftright(h, j), 2) * 2 - 1)) > 0"
            "      then shiftleft(1L, j) else 0L end)"
        )
        for k in range(limbs)
    ]
    return hashed.select("doc_id", F.array(*limb_fps).alias("simhash"))


def _wide_block_expr(
    col: str, b, n_blocks: int, limbs: int, block_bits: int
) -> str:
    """SQL for block ``b``'s value out of an array-of-longs fingerprint:
    blocks never straddle limbs (``n_blocks`` must divide evenly), so
    block b lives at offset (b % per_limb)·block_bits of limb
    b // per_limb."""
    per_limb = n_blocks // limbs
    mask = (1 << block_bits) - 1
    return (
        f"(element_at({col}, cast({b} div {per_limb} as int) + 1)"
        f" >> cast(({b} % {per_limb}) * {block_bits} as int)) & {mask}"
    )


def block_rows_wide(
    signatures: DataFrame, n_blocks: int, limbs: int, block_bits: int
) -> DataFrame:
    """(doc_id, simhash, b, block_val) over an array-of-longs
    fingerprint — the wide twin of ``block_rows``.  Geometry contract:
    ``limbs`` divides ``n_blocks`` and ``(n_blocks/limbs)·block_bits <=
    bits_per_limb`` (e.g. two 60-bit longs as 4 x 30-bit blocks — the
    width ``derived_block_bits(n, bits=120)`` picks for corpora past
    the single-long saturation point)."""
    if n_blocks % limbs:
        raise ValueError("block_rows_wide: limbs must divide n_blocks")
    return signatures.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_blocks - 1}), b -> "
                f"named_struct('b', b, 'block_val', "
                + _wide_block_expr("simhash", "b", n_blocks, limbs, block_bits)
                + "))"
            )
        ).alias("_bv"),
    ).select("doc_id", "simhash", F.col("_bv.b").alias("b"), F.col("_bv.block_val").alias("block_val"))


def near_dup_pairs_wide(
    blocks: DataFrame,
    other_blocks: DataFrame | None = None,
    max_hamming: int | None = None,
    n_blocks: int = 4,
    limbs: int = 2,
    block_bits: int = 30,
) -> DataFrame:
    """(doc_a, doc_b, hamming) over wide fingerprints: pigeonhole
    equi-join on (b, block_val), Hamming = summed popcount of per-limb
    XORs.  One frame gives within-set pairs; two frames give cross pairs
    normalized to (least, greatest).  A pair agreeing on k blocks comes
    out of the join k times; the duplicates are removed without a
    shuffle by keeping only the row at the pair's minimal agreeing
    block, an in-row predicate re-derived from the array limbs (so the
    geometry here MUST match block_rows_wide's).  Completeness bound:
    any pair within ``n_blocks - 1`` agrees on at least one whole
    block."""
    if max_hamming is None:
        max_hamming = n_blocks - 1
    a = blocks.alias("a")
    b = (blocks if other_blocks is None else other_blocks).alias("b")
    cond = (F.col("a.b") == F.col("b.b")) & (
        F.col("a.block_val") == F.col("b.block_val")
    )
    if other_blocks is None:
        cond = cond & (F.col("a.doc_id") < F.col("b.doc_id"))
    else:
        cond = cond & (F.col("a.doc_id") != F.col("b.doc_id"))
    cand = a.join(b, cond).select(
        F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
        F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        F.col("a.simhash").alias("sa"),
        F.col("b.simhash").alias("sb"),
        F.col("a.b").alias("jb"),
    )
    ham = F.expr(
        "aggregate(zip_with(sa, sb, (x, y) -> bit_count(x ^ y)),"
        " 0, (acc, c) -> acc + c)"
    )
    first_block = _wide_block_expr("sa", "j", n_blocks, limbs, block_bits)
    other = _wide_block_expr("sb", "j", n_blocks, limbs, block_bits)
    min_agree = F.expr(
        f"aggregate(sequence(0, {n_blocks - 1}), -1, (acc, j) -> "
        f"case when acc >= 0 then acc when ({first_block}) = ({other}) "
        "then j else -1 end)"
    )
    return (
        cand.withColumn("hamming", ham)
        .filter(F.col("hamming") <= max_hamming)
        .withColumn("_mb", min_agree)
        .filter(F.col("_mb") == F.col("jb"))
        .select("doc_a", "doc_b", "hamming")
    )
