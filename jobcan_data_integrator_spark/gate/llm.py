"""Training-data-pipeline operators — correctness-gate queries.

Deduplication (exact, MinHash+LSH, SimHash, n-gram Jaccard), similarity
search over embeddings, text analysis (language-ID, quality scoring, token
counting, fingerprinting), and the multimodal binary-column plumbing.

Portability: all hashing is md5-based — ``conv(substr(md5(x),1,15),16,10)``
in Spark == ``('0x'||substr(md5(x),1,15))::BIGINT`` in DuckDB — so Spark
results hash-match the oracle bit-for-bit.  Spark sides stay JVM-side
(higher-order functions, no Python UDFs) except the multimodal stub, which
is deliberately an Arrow-batched ``mapInPandas``.

At 100 TB the shapes here are the scale-correct ones: shingling/minhashing
is a narrow per-row projection (no shuffle); LSH banding turns the O(n²)
pair problem into an equi-join on (band_idx, band_key); candidate
verification joins only the candidate set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from jobcan_data_integrator_spark.gate import gate
from jobcan_data_integrator_spark.gate._common import (
    _BUCKET_CTE,
    _COSINE_DUCK,
    _H,
    _docs,
    _shingle_rows,
)
from jobcan_data_integrator_spark.session import load_table


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@gate(
    "dd_exact_dedup",
    # Doc-level exact dedup (md5 group facts, now per-doc so the former
    # per-group gate rows are strictly derivable) + span-level
    # ExactSubstr dedup: every 8-token window hashed, hashes occurring
    # >1x corpus-wide are duplicates, every occurrence but the global
    # first ((doc_id, pos) minimum, packed as doc_id*2^20+pos) is
    # removed; overlapping/adjacent removals merge gaps-and-islands
    # style so coverage never double-counts a token.
    oracle="""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), base AS (
      SELECT doc_id, md5(text) AS text_md5,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keep_doc_id,
             count(*) OVER (PARTITION BY md5(text)) AS dup_count,
             len(toks) AS n_toks
      FROM t
    ), sp AS (
      SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS pos, toks
      FROM t WHERE len(toks) >= 8
    ), occ AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(toks, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS h
      FROM sp
    ), per_hash AS (
      SELECT h, count(*) AS n_occ, min(doc_id * 1048576 + pos) AS min_key
      FROM occ GROUP BY h
    ), flagged AS (
      SELECT DISTINCT o.doc_id, o.pos
      FROM occ o JOIN per_hash a USING (h)
      WHERE a.n_occ > 1 AND o.doc_id * 1048576 + o.pos <> a.min_key
    ), nspans AS (
      SELECT o.doc_id, count(*) AS n_dup_spans
      FROM occ o JOIN per_hash a USING (h)
      WHERE a.n_occ > 1 AND o.doc_id * 1048576 + o.pos <> a.min_key
      GROUP BY o.doc_id
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM flagged
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ), iv AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
      FROM isl2 GROUP BY doc_id, island
    ), rem AS (
      SELECT doc_id, sum(e - s + 1) AS n_removed FROM iv GROUP BY doc_id
    )
    SELECT b.doc_id, b.text_md5, b.keep_doc_id,
           CAST(b.dup_count AS BIGINT) AS dup_count,
           CAST(coalesce(n.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           CAST(coalesce(r.n_removed, 0) AS BIGINT) AS n_removed_tokens,
           CAST(b.n_toks - coalesce(r.n_removed, 0) AS BIGINT) AS n_kept_tokens
    FROM base b
    LEFT JOIN nspans n ON n.doc_id = b.doc_id
    LEFT JOIN rem r ON r.doc_id = b.doc_id
    """,
    doc="Exact dedup at BOTH granularities in one per-document summary "
    "(operators/dedup.span_dedup_summary): doc-level md5 group facts "
    "(keep_doc_id = group minimum, dup_count = group size — the former "
    "per-group gate rows are derivable by grouping these) plus the "
    "span-level ExactSubstr pass (Lee et al. 2021): 8-token windows "
    "hashed in-row (no shuffle), corpus-wide occurrence counts via one "
    "map-side-combined groupBy on the 60-bit span hash, every non-first "
    "occurrence marked, marked windows merged into maximal intervals "
    "(gaps-and-islands) so n_removed_tokens never double-counts. The "
    "hash-keyed join-back is against the aggregated (distinct-by-hash) "
    "side, so a span shared by millions of documents is ONE build row — "
    "no fan-out, linear in corpus tokens at any scale.",
)
def dd_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.dedup import span_dedup_summary

    return span_dedup_summary(_docs(spark, sf_dir), span=8)


#: universal-hash family (see operators/minhash.py — the ONE
#: implementation shared with the incremental index; these aliases keep
#: the oracle CTE strings below in lockstep with the Spark side).
from jobcan_data_integrator_spark.operators.minhash import (  # noqa: E402
    MH_A as _MH_A,
    MH_B as _MH_B,
    MH_P as _MH_P,
    band_rows as _band_rows,
    candidate_pairs as _candidate_pairs,
    shingle_sizes as _shingle_sizes,
    signature_rows as _signature_rows,
    verify_candidate_pairs as _verify_candidate_pairs,
)


def _sql_arr(vals: list[int]) -> str:
    return "[" + ", ".join(str(v) for v in vals) + "]"


#: shared oracle CTE chain: shingles -> minhash -> bands -> LSH candidate
#: pairs -> exact-Jaccard verification (ends in CTE ``verified``).
_VERIFIED_CTES = f"""toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
    ), shw AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok || ' ' || lead(tok, 1) OVER w || ' '
                                 || lead(tok, 2) OVER w), 1, 15))::BIGINT AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ), sh AS (
      SELECT DISTINCT doc_id, shingle FROM shw
    ), sig AS (
      SELECT doc_id, g.i AS h_idx,
             min(({_sql_arr(_MH_A)}[g.i + 1] * (shingle % {_MH_P})
                  + {_sql_arr(_MH_B)}[g.i + 1]) % {_MH_P}) AS minhash
      FROM shw, generate_series(0, 7) AS g(i)
      GROUP BY doc_id, g.i
    ), bands AS (
      SELECT doc_id, h_idx // 2 AS band_idx,
             md5(string_agg(minhash::VARCHAR, '_' ORDER BY h_idx)) AS band_key
      FROM sig GROUP BY doc_id, h_idx // 2
    ), cands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, count(*) AS n_common
      FROM cands c
      JOIN sh a ON a.doc_id = c.doc_a
      JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
      GROUP BY c.doc_a, c.doc_b
    ), verified AS (
      -- LEFT join from cands: the verified output's row set IS the LSH
      -- candidate set (n_common = 0 for candidates sharing no shingle),
      -- so this one relation proves candidate generation AND the exact-
      -- Jaccard verify stage.
      SELECT c.doc_a, c.doc_b,
             CAST(coalesce(i.n_common, 0) AS BIGINT) AS n_common,
             round(CAST(coalesce(i.n_common, 0) AS DOUBLE)
                   / (sa.n + sb.n - coalesce(i.n_common, 0)), 6) AS jaccard
      FROM cands c
      LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
    )"""




@gate(
    "dd_minhash_signatures",
    oracle=f"""
    WITH {_VERIFIED_CTES}
    SELECT doc_id, CAST(h_idx AS INT) AS h_idx, minhash FROM sig
    """,
    doc="MinHash signatures (k=8) over 3-gram word shingles: one md5 per "
    "shingle reduced mod 2^31-1, then an affine universal-hash family per "
    "slot. Shingles materialize once, the per-(doc,slot) min aggregates "
    "map-side before the shuffle — the linear-cost scale shape.",
)
def dd_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_signature_rows(spark, sf_dir)


def minhash_signature_rows(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = 8,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h_idx int, minhash bigint) — one row per doc per hash fn.

    ``hashed_shingles``: optional (doc_id, shingle bigint) rows carrying
    the 60-bit ``_H`` hash.  When given, the expensive shingle-window
    pipeline is NOT re-run — callers that also need the exact shingle
    sets (the LSH->verify composition) share ONE cached frame between the
    signature path and the verify path instead of paying the window
    twice.  Duplicate (doc, shingle) rows are fine: min() is insensitive.
    """
    if hashed_shingles is None:
        hashed_shingles = _shingle_rows(spark, sf_dir).select(
            "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
        )
    return _signature_rows(hashed_shingles, n_hashes)


def minhash_bands(
    spark: SparkSession,
    sf_dir: str,
    n_hashes: int = 8,
    band_size: int = 2,
    hashed_shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, band_idx, band_key) — LSH banding of the minhash signature."""
    if hashed_shingles is None:
        hashed_shingles = _shingle_rows(spark, sf_dir).select(
            "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
        )
    return _band_rows(hashed_shingles, n_hashes, band_size)


#: hot-shingle document-frequency cap for the exhaustive Jaccard gate —
#: shingles in more docs than this carry no pair-specific signal and are
#: dropped before the self-join (bounds fan-out to _NGRAM_DF_CAP² rows
#: per shingle).
_NGRAM_DF_CAP = 100


@gate(
    "dd_ngram_jaccard_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS ord
      FROM documents
    ), sh0 AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(md5(tok || ' ' || lead(tok, 1) OVER w || ' '
                                 || lead(tok, 2) OVER w), 1, 15))::BIGINT AS shingle
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ), hot AS (
      SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) > {_NGRAM_DF_CAP}
    ), sh AS (
      SELECT * FROM sh0 WHERE shingle NOT IN (SELECT shingle FROM hot)
    ), sizes AS (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
      HAVING count(*) >= 5
    )
    SELECT doc_a, doc_b, n_common,
           round(CAST(n_common AS DOUBLE) / (sa.n + sb.n - n_common), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    """,
    doc="n-gram Jaccard near-dup (operators/dedup.ngram_jaccard_pairs): "
    "distinct 3-gram shingles hashed to 60-bit ints (the join shuffles "
    "8-byte keys, not ~30-byte strings; the hash is the same on both "
    "engines so results match exactly), pair intersection via equi-join "
    "(≥5 shared), |A∩B|/|A∪B|. GUARDED: shingles appearing in more than "
    f"{_NGRAM_DF_CAP} documents are dropped before the self-join "
    "(broadcast anti-join against the tiny hot set), so a boilerplate-"
    "heavy corpus cannot trigger the quadratic blow-up "
    "(tests/test_llm_dedup.py pins the bounded join size). Still the "
    "EXHAUSTIVE-VERIFY variant — at scale prefer dd_lsh_verified_pairs "
    "(exact Jaccard over LSH candidates only).",
)
def dd_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.dedup import ngram_jaccard_pairs

    sh = _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    )
    return ngram_jaccard_pairs(sh, min_common=5, max_doc_freq=_NGRAM_DF_CAP)


@gate(
    "dd_lsh_verified_pairs",
    oracle=f"""
    WITH {_VERIFIED_CTES}
    SELECT doc_a, doc_b, n_common, jaccard FROM verified
    """,
    doc="The SCALE-CORRECT dedup composition: exact n-gram Jaccard computed "
    "ONLY over MinHash-LSH candidate pairs. The broadcast candidate set "
    "prunes the shingle join to |cands|·|shingles-per-doc| rows — linear in "
    "candidates — instead of the unfiltered self-join's quadratic blow-up "
    "on hot shingles (see dd_ngram_jaccard_pairs, the small-corpus "
    "ground-truth variant). This is the verify stage of the standard "
    "MinHash→LSH→exact-Jaccard dedup pipeline at 100 TB. The output row "
    "set is exactly the LSH candidate set (left join; n_common = 0 when a "
    "candidate shares no shingle), so this gate also value-proves the "
    "banded candidate-generation equi-join that was previously the "
    "standalone dd_lsh_candidate_pairs gate.",
)
def dd_lsh_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE pass of the expensive shingle window feeds BOTH the minhash
    # signature path and the exact-Jaccard verify path (the two would
    # otherwise each re-run explode+window over the whole corpus).  The
    # building blocks live in operators/minhash.py — the SAME functions
    # the incremental index uses, which is what makes the
    # dd_incremental_dedup equivalence hold by construction.
    hashed = _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    ).cache()
    bands = _band_rows(hashed).cache()
    # the candidate set feeds the intersection join AND the final left
    # join; it is tiny (that is the point of LSH) — cache it
    cands = _candidate_pairs(bands).cache()
    sh = hashed.distinct().cache()
    return _verify_candidate_pairs(cands, sh, _shingle_sizes(sh))


@gate(
    "dd_dup_clusters",
    # Connected components is engine-independent (min node id per
    # component), so a recursive CTE replays the iterative Spark result
    # exactly: walk = all (node, reachable-start-label) pairs over the
    # symmetric edge set, component id = min reachable label.
    oracle=f"""
    WITH RECURSIVE {_VERIFIED_CTES},
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM verified WHERE jaccard >= 0.5
    ), sym AS (
      SELECT src, dst FROM edges UNION SELECT dst, src FROM edges
    ), nodes AS (
      SELECT DISTINCT src AS doc_id FROM sym
    ), walk(doc_id, label) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT s.dst, w.label FROM walk w JOIN sym s ON s.src = w.doc_id
    )
    SELECT doc_id, min(label) AS cluster_id,
           (doc_id = min(label)) AS keep
    FROM walk GROUP BY doc_id
    """,
    doc="Dedup clustering: the verified near-dup pair graph collapsed into "
    "connected components via min-label propagation (operators/dedup.py) — "
    "each duplicate group gets one canonical keep=true member. Per round: "
    "one edges-x-labels shuffle join + a map-side-partial min groupBy; "
    "near-dup components are tiny (stars/pairs) so 2-3 rounds converge. "
    "This is the pipeline tail that turns pair detection into an actual "
    "deduplicated corpus at 100 TB.",
)
def dd_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.dedup import dup_clusters

    pairs = dd_lsh_verified_pairs(spark, sf_dir).filter(F.col("jaccard") >= 0.5)
    return dup_clusters(pairs)


def _index_root(sf_dir: str) -> str:
    """Scratch root for the incremental-dedup index tables: stable per
    (process, sf_dir) so repeated gate runs overwrite rather than
    accumulate, and concurrent processes never share a store."""
    import hashlib as _hl
    import os as _os
    import tempfile as _tf

    tag = _hl.md5(sf_dir.encode()).hexdigest()[:8]
    return _os.path.join(_tf.gettempdir(), f"jdi-mh-index-{tag}-{_os.getpid()}")


@gate(
    "dd_incremental_dedup",
    oracle=f"""
    WITH {_VERIFIED_CTES}
    SELECT doc_a, doc_b, n_common, jaccard FROM verified
    """,
    doc="Incremental new-vs-corpus dedup (operators/incremental.py): the "
    "corpus (doc_id % 10 < 8) is indexed ONCE — LSH band table, shingle "
    "sets, sizes, and corpus-internal verified pairs persisted via "
    "TableStore — and the increment (the other 20% of docs) is deduped "
    "by joining ONLY against that index: new-vs-corpus candidates from "
    "new_bands ⋈ mh_bands, new-vs-new from the increment's self-join, "
    "verify over candidate docs' shingle sets.  The oracle is the FULL-"
    "corpus pipeline, so a green hash PROVES full ≡ index ∪ increment — "
    "the property that turns per-batch dedup cost from corpus-linear "
    "into increment-linear at 100 TB.  Reference analog: the incremental "
    "outline fetch (api_client.py:521-597) — increments against "
    "persisted state, never full snapshots.",
)
def dd_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.incremental import (
        build_minhash_index,
        dedup_increment,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    hashed = _shingle_rows(spark, sf_dir).select(
        "doc_id", F.expr(_H.format(x="shingle")).alias("shingle")
    ).cache()
    corpus = hashed.filter(F.col("doc_id") % 10 < 8)
    increment = hashed.filter(F.col("doc_id") % 10 >= 8)
    # write_partitions=4: fewer, larger index files win at this SF (the
    # increment path re-reads three of the four tables, and 32 shards per
    # tiny table cost more in scan/write overhead than the coalesce's
    # final-stage task cap costs in parallelism — measured both ways).
    # At warehouse scale leave it None and let AQE size the writes.
    store = TableStore(spark, _index_root(sf_dir), write_partitions=4)
    build_minhash_index(store, corpus)
    inc_pairs = dedup_increment(store, increment)
    return store.read("mh_pairs").unionByName(inc_pairs)


#: SimHash geometry: fingerprint width and pigeonhole block count.  For
#: Hamming <= (n_blocks - 1), a matching pair must agree on at least one
#: whole block, so candidate generation is an equi-join on (block_idx,
#: block_value) with 2^(bits/n_blocks) values per block.  The block-value
#: space is the quadratic-control knob at scale: expected candidate pairs
#: ~ n_blocks * n^2 / 2^(bits/n_blocks), so the fingerprint must WIDEN as
#: the corpus grows (60-bit/15-bit blocks here vs the classic 64-bit;
#: 60 = what one md5-derived bigint carries portably on both engines).
_SH_BITS = 60
_SH_BLOCKS = 4
_SH_BLOCK_BITS = _SH_BITS // _SH_BLOCKS

@gate(
    "dd_simhash",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ), bits AS (
      SELECT doc_id, g.j AS j,
             CASE WHEN sum(((h >> CAST(g.j AS INT)) & 1) * 2 - 1) > 0
                  THEN (1::BIGINT << CAST(g.j AS INT)) ELSE 0 END AS bitval
      FROM th, generate_series(0, {_SH_BITS - 1}) AS g(j)
      GROUP BY doc_id, g.j
    )
    SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
    FROM bits GROUP BY doc_id
    """,
    doc=f"SimHash ({_SH_BITS}-bit) over word tokens: per-bit signed vote of "
    "the token hash bits, majority sign \u2192 fingerprint bit. Computed "
    "per-row with nested higher-order aggregates \u2014 zero shuffle. The "
    "width is a scale knob: wider fingerprints buy exponentially more "
    "pigeonhole block values for the pairing join (see dd_simhash_pairs).",
)
def dd_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_signatures(spark, sf_dir)


def _simhash_signatures(
    spark: SparkSession, sf_dir: str, bits: int = _SH_BITS
) -> DataFrame:
    """(doc_id, simhash): ``bits``-wide per-row fingerprint, zero shuffle
    (bits <= 60: one md5-derived 60-bit token hash feeds every vote)."""
    docs = _docs(spark, sf_dir).withColumn("toks", F.split(F.col("text"), " "))
    h = _H.format(x="t")
    docs = docs.withColumn("hashes", F.expr(f"transform(toks, t -> {h})"))
    fp = F.expr(
        f"aggregate(sequence(0, {bits - 1}), 0L, (acc, j) -> acc +"
        " case when aggregate(hashes, 0L,"
        "        (a, h) -> a + (pmod(shiftright(h, j), 2) * 2 - 1)) > 0"
        "      then shiftleft(1L, j) else 0L end)"
    )
    return docs.select("doc_id", fp.alias("simhash"))


#: the simhash signature as a DuckDB CTE chain (shared by two oracles)
_SIMHASH_CTE = f"""
    toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), th AS (
      SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
    ), bits AS (
      SELECT doc_id, g.j AS j,
             CASE WHEN sum(((h >> CAST(g.j AS INT)) & 1) * 2 - 1) > 0
                  THEN (1::BIGINT << CAST(g.j AS INT)) ELSE 0 END AS bitval
      FROM th, generate_series(0, {_SH_BITS - 1}) AS g(j)
      GROUP BY doc_id, g.j
    ), sig AS (
      SELECT doc_id, CAST(sum(bitval) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )"""


@gate(
    "dd_simhash_pairs",
    oracle=f"""
    WITH {_SIMHASH_CTE}, blocks AS (
      SELECT doc_id, simhash,
             g.b AS b, (simhash >> CAST({_SH_BLOCK_BITS} * g.b AS INT))
                       & {(1 << _SH_BLOCK_BITS) - 1} AS block_val
      FROM sig, generate_series(0, {_SH_BLOCKS - 1}) AS g(b)
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.simhash AS sa, b.simhash AS sb
      FROM blocks a JOIN blocks b
        ON a.b = b.b AND a.block_val = b.block_val AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {_SH_BLOCKS - 1}
    """,
    doc=f"SimHash near-dup pairs via the pigeonhole block-join: the "
    f"{_SH_BITS}-bit fingerprint splits into {_SH_BLOCKS} blocks of "
    f"{_SH_BLOCK_BITS} bits, and any pair within Hamming distance "
    f"{_SH_BLOCKS - 1} must agree on at least one whole block — so "
    "candidates are an equi-join on (block_idx, block_value) instead of "
    "an O(n²) scan, then the exact Hamming filter. Block-value "
    f"cardinality (2^{_SH_BLOCK_BITS} per block) is what bounds the "
    "within-bucket quadratic term at scale — the round-2 8-bit blocks "
    "(256 values) would melt at corpus sizes where n/256 is large; "
    "widen the fingerprint further as n grows. The signature is "
    "computed once (cached; persisted at ingest in a real deployment).",
)
def dd_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # block/pair building blocks live in operators/simhash.py.  Runs
    # the WIDTH-GENERIC (multi-long) implementation at limbs=1 — the
    # limb-0 fingerprint is the single-long signature bit-for-bit and
    # the pair set {hamming ≤ n_blocks−1} is geometry-determined, so the
    # DuckDB oracle pins the wide code path that corpora past single-
    # long saturation need.
    from jobcan_data_integrator_spark.operators.simhash import (
        block_rows_wide,
        near_dup_pairs_wide,
    )

    sig = _simhash_signatures(spark, sf_dir).withColumn(
        "simhash", F.array("simhash")
    ).cache()
    blocks = block_rows_wide(
        sig, n_blocks=_SH_BLOCKS, limbs=1, block_bits=_SH_BLOCK_BITS
    )
    return near_dup_pairs_wide(
        blocks, n_blocks=_SH_BLOCKS, limbs=1, block_bits=_SH_BLOCK_BITS
    )


# ---------------------------------------------------------------------------
# Similarity search (embeddings)
# ---------------------------------------------------------------------------


@gate(
    "sim_cosine_topk",
    oracle="""
    WITH q AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id < 5
    ), c AS (
      SELECT vec_id, embedding::DOUBLE[] AS c_emb FROM embeddings
    ), sims AS (
      SELECT q.q_id, c.vec_id,
             round(
               list_sum(list_transform(list_zip(q_emb, c_emb), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(q_emb, x -> x * x)))
                  * sqrt(list_sum(list_transform(c_emb, x -> x * x)))), 6) AS cosine_sim
      FROM q, c WHERE c.vec_id <> q.q_id
    )
    SELECT q_id, vec_id, cosine_sim FROM sims
    QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) <= 10
    """,
    doc="Brute-force cosine top-k ANN baseline: broadcast the query vectors, "
    "JVM-side zip_with dot product in double precision, per-query window "
    "top-k. Ranking uses the 6-dp-rounded similarity with vec_id tiebreak "
    "so the cut is deterministic across engines. The LSH-bucketed scale "
    "path lives in operators/similarity.py.",
)
def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dot = (
        "aggregate(zip_with(q_emb, c_emb, (x, y) -> cast(x as double) * cast(y as double)),"
        " 0D, (acc, v) -> acc + v)"
    )
    norm = "sqrt(aggregate(transform({e}, x -> cast(x as double) * cast(x as double)), 0D, (acc, v) -> acc + v))"
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn(
            "cosine_sim",
            F.round(
                F.expr(dot)
                / (F.expr(norm.format(e="q_emb")) * F.expr(norm.format(e="c_emb"))),
                6,
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select("q_id", "vec_id", "cosine_sim")
    )


#: probe buckets per query (vec_id < 5): own bucket + flips of the 2
#: lowest-|margin| planes — DuckDB replica of lsh_probe_buckets_expr.
_PROBES_CTE = """
    probes AS (
      SELECT vec_id, bucket AS probe FROM buckets WHERE vec_id < 5
      UNION ALL
      SELECT vec_id, probe FROM (
        SELECT d.vec_id,
               xor(b.bucket, 1::BIGINT << CAST(d.p AS INT)) AS probe,
               row_number() OVER (PARTITION BY d.vec_id
                                  ORDER BY abs(d.s), d.p) AS rn
        FROM dots d JOIN buckets b USING (vec_id)
        WHERE d.vec_id < 5) t
      WHERE rn <= 2
    )"""

_MULTIPROBE_SIMS = f"""
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    sims AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             {_COSINE_DUCK.format(a="vq.emb", b="vc.emb")} AS cosine_sim
      FROM probes q
      JOIN buckets c ON c.bucket = q.probe AND c.vec_id <> q.vec_id
      JOIN v vq ON vq.vec_id = q.vec_id
      JOIN v vc ON vc.vec_id = c.vec_id
    )"""


@gate(
    "sim_ann_lsh_topk",
    oracle=f"""
    WITH {_BUCKET_CTE},
    {_PROBES_CTE},
    {_MULTIPROBE_SIMS},
    ssims AS (
      SELECT q.vec_id AS q_id, c.vec_id,
             {_COSINE_DUCK.format(a="vq.emb", b="vc.emb")} AS cosine_sim
      FROM buckets q
      JOIN buckets c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id
      JOIN v vq ON vq.vec_id = q.vec_id
      JOIN v vc ON vc.vec_id = c.vec_id
      WHERE q.vec_id < 5
    ), s AS (
      SELECT 'single' AS probe_mode, q_id, vec_id, cosine_sim FROM ssims
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) <= 5
    ), m AS (
      SELECT 'multi' AS probe_mode, q_id, vec_id, cosine_sim FROM sims
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) <= 5
    )
    SELECT probe_mode, q_id, vec_id, cosine_sim FROM s
    UNION ALL
    SELECT probe_mode, q_id, vec_id, cosine_sim FROM m
    """,
    doc="ANN scale path, both probe strategies in one gate (probe_mode "
    "column): random-hyperplane LSH buckets (deterministic integer-"
    "quantized hyperplanes), candidates = same-bucket equi-join, exact "
    "cosine re-rank, per-query top-5. 'single' probes only the query's "
    "own bucket (the 100 TB shape: bucket computed at ingest, probes "
    "touch one bucket); 'multi' additionally probes the 2 buckets across "
    "the query's weakest hyperplanes (smallest |integer dot|), recovering "
    "boundary-loss recall at 3x query-side probe cost and zero extra cost "
    "on the big candidate side. Deterministic probe order (|margin|, "
    "plane) so the oracle replays both variants exactly.",
)
def sim_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.similarity import (
        ann_topk_lsh,
        ann_topk_lsh_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    single = ann_topk_lsh(emb, queries, k=5).select(
        F.lit("single").alias("probe_mode"), "q_id", "vec_id", "cosine_sim"
    )
    multi = ann_topk_lsh_multiprobe(emb, queries, k=5, n_probe=3).select(
        F.lit("multi").alias("probe_mode"), "q_id", "vec_id", "cosine_sim"
    )
    return single.unionByName(multi)


@gate(
    "sim_ann_recall",
    oracle=f"""
    WITH {_BUCKET_CTE},
    {_PROBES_CTE},
    {_MULTIPROBE_SIMS},
    ann AS (
      SELECT q_id, vec_id FROM sims
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) <= 5
    ), tsims AS (
      SELECT vq.vec_id AS q_id, vc.vec_id,
             {_COSINE_DUCK.format(a="vq.emb", b="vc.emb")} AS cosine_sim
      FROM v vq, v vc
      WHERE vq.vec_id < 5 AND vc.vec_id <> vq.vec_id
    ), truth AS (
      SELECT q_id, vec_id FROM tsims
      QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cosine_sim DESC, vec_id) <= 5
    )
    SELECT t.q_id, CAST(count(a.vec_id) AS BIGINT) AS n_hit,
           round(count(a.vec_id) / count(*), 6) AS recall
    FROM truth t
    LEFT JOIN ann a ON a.q_id = t.q_id AND a.vec_id = t.vec_id
    GROUP BY t.q_id
    """,
    doc="ANN quality gate: recall@5 of the multi-probe LSH result against "
    "the exact brute-force top-5 — the metric that makes a recall cliff "
    "visible instead of silent. Value-checked per query against the "
    "DuckDB replica; tests/test_similarity_kmeans.py asserts multi-probe "
    "recall >= single-probe recall.",
)
def sim_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.similarity import (
        ann_recall_at_k,
        ann_topk_lsh_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    queries = emb.filter(F.col("vec_id") < 5)
    ann = ann_topk_lsh_multiprobe(emb, queries, k=5, n_probe=3)
    truth = _brute_topk(emb, queries, k=5)
    return ann_recall_at_k(ann, truth, k=5)


def _brute_topk(emb: DataFrame, queries: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k (the sim_cosine_topk shape, parameterized)."""
    from jobcan_data_integrator_spark.operators.similarity import cosine_expr

    q = queries.select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"))
    c = emb.select("vec_id", F.col("embedding").alias("c_emb"))
    sims = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .withColumn("cosine_sim", cosine_expr("q_emb", "c_emb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine_sim").desc(), F.col("vec_id"))
    return (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("q_id", "vec_id", "cosine_sim")
    )


@gate(
    "dd_embedding_cosine_pairs",
    # Two candidate-generation strategies for the same near-dup problem,
    # method-tagged in one result: 'lsh_bucket' = random-hyperplane
    # buckets (the _BUCKET_CTE replica); 'semdedup_cell' = SemDeDup
    # (Abbas et al. 2023) — pairs scoped to trained k-means cells.  The
    # k-prefixed CTEs unroll the SAME 2-iteration integer Lloyd training
    # as the sim_ivf_train_kmeans oracle, then ka3 assigns every vector
    # to the FINAL codebook (what train_ivf_centroids returns).
    oracle=f"""
    WITH {_BUCKET_CTE},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    ke AS (
      SELECT vec_id, list_transform(embedding::DOUBLE[],
                                    x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), kc0 AS (
      SELECT vec_id AS cell_id, q AS cq FROM ke WHERE vec_id < 16
    ), kd1 AS (
      SELECT ke.vec_id, c.cell_id,
             list_sum(list_transform(list_zip(ke.q, c.cq), p -> p[1] * p[2])) AS dot
      FROM ke, kc0 c
    ), ka1 AS (
      SELECT vec_id, cell_id FROM kd1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell_id) = 1
    ), km1 AS (
      SELECT a.cell_id, generate_subscripts(ke.q, 1) - 1 AS d, unnest(ke.q) AS c
      FROM ka1 a JOIN ke ON ke.vec_id = a.vec_id
    ), kc1 AS (
      SELECT cell_id, list(CAST(floor(s / n) AS BIGINT) ORDER BY d) AS cq
      FROM (SELECT cell_id, d, sum(c) AS s, count(*) AS n
            FROM km1 GROUP BY cell_id, d) t1
      GROUP BY cell_id
    ), kd2 AS (
      SELECT ke.vec_id, c.cell_id,
             list_sum(list_transform(list_zip(ke.q, c.cq), p -> p[1] * p[2])) AS dot
      FROM ke, kc1 c
    ), ka2 AS (
      SELECT vec_id, cell_id FROM kd2
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell_id) = 1
    ), km2 AS (
      SELECT a.cell_id, generate_subscripts(ke.q, 1) - 1 AS d, unnest(ke.q) AS c
      FROM ka2 a JOIN ke ON ke.vec_id = a.vec_id
    ), kc2 AS (
      SELECT cell_id, list(CAST(floor(s / n) AS BIGINT) ORDER BY d) AS cq
      FROM (SELECT cell_id, d, sum(c) AS s, count(*) AS n
            FROM km2 GROUP BY cell_id, d) t2
      GROUP BY cell_id
    ), kd3 AS (
      SELECT ke.vec_id, c.cell_id,
             list_sum(list_transform(list_zip(ke.q, c.cq), p -> p[1] * p[2])) AS dot
      FROM ke, kc2 c
    ), ka3 AS (
      SELECT vec_id, cell_id FROM kd3
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell_id) = 1
    ),
    lsh_pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_COSINE_DUCK.format(a="va.emb", b="vb.emb")} AS cosine_sim
      FROM buckets a
      JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
    ),
    sem_pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_COSINE_DUCK.format(a="va.emb", b="vb.emb")} AS cosine_sim
      FROM ka3 a
      JOIN ka3 b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
      JOIN v va ON va.vec_id = a.vec_id
      JOIN v vb ON vb.vec_id = b.vec_id
    )
    SELECT 'lsh_bucket' AS method, vec_a, vec_b, cosine_sim
    FROM lsh_pairs WHERE cosine_sim >= 0.3
    UNION ALL
    SELECT 'semdedup_cell' AS method, vec_a, vec_b, cosine_sim
    FROM sem_pairs WHERE cosine_sim >= 0.3
    """,
    doc="Embedding-cosine near-dup, BOTH candidate-generation strategies "
    "method-tagged in one gate: 'lsh_bucket' = random-hyperplane bucket "
    "pre-filter (operators/similarity.embedding_near_dup_pairs), "
    "'semdedup_cell' = SemDeDup-style trained-k-means-cell scoping "
    "(semantic_near_dup_pairs; Abbas et al. 2023) over the SAME "
    "2-iteration integer-Lloyd codebook the sim_ivf_train_kmeans gate "
    "proves. Both shapes turn O(n^2) cosine into a partition-scoped "
    "equi-self-join; exact cosine then gates at the threshold. Synthetic "
    "embeddings are near-orthogonal, so the gate cut is 0.3 (real "
    "corpora use ~0.95); the plan shapes are identical.",
)
def dd_embedding_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.similarity import (
        embedding_near_dup_pairs,
        semantic_near_dup_pairs,
    )

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    lsh = embedding_near_dup_pairs(emb, threshold=0.3).withColumn(
        "method", F.lit("lsh_bucket")
    )
    # target_cell_size/train_cap are the paper's cells-grow-with-corpus
    # stance: at the oracle SF (500 vectors) they resolve to exactly
    # n_cells=16 trained on every vector — the unrolled CTE rounds —
    # while a 10x corpus gets 10x the cells (constant cell population,
    # linear pair join) and a capped training sample
    sem = semantic_near_dup_pairs(
        emb,
        n_cells=16,
        iters=2,
        threshold=0.3,
        target_cell_size=312,
        train_cap=2048,
    ).withColumn("method", F.lit("semdedup_cell"))
    return lsh.unionByName(sem).select("method", "vec_a", "vec_b", "cosine_sim")


@gate(
    "sim_ann_ivf_topk",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS emb,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), cent AS (
      SELECT vec_id AS cell_id, q AS cq FROM e WHERE vec_id < 16
    ), dots AS (
      SELECT e.vec_id, cent.cell_id,
             list_sum(list_transform(list_zip(e.q, cent.cq),
                                     p -> p[1] * p[2])) AS dot
      FROM e, cent
    ), assign AS (
      SELECT vec_id, cell_id FROM dots
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell_id) = 1
    ), probe AS (
      SELECT vec_id AS q_id, cell_id FROM dots WHERE vec_id < 5
      QUALIFY row_number() OVER (PARTITION BY vec_id
                                 ORDER BY dot DESC, cell_id) <= 2
    ), sims AS (
      SELECT p.q_id, a.vec_id,
             round(
               list_sum(list_transform(list_zip(eq.emb, ec.emb), p -> p[1] * p[2]))
               / (sqrt(list_sum(list_transform(eq.emb, x -> x * x)))
                  * sqrt(list_sum(list_transform(ec.emb, x -> x * x)))), 6) AS cosine_sim
      FROM probe p
      JOIN assign a ON a.cell_id = p.cell_id AND a.vec_id <> p.q_id
      JOIN e eq ON eq.vec_id = p.q_id
      JOIN e ec ON ec.vec_id = a.vec_id
    )
    SELECT q_id, vec_id, cosine_sim FROM sims
    QUALIFY row_number() OVER (PARTITION BY q_id
                               ORDER BY cosine_sim DESC, vec_id) <= 5
    """,
    doc="IVF-flat ANN: deterministic coarse quantizer (seed centroids, "
    "integer-quantized inner-product argmax), queries probe their 2 best of "
    "16 cells, exact double-cosine re-rank, per-query top-5. The scale shape "
    "that complements the LSH path: cell assigned at ingest, table "
    "clustered by cell, probes read n_probe/n_cells of the data.",
)
def sim_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.similarity import ann_topk_ivf

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ann_topk_ivf(emb, emb.filter(F.col("vec_id") < 5), k=5, n_cells=16, n_probe=2)


@gate(
    "sim_ivf_train_kmeans",
    # Two Lloyd iterations unroll into two CTE rounds: assign = argmax
    # integer dot (QUALIFY row_number), update = floor(sum/count) per
    # (cell, dim).  All-integer math (the one double division inside
    # floor is exact below 2^53), so DuckDB replays Spark bit-for-bit.
    # tests/test_similarity_kmeans.py additionally pins a NumPy replica.
    oracle="""
    WITH e AS (
      SELECT vec_id,
             list_transform(embedding::DOUBLE[],
                            x -> CAST(floor(x * 1000) AS BIGINT)) AS q
      FROM embeddings
    ), cent0 AS (
      SELECT vec_id AS cell_id, q AS cq FROM e WHERE vec_id < 16
    ), dots1 AS (
      SELECT e.vec_id, c.cell_id,
             list_sum(list_transform(list_zip(e.q, c.cq), p -> p[1] * p[2])) AS dot
      FROM e, cent0 c
    ), assign1 AS (
      SELECT vec_id, cell_id FROM dots1
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell_id) = 1
    ), mem1 AS (
      SELECT a.cell_id, generate_subscripts(e.q, 1) - 1 AS d, unnest(e.q) AS v
      FROM assign1 a JOIN e ON e.vec_id = a.vec_id
    ), cent1 AS (
      SELECT cell_id, list(CAST(floor(s / n) AS BIGINT) ORDER BY d) AS cq
      FROM (SELECT cell_id, d, sum(v) AS s, count(*) AS n
            FROM mem1 GROUP BY cell_id, d) t1
      GROUP BY cell_id
    ), dots2 AS (
      SELECT e.vec_id, c.cell_id,
             list_sum(list_transform(list_zip(e.q, c.cq), p -> p[1] * p[2])) AS dot
      FROM e, cent1 c
    ), assign2 AS (
      SELECT vec_id, cell_id FROM dots2
      QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, cell_id) = 1
    ), mem2 AS (
      SELECT a.cell_id, generate_subscripts(e.q, 1) - 1 AS d, unnest(e.q) AS v
      FROM assign2 a JOIN e ON e.vec_id = a.vec_id
    ), cent2 AS (
      SELECT cell_id, CAST(sum(c) AS BIGINT) AS centroid_checksum
      FROM (SELECT cell_id, d, CAST(floor(sum(v) / count(*)) AS BIGINT) AS c
            FROM mem2 GROUP BY cell_id, d) t2
      GROUP BY cell_id
    ), sizes AS (
      SELECT cell_id, count(*) AS n_members FROM assign2 GROUP BY cell_id
    )
    SELECT s.cell_id, s.n_members, c.centroid_checksum
    FROM sizes s JOIN cent2 c USING (cell_id)
    """,
    doc="IVF codebook training: 2 Lloyd iterations over integer-quantized "
    "embeddings (argmax-dot assign, floor-mean update) — all-integer math, "
    "so the result is bit-stable under any partitioning. Output is the "
    "per-cell member count + centroid checksum. Per iteration: one "
    "broadcast score pass + one (cell, dim)-keyed shuffle that partial-"
    "aggregates to 16x64 groups regardless of corpus size.",
)
def sim_ivf_train_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.similarity import ivf_codebook_stats

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return ivf_codebook_stats(emb, n_cells=16, iters=2)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------

_STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "von"],
    "es": ["el", "la", "de", "y", "es", "que"],
    "fr": ["le", "la", "de", "et", "est", "que"],
}


def _sql_list(words: list[str]) -> str:
    return ", ".join(f"'{w}'" for w in words)


@gate(
    "tx_lang_id",
    # The CCNet pair (Wenzek et al. 2020): language-ID + the perplexity
    # of a Stupid-Backoff trigram LM (Brants et al. 2007) trained on the
    # even-doc_id half (the "trusted corpus") and scoring ALL documents.
    # The q/sc CTEs replay operators/lm.py's integer micro-log contract:
    # log10 is evaluated ONLY at positive-integer counts and quantized to
    # round(log10(c)*10000) BIGINTs, backoff multipliers are the integer
    # constant -3979 (= round(log10(0.4)*1e4)), per-doc sums are exact
    # integer math — so DuckDB replays the score bit-for-bit (same "no
    # float transcendentals on float data" stance as the classifier gate).
    oracle=f"""
    WITH ls AS (
      SELECT doc_id,
             len(string_split(text, ' ')) AS n_toks,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["en"])}], t))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["de"])}], t))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["es"])}], t))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["fr"])}], t))) AS s_fr
      FROM documents
    ), toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) AS pos
      FROM documents
    ), grams AS (
      SELECT doc_id, pos, tok AS w1,
             lead(tok, 1) OVER w AS w2, lead(tok, 2) OVER w AS w3
      FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), uni AS (
      SELECT ('0x'||substr(md5(w1),1,15))::BIGINT AS h, count(*) AS c
      FROM grams WHERE doc_id % 2 = 0 GROUP BY 1
    ), bi AS (
      SELECT ('0x'||substr(md5(w1||' '||w2),1,15))::BIGINT AS h, count(*) AS c
      FROM grams WHERE doc_id % 2 = 0 AND w2 IS NOT NULL GROUP BY 1
    ), tri AS (
      SELECT ('0x'||substr(md5(w1||' '||w2||' '||w3),1,15))::BIGINT AS h,
             count(*) AS c
      FROM grams WHERE doc_id % 2 = 0 AND w3 IS NOT NULL GROUP BY 1
    ), tot AS (
      SELECT count(*) AS n_tokens,
             count(DISTINCT ('0x'||substr(md5(w1),1,15))::BIGINT) AS n_vocab
      FROM grams WHERE doc_id % 2 = 0
    ), keyed AS (
      SELECT doc_id,
             ('0x'||substr(md5(w1||' '||w2||' '||w3),1,15))::BIGINT AS t_h,
             ('0x'||substr(md5(w1||' '||w2),1,15))::BIGINT AS b12_h,
             ('0x'||substr(md5(w2||' '||w3),1,15))::BIGINT AS b23_h,
             ('0x'||substr(md5(w2),1,15))::BIGINT AS u2_h,
             ('0x'||substr(md5(w3),1,15))::BIGINT AS u3_h
      FROM grams WHERE w3 IS NOT NULL
    ), pdt AS (
      SELECT doc_id, t_h, b12_h, b23_h, u2_h, u3_h, count(*) AS n
      FROM keyed GROUP BY ALL
    ), sc AS (
      SELECT d.t_h, d.b12_h, d.b23_h, d.u2_h, d.u3_h,
             CASE
               WHEN t.c IS NOT NULL THEN
                 CAST(round(log10(CAST(t.c AS DOUBLE)) * 10000) AS BIGINT)
                 - CAST(round(log10(CAST(b12.c AS DOUBLE)) * 10000) AS BIGINT)
               WHEN b23.c IS NOT NULL THEN
                 -3979
                 + CAST(round(log10(CAST(b23.c AS DOUBLE)) * 10000) AS BIGINT)
                 - CAST(round(log10(CAST(u2.c AS DOUBLE)) * 10000) AS BIGINT)
               ELSE
                 -7958
                 + CAST(round(log10(CAST(coalesce(u3.c, 0) + 1 AS DOUBLE))
                              * 10000) AS BIGINT)
                 - CAST(round(log10(CAST(tot.n_tokens + tot.n_vocab AS DOUBLE))
                              * 10000) AS BIGINT)
             END AS q
      FROM (SELECT DISTINCT t_h, b12_h, b23_h, u2_h, u3_h FROM pdt) d
      LEFT JOIN tri t ON t.h = d.t_h
      LEFT JOIN bi b12 ON b12.h = d.b12_h
      LEFT JOIN bi b23 ON b23.h = d.b23_h
      LEFT JOIN uni u2 ON u2.h = d.u2_h
      LEFT JOIN uni u3 ON u3.h = d.u3_h
      CROSS JOIN tot
    ), agg AS (
      SELECT p.doc_id, CAST(sum(p.n) AS BIGINT) AS n_scored,
             sum(sc.q * p.n) AS sum_q
      FROM pdt p
      JOIN sc USING (t_h, b12_h, b23_h, u2_h, u3_h)
      GROUP BY p.doc_id
    )
    SELECT ls.doc_id,
           CASE WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                ELSE 'en' END AS predicted_lang,
           round(CAST(s_en AS DOUBLE) / n_toks, 6) AS en_stopword_ratio,
           CAST(coalesce(a.n_scored, 0) AS BIGINT) AS n_scored,
           CAST(floor(CAST(a.sum_q AS DOUBLE) * 100.0 / a.n_scored)
                AS BIGINT) / 1000000.0 AS avg_logprob,
           CASE
             WHEN a.n_scored IS NULL THEN NULL
             WHEN CAST(floor(CAST(a.sum_q AS DOUBLE) * 100.0 / a.n_scored)
                  AS BIGINT) / 1000000.0 >= -1.0 THEN 'head'
             WHEN CAST(floor(CAST(a.sum_q AS DOUBLE) * 100.0 / a.n_scored)
                  AS BIGINT) / 1000000.0 >= -1.5 THEN 'middle'
             ELSE 'tail'
           END AS ppl_bucket
    FROM ls LEFT JOIN agg a ON a.doc_id = ls.doc_id
    """,
    doc="CCNet-style corpus-quality pair: language-ID (per-language "
    "stopword hit-rate, argmax with fixed en>de>es>fr tiebreak — narrow, "
    "no shuffle) + per-document perplexity under a distributed Stupid-"
    "Backoff trigram LM (operators/lm.py) trained on the even-doc_id "
    "half and scoring every document, with the head/middle/tail bucket "
    "split. LM training is three map-side-combined groupBys on 60-bit "
    "n-gram hashes; scoring scores each DISTINCT trigram once (joins "
    "between aggregated count tables) and joins doc trigrams — "
    "pre-aggregated to (doc, trigram, n) — on the 8-byte keys. Scores "
    "are integer micro-log units (log10 only of integer counts, "
    "quantized; backoff 0.4 is the constant -3979), so sums are exact "
    "under any partitioning and DuckDB replays bit-for-bit.",
)
def tx_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.lm import (
        perplexity,
        train_ngram_lm,
    )

    docs = _docs(spark, sf_dir)
    lm = train_ngram_lm(docs.filter(F.col("doc_id") % 2 == 0))
    lang = _with_lang(docs).select(
        "doc_id",
        "predicted_lang",
        F.round(F.col("s_en").cast("double") / F.size("toks"), 6).alias(
            "en_stopword_ratio"
        ),
    )
    return lang.join(perplexity(docs, lm), "doc_id")


@gate(
    "tx_quality_score",
    # The g/w CTE rounds unroll operators/classifier.py's 2-step
    # integer-quantized gradient descent: step 1's link value is exactly
    # 0.5 (zero weights), per-row gradients quantize to floor(g*1e9)
    # BIGINTs (exact sums under any partitioning), the weight update and
    # the fast-sigmoid link are fixed-operand-order double arithmetic
    # (no exp — its last ulp differs per libm), so DuckDB replays the
    # training bit-for-bit.
    oracle=f"""
    WITH t AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks FROM documents
    ), bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(toks)),
                                   i -> toks[i] || ' ' || toks[i + 1])) AS bg
      FROM t
    ), cnt AS (
      SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
    ), top AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
      FROM cnt GROUP BY doc_id
    ), feat AS (
    SELECT t.doc_id,
           len(toks) AS n_tokens,
           length(text) AS n_chars_actual,
           CAST(length(text) AS DOUBLE) / len(toks) AS avg_token_len,
           CAST(len(list_filter(toks,
                     tok -> list_contains([{_sql_list(_STOPWORDS["en"])}], tok))) AS DOUBLE)
                 / len(toks) AS stopword_ratio,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks)
             AS distinct_token_ratio,
           coalesce(top.top_bigram_frac, 0.0) AS top_bigram_frac,
           (coalesce(top.top_bigram_frac, 0.0) > 0.2
            OR CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.5)
             AS repetition_flag,
           0.4 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
                 + 0.3 * (CAST(len(list_filter(toks,
                          tok -> list_contains([{_sql_list(_STOPWORDS["en"])}], tok))) AS DOUBLE)
                          / len(toks))
                 + 0.3 * least(CAST(length(text) AS DOUBLE) / 500, 1.0) AS quality_score,
           1.0 AS x0,
           least(CAST(len(toks) AS DOUBLE) / 100, 1.0) AS x1,
           CAST(len(list_filter(toks,
                tok -> list_contains([{_sql_list(_STOPWORDS["en"])}], tok))) AS DOUBLE)
                / len(toks) AS x2,
           least(CAST(length(text) AS DOUBLE) / 500, 1.0) AS x3,
           CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS x4,
           CASE WHEN NOT (coalesce(top.top_bigram_frac, 0.0) > 0.2
                          OR CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) < 0.5)
                     AND (0.4 * least(CAST(len(toks) AS DOUBLE) / 100, 1.0)
                          + 0.3 * (CAST(len(list_filter(toks,
                              tok -> list_contains([{_sql_list(_STOPWORDS["en"])}], tok))) AS DOUBLE)
                              / len(toks))
                          + 0.3 * least(CAST(length(text) AS DOUBLE) / 500, 1.0)) >= 0.5
                THEN 1.0 ELSE 0.0 END AS y
    FROM t LEFT JOIN top ON t.doc_id = top.doc_id
    ), g1 AS (
      SELECT count(*) AS n,
             sum(CAST(floor(((0.5 - y) * x0) * 1000000000.0) AS BIGINT)) AS s0,
             sum(CAST(floor(((0.5 - y) * x1) * 1000000000.0) AS BIGINT)) AS s1,
             sum(CAST(floor(((0.5 - y) * x2) * 1000000000.0) AS BIGINT)) AS s2,
             sum(CAST(floor(((0.5 - y) * x3) * 1000000000.0) AS BIGINT)) AS s3,
             sum(CAST(floor(((0.5 - y) * x4) * 1000000000.0) AS BIGINT)) AS s4
      FROM feat
    ), w1 AS (
      SELECT 0.0 - (0.05 * (CAST(s0 AS DOUBLE) / (n * 1000000000.0))) AS w0,
             0.0 - (0.05 * (CAST(s1 AS DOUBLE) / (n * 1000000000.0))) AS w1,
             0.0 - (0.05 * (CAST(s2 AS DOUBLE) / (n * 1000000000.0))) AS w2,
             0.0 - (0.05 * (CAST(s3 AS DOUBLE) / (n * 1000000000.0))) AS w3,
             0.0 - (0.05 * (CAST(s4 AS DOUBLE) / (n * 1000000000.0))) AS w4
      FROM g1
    ), p2 AS (
      SELECT f.*,
             0.5 + (((((((w.w0 * f.x0) + (w.w1 * f.x1)) + (w.w2 * f.x2))
                       + (w.w3 * f.x3)) + (w.w4 * f.x4)))
                    / (2.0 * (1.0 + abs((((((w.w0 * f.x0) + (w.w1 * f.x1))
                       + (w.w2 * f.x2)) + (w.w3 * f.x3)) + (w.w4 * f.x4)))))) AS p
      FROM feat f, w1 w
    ), g2 AS (
      SELECT count(*) AS n,
             sum(CAST(floor(((p - y) * x0) * 1000000000.0) AS BIGINT)) AS s0,
             sum(CAST(floor(((p - y) * x1) * 1000000000.0) AS BIGINT)) AS s1,
             sum(CAST(floor(((p - y) * x2) * 1000000000.0) AS BIGINT)) AS s2,
             sum(CAST(floor(((p - y) * x3) * 1000000000.0) AS BIGINT)) AS s3,
             sum(CAST(floor(((p - y) * x4) * 1000000000.0) AS BIGINT)) AS s4
      FROM p2
    ), w2 AS (
      SELECT w1.w0 - (0.05 * (CAST(g2.s0 AS DOUBLE) / (g2.n * 1000000000.0))) AS w0,
             w1.w1 - (0.05 * (CAST(g2.s1 AS DOUBLE) / (g2.n * 1000000000.0))) AS w1,
             w1.w2 - (0.05 * (CAST(g2.s2 AS DOUBLE) / (g2.n * 1000000000.0))) AS w2,
             w1.w3 - (0.05 * (CAST(g2.s3 AS DOUBLE) / (g2.n * 1000000000.0))) AS w3,
             w1.w4 - (0.05 * (CAST(g2.s4 AS DOUBLE) / (g2.n * 1000000000.0))) AS w4
      FROM w1, g2
    ), fin AS (
      SELECT f.*,
             (((((w.w0 * f.x0) + (w.w1 * f.x1)) + (w.w2 * f.x2))
               + (w.w3 * f.x3)) + (w.w4 * f.x4)) AS z
      FROM feat f, w2 w
    )
    SELECT doc_id, n_tokens, n_chars_actual, avg_token_len, stopword_ratio,
           distinct_token_ratio, top_bigram_frac, repetition_flag,
           quality_score, y AS classifier_label,
           0.5 + (z / (2.0 * (1.0 + abs(z)))) AS classifier_score
    FROM fin
    """,
    doc="Quality scoring: length/stopword-ratio composite plus the "
    "Gopher-style REPETITION signals (Rae et al. 2021 §A1.1: repetitious "
    "documents are low-quality training data) — distinct-token ratio and "
    "top-bigram fraction (most frequent 2-gram's share of all 2-grams), "
    "with a composite repetition_flag at the published-style thresholds "
    "(top-2-gram > 0.2, distinct ratio < 0.5). The bigram mode count is an "
    "IN-ROW sorted run-length fold — the signal pass stays one narrow "
    "zero-shuffle projection; the DuckDB oracle replays it as "
    "unnest+group-by, same values. PLUS the learned quality classifier "
    "(operators/classifier.py, the GPT-3/DCLM-style stage): the "
    "heuristic keep decision becomes the weak label, two full-batch "
    "gradient steps fit a 5-feature logistic scorer — each step ONE "
    "map-side-combined aggregation of integer-quantized gradients, so "
    "training is bit-stable under any partitioning and the oracle "
    "unrolls it into CTE rounds. Deterministic double math, identical "
    "operand order on both engines; fast-sigmoid link, no exp, no "
    "rounding (Spark rounds HALF_UP, DuckDB half-even, so rounding "
    "would DIVERGE at exact boundaries).",
)
def tx_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).withColumn("toks", F.split(F.col("text"), " "))
    arr = "array(" + _sql_list(_STOPWORDS["en"]) + ")"
    n_tokens = F.size("toks")
    n_chars = F.length("text")
    stop_ratio = (
        F.expr(f"size(filter(toks, t -> array_contains({arr}, t)))").cast("double") / n_tokens
    )
    quality = (
        F.lit(0.4) * F.least(n_tokens.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3) * stop_ratio
        + F.lit(0.3) * F.least(n_chars.cast("double") / 500, F.lit(1.0))
    )
    distinct_ratio = (
        F.expr("size(array_distinct(toks))").cast("double") / n_tokens
    )
    # in-row adjacent-pair construction: zip toks with its own tail; the
    # unmatched last slot concats with null -> null -> filtered (no
    # sequence() call, which rejects empty ranges).  The mode count is a
    # run-length fold over the SORTED bigram array — per-doc n log n,
    # zero shuffle, instead of an explode + two keyed aggregates.
    bigrams = (
        "filter(zip_with(toks, slice(toks, 2, size(toks)),"
        " (a, b) -> concat(a, ' ', b)), x -> x is not null)"
    )
    mode_count = (
        f"aggregate(array_sort({bigrams}),"
        " struct(cast(null as string) as prev, 0L as run, 0L as best),"
        " (a, x) -> if(x <=> a.prev,"
        "  struct(x as prev, a.run + 1L as run, greatest(a.best, a.run + 1L) as best),"
        "  struct(x as prev, 1L as run, greatest(a.best, 1L) as best)),"
        " a -> a.best)"
    )
    top_frac = F.expr(
        f"if(size({bigrams}) = 0, 0.0D,"
        f" cast({mode_count} as double) / cast(size({bigrams}) as double))"
    )
    base = docs.select(
        "doc_id",
        n_tokens.cast("bigint").alias("n_tokens"),
        n_chars.cast("bigint").alias("n_chars_actual"),
        (n_chars.cast("double") / n_tokens).alias("avg_token_len"),
        stop_ratio.alias("stopword_ratio"),
        distinct_ratio.alias("distinct_token_ratio"),
        top_frac.alias("top_bigram_frac"),
        ((top_frac > 0.2) | (distinct_ratio < 0.5)).alias("repetition_flag"),
        quality.alias("quality_score"),
    )
    # learned quality classifier: the heuristic keep decision is the
    # weak label; 2 integer-quantized gradient steps (each one Spark
    # agg), then a narrow scoring projection.  The expensive bigram fold
    # feeds 2 training aggs + the final score, so materialize it once.
    from jobcan_data_integrator_spark.operators.classifier import (
        score_logreg,
        train_logreg,
    )

    feat = base.select(
        "*",
        F.lit(1.0).alias("x0"),
        F.least(F.col("n_tokens").cast("double") / 100, F.lit(1.0)).alias("x1"),
        F.col("stopword_ratio").alias("x2"),
        F.least(F.col("n_chars_actual").cast("double") / 500, F.lit(1.0)).alias("x3"),
        F.col("distinct_token_ratio").alias("x4"),
        F.when(
            (~F.col("repetition_flag")) & (F.col("quality_score") >= 0.5), 1.0
        )
        .otherwise(0.0)
        .alias("y"),
    ).cache()
    xs = ["x0", "x1", "x2", "x3", "x4"]
    w = train_logreg(feat, xs, label_col="y", lr=0.05, iters=2)
    return score_logreg(feat, xs, w).select(
        "doc_id",
        "n_tokens",
        "n_chars_actual",
        "avg_token_len",
        "stopword_ratio",
        "distinct_token_ratio",
        "top_bigram_frac",
        "repetition_flag",
        "quality_score",
        F.col("y").alias("classifier_label"),
        "classifier_score",
    )


#: shared DuckDB fragment: per-language stopword scores over documents
_LANG_SCORED_SQL = f"""
      SELECT doc_id, text,
             len(string_split(text, ' ')) AS n_toks,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["en"])}], t))) AS s_en,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["de"])}], t))) AS s_de,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["es"])}], t))) AS s_es,
             len(list_filter(string_split(text, ' '),
                 t -> list_contains([{_sql_list(_STOPWORDS["fr"])}], t))) AS s_fr
      FROM documents"""

_LANG_CASE_SQL = """CASE WHEN s_de > s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_es > s_en AND s_es > s_de AND s_es >= s_fr THEN 'es'
                WHEN s_fr > s_en AND s_fr > s_de AND s_fr > s_es THEN 'fr'
                ELSE 'en' END"""


def _with_lang(docs: DataFrame) -> DataFrame:
    """documents + toks + predicted_lang (the tx_lang_id heuristic)."""
    docs = docs.withColumn("toks", F.split(F.col("text"), " "))
    for lang, words in _STOPWORDS.items():
        arr = "array(" + _sql_list(words) + ")"
        docs = docs.withColumn(
            f"s_{lang}", F.expr(f"size(filter(toks, t -> array_contains({arr}, t)))")
        )
    s = {k: F.col(f"s_{k}") for k in _STOPWORDS}
    predicted = (
        F.when((s["de"] > s["en"]) & (s["de"] >= s["es"]) & (s["de"] >= s["fr"]), "de")
        .when((s["es"] > s["en"]) & (s["es"] > s["de"]) & (s["es"] >= s["fr"]), "es")
        .when((s["fr"] > s["en"]) & (s["fr"] > s["de"]) & (s["fr"] > s["es"]), "fr")
        .otherwise("en")
    )
    return docs.withColumn("predicted_lang", predicted)


@gate(
    "tx_stratified_sample",
    # Mixture replica: sources are grouped into three weight classes
    # (src0-6 weight 2.25 = multi-epoch upsample, src7-13 weight 1.0,
    # src14-19 weight 0.4 = downsample); n_copies = floor(w) + 1 more
    # for the md5('mix|group|id') basis-point bucket below frac(w)*1e4 —
    # the same preimage mix_corpora builds.  Language + sample bucket
    # are per-document, so they join onto the copies by doc_id.
    oracle=f"""
    WITH scored AS ({_LANG_SCORED_SQL}
    ), lang AS (
      SELECT doc_id, {_LANG_CASE_SQL} AS predicted_lang,
             ('0x' || substr(md5('smpl|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % 10000 AS sample_bucket
      FROM scored
    ), src AS (
      SELECT doc_id,
             CASE WHEN CAST(substr(source, 4) AS INT) < 7 THEN 0
                  WHEN CAST(substr(source, 4) AS INT) < 14 THEN 1
                  ELSE 2 END AS source_id
      FROM documents
    ), wt AS (
      SELECT doc_id, source_id,
             CASE source_id WHEN 0 THEN 2 WHEN 1 THEN 1 ELSE 0 END
               + CASE WHEN ('0x' || substr(md5('mix|' || CAST(source_id AS VARCHAR)
                            || '|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
                           % 10000
                           < CASE source_id WHEN 0 THEN 2500
                                            WHEN 1 THEN 0 ELSE 4000 END
                      THEN 1 ELSE 0 END AS n_copies
      FROM src
    ), copies AS (
      SELECT doc_id, source_id,
             unnest(generate_series(0, n_copies - 1)) AS copy
      FROM wt WHERE n_copies > 0
    ), dt AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents
    ), dgrams AS (
      SELECT doc_id, unnest(toks) AS g FROM dt
      UNION ALL
      SELECT doc_id,
             unnest(list_filter(
               list_transform(range(1, len(toks)),
                              i -> toks[i] || ' ' || toks[i + 1]),
               x -> x IS NOT NULL)) AS g
      FROM dt
    ), dfeats AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(g), 1, 15))::BIGINT % 10000 AS INT)
               AS bucket,
             CAST(count(*) AS BIGINT) AS f
      FROM dgrams GROUP BY 1, 2
    ), dtgt AS (
      SELECT bucket, sum(f) AS c
      FROM dfeats JOIN dt USING (doc_id) WHERE dt.lang = 'en' GROUP BY 1
    ), draw AS (
      SELECT bucket, sum(f) AS c FROM dfeats GROUP BY 1
    ), dtden AS (
      SELECT CAST(round(log10(CAST(sum(c) + 10000 AS DOUBLE)) * 10000)
                  AS BIGINT) AS dq FROM dtgt
    ), drden AS (
      SELECT CAST(round(log10(CAST(sum(c) + 10000 AS DOUBLE)) * 10000)
                  AS BIGINT) AS dq FROM draw
    ), dtq AS (
      SELECT bucket,
             CAST(round(log10(CAST(c + 1 AS DOUBLE)) * 10000) AS BIGINT)
               - dtden.dq AS q
      FROM dtgt CROSS JOIN dtden
    ), drq AS (
      SELECT bucket,
             CAST(round(log10(CAST(c + 1 AS DOUBLE)) * 10000) AS BIGINT)
               - drden.dq AS q
      FROM draw CROSS JOIN drden
    ), dw AS (
      SELECT f.doc_id,
             CAST(sum(f.f * (coalesce(dtq.q, -dtden.dq)
                             - coalesce(drq.q, -drden.dq))) AS BIGINT)
               AS logratio_q
      FROM dfeats f
      LEFT JOIN dtq USING (bucket)
      LEFT JOIN drq USING (bucket)
      CROSS JOIN dtden CROSS JOIN drden
      GROUP BY f.doc_id
    ), dsel AS (
      SELECT doc_id FROM dw ORDER BY logratio_q DESC, doc_id LIMIT 150
    )
    SELECT c.doc_id, CAST(c.source_id AS INT) AS source_id,
           CAST(c.copy AS INT) AS copy, l.predicted_lang, l.sample_bucket,
           dw.logratio_q AS dsir_logratio_q,
           (c.doc_id IN (SELECT doc_id FROM dsel)) AS dsir_keep
    FROM copies c JOIN lang l USING (doc_id) JOIN dw USING (doc_id)
    WHERE l.sample_bucket < CASE WHEN l.predicted_lang = 'en'
                                 THEN 2500 ELSE 10000 END
    """,
    doc="Deterministic source-weighted corpus mixture + stratified "
    "sampling (operators/packing.py mix_corpora): three source weight "
    "classes (2.25 = two full epochs + a 25% md5-selected third copy, "
    "1.0 = identity, 0.4 = keep a 40% md5 bucket), then the mixture is "
    "rebalanced by downsampling the dominant language (en keeps 25%, "
    "the rest 100%) via an md5 hash bucket of the doc id — no RNG state "
    "anywhere, so mixture AND sample are reproducible on any engine, "
    "any partitioning, any run; the copy column is the 0-based epoch "
    "index that pack_shards' shuffle_salt then spreads across shards. "
    "Narrow projections + a bounded explode + a union, no shuffle: the "
    "standard mixture-weights + corpus-rebalance step before packing. "
    "PLUS DSIR importance weights (Xie et al. 2023, operators/"
    "selection.py): hashed unigram+bigram bucket models fitted on the "
    "lang='en' target vs the full raw corpus, per-doc log likelihood "
    "ratio in exact integer micro-log10 units (add-one smoothing keeps "
    "every log10 at integer points, so DuckDB replays bit-for-bit), "
    "and the deterministic top-150 selection (TakeOrdered partial "
    "top-k + broadcast semi-join, never a global sort shuffle). The "
    "<=10k-row bucket models ride broadcast joins — the corpus is only "
    "ever shuffled on its own doc key.",
)
def tx_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.packing import mix_corpora
    from jobcan_data_integrator_spark.operators.selection import (
        dsir_select,
        dsir_weights,
        fit_dsir,
        hashed_ngram_features,
    )

    docs = _docs(spark, sf_dir)
    sn = F.expr("cast(substring(source, 4) as int)")
    base = docs.withColumn("_sn", sn)
    groups = [
        (base.filter(F.col("_sn") < 7).drop("_sn"), 2.25),
        (base.filter((F.col("_sn") >= 7) & (F.col("_sn") < 14)).drop("_sn"), 1.0),
        (base.filter(F.col("_sn") >= 14).drop("_sn"), 0.4),
    ]
    mixed = _with_lang(mix_corpora(groups, id_col="doc_id", salt="mix"))
    bucket = F.expr(
        "pmod(" + _H.format(x="concat('smpl|', cast(doc_id as string))") + ", 10000)"
    )
    thr = F.when(F.col("predicted_lang") == "en", 2500).otherwise(10000)
    # fit and score share ONE materialized feature pass (the corpus-wide
    # unigram+bigram bucket aggregation would otherwise run twice —
    # identical rows, selection.py fit_dsir docstring).  localCheckpoint,
    # not cache: the r12 A/B (5 trials, q1 control steady) measured
    # cache 7.9 s / plain recompute 6.5 s / localCheckpoint 4.9 s —
    # the cache-manager plan rewrite + storage bookkeeping cost more
    # than the saved pass, while the checkpoint truncates the lineage
    # AND skips the InMemoryRelation overhead.  Built inside the timed
    # query every trial (no cross-run state).
    feats = hashed_ngram_features(docs).localCheckpoint(eager=True)
    model = fit_dsir(docs, F.col("lang") == "en", feats=feats)
    weights = dsir_weights(docs, model, feats=feats)
    keep = F.broadcast(
        dsir_select(weights, 150).withColumn("dsir_keep", F.lit(True))
    )
    return (
        mixed.withColumn("sample_bucket", bucket)
        .filter(F.col("sample_bucket") < thr)
        .join(weights.withColumnRenamed("logratio_q", "dsir_logratio_q"), "doc_id")
        .join(keep, "doc_id", "left")
        .select(
            "doc_id",
            F.col("source_id").cast("int").alias("source_id"),
            F.col("copy").cast("int").alias("copy"),
            "predicted_lang",
            "sample_bucket",
            "dsir_logratio_q",
            F.coalesce(F.col("dsir_keep"), F.lit(False)).alias("dsir_keep"),
        )
    )


@gate(
    "tx_corpus_filter",
    oracle=f"""
    WITH scored AS ({_LANG_SCORED_SQL}
    ), bi AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(string_split(text, ' '))),
                    i -> string_split(text, ' ')[i] || ' '
                         || string_split(text, ' ')[i + 1])) AS bg
      FROM documents
    ), cnt AS (
      SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY doc_id, bg
    ), rep AS (
      SELECT doc_id, CAST(max(c) AS DOUBLE) / sum(c) AS top_bigram_frac
      FROM cnt GROUP BY doc_id
    ), labeled AS (
      SELECT s.doc_id, n_toks, {_LANG_CASE_SQL} AS predicted_lang,
             0.4 * least(CAST(n_toks AS DOUBLE) / 100, 1.0)
               + 0.3 * (CAST(s_en AS DOUBLE) / n_toks)
               + 0.3 * least(CAST(length(text) AS DOUBLE) / 500, 1.0) AS quality_score,
             (coalesce(rep.top_bigram_frac, 0.0) > 0.2
              OR CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / n_toks < 0.5) AS repetitious,
             min(s.doc_id) OVER (PARTITION BY md5(text)) AS keep_doc
      FROM scored s LEFT JOIN rep ON s.doc_id = rep.doc_id
    )
    SELECT doc_id, predicted_lang, n_toks AS n_tokens,
           (doc_id <> keep_doc) AS is_dup_extra,
           (predicted_lang = 'en') AS lang_ok,
           (quality_score >= 0.5) AS quality_ok,
           (n_toks >= 10) AS len_ok,
           (NOT repetitious) AS repetition_ok,
           (predicted_lang = 'en' AND quality_score >= 0.5 AND n_toks >= 10
            AND NOT repetitious AND doc_id = keep_doc) AS keep
    FROM labeled
    """,
    doc="Corpus-filter endpoint: the composed keep/drop decision a training "
    "pipeline applies per document — language gate, quality-score floor, "
    "length floor, Gopher-style repetition gate (top-bigram fraction / "
    "distinct-token ratio, computed with the same in-row sorted "
    "run-length fold as tx_quality_score), and exact-dup canonicalization "
    "(only the minimum doc_id of each identical-text group survives). "
    "Every flag is emitted so drop reasons are auditable. One window "
    "shuffle on the content hash; everything else is narrow.",
)
def tx_corpus_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _with_lang(_docs(spark, sf_dir))
    n_toks = F.size("toks")
    quality = (
        F.lit(0.4) * F.least(n_toks.cast("double") / 100, F.lit(1.0))
        + F.lit(0.3) * (F.col("s_en").cast("double") / n_toks)
        + F.lit(0.3) * F.least(F.length("text").cast("double") / 500, F.lit(1.0))
    )
    bigrams = (
        "filter(zip_with(toks, slice(toks, 2, size(toks)),"
        " (a, b) -> concat(a, ' ', b)), x -> x is not null)"
    )
    mode_count = (
        f"aggregate(array_sort({bigrams}),"
        " struct(cast(null as string) as prev, 0L as run, 0L as best),"
        " (a, x) -> if(x <=> a.prev,"
        "  struct(x as prev, a.run + 1L as run, greatest(a.best, a.run + 1L) as best),"
        "  struct(x as prev, 1L as run, greatest(a.best, 1L) as best)),"
        " a -> a.best)"
    )
    top_frac = F.expr(
        f"if(size({bigrams}) = 0, 0.0D,"
        f" cast({mode_count} as double) / cast(size({bigrams}) as double))"
    )
    distinct_ratio = F.expr("size(array_distinct(toks))").cast("double") / n_toks
    repetitious = (top_frac > 0.2) | (distinct_ratio < 0.5)
    w = Window.partitionBy(F.md5(F.col("text").cast("binary")))
    labeled = docs.select(
        "doc_id",
        "predicted_lang",
        n_toks.cast("bigint").alias("n_tokens"),
        quality.alias("quality_score"),
        repetitious.alias("repetitious"),
        F.min("doc_id").over(w).alias("keep_doc"),
    )
    lang_ok = F.col("predicted_lang") == "en"
    quality_ok = F.col("quality_score") >= 0.5
    len_ok = F.col("n_tokens") >= 10
    not_dup = F.col("doc_id") == F.col("keep_doc")
    rep_ok = ~F.col("repetitious")
    return labeled.select(
        "doc_id",
        "predicted_lang",
        "n_tokens",
        (~not_dup).alias("is_dup_extra"),
        lang_ok.alias("lang_ok"),
        quality_ok.alias("quality_ok"),
        len_ok.alias("len_ok"),
        rep_ok.alias("repetition_ok"),
        (lang_ok & quality_ok & len_ok & rep_ok & not_dup).alias("keep"),
    )


def _curate_kept_ctes(src: str = "documents") -> str:
    """One-shot curation through the KEPT stage as DuckDB CTEs — PII
    scrub (value no-op on the proven letters-only gate corpus) ->
    doc-level exact dedup (min-id survivor per md5 group) -> span-level
    ExactSubstr removal (spans of 8, MATERIALIZED: surviving tokens are
    the ones outside every merged interval) -> 10-token length floor.
    Shared by tx_shard_packing (which chains chunking + packing on top),
    ig_incremental_curation (which stops at the kept text), and
    ig_retract (which re-roots ``src`` on the corpus MINUS the retracted
    ids — the one-shot definition of targeted deletion)."""
    return _CURATE_KEPT_TEMPLATE.replace("{src}", src)


_CURATE_KEPT_TEMPLATE = """base AS (
      SELECT doc_id, text,
             min(doc_id) OVER (PARTITION BY md5(text)) AS keep_doc
      FROM {src}
    ), kept AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM base WHERE doc_id = keep_doc
    ), sp AS (
      SELECT doc_id, unnest(generate_series(0, len(toks) - 8)) AS pos, toks
      FROM kept WHERE len(toks) >= 8
    ), occ AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(array_to_string(
                 list_slice(toks, pos + 1, pos + 8), ' ')), 1, 15))::BIGINT AS h
      FROM sp
    ), per_hash AS (
      SELECT h, count(*) AS n_occ, min(doc_id * 1048576 + pos) AS min_key
      FROM occ GROUP BY h
    ), flagged AS (
      SELECT DISTINCT o.doc_id, o.pos
      FROM occ o JOIN per_hash a USING (h)
      WHERE a.n_occ > 1 AND o.doc_id * 1048576 + o.pos <> a.min_key
    ), isl AS (
      SELECT doc_id, pos,
             CASE WHEN pos <= coalesce(max(pos + 7) OVER (
                      PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -2) + 1
                  THEN 0 ELSE 1 END AS brk
      FROM flagged
    ), isl2 AS (
      SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM isl
    ), iv AS (
      SELECT doc_id, island, min(pos) AS s, max(pos) + 7 AS e
      FROM isl2 GROUP BY doc_id, island
    ), tk AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) - 1 AS pos
      FROM kept
    ), ded AS (
      SELECT t.doc_id, list(t.tok ORDER BY t.pos) AS toks
      FROM tk t
      WHERE NOT EXISTS (SELECT 1 FROM iv v
                        WHERE v.doc_id = t.doc_id
                          AND t.pos BETWEEN v.s AND v.e)
      GROUP BY t.doc_id
      HAVING count(*) >= 10
    )"""

_CURATE_KEPT_CTES = _curate_kept_ctes()


@gate(
    "tx_shard_packing",
    # The END-TO-END curation pipeline (operators/curate.curate_corpus):
    # the _CURATE_KEPT_CTES chain -> 32/8 sliding-window chunking ->
    # 4096-token shard packing in deterministic shuffled order
    # (md5('pk|'||chunk_id) 60-bit key).  The PII stage has NO SQL
    # mirror here: the phone pattern needs a lookahead DuckDB's RE2
    # can't run, and the gate corpus is proven letters-only (zero
    # matches for all three classes, asserted in
    # test_pii.py::test_clean_text_unchanged) — so the scrub runs on
    # the Spark side as a value no-op and PII itself is evidenced by
    # crafted-fixture pytest oracles (operators/pii.py docstring).
    # The packing oracle is the semantic definition of the prefix sum:
    # ONE global running sum over (ord, chunk_id).
    oracle=f"""
    WITH {_CURATE_KEPT_CTES}, st AS (
      SELECT doc_id, toks,
             unnest(generate_series(0, greatest(0, len(toks) - 1 - 8), 24)) AS s
      FROM ded
    ), ch AS (
      SELECT doc_id * 1048576 + (s // 24) AS chunk_id,
             CAST(len(list_slice(toks, s + 1, s + 32)) AS BIGINT) AS n_tokens,
             ('0x' || substr(md5('pk|' || CAST(doc_id * 1048576 + (s // 24)
                                               AS VARCHAR)), 1, 15))::BIGINT AS ord
      FROM st
    )
    SELECT chunk_id // 1048576 AS doc_id, chunk_id % 1048576 AS chunk_idx,
           n_tokens,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY ord, chunk_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS cum_before,
           CAST(coalesce(sum(n_tokens) OVER (ORDER BY ord, chunk_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             // 4096 AS shard_id
    FROM ch
    """,
    doc="The END-TO-END corpus curation pipeline (operators/curate.py, "
    "curate_corpus): PII scrub (value no-op on the proven letters-only "
    "gate corpus; evidenced by its own crafted-fixture oracles) -> "
    "doc-level exact dedup (min-id survivor per content hash) -> "
    "span-level ExactSubstr removal materialized into the surviving "
    "text (Lee et al. 2021) -> 10-token post-removal floor -> sliding "
    "32/8-token chunking -> 4096-token shard packing in DETERMINISTIC "
    "SHUFFLED order (md5('pk'|chunk_id) — the per-epoch reshufflable "
    "permutation, so one shard never concentrates one document/source). "
    "shard = prefix-token-sum div 4096, computed as the two-pass "
    "distributed prefix sum (bucket partials -> driver-side offsets -> "
    "per-bucket windows), NOT a single-partition global window — no "
    "Exchange SinglePartition (pinned in test_plans.py). One gate "
    "value-proves the full composition a training team runs between "
    "raw documents and packed shards.",
)
def tx_shard_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.curate import curate_corpus

    res = curate_corpus(
        _docs(spark, sf_dir),
        span=8,
        min_tokens=10,
        chunk_tokens=32,
        chunk_overlap=8,
        budget=4096,
        shuffle_salt="pk",
    )
    # composite bigint id: doc_id * 2^20 + chunk_idx (curate_corpus's
    # packing id) — collision-free below 2^20 chunks/doc, and the
    # doc/chunk split is recoverable arithmetically (no re-join).
    return res.packed.select(
        F.expr("chunk_id div 1048576").alias("doc_id"),
        F.expr("chunk_id % 1048576").alias("chunk_idx"),
        "n_tokens",
        "cum_before",
        "shard_id",
    )


def _ig_live_ctes(src: str = "documents") -> str:
    """The one-shot curation INCLUDING the MinHash near-dup collapse as
    a CTE chain ending in ``live(doc_id)`` — the surviving curated ids —
    re-rootable on a filtered corpus: the _curate_kept_ctes chain
    through exact + span + floor, then shingle window -> affine-minhash
    signatures -> 2-row LSH bands -> candidate equi-join -> exact
    Jaccard, edges at >= 0.5, connected components via the recursive
    walk, and every non-minimum cluster member dropped.  Shared by
    ``_ig_oracle`` (which projects the curated text) and
    ig_contamination (which chains span-window overlap on top)."""
    return f"""{_curate_kept_ctes(src)}, dtok AS (
      SELECT doc_id, unnest(toks) AS tok,
             generate_subscripts(toks, 1) AS ord
      FROM ded
    ), dshw AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok || ' ' || lead(tok, 1) OVER w || ' '
                                 || lead(tok, 2) OVER w), 1, 15))::BIGINT AS shingle
      FROM dtok WINDOW w AS (PARTITION BY doc_id ORDER BY ord)
      QUALIFY lead(tok, 2) OVER w IS NOT NULL
    ), dsh AS (
      SELECT DISTINCT doc_id, shingle FROM dshw
    ), dsig AS (
      SELECT doc_id, g.i AS h_idx,
             min(({_sql_arr(_MH_A)}[g.i + 1] * (shingle % {_MH_P})
                  + {_sql_arr(_MH_B)}[g.i + 1]) % {_MH_P}) AS minhash
      FROM dshw, generate_series(0, 7) AS g(i)
      GROUP BY doc_id, g.i
    ), dbands AS (
      SELECT doc_id, h_idx // 2 AS band_idx,
             md5(string_agg(minhash::VARCHAR, '_' ORDER BY h_idx)) AS band_key
      FROM dsig GROUP BY doc_id, h_idx // 2
    ), dcands AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM dbands a JOIN dbands b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id
    ), dsizes AS (
      SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id
    ), dedges AS (
      SELECT i.doc_a AS src, i.doc_b AS dst
      FROM (SELECT c.doc_a, c.doc_b, count(*) AS n_common
            FROM dcands c
            JOIN dsh a ON a.doc_id = c.doc_a
            JOIN dsh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
            GROUP BY c.doc_a, c.doc_b) i
      JOIN dsizes sa ON sa.doc_id = i.doc_a
      JOIN dsizes sb ON sb.doc_id = i.doc_b
      WHERE round(CAST(i.n_common AS DOUBLE)
                  / (sa.n + sb.n - i.n_common), 6) >= 0.5
    ), dsym AS (
      SELECT src, dst FROM dedges UNION SELECT dst, src FROM dedges
    ), dwalk(doc_id, label) AS (
      SELECT DISTINCT src, src FROM dsym
      UNION
      SELECT s.dst, w.label FROM dwalk w JOIN dsym s ON s.src = w.doc_id
    ), dlabels AS (
      SELECT doc_id, min(label) AS cluster_id FROM dwalk GROUP BY doc_id
    ), live AS (
      SELECT d.doc_id FROM ded d
      WHERE NOT EXISTS (SELECT 1 FROM dlabels l
                        WHERE l.doc_id = d.doc_id
                          AND l.doc_id <> l.cluster_id)
    )"""


def _ig_oracle(src: str = "documents") -> str:
    """One-shot curated (doc_id, text) over ``src`` — ``_ig_live_ctes``
    projected through the kept token lists.  ig_probe appends an extra
    ``AND`` predicate, so the statement must end in its WHERE clause."""
    return f"""
    WITH RECURSIVE {_ig_live_ctes(src)}
    SELECT d.doc_id, array_to_string(d.toks, ' ') AS text
    FROM ded d
    WHERE d.doc_id IN (SELECT doc_id FROM live)
    """


@gate(
    "ig_incremental_curation",
    # The oracle is the ONE-SHOT curation (same CTE chain as
    # tx_shard_packing) through exact + span + floor, THEN the MinHash
    # near-dup canonicalization over the kept set (see _ig_oracle).
    # The Spark side ingests the corpus in two batches through
    # operators/ingest.ingest_increment with minhash ON, so a green
    # hash proves the FULL orchestration contract: per-batch curation
    # against the persisted exact + span + MinHash + cluster families —
    # including cross-batch pair discovery, keeper election,
    # cluster-merge keeper demotion via cur_drops tombstones, and the
    # read_curated anti-join — ≡ one-shot curation of the union.
    # (Through round 5 this gate ran minhash off and the near-dup path
    # was pytest-only evidence; tests/test_ingest.py still pins the
    # 3-batch + demotion matrix.)
    oracle=_ig_oracle(),
    doc="Orchestrated incremental ingest (operators/ingest.py, "
    "ingest_increment): the corpus arrives in two doc_id batches, the "
    "second a late comb interleaving the first's ids; "
    "each is PII-scrubbed, exact-deduped against the persisted ex_docs "
    "hash index, ExactSubstr-span-deduped against the persisted sp_occs "
    "index, length-floored, near-dup-canonicalized against the persisted "
    "MinHash band/pair index + cc_labels cluster map (cluster-merge "
    "keeper demotions become cur_drops tombstones), merged into the "
    "curated table, and absorbed into every index family — all under ONE "
    "snapshot commit per batch with an absorbed-batch ledger (replays "
    "are no-ops, crashes publish nothing). The oracle is the one-shot "
    "curation over the union incl. the verified-pair cluster collapse: "
    "green = batch-arrival curation ≡ one-shot curation across ALL "
    "families. Reference analog: the integrator's phase driver "
    "(integrator.py:522-553) — per-batch increments against persisted "
    "state, never full re-runs.",
)
def ig_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from jobcan_data_integrator_spark.operators.ingest import (
        ingest_increment,
        read_curated,
    )
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        index_layout,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    # fresh store per run so repeated trials redo the full batch work
    # (the ledger would otherwise short-circuit them as redeliveries)
    root = _index_root(sf_dir) + "-ing"
    shutil.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    # bucketed label layout: extend_clusters and the retraction relabel
    # take the increment-bounded DELTA path instead of per-batch
    # corpus-sized overwrites (cluster_label_buckets docstring)
    store = TableStore(
        spark, root, write_partitions=1, snapshot_isolation=True,
        **index_layout(cluster_label_buckets(8)),
    )
    # two batches: the 90% bulk first, then a 10% COMB through the
    # whole id space (doc_id % 10 == 3) — a late batch whose ids
    # interleave below the absorbed high-water mark everywhere.  The
    # oracle is order-independent (the one-shot curation of the union),
    # so a green hash drives the whole late-batch repair machinery —
    # exact keeper re-election demoting already-curated higher-id twins,
    # retroactive span flags rebuilding stored texts from cur_pre,
    # MinHash re-signing with merge-on-read retraction, component
    # relabeling + resurrection, and the cluster demotion sweep — and
    # proves it lands EXACTLY on the one-shot result.  In-order batches,
    # where none of those repairs fire, stay pinned by the test matrix
    # in tests/test_ingest.py; the comb split bounds repair volume at
    # ~10% of the corpus's cross-batch interactions, keeping the gate's
    # cost per-job scheduling overhead x stages x batches (flat from
    # sf0.001 to sf0.1) rather than repair-volume-bound.
    comb = F.pmod(F.col("doc_id"), F.lit(10)) == 3
    # increment-sized maintenance joins: the orchestrator's per-batch
    # shuffles carry batch-scale data, so corpus-sized shuffle
    # parallelism only adds empty-task overhead (measured ~10% of the
    # gate) — size the shuffle to the increment, restore after.  At
    # production scale this is the same knob: shuffle partitions track
    # the INCREMENT, not the corpus.
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        for i, part in enumerate((docs.filter(~comb), docs.filter(comb))):
            ingest_increment(
                store,
                part,
                f"ing-{i}",
                span=8,
                min_tokens=10,
                minhash=True,
            )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return read_curated(store).select("doc_id", "text")


@gate(
    "ig_retract",
    # The oracle is the ONE-SHOT curation (exact + span + floor +
    # MinHash cluster collapse — the same _ig_oracle chain as
    # ig_incremental_curation) over the corpus slice MINUS the
    # retracted comb: the order- and history-independent definition of
    # targeted deletion.  The Spark side first ABSORBS the whole slice
    # (one repair-mode ingest batch), then calls retract_documents on
    # the comb — so a green hash proves deletion undoes every absorbed
    # effect: exact mate promotion (the retracted keeper's surviving
    # duplicate re-enters, re-signed and re-labeled), span-flag
    # retraction with text REGROWTH (docs whose only span duplicator
    # was retracted get their full text back), floor-tombstone revival,
    # cluster mate resurrection, and the permanent masks that keep a
    # redelivered copy out.
    oracle=_ig_oracle(
        "(SELECT * FROM documents"
        " WHERE doc_id % 3 = 0 AND doc_id % 15 <> 0) AS documents"
    ),
    doc="Targeted deletion (operators/ingest.py, retract_documents): "
    "one call removes already-absorbed docs (post-hoc contamination / "
    "takedown) from the curated corpus AND every index family — exact "
    "hash map (with mate re-election from the keeper's persisted "
    "pre-span text), span occurrence/flag tables (merge-on-read "
    "sp_flag_drops; affected texts REGROW), MinHash bands/pairs "
    "(retirement masks + component relabel + resurrection), cluster "
    "labels, chunks/shards — under one snapshot commit, with permanent "
    "doc_retractions masks so the ids can never re-enter. The gate "
    "ingests a 1/3 corpus slice (repair mode), retracts the doc_id%15 "
    "comb (~1/5 of the slice, including exact keepers, span-run owners "
    "and cluster keepers), and must land exactly on the one-shot "
    "curation of the survivors. Mirrors the reference's delete-of-"
    "removed sync (users.py:129-134) at the LLM-curation tier. The "
    "gate then runs compact_store BEFORE the final read, so the same "
    "one-shot oracle also proves the mask FOLD end-to-end (r8: the "
    "fold is partition-scoped, TableStore.prune_keys).",
)
def ig_retract(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from jobcan_data_integrator_spark.operators.ingest import (
        compact_store,
        ingest_increment,
        read_curated,
        retract_documents,
    )
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        index_layout,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    root = _index_root(sf_dir) + "-rt"
    shutil.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir).filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0)
    # bucketed label layout: extend_clusters and the retraction relabel
    # take the increment-bounded DELTA path instead of per-batch
    # corpus-sized overwrites (cluster_label_buckets docstring)
    store = TableStore(
        spark, root, write_partitions=1, snapshot_isolation=True,
        **index_layout(cluster_label_buckets(8)),
    )
    # increment-sized shuffles, same rationale as ig_incremental_curation
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ingest_increment(
            store,
            docs,
            "base",
            span=8,
            min_tokens=10,
            minhash=True,
        )
        retract_documents(
            store,
            docs.filter(F.pmod(F.col("doc_id"), F.lit(15)) == 0).select(
                "doc_id"
            ),
            "takedown-0",
            span=8,
            min_tokens=10,
            minhash=True,
        )
        # fold every merge-on-read mask into the base tables, then read
        # through the folded store: the one-shot oracle below now pins
        # compaction correctness end-to-end for free
        compact_store(store)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return read_curated(store).select("doc_id", "text")


@gate(
    "ig_probe",
    # the read-only verdict contract: probe keep set ≡ what ingest
    # would curate for the batch ≡ (its ids all above the store's) the
    # one-shot curation of the UNION restricted to the probed ids — so
    # the oracle is the same one-shot CTE chain as ig_incremental_curation
    # with ONE extra predicate selecting the probed half (2*doc_id > max
    # ⟺ doc_id > max // 2 for integer ids)
    oracle=_ig_oracle()
    + "\n      AND d.doc_id * 2 > (SELECT max(doc_id) FROM documents)",
    doc="Read-only dedup probe (operators/ingest.py, probe_duplicates): "
    "the store is seeded with the corpus's lower-id half through "
    "ingest_increment (exact + span + MinHash + cluster families), then "
    "the upper half is PROBED — per-doc keep/drop verdicts with dup_of "
    "targets and the would-be curated text, computed against the "
    "persisted index families WITHOUT writing anything (the pure "
    "probe_merged_labels lookup stands in for extend_clusters). "
    "The gate returns the probe's keep set; the oracle is the one-shot "
    "curation of the WHOLE corpus restricted to the probed ids, so a "
    "green hash proves verdict ≡ ingest ≡ one-shot — dedup-as-a-service "
    "for costing/filtering an incoming crawl before paying for ingest. "
    "Reference analog: the integrator's dry-run status reporting "
    "(status.py) answers 'what would sync do' without mutating state.",
)
def ig_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from jobcan_data_integrator_spark.operators.ingest import (
        ingest_increment,
        probe_duplicates,
    )
    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        index_layout,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    root = _index_root(sf_dir) + "-prb"
    shutil.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    hi = docs.agg(F.max("doc_id")).first()[0]
    # bucketed label layout: extend_clusters and the retraction relabel
    # take the increment-bounded DELTA path instead of per-batch
    # corpus-sized overwrites (cluster_label_buckets docstring)
    store = TableStore(
        spark, root, write_partitions=1, snapshot_isolation=True,
        **index_layout(cluster_label_buckets(8)),
    )
    # increment-sized shuffles, same rationale as ig_incremental_curation
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ingest_increment(
            store,
            docs.filter(F.col("doc_id") <= hi // 2),
            "prb-base",
            span=8,
            min_tokens=10,
            minhash=True,
        )
        probe = probe_duplicates(
            store,
            docs.filter(F.col("doc_id") > hi // 2),
            span=8,
            min_tokens=10,
            minhash=True,
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return probe.filter(F.col("verdict") == "keep").select("doc_id", "text")


@gate(
    "ig_contamination",
    # bench = doc_id % 5 = 1 (original texts, probed as an eval set);
    # store = one-shot ingest of the doc_id % 3 = 0 slice with span=8 +
    # minhash.  The oracle recomputes the verdict from first principles:
    # live ids via the one-shot curation chain, then DISTINCT 8-token
    # windows on BOTH sides compared as strings (the Spark side compares
    # 60-bit window hashes — equality semantics are identical modulo
    # negligible collisions, the same assumption every dd_* oracle makes)
    oracle=f"""
    WITH RECURSIVE {{live_ctes}}, bench AS (
      SELECT doc_id AS bench_id, string_split(text, ' ') AS toks
      FROM documents WHERE doc_id % 5 = 1
    ), bwin AS (
      SELECT DISTINCT bench_id,
             array_to_string(list_slice(toks, pos + 1, pos + 8), ' ') AS win
      FROM (SELECT bench_id, toks,
                   unnest(generate_series(0, len(toks) - 8)) AS pos
            FROM bench WHERE len(toks) >= 8)
    ), lwin AS (
      SELECT DISTINCT array_to_string(list_slice(toks, pos + 1, pos + 8),
                                      ' ') AS win
      FROM (SELECT k.toks,
                   unnest(generate_series(0, len(k.toks) - 8)) AS pos
            FROM kept k JOIN live l USING (doc_id)
            WHERE len(k.toks) >= 8)
    ), stats AS (
      SELECT b.bench_id, count(*) AS n_spans,
             coalesce(sum(CASE WHEN w.win IS NOT NULL THEN 1 END), 0) AS n_hit
      FROM bwin b LEFT JOIN lwin w USING (win)
      GROUP BY b.bench_id
    )
    SELECT i.bench_id,
           CAST(coalesce(s.n_spans, 0) AS BIGINT) AS n_spans,
           CAST(coalesce(s.n_hit, 0) AS BIGINT) AS n_hit,
           CASE WHEN coalesce(s.n_spans, 0) > 0
                THEN round(CAST(s.n_hit AS DOUBLE) / s.n_spans, 6)
                ELSE 0.0 END AS hit_ratio
    FROM (SELECT DISTINCT doc_id AS bench_id FROM documents
          WHERE doc_id % 5 = 1) i
    LEFT JOIN stats s USING (bench_id)
    """.replace(
        "{live_ctes}",
        _ig_live_ctes("(SELECT * FROM documents WHERE doc_id % 3 = 0)"),
    ),
    doc="Index-served benchmark decontamination (operators/ingest.py, "
    "probe_contamination): a third of the corpus is ingested into the "
    "persisted index families (exact + span + MinHash + cluster, span=8), "
    "then an eval set (the doc_id % 5 = 1 texts) is probed AGAINST THE "
    "SPAN INDEX — per-item distinct 8-token-window counts, how many occur "
    "in at least one LIVE curated doc (demoted near-dup members and "
    "floor-dropped docs carry spans in sp_occs but must NOT count), and "
    "the leaked fraction. The oracle recomputes the same verdict from the "
    "raw corpus via the one-shot curation CTEs, so a green hash proves "
    "the index-served answer ≡ first-principles n-gram decontamination. "
    "Scale shape: bench hashes prune sp_occs to their buckets, liveness "
    "prunes the curated read to the hit docs — cost follows the eval set, "
    "never the corpus. Folds the former tx_contamination slot (rotated to "
    "a pytest golden, round 10): this gate serves the same verdict from "
    "persisted state instead of a stateless corpus sweep. Reference "
    "analog: status.py's dry-run reporting against stored sync state.",
)
def ig_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from jobcan_data_integrator_spark.operators.incremental import (
        cluster_label_buckets,
        index_layout,
    )
    from jobcan_data_integrator_spark.operators.ingest import (
        ingest_increment,
        probe_contamination,
    )
    from jobcan_data_integrator_spark.storage import TableStore

    root = _index_root(sf_dir) + "-ct"
    shutil.rmtree(root, ignore_errors=True)
    docs = _docs(spark, sf_dir)
    store = TableStore(
        spark, root, write_partitions=1, snapshot_isolation=True,
        **index_layout(cluster_label_buckets(8)),
    )
    # increment-sized shuffles, same rationale as ig_incremental_curation
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ingest_increment(
            store,
            docs.filter(F.pmod(F.col("doc_id"), F.lit(3)) == 0),
            "ct-base",
            span=8,
            min_tokens=10,
            minhash=True,
        )
        bench = docs.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 1).select(
            F.col("doc_id").alias("bench_id"), "text"
        )
        out = probe_contamination(store, bench, span=8).localCheckpoint(
            eager=True
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return out


def tx_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stateless benchmark-contamination sweep: corpus documents sharing
    >= 3 distinct 3-gram shingles with any document of the (broadcast)
    benchmark set — one corpus shuffle, linear at any benchmark size.
    Rotated out of the 50-row driver registry in round 10 (slot given to
    ig_contamination, which serves the same decontamination verdict from
    the persisted span index); the dual-engine value golden lives on in
    tests/test_gate_oracle.py."""

    def _hashed(df: DataFrame) -> DataFrame:
        return df.select("doc_id", F.expr(_H.format(x="shingle")).alias("shingle"))

    bench = (
        _hashed(_shingle_rows(spark, sf_dir).filter(F.col("doc_id") < 5))
        .distinct()
        .select(F.col("doc_id").alias("bench_id"), "shingle")
    )
    corpus = _hashed(_shingle_rows(spark, sf_dir)).filter(F.col("doc_id") >= 5)
    # countDistinct absorbs duplicate shingle occurrences on the corpus
    # side, so no corpus-wide distinct is needed before the join
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id", "bench_id")
        .agg(F.countDistinct("shingle").alias("n_hits"))
        .filter(F.col("n_hits") >= 3)
    )


@gate(
    "tx_token_fingerprint",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS re_tokens,
             unnest(string_split(text, ' ')) AS tok,
             generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
      FROM documents
    )
    SELECT doc_id,
           count(*) AS ws_tokens,
           min(re_tokens) AS re_tokens,
           bit_xor(('0x' || substr(md5(tok || '@' || pos), 1, 15))::BIGINT) AS fingerprint
    FROM toks GROUP BY doc_id
    """,
    doc="Token counting + positional document fingerprint in one pass: "
    "whitespace token count, a BPE-ish regex tokenizer count (letter runs "
    "/ digit runs / single other chars), and an XOR-fold of per-(token,"
    "position) hashes — an order-sensitive rolling-hash-style signature "
    "with an order-insensitive (hence shuffle-friendly) combine. "
    "ws_tokens = count of exploded whitespace tokens == size(split(...)), "
    "so the former tx_token_counts and tx_doc_fingerprint gates are both "
    "value-proven here by a single doc_id-keyed aggregation.",
)
def tx_token_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Token COUNT without materializing the token array:
    # regexp_extract_all allocates ~a thousand strings per document just
    # to take size() (measured ~10x this gate's cost at sf0.1).  Each
    # match of '[a-z]+|[0-9]+|[^a-z0-9 ]' is a letter run, a digit run,
    # or one other char — collapse each run to a single marker char and
    # strip spaces, and the remaining LENGTH equals the match count
    # (markers and untouched chars both contribute exactly 1).
    re_tokens = (
        F.expr(
            "length(replace(regexp_replace(regexp_replace("
            "text, '[a-z]+', 'L'), '[0-9]+', 'D'), ' ', ''))"
        )
        .cast("bigint")
        .alias("re_tokens")
    )
    toks = _docs(spark, sf_dir).select(
        "doc_id", re_tokens, F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    h = _H.format(x="concat(tok, '@', cast(pos as string))")
    return (
        toks.withColumn("h", F.expr(h))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("ws_tokens"),
            F.min("re_tokens").alias("re_tokens"),
            F.expr("bit_xor(h)").alias("fingerprint"),
        )
    )



# ---------------------------------------------------------------------------
# Retrieval — BM25 over a distributed inverted index
# ---------------------------------------------------------------------------

#: Shared deterministic tokenizer, DuckDB spelling (Spark side is
#: operators/retrieval.tokenize — same lowercase \s+ split, empties out).
_BM25_TOKS = "list_filter(regexp_split_to_array(lower(text), '\\s+'), t -> t <> '')"


@gate(
    "rt_bm25_topk",
    # Okapi BM25 (k1=1.2, b=0.75) end-to-end: build the inverted index
    # (postings/doc_stats/term_stats/corpus stats) from the documents
    # table, take every doc_id%100==7 document's first 4 tokens as a
    # query, score via the term equi-join, keep top-10 per query with
    # the (score DESC, doc_id) tiebreak.  Per-(term,doc) contributions
    # are integer micro-units (round(idf*tfn*1e4) BIGINT, operators/
    # lm.py scheme) so the cross-engine sum is order-independent.
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_BM25_TOKS}) AS term FROM documents
    ), postings AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
    ), doc_stats AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), term_stats AS (
      SELECT term, count(*) AS df FROM postings GROUP BY 1
    ), corpus AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_stats
    ), qraw AS (
      SELECT doc_id AS q_id, unnest(list_slice({_BM25_TOKS}, 1, 4)) AS term
      FROM documents WHERE doc_id % 100 = 7
    ), qt AS (
      SELECT DISTINCT q_id, term FROM qraw
    ), contrib AS (
      SELECT qt.q_id, p.doc_id,
             CAST(round(10000 * ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
                        * (p.tf * 2.2)
                        / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)))
                  AS BIGINT) AS cm
      FROM qt
      JOIN term_stats t USING (term)
      JOIN postings p USING (term)
      JOIN doc_stats d ON p.doc_id = d.doc_id
      CROSS JOIN corpus c
    ), scored AS (
      SELECT q_id, doc_id, CAST(sum(cm) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2
    )
    SELECT q_id, doc_id, CAST(rank AS INTEGER) AS rank, score_micro FROM (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY score_micro DESC, doc_id) AS rank,
             score_micro
      FROM scored)
    WHERE rank <= 10
    """,
    doc="Lexical retrieval for curation (retrieval-based decontamination, "
    "seed-set quality scoring, hard-negative mining): Okapi BM25 over a "
    "DataFrame inverted index.  The posting-list walk is an equi-join on "
    "term — query terms broadcast, postings never reshuffle — and the only "
    "corpus-sized shuffle is the write-once index build.  Stop-term cap "
    "(max_df_ratio) bounds hot-term fan-out at scale; scores sum as "
    "integer micro-units so results hash-match across engines.",
)
def rt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.retrieval import (
        bm25_scores,
        bm25_topk,
        build_inverted_index,
        query_terms,
    )

    docs = _docs(spark, sf_dir)
    index = build_inverted_index(docs).cached()
    q = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
                ),
                1,
                4,
            ),
            " ",
        ).alias("q_text"),
    )
    return bm25_topk(bm25_scores(index, query_terms(q)), k=10)


@gate(
    "rt_hybrid_rrf",
    # Hybrid retrieval: the rt_bm25_topk lexical list (self-hit excluded)
    # and a brute-cosine dense list over the embeddings table (vec_id ==
    # doc_id by testdata construction) fused with reciprocal-rank fusion
    # (k=60): rrf(q,d) = Σ_lists round(1e6/(60+rank)).  Queries are the
    # doc_id%100==7 docs; at sfs where the embeddings table is smaller
    # than documents, queries past its range simply have no dense list —
    # RRF degrades to the lexical contributions (both engines express
    # the same union semantics).
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({_BM25_TOKS}) AS term FROM documents
    ), postings AS (
      SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2
    ), doc_stats AS (
      SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
    ), term_stats AS (
      SELECT term, count(*) AS df FROM postings GROUP BY 1
    ), corpus AS (
      SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM doc_stats
    ), qraw AS (
      SELECT doc_id AS q_id, unnest(list_slice({_BM25_TOKS}, 1, 4)) AS term
      FROM documents WHERE doc_id % 100 = 7
    ), qt AS (
      SELECT DISTINCT q_id, term FROM qraw
    ), contrib AS (
      SELECT qt.q_id, p.doc_id,
             CAST(round(10000 * ln(1 + (c.n_docs - t.df + 0.5) / (t.df + 0.5))
                        * (p.tf * 2.2)
                        / (p.tf + 1.2 * (0.25 + 0.75 * d.dl / c.avgdl)))
                  AS BIGINT) AS cm
      FROM qt
      JOIN term_stats t USING (term)
      JOIN postings p USING (term)
      JOIN doc_stats d ON p.doc_id = d.doc_id
      CROSS JOIN corpus c
      WHERE p.doc_id <> qt.q_id
    ), lex_scored AS (
      SELECT q_id, doc_id, CAST(sum(cm) AS BIGINT) AS score_micro
      FROM contrib GROUP BY 1, 2
    ), lex AS (
      SELECT q_id, doc_id, rank FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY score_micro DESC, doc_id) AS rank
        FROM lex_scored)
      WHERE rank <= 10
    ), qv AS (
      SELECT vec_id AS q_id, embedding::DOUBLE[] AS q_emb
      FROM embeddings WHERE vec_id % 100 = 7
    ), cv AS (
      SELECT vec_id, embedding::DOUBLE[] AS c_emb FROM embeddings
    ), sims AS (
      SELECT qv.q_id, cv.vec_id AS doc_id,
             {_COSINE_DUCK.format(a="q_emb", b="c_emb")} AS cosine_sim
      FROM qv, cv WHERE cv.vec_id <> qv.q_id
    ), dense AS (
      SELECT q_id, doc_id, rank FROM (
        SELECT q_id, doc_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY cosine_sim DESC, doc_id) AS rank
        FROM sims)
      WHERE rank <= 10
    ), unioned AS (
      SELECT q_id, doc_id,
             CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM lex
      UNION ALL
      SELECT q_id, doc_id,
             CAST(round(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM dense
    ), fused AS (
      SELECT q_id, doc_id, CAST(sum(c) AS BIGINT) AS rrf_micro,
             CAST(count(*) AS INTEGER) AS n_lists
      FROM unioned GROUP BY 1, 2
    )
    SELECT q_id, doc_id, CAST(rrf_rank AS INTEGER) AS rrf_rank,
           rrf_micro, n_lists
    FROM (
      SELECT q_id, doc_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY rrf_micro DESC, doc_id) AS rrf_rank,
             rrf_micro, n_lists
      FROM fused)
    WHERE rrf_rank <= 10
    """,
    doc="Hybrid retrieval (operators/retrieval.py rrf_fuse): fuse the "
    "BM25 lexical top-10 with the brute-cosine dense top-10 per query "
    "via reciprocal-rank fusion (Cormack et al. 2009, k=60) — the "
    "standard lexical+dense combiner that needs no score calibration "
    "because only RANKS enter the sum.  Contributions are integer "
    "micro-units so the fused scores hash identically across engines.  "
    "Plan: both retrievers' outputs are topk-bounded (≤20 rows/query), "
    "so the fusion itself is a union + one tiny (q,d) sum — at 100 TB "
    "the cost IS the retrievers, which stay posting-pruned (BM25) and "
    "bucket-pruned (ANN; the brute pass here is the oracle-friendly "
    "baseline, swap ann_topk_lsh_multiprobe in production).",
)
def rt_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from jobcan_data_integrator_spark.operators.retrieval import (
        bm25_scores,
        bm25_topk,
        build_inverted_index,
        query_terms,
        rrf_fuse,
    )

    docs = _docs(spark, sf_dir)
    index = build_inverted_index(docs).cached()
    q = docs.filter(F.col("doc_id") % 100 == 7).select(
        F.col("doc_id").alias("q_id"),
        F.array_join(
            F.slice(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != ""
                ),
                1,
                4,
            ),
            " ",
        ).alias("q_text"),
    )
    scored = bm25_scores(index, query_terms(q)).filter(
        F.col("doc_id") != F.col("q_id")
    )
    lex = bm25_topk(scored, k=10).select("q_id", "doc_id", "rank")

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = emb.filter(F.col("vec_id") % 100 == 7)
    w = Window.partitionBy("q_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id")
    )
    dense = (
        _brute_topk(emb, qv, k=10)
        .withColumn("rank", F.row_number().over(w))
        .select("q_id", F.col("vec_id").alias("doc_id"), "rank")
    )
    return rrf_fuse([lex, dense], k=60, topk=10)
