"""Deduplication operators over `documents` (north-star layer,
SURVEY.md §2.8): exact, token-Jaccard, MinHash+LSH, SimHash.

Everything is deterministic integer math on md5-derived token hashes
(functions/text.py), so even the sketch-based operators have *exact*
DuckDB oracles — the oracle SQL is generated from the same hash
constants the Spark plan uses.

Scale posture (the whole point of these operators):
* exact dedup: one hash-shuffle on the fingerprint — optimal.
* jaccard_pairs: the token self-join is quadratic in per-token doc
  frequency; it is the CORRECTNESS baseline. At 100 TB you never run
  it raw — you run minhash_dedup, whose banding bounds the join to
  docs sharing a band bucket (candidates ≈ true near-dups for real
  corpora). Frequency-capping hot tokens (stopword removal) is the
  standard extra guard; omitted here so the oracle stays exact.
* minhash: signatures are ONE pass (explode + 32 mins in a single
  grouped agg — not 32 passes); bands shuffle only (band, sig) keys.
* simhash: 60-bit signature in one grouped agg; candidate pairs via
  the 4-chunk pigeonhole (hamming <= 3 ⇒ at least one 15-bit chunk
  equal), so the pair join touches only chunk-equal docs — the full
  O(n^2) comparison exists only in the oracle.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdataentrytask_spark.catalog import load_table
from bigdataentrytask_spark.functions.text import (
    LSH_BANDS,
    MERSENNE_P,
    MINHASH_A,
    MINHASH_B,
    NUM_HASHES,
    normalize_text,
    spark_sql_token_hash,
    spark_sql_tokens,
    sql_normalize_text,
    sql_token_hash,
    sql_tokens,
    token_hash,
    tokens,
)
from bigdataentrytask_spark.operators import operator
from bigdataentrytask_spark.session import ensure_session_confs

JACCARD_THRESHOLD = 0.8
MINHASH_THRESHOLD = 0.7
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4  # 4 x 15 bits; hamming<=3 ⇒ one chunk equal
SIMHASH_MAX_HAMMING = 3

_log = logging.getLogger(__name__)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    return load_table(spark, sf_dir, "documents")


# --------------------------------------------------------------------------
# Exact dedup: canonical-form fingerprint, keep lowest doc_id per group.
# --------------------------------------------------------------------------
@operator(
    "dedup_exact",
    oracle=f"""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_cnt
    FROM (SELECT doc_id, md5({sql_normalize_text('text')}) AS fp FROM documents)
    GROUP BY fp ORDER BY doc_id
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", F.md5(normalize_text("text")).alias("fp")
    )
    return (
        d.groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("dup_cnt"))
        .select("doc_id", "dup_cnt")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Token-set Jaccard near-dup pairs (exact; the quadratic baseline).
# --------------------------------------------------------------------------
@operator(
    "jaccard_pairs",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           ROUND(i / CAST(sa.n + sb.n - i AS DOUBLE), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= {JACCARD_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i")).cast("double")
    return (
        inter.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .filter(jac >= JACCARD_THRESHOLD)
        .select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# MinHash + LSH banding. Signature = K affine-min sketches of the
# distinct-token-hash set; candidates share >= 1 of LSH_BANDS band
# signatures; est_sim = matching-minhash fraction.
# --------------------------------------------------------------------------
_ROWS_PER_BAND = NUM_HASHES // LSH_BANDS


def _sql_minhash_cols() -> str:
    return ",\n             ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE_P}) AS mh{i}"
        for i in range(NUM_HASHES)
    )


def _sql_band_eq(i: int) -> str:
    cols = range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND)
    return "(" + " AND ".join(f"a.mh{c} = b.mh{c}" for c in cols) + ")"


def _sql_match_frac() -> str:
    terms = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(NUM_HASHES)
    )
    return f"(({terms}) / {float(NUM_HASHES)})"


@operator(
    "minhash_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    mh AS (
      SELECT doc_id,
             {_sql_minhash_cols()}
      FROM hashes GROUP BY doc_id
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND({_sql_match_frac()}, 4) AS est_sim
    FROM mh a JOIN mh b ON a.doc_id < b.doc_id
    WHERE ({" OR ".join(_sql_band_eq(i) for i in range(LSH_BANDS))})
      AND {_sql_match_frac()} >= {MINHASH_THRESHOLD}
    ORDER BY doc_a, doc_b
    """,
)
def minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    lanes = _kernel_lanes(spark, est_bytes=_scan_size_bytes(docs, "documents"))
    # The whole plan up to the kernel is ONE Spark SQL statement over
    # the `documents` frame, built from a handful of generated
    # expression strings. Building the same stages through the Column
    # API costs a py4j round trip per F.* call, per column name and per
    # list element (plus PySpark's call-site capture on every F.*
    # call): ~6,500 driver round trips per call for the 32 min/cast
    # chains and 8 band structs, vs ~150 this way. The stages, plan and
    # exchanges are the same either way. Literals that must be doubles
    # carry a D suffix (`512.0D`, `32.0D`): in Spark SQL a bare `32.0`
    # is a DECIMAL literal, which would turn est_sim decimal. The
    # `{docs}` placeholder binds the DataFrame through spark.sql's
    # formatter (a uuid-named view dropped right after parsing), so
    # repeated and nested calls never share a named view.
    sig = ", ".join(f"m{i}" for i in range(NUM_HASHES))
    # one grouped agg computes all K sketches in a single pass, packed
    # into ONE array column: the signature frame is (doc_id, 32 longs),
    # consumed exactly ONCE below — a linear DAG with no self-join, no
    # broadcast, no cache, and therefore no repeated recomputation of
    # the tokenize->hash->min pipeline.
    mins = ", ".join(
        f"min(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE_P})"
        for i in range(NUM_HASHES)
    )
    # Signatures cross every downstream exchange as 32 FLAT INT columns
    # (each minhash value is < 2^31 by the mod-p construction, so int32
    # is lossless): half the shuffle bytes of the array<long> form, and
    # the Arrow transfer into the kernel lands as one contiguous int32
    # matrix per column instead of boxed list cells (guide §2.3
    # narrower types / §4.2 vectorized boundary).
    casts = ", ".join(f"cast(sig_arr[{i}] as int) AS m{i}" for i in range(NUM_HASHES))
    # SIGNATURE-LEVEL COLLAPSE (the `sg` stage, round 16): docs with
    # IDENTICAL 32-sketch signatures are interchangeable everywhere
    # downstream — they collide in every band, qualify against exactly
    # the same partners with exactly the same match count, and pair
    # with each other at cnt = NUM_HASHES. So the banding pipeline
    # runs over DISTINCT signatures only (5,000 docs -> 3,129 sigs at
    # sf0.1, and the hot near-dup buckets collapse hardest: the band
    # re-check that previously re-verified every doc-level pair of a
    # duplicate cluster in all 8 bands now verifies each sig-level
    # pair once), and member doc_ids ride along as an array that the
    # kernel expands combinatorially AFTER the eq-tensor decides which
    # sig pairs qualify. Two pair sources, ONE exploded stream and one
    # kernel (a union of two sg consumers would duplicate the whole
    # signature subtree in the static plan):
    #   * cross-sig pairs: banding over distinct sigs (band >= 0);
    #     a qualifying sig pair (i, j) expands to members_i x members_j
    #     doc pairs, all at the sig pair's match count.
    #   * same-sig pairs: every i<j inside a k>=2 signature group, at
    #     cnt = NUM_HASHES by construction — no banding needed (they
    #     collide in every band; the canonical band is always 0), so
    #     they bypass the eq tensor entirely: the group emits one
    #     band = -1 MEMBER row per doc into its own synthetic bucket
    #     "s:<rep>", which flows through the same window/tile/lane
    #     machinery (its bucket width is the group size, so giant
    #     duplicate clusters still tile).
    #
    # Band-bucket grouping instead of a band self-join (the `banded`
    # stage): each distinct sig explodes into LSH_BANDS rows keyed by
    # its band signature; pairs are enumerated inside the bucket by a
    # vectorized numpy kernel. Two tricks make this strictly better
    # than the join formulation:
    #   1. canonical band: a pair is emitted ONLY by the first band in
    #      which it collides (we hold both full signatures, so earlier
    #      bands are re-checkable locally). Pairs are therefore unique
    #      by construction — no distinct() shuffle.
    #   2. the match-count verification is integer numpy (chunked
    #      pairwise equality over the n x 32 signature matrix), not a
    #      per-element interpreted higher-order function and not a
    #      32-way unrolled codegen expression (blows the JVM 8KB JIT
    #      limit, runs interpreted).
    # bkey(i) = "band:s0:s1:s2:s3" — string keys group identically in
    # Spark's shuffle and in pandas ("s:<rep>" for the same-sig
    # buckets cannot collide with them: band indexes are digits).
    estruct = "struct<band:int,bkey:string,rep:bigint,members:array<bigint>,k:bigint>"
    band_structs = ", ".join(
        f"struct({i} AS band, concat_ws(':', {i}, "
        + ", ".join(f"m{j}" for j in range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND))
        + ") AS bkey, rep, members, cast(size(members) as bigint) AS k)"
        for i in range(LSH_BANDS)
    )
    # Bucket SKEW is handled by width-adaptive tiling (the `tiled`
    # stage), not by one task per bucket: a bucket whose members pair
    # quadratically spreads over ~(w/T)^2/2 tiles of <= T docs per
    # side. Tile count nc is derived from the bucket's total MEMBER
    # volume (sum of group sizes — the same doc-count semantics the
    # pre-collapse pipeline tiled on; a same-sig bucket's width is its
    # group size), and member arrays larger than T are SLICED so no
    # single row concentrates an unbounded expansion in one tile. A
    # band bucket is pruned unless it holds >= 2 rows (for band
    # buckets: >= 2 distinct sigs — same-sig pairs never come from
    # banding; for same-sig buckets: their k >= 2 member rows always
    # pass). Width via window aggs over bkey — one shuffle of the
    # bands table. The k <= T arm wraps without slicing: slice()
    # copies the array even when it takes the whole of it, and
    # virtually every members array is far below T.
    #
    # Tile membership as ONE side-tagged frame (the `memb` explode)
    # instead of the former two-sided cogroup (measured r15: the
    # cogroup machinery alone — two exchanges, two Arrow streams, one
    # Python invocation per tile group — cost 2.4s of the 4.5s
    # operator with the kernel stubbed out). A row in hash-chunk c is
    #   side 0 of the diagonal tile (c, c)      — within-tile i<j pairs
    #   side 1 (the A side) of tiles (c, tj>c)
    #   side 2 (the B side) of tiles (ti<c, c)
    # so the diagonal membership is emitted ONCE. Cross-chunk pairs
    # still meet in exactly one tile. Kernel groups are COARSENED to
    # hash lanes: one Python invocation owns ~a dozen tile groups and
    # walks them with pandas groupby — the shuffle volume is identical
    # but the per-group Arrow round-trip is amortized. Lane count
    # tracks the session's parallelism AND the input volume
    # (_kernel_lanes: a lane never owns more than ~_LANE_INPUT_BYTES
    # of source data, so the per-lane pandas frame stays bounded at
    # any corpus size — VERDICT r15 item 1).
    exploded = spark.sql(
        f"""
        WITH toks AS (
          SELECT doc_id, explode(array_distinct({spark_sql_tokens('text')})) AS tok
          FROM {{docs}}
        ),
        hashes AS (SELECT doc_id, {spark_sql_token_hash('tok')} AS h FROM toks),
        mh AS (SELECT doc_id, array({mins}) AS sig_arr FROM hashes GROUP BY doc_id),
        sigs AS (SELECT doc_id, {casts} FROM mh),
        sg AS (
          SELECT {sig}, min(doc_id) AS rep, collect_list(doc_id) AS members
          FROM sigs GROUP BY {sig}
        ),
        banded AS (
          SELECT explode(concat(
                   array({band_structs}),
                   CASE WHEN size(members) >= 2
                   THEN transform(members, d -> named_struct(
                          'band', -1,
                          'bkey', concat('s:', cast(rep as string)),
                          'rep', d,
                          'members', array(d),
                          'k', 1L))
                   ELSE cast(array() as array<{estruct}>) END)) AS e,
                 {sig}
          FROM sg
        ),
        bands AS (
          SELECT e.band AS band, e.bkey AS bkey, e.rep AS rep,
                 e.members AS members, e.k AS k, {sig}
          FROM banded
        ),
        widths AS (
          SELECT *, count(1) OVER (PARTITION BY bkey) AS n_rows,
                 sum(k) OVER (PARTITION BY bkey) AS w
          FROM bands
        ),
        sliced AS (
          SELECT bkey, band, rep, nc,
                 posexplode(CASE WHEN size(members) <= {_TILE_DOCS}
                   THEN array(members)
                   ELSE transform(
                     sequence(0, int(ceil(size(members) / {float(_TILE_DOCS)})) - 1),
                     s -> slice(members, s * {_TILE_DOCS} + 1, {_TILE_DOCS}))
                   END) AS (sidx, members),
                 {sig}
          FROM (SELECT *, cast(ceil(w / {float(_TILE_DOCS)}D) as int) AS nc
                FROM widths WHERE n_rows >= 2)
        ),
        tiled AS (
          SELECT *, cast(pmod(xxhash64(rep, sidx), nc) as int) AS c FROM sliced
        ),
        memb AS (
          SELECT bkey, band, rep, members, explode(concat(
                   array(named_struct('ti', c, 'tj', c, 'side', 0)),
                   transform(filter(sequence(0, nc - 1), t -> t > c),
                             t -> named_struct('ti', c, 'tj', t, 'side', 1)),
                   transform(filter(sequence(0, nc - 1), t -> t < c),
                             t -> named_struct('ti', t, 'tj', c, 'side', 2)))) AS m,
                 {sig}
          FROM tiled
        )
        SELECT bkey, band, rep, members, m.ti AS ti, m.tj AS tj, m.side AS side,
               pmod(xxhash64(bkey, m.ti, m.tj), {lanes}) AS lane, {sig}
        FROM memb
        """,
        docs=docs,
    )
    min_cnt = int(-(-MINHASH_THRESHOLD * NUM_HASHES // 1))
    pairs = exploded.groupBy("lane").applyInPandas(
        _minhash_lane_kernel(min_cnt), schema="doc_a long, doc_b long, cnt int"
    )
    return pairs.selectExpr(
        "doc_a", "doc_b", f"round(cnt / {float(NUM_HASHES)}D, 4) AS est_sim"
    )


# Max docs per tile side; bounds per-task compare work. 1024 measured
# WORSE at sf0.1 (5.1s vs 3.2s: the per-tile eq tensor outgrows cache
# and the heavy cluster's work concentrates in fewer lanes).
_TILE_DOCS = 512


def _minhash_lane_kernel(min_cnt: int):
    """Lane kernel: qualifying pairs for every (bucket, ti, tj) tile
    group hashing into this lane, expanded from SIGNATURE level to doc
    level.

    Rows are distinct signatures (or member slices of one) carrying a
    `members` doc_id array; `rep` is the signature's canonical id
    (its min doc_id) used for i<j tie-breaking, so each unordered sig
    pair is decided exactly once and then expanded combinatorially
    (members_a x members_b, vectorized — no Python loop over doc
    pairs). Slices of the SAME signature meeting in a tile are
    excluded (rep equality): intra-signature pairs arrive on the
    band = -1 stream instead, where every pair qualifies at
    cnt = NUM_HASHES and the eq tensor is skipped entirely.

    All match math is int32 equality counting — no floats, so
    Spark/DuckDB agreement is exact. The earlier-band mask suppresses
    any sig pair that already collides in an EARLIER band (the
    canonical-band dedup); a tile's own band matches by construction
    of its bucket key. Diagonal tiles (ti == tj, side 0) enumerate
    i<j within one matrix; off-diagonal tiles compare the side-1 rows
    against the side-2 rows. A-side blocking bounds the bool tensor at
    BLK x |B| x 32 bytes however degenerate the bucket."""

    def fn(pdf):
        import numpy as np
        import pandas as pd

        empty = pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="int64"),
                "doc_b": pd.Series(dtype="int64"),
                "cnt": pd.Series(dtype="int32"),
            }
        )
        if len(pdf) == 0:
            return empty
        M = pdf[[f"m{i}" for i in range(NUM_HASHES)]].to_numpy()
        reps = pdf["rep"].to_numpy()
        memb_col = pdf["members"].to_numpy()
        lens = np.fromiter(
            (len(x) for x in memb_col), dtype=np.int64, count=len(memb_col)
        )
        offs = np.concatenate(([0], np.cumsum(lens)))
        pool = np.concatenate([np.asarray(x, dtype=np.int64) for x in memb_col])
        bands_arr = pdf["band"].to_numpy()
        sides = pdf["side"].to_numpy()
        rpb = _ROWS_PER_BAND
        out_a, out_b, out_c = [], [], []
        BLK = 512

        def emit(gi, gj, cnts):
            """Expand qualifying sig-row pairs (global indices gi x gj)
            to member doc pairs — fully vectorized index arithmetic
            over the flattened member pool."""
            la, lb = lens[gi], lens[gj]
            sizes = la * lb
            tot = int(sizes.sum())
            poff = np.concatenate(([0], np.cumsum(sizes)))
            pidx = np.repeat(np.arange(len(sizes)), sizes)
            r = np.arange(tot) - poff[pidx]
            av = pool[offs[gi][pidx] + r // lb[pidx]]
            bv = pool[offs[gj][pidx] + r % lb[pidx]]
            out_a.append(np.minimum(av, bv))
            out_b.append(np.maximum(av, bv))
            out_c.append(np.repeat(cnts, sizes).astype(np.int32))

        def compare(band, ia, ib, same_chunk):
            ra, rb = reps[ia], reps[ib]
            if band < 0:
                # same-sig tile: every cross/diagonal pair qualifies at
                # cnt = NUM_HASHES — no tensor, no suppression (the
                # canonical band of an identical-sig pair is always
                # this stream).
                if same_chunk:
                    ii, jj = np.nonzero(ra[:, None] < rb[None, :])
                else:
                    na, nb = len(ia), len(ib)
                    ii = np.repeat(np.arange(na), nb)
                    jj = np.tile(np.arange(nb), na)
                if len(ii):
                    emit(
                        ia[ii],
                        ib[jj],
                        np.full(len(ii), NUM_HASHES, dtype=np.int32),
                    )
                return
            Sa, Sb = M[ia], M[ib]
            for i0 in range(0, len(ia), BLK):
                blk = Sa[i0 : i0 + BLK]
                eq = blk[:, None, :] == Sb[None, :, :]  # blk x nB x 32
                cnt = eq.sum(axis=2, dtype=np.int32)
                mask = cnt >= min_cnt
                for earlier in range(band):
                    l0 = earlier * rpb
                    mask &= ~eq[:, :, l0 : l0 + rpb].all(axis=2)
                if same_chunk:
                    mask &= ra[i0 : i0 + BLK][:, None] < rb[None, :]
                else:
                    # slices of one signature can land in different
                    # chunks; their intra-sig pairs belong to the
                    # band = -1 stream
                    mask &= ra[i0 : i0 + BLK][:, None] != rb[None, :]
                ii, jj = np.nonzero(mask)
                if len(ii):
                    emit(ia[ii + i0], ib[jj], cnt[ii, jj])

        groups = pdf.groupby(["bkey", "ti", "tj"], sort=False).indices
        for (_, ti, tj), idx in groups.items():
            band = int(bands_arr[idx[0]])
            if ti == tj:
                # diagonal tile: one member set (side 0), i<j in-kernel
                compare(band, idx, idx, True)
            else:
                gs = sides[idx]
                asel = idx[gs == 1]
                bsel = idx[gs == 2]
                if len(asel) == 0 or len(bsel) == 0:
                    continue
                compare(band, asel, bsel, False)
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "cnt": np.concatenate(out_c).astype(np.int32),
            }
        )

    return fn


# --------------------------------------------------------------------------
# SimHash near-dup pairs: 60-bit weighted signature, hamming <= 3.
# --------------------------------------------------------------------------
def _sql_simhash_expr() -> str:
    """DuckDB: build the signature from 60 weighted bit-sums."""
    bit_sums = ",\n             ".join(
        f"SUM(cnt * (2 * ((h >> {i}) & 1) - 1)) AS s{i}" for i in range(SIMHASH_BITS)
    )
    sig = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN (1::BIGINT << {i}) ELSE 0 END)"
        for i in range(SIMHASH_BITS)
    )
    return bit_sums, sig


@operator(
    "simhash_pairs",
    oracle=(lambda bit_sums_sig: f"""
    WITH toks AS (
      SELECT doc_id, tok, COUNT(*) AS cnt
      FROM (SELECT doc_id, UNNEST({sql_tokens('text')}) AS tok FROM documents)
      GROUP BY 1, 2
    ),
    hashes AS (
      SELECT doc_id, cnt,
             ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
      FROM toks
    ),
    bitsums AS (
      SELECT doc_id,
             {bit_sums_sig[0]}
      FROM hashes GROUP BY doc_id
    ),
    sigs AS (SELECT doc_id, {bit_sums_sig[1]} AS sig FROM bitsums)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sig, b.sig)) AS hamming
    FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {SIMHASH_MAX_HAMMING}
    ORDER BY doc_a, doc_b
    """)(_sql_simhash_expr()),
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    est_bytes = _scan_size_bytes(docs, "documents")
    # weight = occurrence count, summed implicitly: one ±1 contribution
    # per token OCCURRENCE is identical to cnt * ±1 per distinct token,
    # and drops the (doc_id, tok) pre-aggregation shuffle entirely —
    # the only shuffle left is the per-doc bit-sum agg (map-side
    # partials over the exploded stream). (Round 16 measured the
    # md5-per-DISTINCT-(doc,tok) variant — pre-agg counts, then
    # cnt-weighted bit sums, the VERDICT r15 item-5 candidate: 2.3x
    # fewer md5 calls but 9% SLOWER same-session (best 1.87 -> 2.04s
    # at sf0.1) — the extra exchange + regrouped final agg cost more
    # than the saved hashing. Rejected; per-occurrence form kept.)
    hashes = docs.select(
        "doc_id", F.explode(tokens("text")).alias("tok")
    ).select(
        "doc_id",
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    # Bit sums in the cheaper algebra: s_i = 2*S_i - n where S_i is the
    # plain bit-i count and n the per-doc token count — so the per-row
    # work per bit is one shift+AND (no multiply/subtract), and the
    # sign test s_i > 0 becomes 2*S_i > n on integers. Identical
    # signature bits by construction (integer arithmetic, same values).
    bitsums = hashes.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"),
        *[
            F.sum(F.shiftright("h", i).bitwiseAND(F.lit(1))).alias(f"S{i}")
            for i in range(SIMHASH_BITS)
        ],
    )
    sig = sum(
        F.when(2 * F.col(f"S{i}") > F.col("n"), F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        for i in range(SIMHASH_BITS)
    )
    sigs = bitsums.select("doc_id", sig.alias("sig"))
    # Candidate generation: hamming<=3 over 4 chunks ⇒ >=1 chunk equal
    # (pigeonhole), with the CANONICAL-CHUNK rule: a pair is emitted
    # only by the FIRST chunk in which the signatures agree, so pairs
    # are unique by construction (no distinct() shuffle). One Arrow
    # kernel per chunk bucket does the pairwise work vectorized
    # (XOR + byte-LUT popcount over j-blocks) — no self-join (the join
    # formulation built the 60-sum signature pipeline twice; AQE's
    # broadcast conversion defeated exchange reuse) and no
    # higher-order-function pair expansion (interpreted struct
    # construction is quadratic in bucket width: measured 55s at an 8x
    # duplicated corpus vs ~3s for this kernel). j-block tiling bounds
    # kernel memory at B x width regardless of how degenerate the
    # bucket is.
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS

    def chunk_of(col, c: int):
        return F.shiftright(col, c * chunk_bits).bitwiseAND(
            F.lit((1 << chunk_bits) - 1)
        )

    chunks = sigs.select(
        "doc_id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"), chunk_of(F.col("sig"), c).alias("v")
                    )
                    for c in range(SIMHASH_CHUNKS)
                ]
            )
        ).alias("chunk"),
    )
    # Arrow groups are COARSENED to (c, hash(v) % lanes): one pandas
    # invocation owns ~dozens of buckets and walks them with numpy
    # slicing. Grouping by the exact bucket key paid one Python/Arrow
    # round-trip per bucket — with ~16k mostly-singleton buckets at
    # sf0.1 that overhead alone was ~16s; the coarse grouping is the
    # same shuffle volume with SIMHASH_CHUNKS * lanes invocations.
    lanes = _kernel_lanes(spark, SIMHASH_CHUNKS, est_bytes=est_bytes)
    pairs = (
        chunks.select(
            "doc_id",
            "sig",
            "chunk.c",
            "chunk.v",
            F.pmod(F.xxhash64("chunk.v"), F.lit(lanes)).alias("g"),
        )
        .groupBy("c", "g")
        .applyInPandas(
            _simhash_bucket_kernel(),
            schema="doc_a long, doc_b long, hamming int",
        )
    )
    return pairs


# Target SOURCE bytes per kernel lane: `applyInPandas` materializes an
# entire group as one pandas frame in a single task, so lane count must
# grow with DATA VOLUME, not only with core count — at a fixed lane
# count the per-lane frame grows linearly with the corpus and
# eventually OOMs one task (VERDICT r15 item 1). 64 MB of source data
# per lane keeps the per-lane candidate frame in the low hundreds of
# MB even for explode factors ~8 (bands x tile fanout), while at
# sf0.1 (<1 MB of documents) the parallelism term still dominates, so
# local bench behavior is unchanged. Tests may shrink this to force
# many lanes and assert output invariance.
_LANE_INPUT_BYTES = 64 << 20
# Ceiling on data-derived lanes: a garbage size estimate (statistics
# unavailable -> Long.MaxValue) must not explode the grouping key
# domain; 1M lanes is far beyond any sane single-job task count.
_LANE_MAX = 1 << 20


def _scan_size_bytes(df: DataFrame, name: str) -> int:
    """Optimizer size estimate of a frame's source, in bytes (for file
    scans: the sum of file sizes — exact, no job). 0 when unavailable,
    which drops _kernel_lanes' data-volume bound, so that fallback logs
    a warning naming the frame instead of passing silently."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception as exc:
        _log.warning(
            "no size statistics for %s (%s); kernel lanes fall back to "
            "the parallelism bound only",
            name,
            exc,
        )
        return 0


def _kernel_lanes(
    spark: SparkSession,
    groups_per_lane: int = 1,
    floor: int = 8,
    est_bytes: int = 0,
) -> int:
    """Arrow-kernel lane count, derived from the session's parallelism
    AND the input volume, so kernel tasks ~= available cores at ANY
    deployment size (a fixed constant is wrong on both ends: at
    local[32] over-laning pays one Python invocation per extra group —
    measured 0.3-0.5s per operator at 128 vs 32 lanes — and on a big
    cluster under-laning idles executors) while no single lane ever
    owns more than ~_LANE_INPUT_BYTES of source data (the lane group
    is materialized as ONE pandas frame, so its size must be bounded
    by data volume, not just spread over cores). `groups_per_lane`
    divides when the grouping key already multiplies lanes (e.g.
    simhash groups by (chunk, lane))."""
    par = spark.sparkContext.defaultParallelism
    data_lanes = 0
    if est_bytes > 0:
        data_lanes = min(
            -(-est_bytes // _LANE_INPUT_BYTES) // groups_per_lane, _LANE_MAX
        )
    return max(floor, par // groups_per_lane, int(data_lanes))


def _simhash_bucket_kernel():
    """Kernel over a coarse group of chunk buckets (same chunk index
    c, bucket values hashing to the same lane): for each bucket, all
    member pairs with hamming <= SIMHASH_MAX_HAMMING, emitted only if
    this chunk is the FIRST whose values agree (cross-chunk dedup
    without a distinct). Vectorized: XOR outer product per j-block,
    popcount via a byte lookup table; j-blocks bound memory however
    degenerate a bucket is."""
    import numpy as np

    lut = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)
    chunk_bits = SIMHASH_BITS // SIMHASH_CHUNKS
    chunk_mask = (1 << chunk_bits) - 1
    block = 1024

    def fn(pdf):
        import pandas as pd

        empty = pd.DataFrame(
            {
                "doc_a": pd.Series(dtype="int64"),
                "doc_b": pd.Series(dtype="int64"),
                "hamming": pd.Series(dtype="int32"),
            }
        )
        if len(pdf) < 2:
            return empty
        c_here = int(pdf["c"].iloc[0])
        vs_all = pdf["v"].to_numpy(dtype=np.int64)
        ids_all = pdf["doc_id"].to_numpy()
        sigs_all = pdf["sig"].to_numpy(dtype=np.int64)
        order = np.lexsort((ids_all, vs_all))
        vs = vs_all[order]
        ids = np.ascontiguousarray(ids_all[order])
        sigs = np.ascontiguousarray(sigs_all[order])
        bounds = np.flatnonzero(np.r_[True, vs[1:] != vs[:-1], True])
        out_a, out_b, out_h = [], [], []
        for b0, b1 in zip(bounds[:-1], bounds[1:]):
            n = b1 - b0
            if n < 2:
                continue
            bids = ids[b0:b1]
            bsigs = sigs[b0:b1]
            ch = np.stack(
                [
                    (bsigs >> (k * chunk_bits)) & chunk_mask
                    for k in range(SIMHASH_CHUNKS)
                ],
                axis=1,
            )
            for s in range(0, n, block):
                blk = np.ascontiguousarray(bsigs[s : s + block])
                x = np.bitwise_xor.outer(blk, bsigs)
                ham = lut[x.view(np.uint8).reshape(*x.shape, 8)].sum(
                    axis=2, dtype=np.int16
                )
                mask = (ham <= SIMHASH_MAX_HAMMING) & (
                    bids[s : s + block][:, None] < bids[None, :]
                )
                if not mask.any():
                    continue
                ii, jj = np.nonzero(mask)
                gi = ii + s
                eqm = ch[gi] == ch[jj]  # (m, SIMHASH_CHUNKS)
                keep = eqm.argmax(axis=1) == c_here
                out_a.append(bids[gi][keep])
                out_b.append(bids[jj][keep])
                out_h.append(ham[ii, jj][keep])
        if not out_a:
            return empty
        return pd.DataFrame(
            {
                "doc_a": np.concatenate(out_a),
                "doc_b": np.concatenate(out_b),
                "hamming": np.concatenate(out_h).astype("int32"),
            }
        )

    return fn


# --------------------------------------------------------------------------
# Dedup resolution: near-dup PAIRS -> KEEP/DROP decision. Connected
# components over the minhash pair graph by iterative min-label
# propagation (each round: label[d] = min(label[d], labels of
# neighbors)); the component's minimum doc_id is the canonical keeper.
# The oracle is a DuckDB recursive CTE: propagate every label down
# edges while it is smaller than the receiving node (the component
# minimum is below every member id, so it always survives the prune),
# then MIN per node — a declarative fixpoint of the same algorithm.
# Scale: each Spark round is one join + one agg on the pair edge list;
# rounds needed = graph diameter (tiny for dup clusters).
# --------------------------------------------------------------------------
MAX_CC_ITERS = 20

_RESOLVE_CTES = f"""
    WITH RECURSIVE toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    mh AS (
      SELECT doc_id,
             {_sql_minhash_cols()}
      FROM hashes GROUP BY doc_id
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh a JOIN mh b ON a.doc_id < b.doc_id
      WHERE ({" OR ".join(_sql_band_eq(i) for i in range(LSH_BANDS))})
        AND {_sql_match_frac()} >= {MINHASH_THRESHOLD}
    ),
    edges AS (
      SELECT doc_a AS src, doc_b AS dst FROM pairs
      UNION ALL
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, r.lbl
      FROM reach r JOIN edges e ON e.src = r.node
      WHERE r.lbl < e.dst
    )"""

_RESOLVE_ORACLE = (
    _RESOLVE_CTES
    + """
    SELECT node AS doc_id,
           MIN(lbl) AS component,
           (node = MIN(lbl)) AS keep
    FROM reach GROUP BY node ORDER BY doc_id
    """
)


@operator("dedup_resolve", oracle=_RESOLVE_ORACLE)
def dedup_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = minhash_dedup(spark, sf_dir).select("doc_a", "doc_b")
    ids = _docs(spark, sf_dir).select("doc_id")
    return resolve_components(spark, ids, pairs)


def resolve_components(
    spark: SparkSession, ids: DataFrame, pairs: DataFrame
) -> DataFrame:
    """Connected components over an undirected near-dup pair list by
    iterative min-label propagation. `ids` must have a `doc_id`
    column covering every node; `pairs` must have `doc_a`/`doc_b`.
    Returns (doc_id, component, keep) with the component minimum as
    the canonical keeper. Shared by the minhash resolver and the
    embedding-based semantic resolver."""
    import atexit
    import shutil
    import tempfile

    work = tempfile.mkdtemp(prefix="cc_")
    # The returned DataFrame's lineage reads the final labels parquet,
    # so the work dir must outlive this call — intermediates are pruned
    # below and the survivor is reaped at interpreter exit.
    atexit.register(shutil.rmtree, work, True)
    # Materialize the edge list to parquet FIRST: the iteration must
    # never drag the pair-generation DAG (band broadcasts, Arrow
    # verification) through its lineage — that both recomputes per
    # round and holds heap in small-driver sessions (observed OOM at
    # 1g). On a cluster this is the standard "cut lineage before
    # iterating" posture (same role as checkpointing).
    pairs.union(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).write.mode("overwrite").parquet(f"{work}/edges")
    edges = spark.read.parquet(f"{work}/edges")

    docs = ids
    # ping-pong between two label paths: iteration i reads one slot and
    # overwrites the other (safe — the slot being overwritten was fully
    # consumed by the previous round's `changed` count), so disk stays
    # O(|docs|) however many rounds run.
    slots = [f"{work}/labels_a", f"{work}/labels_b"]
    docs.select("doc_id", F.col("doc_id").alias("label")).write.mode(
        "overwrite"
    ).parquet(slots[0])
    labels = spark.read.parquet(slots[0])
    final_slot = slots[0]

    for it in range(MAX_CC_ITERS):
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = labels.join(neighbor_min, "doc_id", "left").select(
            "doc_id",
            F.least(
                F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
            ).alias("label"),
        )
        # round-trip through parquet: constant-size plans every round
        out = slots[(it + 1) % 2]
        new_labels.write.mode("overwrite").parquet(out)
        new_labels = spark.read.parquet(out)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        final_slot = out
        if changed == 0:
            break
    # prune everything the result's lineage no longer needs
    shutil.rmtree(f"{work}/edges", ignore_errors=True)
    other = slots[0] if final_slot == slots[1] else slots[1]
    shutil.rmtree(other, ignore_errors=True)
    return labels.select(
        "doc_id",
        F.col("label").alias("component"),
        (F.col("doc_id") == F.col("label")).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# CDC-style compaction: keep the LATEST record per key. The standard
# ingest-side dedup for at-least-once pipelines (replayed Kafka batches,
# upsert changelogs — the reference's MySQL PK sinks do exactly this
# per-key last-write-wins, /root/reference/doc/temp.md:322-329).
# --------------------------------------------------------------------------
@operator(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, ts, event_id, event_type, value, props
    FROM (
      SELECT user_id, ts, event_id, event_type, value, props,
             ROW_NUMBER() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC, event_type DESC,
                        value DESC, props DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    ORDER BY user_id
    """,
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins compaction via single-pass argmax.

    NOT a window row_number: ``max(struct(...))`` is a partial
    aggregate — each map task keeps ONE candidate row per key before
    the shuffle, so at 100 TB the exchange carries |keys| rows, not
    |events| rows (a window plan shuffles EVERY row, then sorts each
    partition by (key, all ordering columns); here the only sort is
    the map-side group-key sort feeding SortAggregate). The
    struct's field order IS the ordering spec (ts first, then the
    remaining columns as a total tie-break, so duplicate rows — no
    fixture table has an enforced PK — still yield a deterministic,
    oracle-identical projection).
    """
    ensure_session_confs(spark)
    ev = load_table(spark, sf_dir, "events")
    latest = ev.groupBy("user_id").agg(
        F.max(
            F.struct("ts", "event_id", "event_type", "value", "props")
        ).alias("r")
    )
    return latest.select(
        "user_id",
        F.col("r.ts").alias("ts"),
        F.col("r.event_id").alias("event_id"),
        F.col("r.event_type").alias("event_type"),
        F.col("r.value").alias("value"),
        F.col("r.props").alias("props"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Cluster-size report: the dedup run's summary statistics — how many
# duplicate clusters of each size, how many docs dropped. Consumes the
# resolved components; one tiny two-level agg on top (|docs| -> |components|
# -> |distinct sizes| rows). The oracle extends the same recursive CTE.
# --------------------------------------------------------------------------
@operator(
    "dedup_cluster_sizes",
    oracle=_RESOLVE_CTES
    + """,
    comp AS (
      SELECT node AS doc_id, MIN(lbl) AS component FROM reach GROUP BY node
    ),
    sizes AS (
      SELECT component, COUNT(*) AS csize FROM comp GROUP BY component
    )
    SELECT csize AS cluster_size,
           COUNT(*)                       AS n_clusters,
           CAST(SUM(csize) AS BIGINT)     AS n_docs,
           CAST(SUM(csize - 1) AS BIGINT) AS n_dropped
    FROM sizes GROUP BY csize ORDER BY cluster_size
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_resolve(spark, sf_dir)
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        sizes.groupBy(F.col("csize").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("csize").alias("n_docs"),
            F.sum(F.col("csize") - 1).alias("n_dropped"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# Corpus-level chunk dedup (C4-style line dedup adapted to the fixture:
# the synthetic docs have no newlines, so the dedup unit is the fixed
# 10-word chunk — the same unit doc_word_chunks emits). Every chunk
# that occurs more than once corpus-wide is kept only at its first
# occurrence (lowest (doc_id, ord)) and dropped everywhere else; each
# doc is reconstructed from its surviving chunks.
#
# Scale posture: the only wide op is one hash-shuffle on md5(chunk) for
# the first-occurrence window — the same shuffle exact dedup does, just
# at chunk granularity (C4 does this over ~billions of lines). The
# reconstruction groupBy(doc_id) shuffles doc-sized rows once. No
# driver-side state; the md5 keeps shuffle keys fixed-width regardless
# of chunk length.
# --------------------------------------------------------------------------
_CHUNK_WORDS = 10


@operator(
    "chunk_dedup_corpus",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             CAST((i - 1) / {_CHUNK_WORDS} AS BIGINT) AS ord,
             array_to_string(w[i:i+{_CHUNK_WORDS - 1}], ' ') AS chunk
      FROM toks, LATERAL unnest(range(1, len(w) + 1, {_CHUNK_WORDS})) AS t(i)
    ),
    flagged AS (
      SELECT doc_id, ord, chunk,
             ROW_NUMBER() OVER (PARTITION BY md5(chunk)
                                ORDER BY doc_id, ord) = 1 AS keep
      FROM chunks
    )
    SELECT doc_id,
           COALESCE(string_agg(chunk, ' ' ORDER BY ord)
                      FILTER (WHERE keep), '') AS text_dedup,
           CAST(COUNT(*) FILTER (WHERE keep) AS BIGINT) AS kept_chunks,
           COUNT(*) AS total_chunks
    FROM flagged
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def chunk_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_chunks = F.floor((F.size("w") - 1) / F.lit(_CHUNK_WORDS)).cast("int")
    chunk_at = lambda i: F.array_join(  # noqa: E731
        F.slice("w", i * _CHUNK_WORDS + 1, _CHUNK_WORDS), " "
    )
    chunks = d.select(
        "doc_id",
        F.posexplode(
            F.transform(F.sequence(F.lit(0), n_chunks), chunk_at)
        ).alias("ord", "chunk"),
    )
    win = Window.partitionBy(F.md5("chunk")).orderBy("doc_id", "ord")
    flagged = chunks.withColumn("keep", F.row_number().over(win) == 1)
    kept_struct = F.when(
        F.col("keep"), F.struct(F.col("ord"), F.col("chunk"))
    )
    return (
        flagged.groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.chunk,
                ),
                " ",
            ).alias("text_dedup"),
            F.sum(F.col("keep").cast("long")).alias("kept_chunks"),
            F.count(F.lit(1)).alias("total_chunks"),
        )
        .select("doc_id", "text_dedup", "kept_chunks", "total_chunks")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Benchmark decontamination (GPT-3-appendix-C style): flag every
# training document that shares at least one exact word 4-gram with
# the held-out evaluation set (here: the deterministic doc_id % 20
# slice stands in for the benchmark corpus). Emits per-doc
# contamination flag + the number of distinct overlapping grams.
#
# Scale posture: eval-set grams are the distinct n-grams of the
# BENCHMARKS, not the corpus — small by construction (MMLU+HellaSwag+
# … fit in MBs) — so the probe side broadcasts and the training-side
# gram stream never shuffles on gram text; the per-doc count is one
# partial-agg shuffle on doc_id. The gram explode is width-bounded
# (one row per word, fixed K join of adjacent words).
# --------------------------------------------------------------------------
_DECON_K = 4
_DECON_MOD = 20


@operator(
    "decontaminate_ngram",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, array_to_string(w[i:i+{_DECON_K - 1}], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(w) - {_DECON_K} + 2)) AS t(i)
    ),
    eval_g AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0
    ),
    hits AS (
      SELECT gr.doc_id, COUNT(DISTINCT gr.g) AS shared_grams
      FROM grams gr JOIN eval_g e ON gr.g = e.g
      WHERE gr.doc_id % {_DECON_MOD} <> 0
      GROUP BY gr.doc_id
    )
    SELECT d.doc_id,
           COALESCE(h.shared_grams, 0) AS shared_grams,
           h.doc_id IS NOT NULL AS contaminated
    FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
    WHERE d.doc_id % {_DECON_MOD} <> 0
    ORDER BY d.doc_id
    """,
)
def decontaminate_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("w"))
    gram_at = lambda i: F.array_join(  # noqa: E731
        F.slice("w", i + 1, _DECON_K), " "
    )
    grams = toks.select(
        "doc_id",
        F.explode(
            F.when(
                F.size("w") >= _DECON_K,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _DECON_K), gram_at
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    is_eval = F.col("doc_id") % _DECON_MOD == 0
    eval_g = grams.filter(is_eval).select("g").distinct()
    hits = (
        grams.filter(~is_eval)
        .join(F.broadcast(eval_g), "g", "left_semi")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("shared_grams"))
    )
    return (
        docs.filter(~is_eval)
        .join(hits.withColumnRenamed("doc_id", "h_doc_id"),
              F.col("doc_id") == F.col("h_doc_id"), "left")
        .select(
            "doc_id",
            F.coalesce("shared_grams", F.lit(0).cast("long")).alias(
                "shared_grams"
            ),
            F.col("h_doc_id").isNotNull().alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Entity-resolution blocking: edit-distance-1 name pairs via the
# deletion neighborhood. Every string keys itself plus each
# single-character deletion; two strings at edit distance 1 are
# GUARANTEED to share a key (substitution at i -> same deletion at i;
# insertion -> the shorter string IS a deletion of the longer), so the
# O(V^2) all-pairs comparison becomes key-equal joins over tiny blocks
# (O(V * L) keys). The oracle deliberately runs the brute-force
# quadratic levenshtein join — a fully independent algorithm — so a
# missed candidate or a false pair both surface as mismatches.
# Scale: V = distinct entity names (<< rows); block skew is bounded by
# the deletion-key fan-in (names sharing a key differ in ONE position,
# so a block is at most alphabet-size deep per position).
# --------------------------------------------------------------------------
@operator(
    "name_typo_pairs",
    oracle="""
    WITH names AS (SELECT DISTINCT c_name FROM customer)
    SELECT a.c_name AS name_a, b.c_name AS name_b
    FROM names a JOIN names b
      ON a.c_name < b.c_name AND levenshtein(a.c_name, b.c_name) = 1
    ORDER BY name_a, name_b
    """,
)
def name_typo_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_session_confs(spark)
    names = (
        load_table(spark, sf_dir, "customer").select("c_name").distinct()
    )
    keyed = names.select(
        "c_name",
        F.explode(
            F.concat(
                F.array(F.col("c_name")),
                F.expr(
                    "transform(sequence(0, length(c_name) - 1),"
                    " i -> concat(substring(c_name, 1, i),"
                    "             substring(c_name, i + 2, length(c_name))))"
                ),
            )
        ).alias("k"),
    )
    a = keyed.select(F.col("k"), F.col("c_name").alias("name_a"))
    b = keyed.select(F.col("k"), F.col("c_name").alias("name_b"))
    return (
        a.join(b, "k")
        .filter(F.col("name_a") < F.col("name_b"))
        .select("name_a", "name_b")
        .distinct()  # a pair may share several keys; output-sized dedup
        .filter(F.levenshtein("name_a", "name_b") == 1)
        .orderBy("name_a", "name_b")
    )


def _register_minhash_precision_eval() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH est AS ({ORACLES["minhash_dedup"]}),
    exact AS ({ORACLES["jaccard_pairs"]})
    SELECT CAST((SELECT COUNT(*) FROM est) AS BIGINT)   AS n_candidates,
           CAST((SELECT COUNT(*) FROM exact) AS BIGINT) AS n_true,
           CAST((SELECT COUNT(*) FROM est e
                 JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b)
                AS BIGINT)                              AS n_hits,
           ROUND((SELECT COUNT(*) FROM est e
                  JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b)
                 / CAST(GREATEST((SELECT COUNT(*) FROM est), 1) AS DOUBLE),
                 6)                                     AS precision,
           ROUND((SELECT COUNT(*) FROM est e
                  JOIN exact x ON x.doc_a = e.doc_a AND x.doc_b = e.doc_b)
                 / CAST(GREATEST((SELECT COUNT(*) FROM exact), 1) AS DOUBLE),
                 6)                                     AS recall
    FROM (SELECT 1)
    """

    @operator("minhash_precision_eval", oracle=oracle)
    def minhash_precision_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Precision AND recall of the MinHash/LSH candidate pairs
        against the exact-Jaccard truth at the same threshold — the
        published accuracy sheet of the sketch path (the exact side is
        the audit-scale-only `jaccard_pairs`, so this eval runs at
        audit scale too; the sketch side is the production path).
        Composes the two verified plans on the pair key."""
        est = REGISTRY["minhash_dedup"](spark, sf_dir).select(
            "doc_a", "doc_b"
        )
        exact = (
            REGISTRY["jaccard_pairs"](spark, sf_dir)
            .select("doc_a", "doc_b")
            .withColumn("hit", F.lit(1))
        )
        j = est.join(exact, ["doc_a", "doc_b"], "left")
        n_est = est.count()
        n_exact = exact.count()
        agg = j.agg(
            F.sum(F.coalesce("hit", F.lit(0))).cast("bigint").alias("n_hits")
        )
        return agg.select(
            F.lit(n_est).cast("bigint").alias("n_candidates"),
            F.lit(n_exact).cast("bigint").alias("n_true"),
            "n_hits",
            F.round(
                F.col("n_hits") / F.greatest(F.lit(n_est), F.lit(1)).cast("double"),
                6,
            ).alias("precision"),
            F.round(
                F.col("n_hits")
                / F.greatest(F.lit(n_exact), F.lit(1)).cast("double"),
                6,
            ).alias("recall"),
        )


_register_minhash_precision_eval()


# --------------------------------------------------------------------------
# LSH S-curve parameter designer (round-8 slate): for candidate
# (bands, rows) splits of a 16-hash MinHash budget, estimate the
# banding's recall above jaccard 0.5 and its total expected candidate
# volume from the corpus's OWN exact similarity distribution — the
# table a platform consults before committing b x r at 100 TB (where
# re-running dedup to tune parameters is unaffordable; the estimate
# needs only the (intersection, union) cell histogram, a domain-sized
# aggregate). Collision probability 1-(1-s^r)^b is evaluated with a
# fixed square-multiply parse tree (no pow(), whose libm rounding may
# differ across engines) and ROUNDed onto a 1e-12 integer grid, so
# every aggregate is an exact integer sum — double addition order can
# never move the rounded output (CONTRIBUTING.md moment-sum rule).
# The exact quadratic core is audit-scale by design (same contract as
# minhash_precision_eval); production dedup keys off the chosen b x r
# via minhash_dedup.
# --------------------------------------------------------------------------
_SCURVE_CONFIGS = [(2, 8), (4, 4), (8, 2), (16, 1)]  # (bands, rows/band)
_SCURVE_SCALE = "1000000000000.0"  # 1e-12 probability grid


def _pow_chain(expr: str, k: int) -> str:
    """Square-and-multiply power with a pinned association order —
    identical IEEE rounding in any engine that parses the parens."""
    if k == 1:
        return expr
    half = _pow_chain(expr, k // 2)
    out = f"({half} * {half})"
    if k % 2:
        out = f"({out} * {expr})"
    return out


def _scurve_p_scaled(bands: int, rows: int) -> str:
    sr = _pow_chain("s", rows)
    p = f"(1.0 - {_pow_chain(f'(1.0 - {sr})', bands)})"
    return f"CAST(ROUND({p} * {_SCURVE_SCALE}) AS BIGINT)"


def _register_lsh_scurve_design() -> None:
    cells_sql = f"""
    toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    upairs AS (
      SELECT i, CAST(sa.n + sb.n - i AS BIGINT) AS u
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
    ),
    cells AS (
      SELECT i, u, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(i AS DOUBLE) / u AS s
      FROM upairs GROUP BY 1, 2
    )"""
    scored_sql = "\nUNION ALL\n".join(
        f"""      SELECT CAST({b} AS BIGINT) AS bands,
             CAST({r} AS BIGINT) AS rows_per_band,
             i, u, cnt, {_scurve_p_scaled(b, r)} AS p_scaled
      FROM cells"""
        for b, r in _SCURVE_CONFIGS
    )
    oracle = f"""
    WITH {cells_sql},
    scored AS (
{scored_sql}
    )
    SELECT bands, rows_per_band,
           CAST(SUM(CASE WHEN 2 * i >= u THEN cnt END) AS BIGINT)
             AS n_pairs_tau,
           ROUND(CAST(SUM(CASE WHEN 2 * i >= u
                          THEN CAST(cnt AS HUGEINT) * p_scaled END) AS DOUBLE)
                 / {_SCURVE_SCALE}
                 / SUM(CASE WHEN 2 * i >= u THEN cnt END), 6) AS est_recall_tau,
           ROUND(CAST(SUM(CAST(cnt AS HUGEINT) * p_scaled) AS DOUBLE)
                 / {_SCURVE_SCALE}, 6) AS expected_candidates
    FROM scored GROUP BY 1, 2 ORDER BY bands
    """

    @operator("lsh_scurve_design", oracle=oracle)
    def lsh_scurve_design(spark: SparkSession, sf_dir: str) -> DataFrame:
        toks = _docs(spark, sf_dir).select(
            "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
        )
        sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        a, b = toks.alias("a"), toks.alias("b")
        inter = (
            a.join(
                b,
                (F.col("a.tok") == F.col("b.tok"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .groupBy(
                F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
            )
            .agg(F.count(F.lit(1)).cast("bigint").alias("i"))
        )
        sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        upairs = (
            inter.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .select("i", (F.col("na") + F.col("nb") - F.col("i")).cast("bigint").alias("u"))
        )
        cells = upairs.groupBy("i", "u").agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt")
        ).withColumn("s", F.col("i").cast("double") / F.col("u"))
        frames = []
        for bands, rows in _SCURVE_CONFIGS:
            frames.append(
                cells.select(
                    F.lit(bands).cast("bigint").alias("bands"),
                    F.lit(rows).cast("bigint").alias("rows_per_band"),
                    "i",
                    "u",
                    "cnt",
                    F.expr(_scurve_p_scaled(bands, rows)).alias("p_scaled"),
                )
            )
        scored = frames[0]
        for fdf in frames[1:]:
            scored = scored.unionByName(fdf)
        tau = (F.lit(2) * F.col("i")) >= F.col("u")
        dec_cnt = F.col("cnt").cast("decimal(38,0)")
        scale = F.lit(float(_SCURVE_SCALE))
        return (
            scored.groupBy("bands", "rows_per_band")
            .agg(
                F.sum(F.when(tau, F.col("cnt"))).cast("bigint").alias("n_pairs_tau"),
                F.sum(F.when(tau, dec_cnt * F.col("p_scaled")))
                .cast("double")
                .alias("rec_sum"),
                F.sum(dec_cnt * F.col("p_scaled")).cast("double").alias("all_sum"),
            )
            .select(
                "bands",
                "rows_per_band",
                "n_pairs_tau",
                F.round(
                    F.col("rec_sum") / scale / F.col("n_pairs_tau"), 6
                ).alias("est_recall_tau"),
                F.round(F.col("all_sum") / scale, 6).alias("expected_candidates"),
            )
            .orderBy("bands")
        )


_register_lsh_scurve_design()


# --------------------------------------------------------------------------
# Blocking-quality eval: pair completeness + reduction ratio of a
# LOSSY blocking scheme (last-3-chars key) against the verified
# edit-distance-1 truth (name_typo_pairs). The two numbers every ER
# blocking design is judged on: what fraction of true matches the
# blocks retain (PC) vs what fraction of the O(V^2) comparison space
# they eliminate (RR). All counts are integers: candidate volume is
# sum s*(s-1)/2 over block sizes — the blocks are never expanded into
# pairs, so the eval costs O(V), not O(V^2) (the truth side reuses
# the deletion-key plan, itself verified against the quadratic
# oracle). The production tuning dial this measures: a coarser key
# raises PC and lowers RR; the S-curve twin for ER.
# --------------------------------------------------------------------------
def _register_entity_blocking_recall() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH truth AS ({ORACLES["name_typo_pairs"]}),
    names AS (SELECT DISTINCT c_name FROM customer),
    blocks AS (
      SELECT substr(c_name, length(c_name) - 2, 3) AS bk,
             CAST(COUNT(*) AS BIGINT) AS s
      FROM names GROUP BY 1
    ),
    cand AS (
      SELECT CAST(SUM(s * (s - 1) / 2) AS BIGINT) AS n_cand FROM blocks
    ),
    v AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_names FROM names),
    tb AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_truth,
             CAST(count_if(substr(name_a, length(name_a) - 2, 3)
                           = substr(name_b, length(name_b) - 2, 3))
                  AS BIGINT)          AS n_truth_in_block
      FROM truth
    )
    SELECT v.n_names, tb.n_truth, cand.n_cand, tb.n_truth_in_block,
           ROUND(CAST(tb.n_truth_in_block AS DOUBLE) / tb.n_truth, 6)
             AS pair_completeness,
           ROUND(1.0 - CAST(cand.n_cand AS DOUBLE)
                 / (CAST(v.n_names AS DOUBLE) * (v.n_names - 1) / 2.0), 6)
             AS reduction_ratio
    FROM v CROSS JOIN tb CROSS JOIN cand
    """

    @operator("entity_blocking_recall", oracle=oracle)
    def entity_blocking_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_session_confs(spark)
        names = (
            load_table(spark, sf_dir, "customer").select("c_name").distinct()
        )
        bk = F.expr("substring(c_name, length(c_name) - 2, 3)")
        blocks = names.groupBy(bk.alias("bk")).agg(
            F.count(F.lit(1)).cast("bigint").alias("s")
        )
        cand = blocks.agg(
            F.sum(F.col("s") * (F.col("s") - 1) / 2).cast("bigint")
            .alias("n_cand")
        )
        v = names.agg(F.count(F.lit(1)).cast("bigint").alias("n_names"))
        truth = REGISTRY["name_typo_pairs"](spark, sf_dir)
        same_block = F.expr(
            "substring(name_a, length(name_a) - 2, 3)"
            " = substring(name_b, length(name_b) - 2, 3)"
        )
        tb = truth.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth"),
            F.count(F.when(same_block, 1)).cast("bigint")
            .alias("n_truth_in_block"),
        )
        out = v.crossJoin(tb).crossJoin(cand)
        return out.select(
            "n_names", "n_truth", "n_cand", "n_truth_in_block",
            F.round(
                F.col("n_truth_in_block").cast("double") / F.col("n_truth"), 6
            ).alias("pair_completeness"),
            F.round(
                F.lit(1.0)
                - F.col("n_cand").cast("double")
                / (F.col("n_names").cast("double") * (F.col("n_names") - 1) / 2.0),
                6,
            ).alias("reduction_ratio"),
        )


_register_entity_blocking_recall()


# --------------------------------------------------------------------------
# Cross-source duplication matrix: where do the near-duplicate pairs
# LIVE? Every MinHash/LSH pair (the verified minhash_dedup plan) is
# tagged with its endpoints' sources and rolled into a canonicalized
# (src_lo, src_hi) matrix — the audit that says which crawls overlap
# (cross-source mass => shared upstream content; within-source mass
# => the crawler re-fetching itself). Pure composition: two broadcast
# dimension joins on the pair list + one grouped count, so it costs
# |pairs|, not corpus scale.
# --------------------------------------------------------------------------
def _register_cross_source_duplication() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH pairs AS ({ORACLES["minhash_dedup"]}),
    src AS (SELECT doc_id, source FROM documents),
    tagged AS (
      SELECT LEAST(sa.source, sb.source)    AS src_lo,
             GREATEST(sa.source, sb.source) AS src_hi
      FROM pairs p
      JOIN src sa ON sa.doc_id = p.doc_a
      JOIN src sb ON sb.doc_id = p.doc_b
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tagged)
    SELECT src_lo, src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CASE WHEN src_lo = src_hi THEN 1 ELSE 0 END AS within_source,
           ROUND(CAST(COUNT(*) AS DOUBLE) / tot.n_total, 6) AS share
    FROM tagged CROSS JOIN tot
    GROUP BY src_lo, src_hi, tot.n_total
    ORDER BY src_lo, src_hi
    """

    @operator("cross_source_duplication_matrix", oracle=oracle)
    def cross_source_duplication_matrix(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        pairs = REGISTRY["minhash_dedup"](spark, sf_dir).select("doc_a", "doc_b")
        src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
        sa = src.select(
            F.col("doc_id").alias("doc_a"), F.col("source").alias("source_a")
        )
        sb = src.select(
            F.col("doc_id").alias("doc_b"), F.col("source").alias("source_b")
        )
        tagged = (
            pairs.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .select(
                F.least("source_a", "source_b").alias("src_lo"),
                F.greatest("source_a", "source_b").alias("src_hi"),
            )
        )
        tot = tagged.agg(F.count(F.lit(1)).cast("bigint").alias("n_total"))
        return (
            tagged.crossJoin(F.broadcast(tot))
            .groupBy("src_lo", "src_hi", "n_total")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .select(
                "src_lo", "src_hi", "n_pairs",
                F.when(F.col("src_lo") == F.col("src_hi"), 1)
                .otherwise(0).cast("int").alias("within_source"),
                F.round(
                    F.col("n_pairs").cast("double") / F.col("n_total"), 6
                ).alias("share"),
            )
            .orderBy("src_lo", "src_hi")
        )


_register_cross_source_duplication()


# --------------------------------------------------------------------------
# Capture-recapture estimate of the TRUE duplicate-pair population:
# treat the MinHash/LSH pair list and the SimHash pair list as two
# independent "captures" of the same underlying set; the Chapman
# estimator N_hat = (n1+1)(n2+1)/(m+1) - 1 then says how many
# duplicate pairs exist IN TOTAL — including the ones neither method
# found — and therefore what each method's recall really is, WITHOUT
# ever running the quadratic exact join (the question
# minhash_precision_eval answers only at audit scale). Pure
# composition: two verified pair plans + one (doc_a, doc_b) equi-join
# + integer counts.
# --------------------------------------------------------------------------
def _register_dedup_capture_recapture() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH mh AS ({ORACLES["minhash_dedup"]}),
    sh AS ({ORACLES["simhash_pairs"]}),
    counts AS (
      SELECT (SELECT COUNT(*) FROM mh)  AS n1,
             (SELECT COUNT(*) FROM sh)  AS n2,
             (SELECT COUNT(*) FROM mh JOIN sh
               ON sh.doc_a = mh.doc_a AND sh.doc_b = mh.doc_b) AS m
    )
    SELECT CAST(n1 AS BIGINT) AS n_minhash,
           CAST(n2 AS BIGINT) AS n_simhash,
           CAST(m AS BIGINT)  AS n_both,
           ROUND((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0, 6)
             AS n_est_chapman,
           ROUND(CAST(n1 AS DOUBLE)
                 / ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0), 6)
             AS recall_minhash_est,
           ROUND(CAST(n2 AS DOUBLE)
                 / ((CAST(n1 + 1 AS DOUBLE) * (n2 + 1)) / (m + 1) - 1.0), 6)
             AS recall_simhash_est
    FROM counts
    """

    @operator("dedup_capture_recapture", oracle=oracle)
    def dedup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
        mh = REGISTRY["minhash_dedup"](spark, sf_dir).select("doc_a", "doc_b")
        sh = REGISTRY["simhash_pairs"](spark, sf_dir).select("doc_a", "doc_b")
        both = mh.join(sh, ["doc_a", "doc_b"])
        counts = (
            mh.agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
            .crossJoin(sh.agg(F.count(F.lit(1)).cast("bigint").alias("n2")))
            .crossJoin(both.agg(F.count(F.lit(1)).cast("bigint").alias("m")))
        )
        n1, n2, m = F.col("n1"), F.col("n2"), F.col("m")
        n_est = (n1 + 1).cast("double") * (n2 + 1) / (m + 1) - 1.0
        return counts.select(
            n1.alias("n_minhash"),
            n2.alias("n_simhash"),
            m.alias("n_both"),
            F.round(n_est, 6).alias("n_est_chapman"),
            F.round(n1.cast("double") / n_est, 6).alias("recall_minhash_est"),
            F.round(n2.cast("double") / n_est, 6).alias("recall_simhash_est"),
        )


_register_dedup_capture_recapture()


# --------------------------------------------------------------------------
# Contrastive training-pair mining audit: positives = the verified
# MinHash near-dup pair list; negatives = one deterministic hash
# partner per document (Knuth-multiplier ring walk over the DENSE
# RANK of the id domain — no RNG, engine-portable, and valid for
# sparse or offset doc_ids because the walk happens in rank space
# 0..N-1 and is mapped back to real ids through the rank table;
# round-7 advisor finding). The audit reports the negative:positive
# ratio and the NEGATIVE COLLISION RATE — the share of "negatives"
# that are secretly true near-dups (the label noise that silently
# caps contrastive-embedding quality; measured, not assumed).
# Scale note: the global row_number is a total sort of the id DOMAIN
# (ids only, no payload); at 100 TB mine negatives per shard with a
# per-shard ring walk instead — the estimator is unchanged.
# --------------------------------------------------------------------------
def _register_contrastive_pair_mining() -> None:
    from bigdataentrytask_spark.operators import ORACLES, REGISTRY

    oracle = f"""
    WITH pos AS ({ORACLES["minhash_dedup"]}),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
    ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r
      FROM documents
    ),
    neg AS (
      SELECT LEAST(d.doc_id, p.doc_id)    AS doc_a,
             GREATEST(d.doc_id, p.doc_id) AS doc_b
      FROM ranked d
      CROSS JOIN n
      JOIN ranked p ON p.r = (d.r * 2654435761 + 12345) % n.n_docs
      WHERE p.r <> d.r
    ),
    m AS (
      SELECT (SELECT COUNT(*) FROM pos)                       AS n_pos,
             (SELECT COUNT(*) FROM neg)                       AS n_neg,
             (SELECT COUNT(*) FROM neg
               JOIN pos ON pos.doc_a = neg.doc_a
                       AND pos.doc_b = neg.doc_b)             AS n_collision
    )
    SELECT n.n_docs,
           CAST(m.n_pos AS BIGINT)       AS n_pos,
           CAST(m.n_neg AS BIGINT)       AS n_neg,
           CAST(m.n_collision AS BIGINT) AS n_collision,
           ROUND(CAST(m.n_neg AS DOUBLE) / m.n_pos, 6)       AS neg_per_pos,
           ROUND(CAST(m.n_collision AS DOUBLE) / m.n_neg, 6) AS collision_rate
    FROM m CROSS JOIN n
    """

    @operator("contrastive_pair_mining", oracle=oracle)
    def contrastive_pair_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
        from pyspark.sql import Window

        pos = REGISTRY["minhash_dedup"](spark, sf_dir).select("doc_a", "doc_b")
        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        ranked = docs.select(
            "doc_id",
            (F.row_number().over(Window.orderBy("doc_id")) - 1).alias("r"),
        )
        partner_r = (F.col("r") * 2654435761 + 12345) % F.col("n_docs")
        walked = (
            ranked.crossJoin(F.broadcast(n))
            .select("doc_id", "r", partner_r.alias("pr"))
            .filter(F.col("pr") != F.col("r"))
        )
        neg = walked.join(
            ranked.select(F.col("r").alias("pr"), F.col("doc_id").alias("p_id")),
            "pr",
        ).select(
            F.least(F.col("doc_id"), F.col("p_id")).alias("doc_a"),
            F.greatest(F.col("doc_id"), F.col("p_id")).alias("doc_b"),
        )
        coll = neg.join(pos, ["doc_a", "doc_b"])
        m = (
            pos.agg(F.count(F.lit(1)).cast("bigint").alias("n_pos"))
            .crossJoin(neg.agg(F.count(F.lit(1)).cast("bigint").alias("n_neg")))
            .crossJoin(
                coll.agg(F.count(F.lit(1)).cast("bigint").alias("n_collision"))
            )
            .crossJoin(n)
        )
        return m.select(
            "n_docs", "n_pos", "n_neg", "n_collision",
            F.round(F.col("n_neg").cast("double") / F.col("n_pos"), 6)
            .alias("neg_per_pos"),
            F.round(F.col("n_collision").cast("double") / F.col("n_neg"), 6)
            .alias("collision_rate"),
        )


_register_contrastive_pair_mining()


# --------------------------------------------------------------------------
# b-bit MinHash accuracy audit (Li & Koenig): keep only the LOWEST
# BIT of each of the 32 minhash values (32 bits/doc instead of 32
# ints — a 32x signature compression) and measure, on the verified
# LSH candidate pairs, how the bias-corrected 1-bit estimate
# J1 = 2 * (match_frac - 1/2) tracks the full 32-value estimate.
# The storage-economics question every petabyte dedup index answers
# before choosing its signature width. Signatures are rebuilt from
# the SAME shared congruential transforms (functions/text.py
# MINHASH_A/B — the single source of truth both engines already
# use); match counts are exact integers; per-pair errors snap onto
# the 1e6 grid before averaging.
# --------------------------------------------------------------------------
def _register_bbit_minhash_accuracy() -> None:
    from bigdataentrytask_spark.operators import ORACLES

    bit_terms = " + ".join(
        f"(CASE WHEN a.mh{i} % 2 = b.mh{i} % 2 THEN 1 ELSE 0 END)"
        for i in range(NUM_HASHES)
    )
    oracle = f"""
    WITH pairs AS ({ORACLES["minhash_dedup"]}),
    toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    mh AS (
      SELECT doc_id,
             {_sql_minhash_cols()}
      FROM hashes GROUP BY doc_id
    ),
    scored AS (
      SELECT p.doc_a, p.doc_b, p.est_sim,
             2.0 * (({bit_terms}) / {float(NUM_HASHES)}) - 1.0 AS est_1bit
      FROM pairs p
      JOIN mh a ON a.doc_id = p.doc_a
      JOIN mh b ON b.doc_id = p.doc_b
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CAST(ROUND(ABS(est_1bit - est_sim) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS sae_g,
             CAST(SUM(CAST(ROUND((est_1bit - est_sim) * 1000000.0)
                           AS BIGINT)) AS BIGINT) AS sbias_g
      FROM scored
    )
    SELECT n_pairs,
           ROUND(CAST(sae_g AS DOUBLE) / n_pairs / 1000000.0, 6)
             AS mean_abs_err,
           ROUND(CAST(sbias_g AS DOUBLE) / n_pairs / 1000000.0, 6)
             AS mean_bias
    FROM g
    """

    @operator("bbit_minhash_accuracy", oracle=oracle)
    def bbit_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
        from bigdataentrytask_spark.operators import REGISTRY

        pairs = REGISTRY["minhash_dedup"](spark, sf_dir).select(
            "doc_a", "doc_b", "est_sim"
        )
        d = load_table(spark, sf_dir, "documents")
        toks = d.select(
            "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
        )
        h = token_hash("tok")
        mh = toks.select("doc_id", h.alias("h")).groupBy("doc_id").agg(
            *(
                F.min((MINHASH_A[i] * F.col("h") + MINHASH_B[i]) % MERSENNE_P)
                .alias(f"mh{i}")
                for i in range(NUM_HASHES)
            )
        )
        a = mh.select(
            F.col("doc_id").alias("doc_a"),
            *(F.col(f"mh{i}").alias(f"a{i}") for i in range(NUM_HASHES)),
        )
        b = mh.select(
            F.col("doc_id").alias("doc_b"),
            *(F.col(f"mh{i}").alias(f"b{i}") for i in range(NUM_HASHES)),
        )
        matches = sum(
            F.when(F.col(f"a{i}") % 2 == F.col(f"b{i}") % 2, 1).otherwise(0)
            for i in range(NUM_HASHES)
        )
        scored = (
            pairs.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "est_sim",
                (2.0 * (matches / float(NUM_HASHES)) - 1.0).alias("est_1bit"),
            )
        )
        g = scored.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                F.round(F.abs(F.col("est_1bit") - F.col("est_sim")) * 1000000.0)
                .cast("bigint")
            ).cast("bigint").alias("sae_g"),
            F.sum(
                F.round((F.col("est_1bit") - F.col("est_sim")) * 1000000.0)
                .cast("bigint")
            ).cast("bigint").alias("sbias_g"),
        )
        return g.select(
            "n_pairs",
            F.round(
                F.col("sae_g").cast("double") / F.col("n_pairs") / 1000000.0, 6
            ).alias("mean_abs_err"),
            F.round(
                F.col("sbias_g").cast("double") / F.col("n_pairs") / 1000000.0,
                6,
            ).alias("mean_bias"),
        )


_register_bbit_minhash_accuracy()


# --------------------------------------------------------------------------
# Round-10 addition (registry FROZEN in round 9 — VERDICT r8 items 2/6).
#
# Exact-substring dedup audit, Lee et al. 2022 ("Deduplicating Training
# Data Makes Language Models Better", arXiv:2107.06499) — the suffix-
# array ExactSubstr pass, re-expressed Spark-first. The SA enumerates
# positions covered by a substring of length >= L that occurs at least
# twice in the corpus; for a FIXED threshold L that set is exactly the
# union of duplicated L-character windows (any duplicated substring of
# length >= L contains only duplicated L-windows, and every duplicated
# L-window IS such a substring), so a distributed groupBy over the
# corpus's L-grams computes the identical answer without the inherently
# sequential suffix-array construction. Per document: window counts,
# duplicated-window counts, and the character coverage of the union of
# duplicated windows (classic gaps-and-islands interval union — equal-
# length intervals sorted by start, a new island opens when the gap to
# the previous start is >= L, coverage per island = max_p - min_p + L).
#
# Scale contract: AUDIT-SCALE ONLY. The L-gram explode amplifies the
# corpus by ~L bytes per character (the very cost the suffix array
# avoids on a single node); the registered production twins are
# chunk_dedup_corpus (chunk-hash, this file) + minhash_dedup. At
# production scale the gram string would be replaced by xxhash64(gram)
# (8-byte shuffle payload, collision-tolerant contract) — kept as the
# raw string here so the DuckDB oracle is exact.
# Reference parity: the reference has no substring dedup; this extends
# the curation layer per the round-8 verdict (item 6).
# --------------------------------------------------------------------------
_SUBSTR_L = 30

_SUBSTRING_DEDUP_ORACLE = f"""
    WITH pos AS (
      SELECT doc_id, u.i AS p, substr(text, u.i, {_SUBSTR_L}) AS gram
      FROM documents
      CROSS JOIN UNNEST(range(1, length(text) - {_SUBSTR_L} + 2)) AS u(i)
    ),
    dup AS (SELECT gram FROM pos GROUP BY gram HAVING COUNT(*) >= 2),
    dwin AS (SELECT p2.doc_id, p2.p FROM pos p2 JOIN dup USING (gram)),
    lagged AS (
      SELECT doc_id, p,
             LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev_p
      FROM dwin
    ),
    isl AS (
      SELECT doc_id, p,
             SUM(CASE WHEN prev_p IS NULL OR p - prev_p >= {_SUBSTR_L}
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY p) AS island
      FROM lagged
    ),
    runs AS (
      SELECT doc_id, island, MIN(p) AS mn, MAX(p) AS mx,
             COUNT(*) AS nw
      FROM isl GROUP BY doc_id, island
    ),
    cov AS (
      SELECT doc_id,
             CAST(SUM(nw) AS BIGINT) AS n_dup_windows,
             CAST(SUM(mx - mn + {_SUBSTR_L}) AS BIGINT) AS dup_coverage
      FROM runs GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(length(d.text) AS BIGINT) AS doc_len,
           CAST(GREATEST(length(d.text) - {_SUBSTR_L} + 1, 0) AS BIGINT)
             AS n_windows,
           COALESCE(c.n_dup_windows, 0) AS n_dup_windows,
           COALESCE(c.dup_coverage, 0) AS dup_coverage,
           CASE WHEN length(d.text) = 0 THEN 0
                ELSE CAST(ROUND(COALESCE(c.dup_coverage, 0) * 1000000.0
                                / length(d.text)) AS BIGINT)
           END AS dup_ppm
    FROM documents d LEFT JOIN cov c USING (doc_id)
    ORDER BY d.doc_id
    """


@operator("substring_dedup_audit", oracle=_SUBSTRING_DEDUP_ORACLE)
def substring_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document exact-substring duplication census (see the block
    comment above for semantics, scale contract, and the
    suffix-array equivalence argument)."""
    L = _SUBSTR_L
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("doc_len")
    )
    # The explode amplifies each doc ~len(text)x, so parallelism must
    # be set BEFORE it: a small fixture reads as one split and would
    # otherwise run every downstream stage single-task (measured 8.2s
    # -> 1.6s best-of-3 at sf0.1, SCALE.md round 9). Repartitioning the compact
    # doc rows is cheap; at 100 TB the scan already has thousands of
    # splits and this is a no-op-cost hygiene shuffle.
    pre = docs.repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    pos = pre.select(
        "doc_id",
        "text",
        F.explode(
            F.when(
                F.col("doc_len") >= L,
                F.sequence(F.lit(1), (F.col("doc_len") - L + 1).cast("int")),
            ).otherwise(F.expr("CAST(array() AS array<int>)"))
        ).alias("p"),
    ).select("doc_id", "p", F.expr(f"substring(text, p, {L})").alias("gram"))
    # duplicated grams: the dup set scales with corpus size, so NO
    # broadcast hint — AQE picks the join strategy (at audit scale it
    # runs as a small shuffle join over ~1e4 grams)
    dup = (
        pos.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gram")
    )
    dwin = pos.join(dup, "gram").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dwin.withColumn("prev_p", F.lag("p").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_p").isNull()
                | (F.col("p") - F.col("prev_p") >= L),
                1,
            ).otherwise(0)
        ).over(w),
    )
    runs = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("mn"),
        F.max("p").alias("mx"),
        F.count(F.lit(1)).alias("nw"),
    )
    cov = runs.groupBy("doc_id").agg(
        F.sum("nw").cast("bigint").alias("n_dup_windows"),
        F.sum(F.col("mx") - F.col("mn") + L).cast("bigint").alias(
            "dup_coverage"
        ),
    )
    return (
        docs.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "doc_len",
            F.greatest(F.col("doc_len") - L + 1, F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.coalesce("dup_coverage", F.lit(0))
            .cast("bigint")
            .alias("dup_coverage"),
            # empty documents: 0 windows, 0 coverage -> ppm 0 (found
            # by the random-differential test; a raw division is a
            # DIVIDE_BY_ZERO under ANSI mode)
            F.when(F.col("doc_len") == 0, F.lit(0))
            .otherwise(
                F.round(
                    F.coalesce("dup_coverage", F.lit(0))
                    * 1000000.0
                    / F.col("doc_len")
                )
            )
            .cast("bigint")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Round-10 addition (ROADMAP "Curation / dedup depth"): URL/domain-level
# dedup + frontier statistics. The corpus has no URL column, so one is
# DERIVED deterministically from (doc_id, source) — host
# h{doc_id%7}.{source}{doc_id%13}.example.com, path /p/{doc_id} — and
# then PARSED back (split_part for the host, a leftmost-label strip
# for the registrable domain), exercising the real crawl-frontier
# plumbing: host extraction, domain rollup, per-host load, and exact
# within-domain text duplication (the crawler-trap signal).
#
# Scale: two keyed aggregations (domain+host, domain+text) then a
# domain-level rollup — all partial-aggregated map-side; output is
# bounded by the domain count. A 100 TB frontier skews on mega-hosts:
# the (domain, host) agg pre-reduces per partition before the
# shuffle, and the rollup input is host-cardinality-sized, so a hot
# DOMAIN costs one oversized reduce key at worst (AQE skew split
# covers it); no all-pairs anywhere.
# --------------------------------------------------------------------------
_URL_FRONTIER_ORACLE = r"""
    WITH u AS (
      SELECT doc_id, text,
             'https://h' || CAST(doc_id % 7 AS VARCHAR) || '.' || source
               || CAST(doc_id % 13 AS VARCHAR) || '.example.com/p/'
               || CAST(doc_id AS VARCHAR) AS url
      FROM documents
    ),
    h AS (
      SELECT doc_id, text,
             split_part(url, '/', 3) AS host,
             regexp_replace(split_part(url, '/', 3), '^[^.]*\.', '')
               AS domain
      FROM u
    ),
    perhost AS (
      SELECT domain, host, COUNT(*) AS c FROM h GROUP BY 1, 2
    ),
    pertext AS (
      SELECT domain, text, COUNT(*) AS c FROM h GROUP BY 1, 2
    ),
    dstat AS (
      SELECT domain,
             CAST(COUNT(*) AS BIGINT) AS n_hosts,
             CAST(SUM(c) AS BIGINT) AS n_urls,
             CAST(MAX(c) AS BIGINT) AS max_host_load
      FROM perhost GROUP BY 1
    ),
    dup AS (
      SELECT domain,
             CAST(COALESCE(SUM(CASE WHEN c >= 2 THEN c END), 0) AS BIGINT)
               AS n_dup_text_urls
      FROM pertext GROUP BY 1
    )
    SELECT d.domain, d.n_hosts, d.n_urls, d.max_host_load,
           p.n_dup_text_urls,
           CAST(ROUND(p.n_dup_text_urls * 1000000.0 / d.n_urls) AS BIGINT)
             AS dup_ppm
    FROM dstat d JOIN dup p USING (domain)
    ORDER BY d.domain
    """


@operator("url_host_frontier_stats", oracle=_URL_FRONTIER_ORACLE)
def url_host_frontier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier census over the derived URL column (see block
    comment for derivation, semantics, and the 100 TB notes)."""
    d = _docs(spark, sf_dir).select("doc_id", "text", "source")
    u = d.select(
        "doc_id",
        "text",
        F.concat(
            F.lit("https://h"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit("."),
            F.col("source"),
            (F.col("doc_id") % 13).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
    )
    h = u.withColumn("host", F.expr("split_part(url, '/', 3)")).withColumn(
        "domain", F.regexp_replace("host", r"^[^.]*\.", "")
    )
    perhost = h.groupBy("domain", "host").agg(F.count(F.lit(1)).alias("c"))
    pertext = h.groupBy("domain", "text").agg(F.count(F.lit(1)).alias("c"))
    dstat = perhost.groupBy("domain").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hosts"),
        F.sum("c").cast("bigint").alias("n_urls"),
        F.max("c").cast("bigint").alias("max_host_load"),
    )
    dup = pertext.groupBy("domain").agg(
        F.coalesce(
            F.sum(F.when(F.col("c") >= 2, F.col("c"))), F.lit(0)
        )
        .cast("bigint")
        .alias("n_dup_text_urls")
    )
    return (
        dstat.join(dup, "domain")
        .select(
            "domain",
            "n_hosts",
            "n_urls",
            "max_host_load",
            "n_dup_text_urls",
            F.round(
                F.col("n_dup_text_urls") * 1000000.0 / F.col("n_urls")
            )
            .cast("bigint")
            .alias("dup_ppm"),
        )
        .orderBy("domain")
    )


# --------------------------------------------------------------------------
# Round-10 addition (ROADMAP "Curation / dedup depth"): cross-lingual
# near-dup evaluation. Candidate pairs come from the SAME minhash/LSH
# machinery minhash_dedup ships (NUM_HASHES sketches, LSH_BANDS bands,
# est >= MINHASH_THRESHOLD), restricted to pairs that SPAN LANGUAGES
# (lang_a <> lang_b) over the language-normalized token stream — for
# this corpus the shared tokenize/normalize helpers in functions/text
# ARE the normalizer (the synthetic langs share a vocabulary, so
# normalization is the identity transliteration; on a real corpus this
# is where transliteration/stemming plugs in). The evaluation compares
# those candidates against the PER-LANGUAGE-PAIR exact Jaccard truth:
# per (lang_lo, lang_hi) block, truth size, candidate volume, hits,
# recall and precision in ppm — the table that says whether one shared
# LSH index can serve cross-lingual dedup or per-language indexes are
# needed.
#
# Scale contract: the truth side is the quadratic token self-join —
# AUDIT-SCALE ONLY (same contract as jaccard_pairs, which is the
# declared correctness baseline for minhash_dedup, the production
# path). The candidate side is band-join bounded.
# --------------------------------------------------------------------------
_XLING_MIN_CNT = int(-(-MINHASH_THRESHOLD * NUM_HASHES // 1))

_XLING_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    langs AS (SELECT doc_id, lang FROM documents),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
      FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    truth AS (
      SELECT doc_a, doc_b,
             LEAST(la.lang, lb.lang) AS lang_lo,
             GREATEST(la.lang, lb.lang) AS lang_hi
      FROM inter
      JOIN sizes sa ON sa.doc_id = doc_a
      JOIN sizes sb ON sb.doc_id = doc_b
      JOIN langs la ON la.doc_id = doc_a
      JOIN langs lb ON lb.doc_id = doc_b
      WHERE i / CAST(sa.n + sb.n - i AS DOUBLE) >= {MINHASH_THRESHOLD}
        AND la.lang <> lb.lang
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    mh AS (
      SELECT doc_id,
             {_sql_minhash_cols()}
      FROM hashes GROUP BY doc_id
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             LEAST(la.lang, lb.lang) AS lang_lo,
             GREATEST(la.lang, lb.lang) AS lang_hi
      FROM mh a
      JOIN mh b ON a.doc_id < b.doc_id
      JOIN langs la ON la.doc_id = a.doc_id
      JOIN langs lb ON lb.doc_id = b.doc_id
      WHERE ({" OR ".join(_sql_band_eq(i) for i in range(LSH_BANDS))})
        AND {_sql_match_frac()} >= {MINHASH_THRESHOLD}
        AND la.lang <> lb.lang
    ),
    t_agg AS (
      SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_truth
      FROM truth GROUP BY 1, 2
    ),
    c_agg AS (
      SELECT lang_lo, lang_hi, CAST(COUNT(*) AS BIGINT) AS n_candidates
      FROM cand GROUP BY 1, 2
    ),
    h_agg AS (
      SELECT t.lang_lo, t.lang_hi, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM truth t JOIN cand c
        ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b
      GROUP BY 1, 2
    )
    SELECT t.lang_lo, t.lang_hi, t.n_truth,
           COALESCE(c.n_candidates, 0) AS n_candidates,
           COALESCE(h.n_hits, 0) AS n_hits,
           CAST(ROUND(COALESCE(h.n_hits, 0) * 1000000.0 / t.n_truth)
                AS BIGINT) AS recall_ppm,
           CASE WHEN COALESCE(c.n_candidates, 0) = 0 THEN -1
                ELSE CAST(ROUND(COALESCE(h.n_hits, 0) * 1000000.0
                                / c.n_candidates) AS BIGINT)
           END AS precision_ppm
    FROM t_agg t
    LEFT JOIN c_agg c ON c.lang_lo = t.lang_lo AND c.lang_hi = t.lang_hi
    LEFT JOIN h_agg h ON h.lang_lo = t.lang_lo AND h.lang_hi = t.lang_hi
    ORDER BY t.lang_lo, t.lang_hi
    """


@operator("crosslingual_neardup_eval", oracle=_XLING_ORACLE)
def crosslingual_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language minhash/LSH dedup quality vs the exact per-
    language-pair truth (see block comment)."""
    d = _docs(spark, sf_dir)
    langs = d.select("doc_id", "lang")
    toks = d.select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_t = toks.alias("a")
    b_t = toks.alias("b")
    inter = (
        a_t.join(
            b_t,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    jac = F.col("i") / (F.col("sa.n") + F.col("sb.n") - F.col("i")).cast(
        "double"
    )
    la = langs.alias("la")
    lb = langs.alias("lb")
    truth = (
        inter.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .join(la, F.col("doc_a") == F.col("la.doc_id"))
        .join(lb, F.col("doc_b") == F.col("lb.doc_id"))
        .filter(
            (jac >= MINHASH_THRESHOLD)
            & (F.col("la.lang") != F.col("lb.lang"))
        )
        .select(
            "doc_a",
            "doc_b",
            F.least("la.lang", "lb.lang").alias("lang_lo"),
            F.greatest("la.lang", "lb.lang").alias("lang_hi"),
        )
    )
    hashes = toks.select("doc_id", token_hash("tok").alias("h"))
    mh = hashes.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(
                    (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                    % MERSENNE_P
                )
                for i in range(NUM_HASHES)
            ]
        ).alias("sig_arr")
    )
    bkeys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                *[
                    F.col("sig_arr")[j]
                    for j in range(i * _ROWS_PER_BAND, (i + 1) * _ROWS_PER_BAND)
                ],
            )
            for i in range(LSH_BANDS)
        ]
    )
    bands = mh.select(
        "doc_id", "sig_arr", F.explode(bkeys).alias("bkey")
    )
    ba = bands.alias("ba").select(
        F.col("ba.bkey").alias("bkey"),
        F.col("ba.doc_id").alias("doc_a"),
        F.col("ba.sig_arr").alias("sig_a"),
    )
    bb = bands.alias("bb").select(
        F.col("bb.bkey").alias("bkey"),
        F.col("bb.doc_id").alias("doc_b"),
        F.col("bb.sig_arr").alias("sig_b"),
    )
    match_cnt = F.expr(
        "aggregate(zip_with(sig_a, sig_b, (x, y) -> "
        "CASE WHEN x = y THEN 1 ELSE 0 END), 0, (acc, v) -> acc + v)"
    )
    cand = (
        ba.join(bb, "bkey")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
        .withColumn("cnt", match_cnt)
        .filter(F.col("cnt") >= _XLING_MIN_CNT)
        .join(la, F.col("doc_a") == F.col("la.doc_id"))
        .join(lb, F.col("doc_b") == F.col("lb.doc_id"))
        .filter(F.col("la.lang") != F.col("lb.lang"))
        .select(
            "doc_a",
            "doc_b",
            F.least("la.lang", "lb.lang").alias("lang_lo"),
            F.greatest("la.lang", "lb.lang").alias("lang_hi"),
        )
    )
    t_agg = truth.groupBy("lang_lo", "lang_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    c_agg = cand.groupBy("lang_lo", "lang_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates")
    )
    h_agg = (
        truth.join(cand.select("doc_a", "doc_b"), ["doc_a", "doc_b"])
        .groupBy("lang_lo", "lang_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        t_agg.join(c_agg, ["lang_lo", "lang_hi"], "left")
        .join(h_agg, ["lang_lo", "lang_hi"], "left")
        .select(
            "lang_lo",
            "lang_hi",
            "n_truth",
            F.coalesce("n_candidates", F.lit(0))
            .cast("bigint")
            .alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(
                F.coalesce("n_hits", F.lit(0)) * 1000000.0 / F.col("n_truth")
            )
            .cast("bigint")
            .alias("recall_ppm"),
            F.when(F.coalesce("n_candidates", F.lit(0)) == 0, F.lit(-1))
            .otherwise(
                F.round(
                    F.coalesce("n_hits", F.lit(0))
                    * 1000000.0
                    / F.col("n_candidates")
                ).cast("bigint")
            )
            .cast("bigint")
            .alias("precision_ppm"),
        )
        .orderBy("lang_lo", "lang_hi")
    )


# ==========================================================================
# Round-11 additions (VERDICT r9 item 6); differential-tested in
# tests/test_round10_staged.py through the preverify pandas gate.
# ==========================================================================

# --------------------------------------------------------------------------
# Substring dedup — PRODUCTION twin (VERDICT r9 item 6; the scale
# contract above substring_dedup_audit names exactly this variant):
# identical per-document island/coverage semantics, but the shuffle
# payload is xxhash64(gram) — 8 bytes per window instead of an L-byte
# string, cutting the gram shuffle ~L/8x at 100 TB. The contract is
# COLLISION-TOLERANT: a 64-bit collision can only mark a unique window
# duplicated (never the reverse), with expected extra windows
# ~ n_windows^2 / 2^64 — zero in any realistic corpus and provably
# zero at audit scale, which is why the EXACT-gram oracle (the same
# SQL substring_dedup_audit verifies against) is the correct twin: the
# differential proves the hashed path reproduces the exact answer.
# Reference parity: the reference has no substring dedup (extension
# per VERDICT r8 item 6).
# --------------------------------------------------------------------------
@operator("substring_dedup_prod", oracle=_SUBSTRING_DEDUP_ORACLE)
def substring_dedup_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64-payload substring-duplication census (production twin
    of substring_dedup_audit — see block comment for the collision-
    tolerance argument)."""
    L = _SUBSTR_L
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("doc_len")
    )
    # parallelism before the explode — same measured rationale as the
    # audit twin (8.2s -> 1.6s at sf0.1, SCALE.md round 9)
    pre = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    pos = pre.select(
        "doc_id",
        F.explode(
            F.when(
                F.col("doc_len") >= L,
                F.sequence(F.lit(1), (F.col("doc_len") - L + 1).cast("int")),
            ).otherwise(F.expr("CAST(array() AS array<int>)"))
        ).alias("p"),
        "text",
    ).select(
        "doc_id",
        "p",
        # THE production difference: hash the gram before it ever
        # reaches a shuffle — the groupBy and the join below move
        # 8-byte longs, not L-char strings
        F.xxhash64(F.expr(f"substring(text, p, {L})")).alias("gh"),
    )
    dup = (
        pos.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    dwin = pos.join(dup, "gh").select("doc_id", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    isl = dwin.withColumn("prev_p", F.lag("p").over(w)).withColumn(
        "island",
        F.sum(
            F.when(
                F.col("prev_p").isNull()
                | (F.col("p") - F.col("prev_p") >= L),
                1,
            ).otherwise(0)
        ).over(w),
    )
    runs = isl.groupBy("doc_id", "island").agg(
        F.min("p").alias("mn"),
        F.max("p").alias("mx"),
        F.count(F.lit(1)).alias("nw"),
    )
    cov = runs.groupBy("doc_id").agg(
        F.sum("nw").cast("bigint").alias("n_dup_windows"),
        F.sum(F.col("mx") - F.col("mn") + L).cast("bigint").alias(
            "dup_coverage"
        ),
    )
    return (
        docs.join(cov, "doc_id", "left")
        .select(
            "doc_id",
            "doc_len",
            F.greatest(F.col("doc_len") - L + 1, F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
            F.coalesce("n_dup_windows", F.lit(0))
            .cast("bigint")
            .alias("n_dup_windows"),
            F.coalesce("dup_coverage", F.lit(0))
            .cast("bigint")
            .alias("dup_coverage"),
            F.when(F.col("doc_len") == 0, F.lit(0))
            .otherwise(
                F.round(
                    F.coalesce("dup_coverage", F.lit(0))
                    * 1000000.0
                    / F.col("doc_len")
                )
            )
            .cast("bigint")
            .alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Dedup-order sensitivity audit (ROADMAP round-11 "Curation"): exact
# first-occurrence-wins dedup keeps exactly one representative per
# distinct text, so the SET of kept texts is order-invariant by
# construction — but the KEEPER IDENTITY (which doc_id survives) is
# not. This table quantifies the difference between two deterministic
# keeper policies: id-order (min doc_id per text — what a stable-scan
# pipeline does) vs source-priority (lexicographic min source, doc_id
# tiebreak — "prefer the curated mirror over the crawl" survivorship).
# ADVICE r10: the original policy-B ranked on n_chars, which is
# constant within an exact-text group (n_chars == length(text)), so
# the drift was provably 0; source genuinely varies within duplicate
# groups (sf0.1: 8/8 dup groups are multi-source and 4 keepers flip).
# Downstream lineage, per-source quota accounting, and license
# attribution all key on the keeper doc_id, so "how many keepers flip
# if we re-rank survivorship" is a real migration-risk number.
# Scale: two aggregations over the same text-hash shuffle; outputs are
# one summary row. At 100 TB group on xxhash64(text) instead of the
# raw text (the minhash/chunk payload contract).
# --------------------------------------------------------------------------
_DEDUP_ORDER_ORACLE = """
    WITH g AS (
      SELECT text,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS keeper_by_id,
             (array_agg(doc_id ORDER BY source, doc_id))[1]
               AS keeper_by_src
      FROM documents d GROUP BY text
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_texts,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs,
           CAST(count_if(n_docs >= 2) AS BIGINT) AS n_dup_groups,
           CAST(count_if(keeper_by_id = keeper_by_src) AS BIGINT)
             AS n_keeper_same,
           CAST(count_if(keeper_by_id <> keeper_by_src) AS BIGINT)
             AS n_keeper_diff
    FROM g
    """


@operator("dedup_order_sensitivity", oracle=_DEDUP_ORDER_ORACLE)
def dedup_order_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keeper-identity drift between id-order and source-priority
    exact dedup (see block comment). One text-group shuffle computes
    both keeper policies via min over ordered structs."""
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    g = docs.groupBy("text").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.min("doc_id").alias("keeper_by_id"),
        # min over (source, doc_id) == first preferred source, doc_id
        # tiebreak — struct ordering is lexicographic in both engines
        F.min(F.struct(F.col("source"), F.col("doc_id")))["doc_id"].alias(
            "keeper_by_src"
        ),
    )
    return g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_texts"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum((F.col("n_docs") >= 2).cast("long"))
        .cast("bigint")
        .alias("n_dup_groups"),
        F.sum((F.col("keeper_by_id") == F.col("keeper_by_src")).cast("long"))
        .cast("bigint")
        .alias("n_keeper_same"),
        F.sum((F.col("keeper_by_id") != F.col("keeper_by_src")).cast("long"))
        .cast("bigint")
        .alias("n_keeper_diff"),
    )


# --------------------------------------------------------------------------
# Per-source contamination cross table (ROADMAP round-11 "Curation"):
# composes decontaminate_ngram's exact word-4-gram machinery into the
# release gate a trainer actually reads — per (source, eval_set):
# docs checked, docs contaminated, contamination ppm, and the
# EXCEEDS flag against a release threshold. Two deterministic eval
# slices stand in for two benchmarks (doc_id % 20 == 0 / == 1, the
# decontaminate_ngram convention extended).
# Scale posture identical to decontaminate_ngram: eval grams are
# benchmark-sized -> broadcast; training grams never shuffle on text;
# one partial-agg shuffle on (doc_id) then a domain-sized rollup.
# --------------------------------------------------------------------------
_CONTAM_THRESH_PPM = 100_000  # release gate: >10% of a source's docs

_CONTAM_CROSSTAB_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, source,
             array_to_string(w[i:i+{_DECON_K - 1}], ' ') AS g
      FROM toks, LATERAL unnest(range(1, len(w) - {_DECON_K} + 2)) AS t(i)
    ),
    evals AS (
      SELECT 'eval_a' AS eval_set, g
      FROM (SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 0)
      UNION ALL
      SELECT 'eval_b', g
      FROM (SELECT DISTINCT g FROM grams WHERE doc_id % {_DECON_MOD} = 1)
    ),
    train AS (
      SELECT doc_id, source, g FROM grams
      WHERE doc_id % {_DECON_MOD} NOT IN (0, 1)
    ),
    hits AS (
      SELECT DISTINCT e.eval_set, t.doc_id, t.source
      FROM train t JOIN evals e ON t.g = e.g
    ),
    base AS (
      SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id % {_DECON_MOD} NOT IN (0, 1)
      GROUP BY source
    ),
    es AS (SELECT UNNEST(['eval_a', 'eval_b']) AS eval_set)
    SELECT b.source, es.eval_set, b.n_docs,
           CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_contaminated,
           CAST(ROUND(COALESCE(h.n_hit, 0) * 1000000.0 / b.n_docs)
                AS BIGINT) AS contamination_ppm,
           COALESCE(h.n_hit, 0) * 1000000.0 / b.n_docs
             > {_CONTAM_THRESH_PPM} AS exceeds_gate
    FROM base b CROSS JOIN es
    LEFT JOIN (
      SELECT eval_set, source, CAST(COUNT(DISTINCT doc_id) AS BIGINT)
               AS n_hit
      FROM hits GROUP BY 1, 2
    ) h ON h.source = b.source AND h.eval_set = es.eval_set
    ORDER BY b.source, es.eval_set
    """


@operator("contamination_source_crosstab", oracle=_CONTAM_CROSSTAB_ORACLE)
def contamination_source_crosstab(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(source, eval_set) contamination release gate (see block
    comment)."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", "source", F.split("text", " ").alias("w"))
    gram_at = lambda i: F.array_join(  # noqa: E731
        F.slice("w", i + 1, _DECON_K), " "
    )
    grams = toks.select(
        "doc_id",
        "source",
        F.explode(
            F.when(
                F.size("w") >= _DECON_K,
                F.transform(
                    F.sequence(F.lit(0), F.size("w") - _DECON_K), gram_at
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("g"),
    )
    mod = F.col("doc_id") % _DECON_MOD
    evals = (
        grams.filter(mod == 0)
        .select(F.lit("eval_a").alias("eval_set"), "g")
        .distinct()
        .unionByName(
            grams.filter(mod == 1)
            .select(F.lit("eval_b").alias("eval_set"), "g")
            .distinct()
        )
    )
    train = grams.filter(~mod.isin(0, 1))
    hits = (
        train.join(F.broadcast(evals), "g")
        .select("eval_set", "doc_id", "source")
        .distinct()
        .groupBy("source", "eval_set")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("n_hit"))
    )
    base = (
        docs.filter(~mod.isin(0, 1))
        .groupBy("source")
        .agg(F.count_distinct("doc_id").cast("bigint").alias("n_docs"))
    )
    es = spark.createDataFrame(
        [("eval_a",), ("eval_b",)], "eval_set string"
    )
    return (
        base.crossJoin(F.broadcast(es))
        .join(hits, ["source", "eval_set"], "left")
        .select(
            "source",
            "eval_set",
            "n_docs",
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias(
                "n_contaminated"
            ),
            F.round(
                F.coalesce("n_hit", F.lit(0)) * 1000000.0 / F.col("n_docs")
            )
            .cast("bigint")
            .alias("contamination_ppm"),
            (
                F.coalesce("n_hit", F.lit(0)) * 1000000.0 / F.col("n_docs")
                > _CONTAM_THRESH_PPM
            ).alias("exceeds_gate"),
        )
        .orderBy("source", "eval_set")
    )


# --------------------------------------------------------------------------
# Cross-source duplicate flow (ROADMAP round-12, pulled forward):
# for every unordered source pair, how many DISTINCT aligned
# fixed-width text chunks appear in both — the mirror/scraper/
# boilerplate-flow census that tells a curation team which sources
# copy from which (and therefore which pair's overlap should be
# deduplicated by priority rather than rediscovered per run). Chunk
# granularity (the chunk_dedup_corpus contract, W=100 aligned
# windows) rather than whole-text equality: partial copying and
# shared boilerplate flow between sources long before full documents
# do (whole-text overlap is literally ZERO on the sf0.01 fixture
# while chunk overlap spans 22 source pairs — the driver row must
# carry content).
# Output per (src_lo, src_hi): shared distinct chunks and the overlap
# share relative to the smaller side's distinct-chunk count (ppm).
# Scale: one (chunk, source) distinct shuffle, then pairs are emitted
# per chunk from its distinct source SET via a bounded in-JVM
# combination expand (sources per chunk <= |sources| = 20, so at most
# C(20,2) rows per chunk — no chunk-to-chunk join, no all-pairs
# anywhere). At 100 TB group on xxhash64(chunk) (the
# substring_dedup_prod payload contract).
# --------------------------------------------------------------------------
_XSRC_W = 100

_XSRC_FLOW_ORACLE = f"""
    WITH ch AS (
      SELECT DISTINCT source,
             substr(text, (u.i - 1) * {_XSRC_W} + 1, {_XSRC_W}) AS chunk
      FROM documents
      CROSS JOIN UNNEST(range(1,
        CAST(ceil(length(text) * 1.0 / {_XSRC_W}) AS BIGINT) + 1)) u(i)
      WHERE length(substr(text, (u.i - 1) * {_XSRC_W} + 1, {_XSRC_W}))
            = {_XSRC_W}
    ),
    per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_chunks
      FROM ch GROUP BY source
    ),
    pairs AS (
      SELECT a.chunk, a.source AS src_lo, b.source AS src_hi
      FROM ch a JOIN ch b ON a.chunk = b.chunk AND a.source < b.source
    )
    SELECT p.src_lo, p.src_hi,
           CAST(COUNT(*) AS BIGINT) AS n_shared_chunks,
           CAST(ROUND(COUNT(*) * 1000000.0 /
                      LEAST(sl.n_chunks, sh.n_chunks)) AS BIGINT)
             AS overlap_ppm_of_smaller
    FROM pairs p
    JOIN per_src sl ON sl.source = p.src_lo
    JOIN per_src sh ON sh.source = p.src_hi
    GROUP BY p.src_lo, p.src_hi, sl.n_chunks, sh.n_chunks
    ORDER BY src_lo, src_hi
    """


@operator("cross_source_duplicate_flow", oracle=_XSRC_FLOW_ORACLE)
def cross_source_duplicate_flow(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """(src_lo, src_hi) shared-chunk flow census (see block comment).
    Pairs come from each chunk\'s distinct-source ARRAY via a bounded
    combination expand — one chunk-keyed shuffle, never a chunk-to-
    chunk join."""
    W = _XSRC_W
    docs = _docs(spark, sf_dir).select("text", "source")
    # parallelism before the chunk explode (the substring_dedup
    # single-split lesson)
    pre = docs.repartition(spark.sparkContext.defaultParallelism)
    ch = (
        pre.select(
            "source",
            # ADVICE r10: guard the sequence — for empty text Spark's
            # sequence(1, 0) yields a DESCENDING [1, 0], whose spurious
            # rows only the length(chunk)==W filter happened to drop.
            F.explode(
                F.expr(
                    f"CASE WHEN length(text) >= 1 THEN "
                    f"transform(sequence(1, CAST(ceil(length(text) / {W}.0)"
                    f" AS INT)), i -> substring(text, (i-1)*{W}+1, {W})) "
                    f"ELSE array() END"
                )
            ).alias("chunk"),
        )
        .filter(F.length("chunk") == W)
        .distinct()
    )
    per_src = ch.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks")
    )
    per_chunk = ch.groupBy("chunk").agg(
        F.sort_array(F.collect_set("source")).alias("srcs")
    ).filter(F.size("srcs") >= 2)
    pairs = per_chunk.select(
        F.explode(
            F.expr(
                "flatten(transform(srcs, (a, i) -> "
                "transform(slice(srcs, i + 2, size(srcs)), "
                "b -> struct(a AS src_lo, b AS src_hi))))"
            )
        ).alias("p")
    ).select("p.src_lo", "p.src_hi")
    lo = per_src.select(
        F.col("source").alias("src_lo"), F.col("n_chunks").alias("c_lo")
    )
    hi = per_src.select(
        F.col("source").alias("src_hi"), F.col("n_chunks").alias("c_hi")
    )
    return (
        pairs.groupBy("src_lo", "src_hi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_shared_chunks"))
        .join(F.broadcast(lo), "src_lo")
        .join(F.broadcast(hi), "src_hi")
        .select(
            "src_lo",
            "src_hi",
            "n_shared_chunks",
            F.round(
                F.col("n_shared_chunks")
                * 1000000.0
                / F.least("c_lo", "c_hi")
            )
            .cast("bigint")
            .alias("overlap_ppm_of_smaller"),
        )
        .orderBy("src_lo", "src_hi")
    )


# ==========================================================================
# Round-12 additions (VERDICT r10 item 7).
# ==========================================================================

# --------------------------------------------------------------------------
# Duplicate-decay mixture (ROADMAP round-12 "Curation"): the
# dedup-aware sibling of domain_mix_planner, computed at the CHUNK
# grain (the fixed 10-word unit chunk_dedup_corpus dedups on — the
# corpus has no exact whole-text duplicates at the correctness SF, so
# whole-text decay would be a one-row degenerate table; chunk-grain
# decay is also the formulation C4/RefinedWeb-style pipelines
# actually reweight on). A chunk occurring k times corpus-wide
# contributes k copies of its words to the raw token budget; a
# keep-one-copy (1/k-decay) mix keeps that mass ONCE. Per k: distinct
# chunks, occurrences, raw vs decayed token mass, ppm shares, and the
# tokens a chunk-dedup pass reclaims — the mix planner's budget delta
# BEFORE the dedup itself runs.
# Exact math: all duplicate occurrences of a chunk string have the
# same word count, so decayed mass = word count summed once per
# distinct chunk — integer arithmetic throughout.
# Scale: one chunk-keyed shuffle (md5/xxhash64 keys at 100 TB — the
# chunk_dedup_corpus payload contract) + a |k|-domain rollup.
# Reference parity: the reference has no dedup surface (extension per
# VERDICT r8 item 6).
# --------------------------------------------------------------------------
_DECAY_MIX_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT array_to_string(w[i:i+{_CHUNK_WORDS - 1}], ' ') AS chunk,
             CAST(len(w[i:i+{_CHUNK_WORDS - 1}]) AS BIGINT) AS wc
      FROM toks, LATERAL unnest(range(1, len(w) + 1, {_CHUNK_WORDS})) AS t(i)
    ),
    clus AS (
      SELECT chunk, CAST(COUNT(*) AS BIGINT) AS k, MIN(wc) AS wc
      FROM chunks GROUP BY chunk
    ),
    byk AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(SUM(k) AS BIGINT) AS n_occurrences,
             CAST(SUM(k * wc) AS BIGINT) AS raw_tokens,
             CAST(SUM(wc) AS BIGINT) AS decayed_tokens
      FROM clus GROUP BY k
    ),
    tot AS (
      SELECT SUM(raw_tokens) AS raw_total,
             SUM(decayed_tokens) AS dec_total
      FROM byk
    )
    SELECT b.k AS cluster_size, b.n_chunks, b.n_occurrences,
           b.raw_tokens, b.decayed_tokens,
           CAST(ROUND(b.raw_tokens * 1000000.0 / t.raw_total) AS BIGINT)
             AS raw_share_ppm,
           CAST(ROUND(b.decayed_tokens * 1000000.0 / t.dec_total)
                AS BIGINT) AS decayed_share_ppm,
           CAST(b.raw_tokens - b.decayed_tokens AS BIGINT)
             AS tokens_reclaimed
    FROM byk b CROSS JOIN tot t
    ORDER BY cluster_size
    """


@operator("duplicate_decay_mixture", oracle=_DECAY_MIX_ORACLE)
def duplicate_decay_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per duplicate-cluster-size token-mass reweighting table at the
    10-word-chunk grain (see block comment): raw vs keep-one-copy
    token budgets by occurrence count k."""
    d = _docs(spark, sf_dir).select(
        "doc_id", F.split("text", " ").alias("w")
    )
    n_chunks = F.floor((F.size("w") - 1) / F.lit(_CHUNK_WORDS)).cast("int")
    chunk_at = lambda i: F.slice(  # noqa: E731
        "w", i * _CHUNK_WORDS + 1, _CHUNK_WORDS
    )
    chunks = d.select(
        F.explode(
            F.transform(F.sequence(F.lit(0), n_chunks), chunk_at)
        ).alias("cw")
    ).select(
        F.array_join("cw", " ").alias("chunk"),
        F.size("cw").cast("bigint").alias("wc"),
    )
    clus = chunks.groupBy("chunk").agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.min("wc").alias("wc"),
    )
    byk = clus.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum("k").cast("bigint").alias("n_occurrences"),
        F.sum(F.col("k") * F.col("wc")).cast("bigint").alias("raw_tokens"),
        F.sum("wc").cast("bigint").alias("decayed_tokens"),
    )
    tot = byk.agg(
        F.sum("raw_tokens").alias("raw_total"),
        F.sum("decayed_tokens").alias("dec_total"),
    )
    return (
        byk.crossJoin(F.broadcast(tot))
        .select(
            F.col("k").alias("cluster_size"),
            "n_chunks",
            "n_occurrences",
            "raw_tokens",
            "decayed_tokens",
            F.round(F.col("raw_tokens") * 1000000.0 / F.col("raw_total"))
            .cast("bigint")
            .alias("raw_share_ppm"),
            F.round(
                F.col("decayed_tokens") * 1000000.0 / F.col("dec_total")
            )
            .cast("bigint")
            .alias("decayed_share_ppm"),
            (F.col("raw_tokens") - F.col("decayed_tokens"))
            .cast("bigint")
            .alias("tokens_reclaimed"),
        )
        .orderBy("cluster_size")
    )


# --------------------------------------------------------------------------
# Chunk-decay source mix (ROADMAP round-13, pulled forward): the
# mix planner's ACTUAL input. duplicate_decay_mixture says how much
# token mass chunk-dedup reclaims per cluster size; this attributes
# the post-dedup mass per SOURCE under the pipeline's real keeper
# rule (first occurrence = min doc_id, the chunk_dedup_corpus
# convention): every distinct chunk's mass counts ONCE, at its
# keeper's source. A source full of late copies of other sources'
# content loses share; the shift column is the signed re-mix a
# dedup pass applies to the sampling weights before any reweighting
# policy runs.
# Exact math: keeper source via min(struct(doc_id, source)) — source
# is functionally determined by doc_id, so the struct min is the
# arg-min; all masses are integer word counts.
# Scale: one chunk-keyed shuffle (hash the chunk at 100 TB) + two
# source-domain rollups.
# --------------------------------------------------------------------------
_DECAY_SRC_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id, source,
             array_to_string(w[i:i+{_CHUNK_WORDS - 1}], ' ') AS chunk,
             CAST(len(w[i:i+{_CHUNK_WORDS - 1}]) AS BIGINT) AS wc
      FROM toks, LATERAL unnest(range(1, len(w) + 1, {_CHUNK_WORDS})) AS t(i)
    ),
    raw AS (
      SELECT source,
             CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
             CAST(SUM(wc) AS BIGINT) AS raw_tokens
      FROM chunks GROUP BY source
    ),
    keepers AS (
      SELECT chunk,
             (array_agg(source ORDER BY doc_id, source))[1]
               AS keeper_source,
             MIN(wc) AS wc
      FROM chunks GROUP BY chunk
    ),
    kept AS (
      SELECT keeper_source AS source, CAST(SUM(wc) AS BIGINT)
               AS kept_tokens
      FROM keepers GROUP BY 1
    ),
    tot AS (
      SELECT (SELECT SUM(raw_tokens) FROM raw) AS raw_total,
             (SELECT SUM(kept_tokens) FROM kept) AS kept_total
    )
    SELECT r.source, r.n_docs, r.raw_tokens,
           CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           CAST(ROUND(r.raw_tokens * 1000000.0 / t.raw_total) AS BIGINT)
             AS raw_share_ppm,
           CAST(ROUND(COALESCE(k.kept_tokens, 0) * 1000000.0
                      / t.kept_total) AS BIGINT) AS kept_share_ppm,
           CAST(ROUND(COALESCE(k.kept_tokens, 0) * 1000000.0
                      / t.kept_total)
                - ROUND(r.raw_tokens * 1000000.0 / t.raw_total)
                AS BIGINT) AS shift_ppm
    FROM raw r
    LEFT JOIN kept k ON k.source = r.source
    CROSS JOIN tot t
    ORDER BY r.source
    """


@operator("chunk_decay_source_mix", oracle=_DECAY_SRC_ORACLE)
def chunk_decay_source_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token share before vs after first-occurrence chunk
    dedup (see block comment): the signed mix shift a dedup pass
    applies to sampling weights."""
    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    n_chunks = F.floor((F.size("w") - 1) / F.lit(_CHUNK_WORDS)).cast("int")
    chunk_at = lambda i: F.slice(  # noqa: E731
        "w", i * _CHUNK_WORDS + 1, _CHUNK_WORDS
    )
    chunks = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(F.sequence(F.lit(0), n_chunks), chunk_at)
        ).alias("cw"),
    ).select(
        "doc_id",
        "source",
        F.array_join("cw", " ").alias("chunk"),
        F.size("cw").cast("bigint").alias("wc"),
    )
    raw = chunks.groupBy("source").agg(
        F.count_distinct("doc_id").cast("bigint").alias("n_docs"),
        F.sum("wc").cast("bigint").alias("raw_tokens"),
    )
    keepers = chunks.groupBy("chunk").agg(
        F.min(F.struct("doc_id", "source"))["source"].alias(
            "keeper_source"
        ),
        F.min("wc").alias("wc"),
    )
    kept = keepers.groupBy(
        F.col("keeper_source").alias("source")
    ).agg(F.sum("wc").cast("bigint").alias("kept_tokens"))
    tot = raw.agg(F.sum("raw_tokens").alias("raw_total")).crossJoin(
        kept.agg(F.sum("kept_tokens").alias("kept_total"))
    )
    raw_share = F.round(
        F.col("raw_tokens") * 1000000.0 / F.col("raw_total")
    ).cast("bigint")
    kept_share = F.round(
        F.coalesce("kept_tokens", F.lit(0))
        * 1000000.0
        / F.col("kept_total")
    ).cast("bigint")
    return (
        raw.join(kept, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "raw_tokens",
            F.coalesce("kept_tokens", F.lit(0))
            .cast("bigint")
            .alias("kept_tokens"),
            raw_share.alias("raw_share_ppm"),
            kept_share.alias("kept_share_ppm"),
            (kept_share - raw_share).cast("bigint").alias("shift_ppm"),
        )
        .orderBy("source")
    )


# ==========================================================================
# Round-13 additions (VERDICT r11 item 6).
# ==========================================================================

# --------------------------------------------------------------------------
# Quality-priority dedup survivorship (ROADMAP round-13 "Curation"):
# dedup_order_sensitivity priced keeper drift between id-order and
# source-priority policies on EXACT-text groups — where any
# content-derived score is constant within a group by construction
# (the r10 n_chars lesson), so quality ranking cannot move keepers
# there. The policy axis someone actually deploys — "keep the
# highest-quality copy of each near-duplicate" — needs clusters
# whose members DIFFER: here the LSH band-0 bucket (the first-band
# candidate group of the verified minhash pipeline; docs sharing
# their band-0 signature are near-duplicate candidates with
# genuinely different texts and therefore different
# quality_classifier_score values). Per multi-doc bucket the table
# compares keeper = min doc_id (stable-scan) vs keeper = best
# quality score (doc_id tiebreak), and prices the migration: keeper
# flips, and the exact kept-quality mass under each policy (scores
# on the 1e6 integer grid, so the gain is an exact integer and is
# >= 0 BY CONSTRUCTION — max >= first).
# Composition: scores from the registered quality_classifier_score
# (broadcast-weight linear model, exact integer per-doc sums);
# signatures from the verified minhash machinery (same
# MINHASH_A/B/MERSENNE_P constants and distinct-token hashing).
# Scale: one tokenize->hash->min pass (4 of the 32 sketches), one
# bucket-key shuffle, one doc_id join with the score frame; the
# summary is a single-row rollup. No pair enumeration anywhere —
# survivorship needs buckets, not pairs.
# --------------------------------------------------------------------------
# _qsurv_oracle composes curation's quality_classifier_score oracle at
# import time; import curation explicitly so a direct `import dedup`
# (outside load_all's canonical order) still finds it registered.
from bigdataentrytask_spark.operators import curation as _curation_d13  # noqa: F401
from bigdataentrytask_spark.operators import ORACLES as _ORACLES_D13


def _qsurv_oracle() -> str:
    rpb = _ROWS_PER_BAND
    mh_cols = ",\n             ".join(
        f"MIN(({MINHASH_A[i]} * h + {MINHASH_B[i]}) % {MERSENNE_P})"
        f" AS mh{i}"
        for i in range(rpb)
    )
    bkey = " || ':' || ".join(f"CAST(mh{i} AS VARCHAR)" for i in range(rpb))
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    b0 AS (
      SELECT doc_id,
             {mh_cols}
      FROM hashes GROUP BY doc_id
    ),
    qs AS ({_ORACLES_D13["quality_classifier_score"]}),
    member AS (
      SELECT b.doc_id, ({bkey}) AS bkey,
             CAST(ROUND(q.score * 1000000) AS BIGINT) AS score_e6
      FROM b0 b JOIN qs q ON q.doc_id = b.doc_id
    ),
    cl AS (
      SELECT bkey,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             MIN(doc_id) AS keeper_by_id,
             (array_agg(score_e6 ORDER BY doc_id))[1]
               AS id_keeper_score_e6,
             (array_agg(doc_id ORDER BY score_e6 DESC, doc_id))[1]
               AS keeper_by_q,
             MAX(score_e6) AS q_keeper_score_e6
      FROM member GROUP BY bkey
      HAVING COUNT(*) >= 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs_clustered,
           CAST(count_if(keeper_by_q <> keeper_by_id) AS BIGINT)
             AS n_flips,
           CAST(ROUND(count_if(keeper_by_q <> keeper_by_id)
                      * 1000000.0 / COUNT(*)) AS BIGINT) AS flip_ppm,
           CAST(SUM(id_keeper_score_e6) AS BIGINT)
             AS kept_score_id_e6,
           CAST(SUM(q_keeper_score_e6) AS BIGINT) AS kept_score_q_e6,
           CAST(SUM(q_keeper_score_e6 - id_keeper_score_e6) AS BIGINT)
             AS gain_e6
    FROM cl
    """


@operator("dedup_quality_survivorship", oracle=_qsurv_oracle())
def dedup_quality_survivorship(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Keeper migration from id-order to quality-priority
    survivorship over LSH band-0 near-duplicate buckets (see block
    comment): flips and exact kept-quality mass under both policies."""
    from bigdataentrytask_spark.operators import REGISTRY

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    hashes = toks.select("doc_id", token_hash("tok").alias("h"))
    rpb = _ROWS_PER_BAND
    b0 = hashes.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                % MERSENNE_P
            ).alias(f"mh{i}")
            for i in range(rpb)
        ]
    )
    qs = REGISTRY["quality_classifier_score"](spark, sf_dir).select(
        "doc_id", F.round(F.col("score") * 1000000).cast("bigint").alias(
            "score_e6"
        )
    )
    member = b0.join(qs, "doc_id").select(
        "doc_id",
        F.concat_ws(
            ":", *[F.col(f"mh{i}").cast("string") for i in range(rpb)]
        ).alias("bkey"),
        "score_e6",
    )
    cl = (
        member.groupBy("bkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("doc_id").alias("keeper_by_id"),
            # struct min orders by doc_id first -> first doc's score
            F.min(F.struct("doc_id", "score_e6"))["score_e6"].alias(
                "id_keeper_score_e6"
            ),
            # argmax score, doc_id tiebreak
            F.min(F.struct(-F.col("score_e6"), F.col("doc_id")))[
                "doc_id"
            ].alias("keeper_by_q"),
            F.max("score_e6").alias("q_keeper_score_e6"),
        )
        .filter(F.col("n_docs") >= 2)
    )
    return cl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
        F.sum("n_docs").cast("bigint").alias("n_docs_clustered"),
        F.sum((F.col("keeper_by_q") != F.col("keeper_by_id")).cast("long"))
        .cast("bigint")
        .alias("n_flips"),
        F.round(
            F.sum(
                (F.col("keeper_by_q") != F.col("keeper_by_id")).cast(
                    "long"
                )
            )
            * 1000000.0
            / F.count(F.lit(1))
        )
        .cast("bigint")
        .alias("flip_ppm"),
        F.sum("id_keeper_score_e6").cast("bigint").alias(
            "kept_score_id_e6"
        ),
        F.sum("q_keeper_score_e6").cast("bigint").alias(
            "kept_score_q_e6"
        ),
        F.sum(
            F.col("q_keeper_score_e6") - F.col("id_keeper_score_e6")
        )
        .cast("bigint")
        .alias("gain_e6"),
    )


# --------------------------------------------------------------------------
# LSH band-width sweep (round-12 original; the knob the verified
# pipeline fixes): minhash_dedup runs ONE banding (8 bands x 4 rows
# over 32 hashes). The (bands, rows-per-band) split is the S-curve
# every LSH deployment tunes — more, narrower bands catch more true
# pairs but explode the candidate volume. This table re-bands the
# SAME 32 verified minhash sketches into (16 x 2), (8 x 4), (4 x 8)
# and prices each against the exact Jaccard truth (jaccard_pairs,
# threshold 0.7): candidate pairs, truth recall, and precision —
# recall/precision estimated on the deterministic 1-in-20 doc_a
# slice (the decontaminate_ngram eval-slice convention; the sliced
# truth pushes its predicate into the quadratic self-join's probe
# side, 108s -> 10s at sf0.1, while the candidate VOLUME column
# stays exact over the full corpus).
# Pinned frontier, both directions monotone across the three
# configs: narrower bands => candidates and recall both rise,
# precision falls (recall monotonicity is STRUCTURAL — the
# candidate sets nest).
# Scale: candidate-pair DISTINCT enumeration is quadratic in cluster
# size — the audit-scale contract jaccard_pairs already carries; the
# production path for the chosen config is minhash_dedup's
# canonical-band tiled kernel (this table is the tuning audit run
# before that index is built).
# --------------------------------------------------------------------------
_BAND_SWEEP_CONFIGS = [(16, 2), (8, 4), (4, 8)]  # (bands, rows)


def _band_sweep_oracle() -> str:
    def band_eq(b: int, r: int, i: int) -> str:
        cols = range(i * r, (i + 1) * r)
        return "(" + " AND ".join(f"a.mh{c} = b.mh{c}" for c in cols) + ")"

    arms = []
    for nb, r in _BAND_SWEEP_CONFIGS:
        pred = " OR ".join(band_eq(nb, r, i) for i in range(nb))
        arms.append(f"""
      SELECT {nb} AS bands, {r} AS rows_per_band,
             a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM mh a JOIN mh b ON a.doc_id < b.doc_id
      WHERE ({pred})""")
    return f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(list_distinct({sql_tokens('text')})) AS tok
      FROM documents
    ),
    hashes AS (SELECT doc_id, {sql_token_hash('tok')} AS h FROM toks),
    mh AS (
      SELECT doc_id,
             {_sql_minhash_cols()}
      FROM hashes GROUP BY doc_id
    ),
    cand AS ({" UNION ALL ".join(arms)}),
    truth AS (
      SELECT doc_a, doc_b FROM ({{JACCARD_TRUTH}})
      WHERE doc_a % 20 = 0
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true_slice FROM truth)
    SELECT CAST(c.bands AS BIGINT) AS bands,
           CAST(c.rows_per_band AS BIGINT) AS rows_per_band,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(count_if(c.doc_a % 20 = 0) AS BIGINT) AS n_cand_slice,
           MAX(nt.n_true_slice) AS n_true_slice,
           CAST(count_if(t.doc_a IS NOT NULL) AS BIGINT)
             AS n_caught_slice,
           CAST(CASE WHEN MAX(nt.n_true_slice) > 0
                     THEN ROUND(count_if(t.doc_a IS NOT NULL)
                                * 1000000.0 / MAX(nt.n_true_slice))
                END AS BIGINT) AS recall_ppm,
           CAST(CASE WHEN count_if(c.doc_a % 20 = 0) > 0
                     THEN ROUND(count_if(t.doc_a IS NOT NULL)
                                * 1000000.0
                                / count_if(c.doc_a % 20 = 0))
                END AS BIGINT) AS precision_ppm
    FROM cand c
    CROSS JOIN nt
    LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    GROUP BY c.bands, c.rows_per_band
    ORDER BY bands DESC
    """


@operator(
    "lsh_band_width_sweep",
    oracle=(
        _band_sweep_oracle().replace(
            "{JACCARD_TRUTH}", _ORACLES_D13["jaccard_pairs"]
        )
    ),
)
def lsh_band_width_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-band the verified 32-sketch minhash signatures into three
    (bands, rows) splits and price candidate volume vs sliced exact-
    Jaccard recall and precision (see block comment).

    Scale shape — three structural choices carry the op: (1) band
    NESTING: equality on a 4-row band implies equality on both its
    2-row halves, so the candidate sets nest ((4,8) subset of (8,4)
    subset of (16,2)) and ONE distinct-pair enumeration on the
    finest banding covers every config, with membership in the
    coarser bandings a per-PAIR slice check (the doc-level signature
    frame joins back broadcast — it is KBs); (2) the exact-Jaccard
    truth is evaluated on the 1-in-20 doc_a slice, which Catalyst
    pushes into the quadratic self-join's probe side (108s -> 10s at
    sf0.1); (3) the flagged pair frame is persisted across the three
    config arms so the enumeration lineage runs once."""
    from bigdataentrytask_spark.operators import (
        REGISTRY,
        materialize,
        with_persisted,
    )

    toks = _docs(spark, sf_dir).select(
        "doc_id", F.explode(F.array_distinct(tokens("text"))).alias("tok")
    )
    hashes = toks.select("doc_id", token_hash("tok").alias("h"))
    mh = hashes.groupBy("doc_id").agg(
        F.array(
            *[
                F.min(
                    (F.lit(MINHASH_A[i]) * F.col("h") + F.lit(MINHASH_B[i]))
                    % MERSENNE_P
                )
                for i in range(NUM_HASHES)
            ]
        ).alias("sig")
    )
    nb_f, r_f = _BAND_SWEEP_CONFIGS[0]  # finest banding (16, 2)
    bkeys = F.array(
        *[
            F.concat_ws(
                ":",
                F.lit(i),
                *[F.col("sig")[j] for j in range(i * r_f, (i + 1) * r_f)],
            )
            for i in range(nb_f)
        ]
    )
    truth = (
        REGISTRY["jaccard_pairs"](spark, sf_dir)
        .filter(F.col("doc_a") % 20 == 0)
        .select("doc_a", "doc_b", F.lit(1).alias("hit"))
    )

    def in_config(nb: int, r: int):
        # static OR of per-band slice equalities, NOT a higher-order
        # exists() lambda: the flags evaluate on every candidate pair
        # and the interpreted HOF was the hot path (~30s of the op at
        # sf0.1); unrolled comparisons stay inside whole-stage codegen
        return F.expr(
            " OR ".join(
                f"(slice(sa, {i * r + 1}, {r})"
                f" = slice(sb, {i * r + 1}, {r}))"
                for i in range(nb)
            )
        )

    with with_persisted(mh) as mh_p:
        bands = mh_p.select("doc_id", F.explode(bkeys).alias("bkey"))
        a = bands.alias("a")
        b = bands.alias("b")
        pairs16 = (
            a.join(
                b,
                (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("a.doc_id").alias("doc_a"),
                F.col("b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        sa = mh_p.select(
            F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa")
        )
        sb = mh_p.select(
            F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb")
        )
        flagged = (
            pairs16.join(F.broadcast(sa), "doc_a")
            .join(F.broadcast(sb), "doc_b")
            .join(truth, ["doc_a", "doc_b"], "left")
            .select(
                (F.col("doc_a") % 20 == 0).alias("in_slice"),
                F.coalesce("hit", F.lit(0)).alias("hit"),
                *[
                    in_config(nb, r).alias(f"in_{nb}_{r}")
                    for nb, r in _BAND_SWEEP_CONFIGS[1:]
                ],
            )
        )
        with with_persisted(flagged, truth) as (flagged_p, truth_p):
            arms = flagged_p.select(
                F.lit(_BAND_SWEEP_CONFIGS[0][0]).alias("bands"),
                F.lit(_BAND_SWEEP_CONFIGS[0][1]).alias("rows_per_band"),
                "in_slice",
                "hit",
            )
            for nb, r in _BAND_SWEEP_CONFIGS[1:]:
                arms = arms.unionByName(
                    flagged_p.filter(F.col(f"in_{nb}_{r}")).select(
                        F.lit(nb).alias("bands"),
                        F.lit(r).alias("rows_per_band"),
                        "in_slice",
                        "hit",
                    )
                )
            nt = truth_p.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_true_slice")
            )
            out = (
                arms.crossJoin(F.broadcast(nt))
                .groupBy("bands", "rows_per_band")
                .agg(
                    F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
                    F.sum(F.col("in_slice").cast("long"))
                    .cast("bigint")
                    .alias("n_cand_slice"),
                    F.max("n_true_slice").alias("n_true_slice"),
                    F.sum("hit").cast("bigint").alias("n_caught_slice"),
                )
                .select(
                    F.col("bands").cast("bigint").alias("bands"),
                    F.col("rows_per_band")
                    .cast("bigint")
                    .alias("rows_per_band"),
                    "n_candidates",
                    "n_cand_slice",
                    "n_true_slice",
                    "n_caught_slice",
                    # NULL, not a /0 error, when the random-input
                    # eval slice is empty (ANSI mode throws)
                    F.when(
                        F.col("n_true_slice") > 0,
                        F.round(
                            F.col("n_caught_slice")
                            * 1000000.0
                            / F.col("n_true_slice")
                        ),
                    )
                    .cast("bigint")
                    .alias("recall_ppm"),
                    F.when(
                        F.col("n_cand_slice") > 0,
                        F.round(
                            F.col("n_caught_slice")
                            * 1000000.0
                            / F.col("n_cand_slice")
                        ),
                    )
                    .cast("bigint")
                    .alias("precision_ppm"),
                )
                .orderBy(F.col("bands").desc())
            )
            return materialize(out)
