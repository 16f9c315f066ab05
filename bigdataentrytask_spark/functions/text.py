"""Portable text primitives: every helper has a Spark Column form and a
DuckDB SQL-fragment twin computing bit-identical results, so the dedup
and text-analysis operators can be differentially tested end-to-end.
The tokenizer and the token hash also have Spark SQL text twins
(`spark_sql_*`) for plans built as SQL strings.

Hashing is md5-based (both engines ship md5) — the first 8 hex chars
parsed as an integer give a deterministic 32-bit token hash that is
then reduced mod MERSENNE_P so the minhash congruential transforms
(a*h+b) % p stay inside signed-64 range.

At scale these are all whole-stage-codegen expressions (no Python);
the only data movement any of them imply is the explode() of token
lists, which is linear in corpus token count.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SPLIT_RE = "[^a-z0-9]+"
MERSENNE_P = 2_147_483_647  # 2^31 - 1; keeps a*h + b < 2^62

# MinHash family: K deterministic affine transforms with constants from
# a fixed-seed RNG (seed chosen once; values are data, not randomness).
NUM_HASHES = 32
_rng = random.Random(20240813)
MINHASH_A = [_rng.randrange(1, MERSENNE_P) for _ in range(NUM_HASHES)]
MINHASH_B = [_rng.randrange(0, MERSENNE_P) for _ in range(NUM_HASHES)]
LSH_BANDS = 8  # 8 bands x 4 rows


def tokens(col: Column | str) -> Column:
    """Lowercase alnum tokens; empties filtered."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), TOKEN_SPLIT_RE), lambda x: x != F.lit(""))


def sql_tokens(expr: str) -> str:
    """DuckDB twin of tokens()."""
    return (
        f"list_filter(string_split_regex(lower({expr}), '{TOKEN_SPLIT_RE}'),"
        " x -> x <> '')"
    )


def spark_sql_tokens(expr: str) -> str:
    """Spark SQL text twin of tokens(), for plans built as SQL strings."""
    return f"filter(split(lower({expr}), '{TOKEN_SPLIT_RE}'), x -> x <> '')"


def token_hash(col: Column | str) -> Column:
    """Token -> integer in [0, MERSENNE_P): md5 hex prefix mod p."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long") % MERSENNE_P
    )


def spark_sql_token_hash(expr: str) -> str:
    """Spark SQL text twin of token_hash()."""
    return (
        f"cast(conv(substring(md5({expr}), 1, 8), 16, 10) as bigint) % {MERSENNE_P}"
    )


def sql_token_hash(expr: str) -> str:
    """DuckDB twin of token_hash()."""
    return f"(('0x' || substr(md5({expr}), 1, 8))::BIGINT % {MERSENNE_P})"


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact-dup fingerprints: lowercase, whitespace
    collapsed, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def sql_normalize_text(expr: str) -> str:
    return f"trim(regexp_replace(lower({expr}), '\\s+', ' ', 'g'))"


# --------------------------------------------------------------------------
# Shared add-one-smoothed bigram-LM document scorer (ADVICE r13: the
# LM convention was duplicated verbatim across the perplexity-gate /
# funnel family — gate_stacking_ledger, funnel_order_sensitivity,
# funnel_threshold_provenance, post_gate_mix_rebalance,
# perplexity_pruning_gate, perplexity_gate_by_lang,
# quality_prune_mix_shift; a fix to the convention now lands HERE
# once). Convention (verified by bigram_lm_logprob's driver row):
# whitespace/alnum tokens() grid, add-one smoothing over the corpus
# vocabulary, per-bigram ln() rounded to an e6 integer BEFORE the
# per-doc mean, the mean rounded back to the e6 grid — every
# comparison downstream is exact integer arithmetic.
# Scale: one explode (linear in corpus tokens), two bigram-count
# joins, one doc_id agg; the vocab scalar rides a 1-row broadcast
# crossJoin — no collect, no pair enumeration.
# --------------------------------------------------------------------------
LM_SCORED_CTES = f"""toks AS (
      SELECT doc_id, tok,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS pos
      FROM (
        SELECT doc_id,
               UNNEST({sql_tokens('text')}) AS tok,
               UNNEST(range(len({sql_tokens('text')}))) AS pos
        FROM documents
      )
    ),
    bigrams AS (
      SELECT doc_id,
             LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
             tok AS w2
      FROM toks
      QUALIFY w1 IS NOT NULL
    ),
    c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n2
           FROM bigrams GROUP BY 1, 2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1
           FROM bigrams GROUP BY 1),
    v  AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS vsz FROM toks),
    scored AS (
      SELECT b.doc_id,
             CAST(ROUND(SUM(CAST(ROUND(ln((c2.n2 + 1)
                                / CAST(c1.n1 + v.vsz AS DOUBLE))
                                * 1000000) AS BIGINT))
                        / CAST(COUNT(*) AS DOUBLE)) AS BIGINT)
               AS score_e6
      FROM bigrams b
      JOIN c2 ON c2.w1 = b.w1 AND c2.w2 = b.w2
      JOIN c1 ON c1.w1 = b.w1
      CROSS JOIN v
      GROUP BY 1
    ),
"""


def lm_doc_scores(d):
    """Spark twin of LM_SCORED_CTES: (doc_id, score_e6) on the e6
    integer grid (see block comment above)."""
    from pyspark.sql import Window

    toks = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos", "tok")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    bigrams = toks.select(
        "doc_id",
        F.lag("tok").over(w).alias("w1"),
        F.col("tok").alias("w2"),
    ).filter(F.col("w1").isNotNull())
    c2 = bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n2"))
    c1 = bigrams.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    v = toks.agg(F.count_distinct("tok").alias("vsz"))
    lp_g = F.round(
        F.log(
            (F.col("n2") + 1) / (F.col("n1") + F.col("vsz")).cast("double")
        )
        * 1000000
    ).cast("bigint")
    return (
        bigrams.join(c2, ["w1", "w2"])
        .join(c1, "w1")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.round(F.sum(lp_g) / F.count(F.lit(1)).cast("double"))
            .cast("bigint")
            .alias("score_e6")
        )
    )
