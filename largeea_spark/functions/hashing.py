"""Deterministic hashing primitives: MinHash signatures + LSH bands,
SimHash, shingles (SURVEY.md F14, plus training-data dedup ops).

The reference uses datasketch MinHash (128 perms, seed 1) with a redis
LSH store (`text_sim.py:181-224`). Here signatures are computed entirely
JVM-side with ``xxhash64`` over (seed-tagged) tokens — no UDF, no server,
deterministic across parallelism levels. LSH banding becomes a plain
``groupBy(band_hash)`` + equi-join (the north star's "broadcast-free
sort-merge join on block keys").

MinHash math: for permutation i, sig_i(S) = min_{t∈S} h_i(t) with
h_i(t) = xxhash64(i, t). P[sig_i(A)=sig_i(B)] = Jaccard(A,B); banding
(b bands × r rows) fires with prob 1-(1-J^r)^b. Candidate sets differ
from datasketch's (different hash family) — parity is gated on final
P/R with an over-generating (b, r), SURVEY.md §7.4.6.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def minhash_signature(token_array_col: str | Column, num_perm: int = 128) -> Column:
    """array<string> token set → array<bigint> MinHash signature
    (length ``num_perm``), computed with builtin expressions only:
    for each seed i, min over tokens of xxhash64(i, token)."""
    toks = F.col(token_array_col) if isinstance(token_array_col, str) else token_array_col
    sig = F.array(
        *[
            F.array_min(F.transform(toks, lambda t: F.xxhash64(F.lit(i), t)))
            for i in range(num_perm)
        ]
    )
    return sig


def lsh_band_keys(sig_col: str, bands: int = 32, rows: int = 4) -> Column:
    """Signature column (by name) → array<struct<band int, key bigint>>
    of band bucket keys, key = xxhash64(band, sig[band*rows .. +rows-1]).

    bands*rows must equal the signature length. Threshold ≈ (1/b)^(1/r);
    defaults (32, 4) → ≈0.42, chosen to over-generate vs the reference's
    Jaccard 0.5 (`text_sim.py:194-196`), SURVEY.md §7.4.6.

    Built as ONE SQL expression string: the int literals hash exactly as
    ``F.lit(b)`` does, and one parse replaces the ~200 py4j calls of
    building the same tree Column by Column.
    """
    entries = []
    for b in range(bands):
        cells = ", ".join(f"`{sig_col}`[{b * rows + r}]" for r in range(rows))
        entries.append(f"named_struct('band', {b}, 'key', xxhash64({b}, {cells}))")
    return F.expr(f"array({', '.join(entries)})")


def minhash_signature_agg(df: DataFrame, id_col: str, token_array_col: str,
                          num_perm: int = 128) -> DataFrame:
    """(id, tokens) → (id, sig array<bigint>) via explode + one groupBy
    with ``num_perm`` min-aggregates — a SINGLE pass over the tokens
    (the pure-expression `minhash_signature` traverses the array once
    per permutation, which hurts on long documents). One shuffle on id;
    map-side partial mins keep it small. Docs with zero tokens drop out
    (they have no signature). The aggregate list is one SQL expression
    string (see `lsh_band_keys`), hashing exactly as `minhash_signature`."""
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(F.col(token_array_col))).alias("tok")
    )
    mins = ", ".join(f"min(xxhash64({i}, tok))" for i in range(num_perm))
    return toks.groupBy(id_col).agg(F.expr(f"array({mins})").alias("sig"))


def explode_band_keys(
    df: DataFrame, id_col: str, token_array_col: str,
    num_perm: int = 128, bands: int = 32, rows: int = 4,
) -> DataFrame:
    """(id, tokens) → (id, band, key) — one row per LSH bucket membership.

    This is the block-key table; candidate pairs come from a self- or
    cross-join on (band, key) — a sort-merge equi-join, broadcast-free.
    Signature computed with the single-pass aggregate form.
    """
    assert bands * rows == num_perm, "bands*rows must equal num_perm"
    sig_df = minhash_signature_agg(df, id_col, token_array_col, num_perm)
    return (
        sig_df.select(
            F.col(id_col), F.explode(lsh_band_keys("sig", bands, rows)).alias("bk")
        )
        .select(id_col, F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    )


def simhash64(token_array_col: str | Column) -> Column:
    """64-bit SimHash of a token array, JVM-side.

    sign-sum per bit of xxhash64(token); bit b of the result is 1 when
    sum_t ((hash(t)>>b)&1 ? +1 : -1) > 0. Used for near-dup detection on
    `documents` (training-data pipeline op; not in the reference).
    """
    toks = F.col(token_array_col) if isinstance(token_array_col, str) else token_array_col
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    bit_cols = []
    for b in range(64):
        vote = F.aggregate(
            hashes,
            F.lit(0),
            lambda acc, h: acc
            + F.when(h.bitwiseAND(F.lit(1 << b) if b < 63 else F.lit(-(2**63))) != 0, 1).otherwise(-1),
        )
        bit_cols.append(F.when(vote > 0, F.lit(1 << b if b < 63 else -(2**63))).otherwise(F.lit(0)))
    out = F.lit(0)
    for c in bit_cols:
        out = out.bitwiseOR(c)
    return out


def simhash64_agg(df: DataFrame, id_col: str, token_array_col: str) -> DataFrame:
    """(id, tokens) → (id, fp bigint) single-pass SimHash: explode,
    hash once per token, 64 sign-vote sums in one groupBy (map-side
    partials), then bit reconstruction — avoids the 64 array traversals
    of the pure-expression `simhash64` on long documents."""
    toks = df.select(
        F.col(id_col), F.explode(F.col(token_array_col)).alias("tok")
    ).select(F.col(id_col), F.xxhash64("tok").alias("h"))
    votes = [
        F.sum(
            F.when(F.shiftright("h", b).bitwiseAND(F.lit(1)) != 0, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    wide = toks.groupBy(id_col).agg(*votes)
    fp = F.lit(0)
    for b in range(64):
        bit_val = F.lit(1 << b) if b < 63 else F.lit(-(2 ** 63))
        fp = fp.bitwiseOR(F.when(F.col(f"v{b}") > 0, bit_val).otherwise(F.lit(0)))
    return wide.select(F.col(id_col), fp.alias("fp"))


def hamming64(a: str | Column, b: str | Column) -> Column:
    """Hamming distance between two int64 SimHash columns (bit_count of xor)."""
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def char_shingles(col: str | Column, k: int = 5) -> Column:
    """k-char shingle set of a string (dedup shingling), via
    sequence+substr — JVM-side, no UDF. Strings shorter than k yield the
    whole string as the single shingle."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
    return F.array_distinct(F.transform(idx, lambda i: c.substr(i, F.lit(k))))


def word_ngrams(token_array_col: str | Column, n: int = 3) -> Column:
    """Word n-gram set from a token array (n-gram Jaccard dedup), JVM-side."""
    toks = F.col(token_array_col) if isinstance(token_array_col, str) else token_array_col
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(0)))
    gram = lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))  # noqa: E731
    return F.when(F.size(toks) >= n, F.array_distinct(F.transform(idx, gram))).otherwise(
        F.array(F.concat_ws(" ", toks))
    )
