"""Deterministic, cross-engine hashing primitives for dedup & fingerprinting.

Everything bottoms out in md5 — the one hash function Spark and DuckDB (and
most engines) compute identically — so every derived signature (minhash,
simhash, LSH band keys, fingerprints) is reproducible outside Spark. Spark's
native ``xxhash64``/``hash`` are faster but engine-specific; md5 keeps the
signatures portable and the cost is one pass over short strings.

All builders return Column expressions (no UDFs).
"""

from __future__ import annotations

from typing import List

from pyspark.sql import Column
from pyspark.sql import functions as F

#: number of hex digits kept when folding md5 into a BIGINT (15 hex = 60 bits,
#: always positive, safely inside int64)
_HEX_DIGITS = 15
SIMHASH_BITS = 60


def md5_long(col: Column, seed: str = "") -> Column:
    """Fold md5 into a non-negative BIGINT (60 bits).

    DuckDB twin: ``('0x' || substr(md5(x || '#seed'), 1, 15))::BIGINT``.
    """
    if seed:
        col = F.concat(col, F.lit(f"#{seed}"))
    return F.conv(F.substring(F.md5(col), 1, _HEX_DIGITS), 16, 10).cast("long")


def md5_long_sql(expr: str, seed: str = "") -> str:
    inner = f"{expr} || '#{seed}'" if seed else expr
    return f"('0x' || substr(md5({inner}), 1, {_HEX_DIGITS}))::BIGINT"


def injective_key(cols: List[Column]) -> Column:
    """INJECTIVE composite string key over heterogeneous columns: each
    part is ``'V' + md5(string form)`` (33 chars; md5's hex alphabet never
    collides with the prefix letters) or ``'N'`` for NULL, concatenated.
    No in-band separator a data value could contain can merge two distinct
    tuples into one key — the shared primitive behind the expectations
    unique rule and the table-content checksum. DuckDB twin:
    :func:`injective_key_sql`."""
    parts = [
        F.coalesce(F.concat(F.lit("V"), F.md5(c.cast("string"))), F.lit("N"))
        for c in cols
    ]
    return F.concat(*parts)


def injective_key_sql(exprs: List[str]) -> str:
    """DuckDB twin of :func:`injective_key` (same tokens, same order)."""
    return " || ".join(
        f"coalesce('V' || md5({e}::VARCHAR), 'N')" for e in exprs
    )


def word_shingles(tokens: Column, k: int = 3) -> Column:
    """k-word shingles of a token array; documents shorter than k collapse to
    one whole-document shingle. DuckDB twin in ``word_shingles_sql``."""
    n = F.size(tokens)
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(0), n - k),
            lambda i: F.array_join(F.slice(tokens, i + 1, k), " "),
        ),
    ).otherwise(F.array(F.array_join(tokens, " ")))


def word_shingles_sql(tokens: str, k: int = 3) -> str:
    return (
        f"CASE WHEN len({tokens}) >= {k} THEN "
        f"list_transform(generate_series(1, len({tokens}) - {k - 1}),"
        f" i -> array_to_string({tokens}[i:i+{k - 1}], ' ')) "
        f"ELSE [array_to_string({tokens}, ' ')] END"
    )


def char_ngrams(s: Column, n: int = 3) -> Column:
    """Distinct character n-grams; strings shorter than n yield the string."""
    ln = F.length(s)
    grams = F.when(
        ln >= n,
        F.transform(F.sequence(F.lit(1), ln - (n - 1)), lambda i: F.substring(s, i, n)),
    ).otherwise(F.array(s))
    return F.array_distinct(grams)


def char_ngrams_sql(s: str, n: int = 3) -> str:
    return (
        f"list_distinct(CASE WHEN len({s}) >= {n} THEN "
        f"list_transform(generate_series(1, len({s}) - {n - 1}), i -> substr({s}, i, {n})) "
        f"ELSE [{s}] END)"
    )


#: Mersenne prime 2^31 - 1 for the universal-hash family; (a*x + b) % P with
#: x < P keeps every intermediate below 2^62 — no bigint overflow, so the
#: arithmetic is exact (and ANSI-safe) in any engine.
_MINHASH_P = 2147483647


def _minhash_coeffs(num_hashes: int) -> List[tuple]:
    """Deterministic (a, b) pairs derived from md5 — reproducible anywhere."""
    import hashlib

    out = []
    for j in range(num_hashes):
        a = int(hashlib.md5(f"minhash-a#{j}".encode()).hexdigest()[:15], 16) % (
            _MINHASH_P - 1
        ) + 1
        b = int(hashlib.md5(f"minhash-b#{j}".encode()).hexdigest()[:15], 16) % _MINHASH_P
        out.append((a, b))
    return out


def shingle_hashes(shingles: Column) -> Column:
    """One md5 per shingle folded to 60 bits mod P — materialize THIS as a
    real column before building signatures: Spark cannot eliminate common
    subexpressions inside higher-order-function lambdas, so passing the raw
    expression into :func:`minhash_from_hashes` would re-run every md5 once
    per hash seed."""
    return F.transform(shingles, lambda s: pmod(md5_long(s)))


def minhash_from_hashes(hashes: Column, num_hashes: int = 16) -> Column:
    """MinHash signature (array<bigint>) from pre-hashed shingles via the
    universal family ``(a*x + b) % P`` — cheap integer scans, no rehashing.
    One nested higher-order function over the coefficient array (not one
    ``transform`` per hash function): same per-row work, a fraction of the
    expression tree for the driver to analyze."""
    coeffs = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _minhash_coeffs(num_hashes)
        ]
    )
    return F.transform(
        coeffs,
        lambda c: F.array_min(
            F.transform(hashes, lambda x: (c["a"] * x + c["b"]) % F.lit(_MINHASH_P))
        ),
    )


def pmod(x: Column) -> Column:
    return x % F.lit(_MINHASH_P)


def minhash_signature_sql(shingles: str, num_hashes: int = 16) -> str:
    base = f"list_transform({shingles}, s -> {md5_long_sql('s')} % {_MINHASH_P})"
    mins = ", ".join(
        f"list_min(list_transform({base}, x -> ({a}::BIGINT * x + {b}::BIGINT) % {_MINHASH_P}))"
        for a, b in _minhash_coeffs(num_hashes)
    )
    return f"[{mins}]"


def lsh_band_keys(signature: Column, bands: int, rows_per_band: int) -> List[Column]:
    """Band keys: md5 of each band's concatenated signature slice."""
    keys = []
    for b in range(bands):
        parts = [
            F.element_at(signature, b * rows_per_band + r + 1).cast("string")
            for r in range(rows_per_band)
        ]
        keys.append(F.md5(F.concat_ws("|", *parts)))
    return keys


def lsh_band_keys_sql(signature: str, bands: int, rows_per_band: int) -> List[str]:
    out = []
    for b in range(bands):
        parts = " || '|' || ".join(
            f"{signature}[{b * rows_per_band + r + 1}]::VARCHAR"
            for r in range(rows_per_band)
        )
        out.append(f"md5({parts})")
    return out


def token_hashes(tokens: Column) -> Column:
    """md5-derived 60-bit hash per token — stage as a real column before
    :func:`simhash_from_hashes` (same lambda-CSE caveat as shingle_hashes)."""
    return F.transform(tokens, lambda t: md5_long(t))


def simhash_from_hashes(hashes: Column, bits: int = SIMHASH_BITS) -> Column:
    """SimHash from pre-hashed tokens: output bit j is set iff more token
    hashes have bit j set than unset (term-frequency voting).

    Per-bit vote is a sum of +1/-1 over token hashes, packed into a long.
    The whole signature is ONE nested higher-order function folding over a
    60-element mask array: unrolling a separate ``F.aggregate`` per bit
    builds a ~60x larger expression tree whose driver-side analysis cost
    (~2 s/invocation) dwarfed the actual per-row work (same pathology and
    fix as the LSH plane matrix, ``similarity.py:knn_lsh``).

    SCOPE (r14): this Column form evaluates 60×T interpreted lambda steps
    inside the owning row's task — fine when the signature shares a
    single-pass projection with other per-row outputs
    (``textops.fingerprint``), but a multi-MB document serializes
    ~14-28 s/MB onto one task. Hot paths that ONLY need signatures use
    the DataFrame-level vote-sum groupBy form instead
    (``operators.dedup._simhash_by_vote`` — codegen'd, long-document
    safe, bit-identical output)."""
    masks = F.array(*[F.lit(1 << j).cast("long") for j in range(bits)])
    return F.aggregate(
        masks,
        F.lit(0).cast("long"),
        lambda acc, m: acc
        + F.when(
            F.aggregate(
                hashes,
                F.lit(0),
                lambda a, h: a
                + F.when(h.bitwiseAND(m) != 0, F.lit(1)).otherwise(F.lit(-1)),
            )
            > 0,
            m,
        ).otherwise(F.lit(0).cast("long")),
    )


def simhash(tokens: Column, bits: int = SIMHASH_BITS) -> Column:
    """Single-expression convenience form; hot paths should stage
    :func:`token_hashes` into its own projection first."""
    return simhash_from_hashes(token_hashes(tokens), bits)


def simhash_sql(tokens: str, bits: int = SIMHASH_BITS) -> str:
    h = f"list_transform({tokens}, t -> {md5_long_sql('t')})"
    return (
        f"list_sum(list_transform(generate_series(0, {bits - 1}), j -> "
        f"CASE WHEN list_sum(list_transform({h}, h -> "
        f"CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)) > 0 "
        f"THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT"
    )


def hamming_distance(a: Column, b: Column) -> Column:
    """Hamming distance between two packed-bit BIGINT signatures."""
    return F.bit_count(a.bitwiseXOR(b))
