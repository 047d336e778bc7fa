"""Sketch expression builders (SURVEY.md §2.8 L2): the word-trigram
shingles and the md5-derived SimHash / MinHash constructions shared
by the dedup queries and the property tests.

The shingles come from one regex over the text column. The sketch
builders are pure Column expressions (JVM-side, no UDFs) over an
array-of-strings column, and all derive their hash bits from
md5 hex digits — deliberately: fixed-width lowercase hex strings
compare identically in Spark and DuckDB, which is what makes the
dedup family exactly oracle-checkable. Production at 100 TB would
swap md5 for xxhash64 (cheaper, Spark-internal) with the same shapes.

Public algorithm lineage: MinHash resemblance sketches (Broder, "On
the resemblance and containment of documents", 1997), bottom-k/KMV
single-permutation variant (Cohen & Kaplan 2007; Li & König's
one-permutation hashing line), SimHash (Charikar, "Similarity
estimation techniques from rounding algorithms", STOC 2002) as
deployed for web near-dup detection in Manku et al., WWW 2007.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HEXDIGITS = "0123456789abcdef"


# A zero-width match at the start of each space-separated token (the
# string start, or right after a space) whose lookahead captures that
# token and the next two. The lookbehind must be the positive
# ``(?<= )``: the negated ``(?<![^ ])`` also matches between the two
# UTF-16 halves of a surrogate pair, so an emoji would start an extra
# shingle.
_TRIGRAM_RE = r"(?:^|(?<= ))(?=([^ ]* [^ ]* [^ ]*))"


def trigram_shingles(text: Column) -> Column:
    """Word 3-shingles of ``text`` split on single spaces, in order
    and with repeats: element i is tokens i, i+1 and i+2 joined by
    spaces, exactly as ``split(text, ' ')`` numbers the tokens (empty
    tokens included). Fewer than 3 tokens give an empty array and a
    NULL text gives NULL. One regex pass over the string, with no
    ``slice``, so no length clamp is needed for short texts."""
    return F.regexp_extract_all(text, F.lit(_TRIGRAM_RE), F.lit(1))


def md5_hex_digit(s: Column, pos: int) -> Column:
    """Hex digit ``pos`` (1-based) of md5(s) as an integer 0..15: the
    cheapest cross-engine-exact uniform hash bucket (identical
    lowercase-hex md5 in Spark and DuckDB)."""
    return F.instr(F.lit(_HEXDIGITS), F.substring(F.md5(s), pos, 1)) - 1


def simhash_nibbles(md5s: Column) -> Column:
    """Per-token nibble pack for the fast SimHash path (r16): ONE
    ``conv`` turns each md5's first 15 hex digits into a 60-bit long
    (15 digits so the unsigned value stays under 2^63 — a 16-digit
    conv could overflow the BIGINT cast), plus the 16th digit as a
    double. ``simhash_from_nibbles`` then reads each bit's digit with
    a shift/mask instead of a per-(token, bit) substring+instr string
    scan. Callers must materialize this array in its OWN projection
    (same CollapseProject rationale as the md5 array: the column is
    referenced once per bit)."""
    return F.transform(
        md5s,
        lambda h: F.struct(
            F.conv(F.substring(h, 1, 15), 16, 10).cast("long").alias("v"),
            (F.instr(F.lit(_HEXDIGITS), F.substring(h, 16, 1)) - 1)
            .cast("double")
            .alias("d15"),
        ),
    )


def simhash_from_nibbles(hv_col_name: str, bits: int = 16) -> Column:
    """SimHash fingerprint from a materialized ``simhash_nibbles``
    column (named, because the expression is built in SQL text): bit p
    is the sign of the sum over tokens of (digit_p - 7.5), digit_p
    extracted with ``(v >> shift) & 15`` — integer ops replacing the
    old per-(token, bit) substring+instr, measured 1.163 s → 0.720 s
    end-to-end on ``simhash_dedup`` at sf0.1. The per-token digit
    VALUES and the left-to-right float64 fold are identical to the
    substring form, so fingerprints are bit-for-bit unchanged (and
    still DuckDB-reproducible — the oracle keeps hashing hex text).
    Supports bits <= 16 (digit 15 rides separately as ``d15``)."""
    if bits > 16:
        raise ValueError("simhash_from_nibbles supports at most 16 bits")

    def bit_expr(p: int) -> str:
        digit = (
            f"CAST((x.v >> {4 * (14 - p)}) & 15 AS DOUBLE)" if p < 15 else "x.d15"
        )
        return (
            f"CAST((aggregate({hv_col_name}, CAST(0.0 AS DOUBLE),"
            f" (acc, x) -> acc + ({digit} - 7.5D)) > 0) AS INT) * {2 ** p}"
        )

    return F.expr(" + ".join(bit_expr(p) for p in range(bits)))


def simhash_from_md5s(md5s: Column, bits: int = 16) -> Column:
    """SimHash fingerprint from a PRE-HASHED md5-hex array: bit p is
    the sign of the sum over tokens of (hex-digit_p - 7.5). Callers
    should materialize ``F.transform(toks, F.md5)`` in a SEPARATE
    projection and pass the column here: CollapseProject refuses to
    merge a non-cheap alias referenced ``bits`` times, so the md5
    runs ONCE per token instead of once per (token, bit) — 16× less
    hash work, measured ~25% faster end-to-end at sf0.1 and the
    dominant cost at corpus scale. Hot paths should go one step
    further and materialize ``simhash_nibbles`` too (see
    ``simhash_from_nibbles``); this single-expression form is kept
    for the property tests and as the readable reference."""

    def hexval(h: Column, p: int) -> Column:
        return (
            F.instr(F.lit(_HEXDIGITS), F.substring(h, p + 1, 1)) - 1
        ).cast("double")

    def bit(p: int) -> Column:
        signed_sum = F.aggregate(
            md5s, F.lit(0.0), lambda acc, h: acc + (hexval(h, p) - 7.5)
        )
        return (signed_sum > 0).cast("int")

    return sum([bit(p) * F.lit(2**p) for p in range(bits)], F.lit(0))


def simhash_expr(toks: Column, bits: int = 16) -> Column:
    """SimHash fingerprint of a token array (single-expression form —
    convenient for tests/small data; the md5 inlines into every bit
    term, so hot paths should materialize the hash array and use
    ``simhash_from_md5s``). Similar token sets produce nearby
    fingerprints (small Hamming distance) — the property the dedup
    bucketing and the monotonicity property test both rely on."""
    return simhash_from_md5s(F.transform(toks, lambda t: F.md5(t)), bits)


def minhash_khash_sig(items: Column, k: int) -> Column:
    """k-independent-hashes MinHash signature: array of k components,
    component i = min over items of md5(item + '#i') (15-hex prefix).
    Estimator: Jaccard(A, B) ≈ fraction of equal components. Costs k
    hash passes over the items — the bottom-k sketch below gets the
    same estimate family from ONE pass."""
    return F.array(
        *[
            F.array_min(
                F.transform(
                    items,
                    lambda s, i=i: F.substring(F.md5(F.concat(s, F.lit(f"#{i}"))), 1, 15),
                )
            )
            for i in range(k)
        ]
    )


def bottomk_sketch(items: Column, k: int) -> Column:
    """Bottom-k (one-permutation / KMV) MinHash sketch: the k smallest
    md5 hashes of the items, one hash pass total. Estimator:
    Jaccard(A, B) ≈ |bottomk(A ∪ B) ∩ bottomk(A) ∩ bottomk(B)| / k,
    where bottomk(A ∪ B) is computable from the two sketches alone
    (merge + re-take k smallest) — the reason the sketch composes
    distributively at 100 TB. Hashes are deduped before the take so
    the KMV merge law holds on MULTISET inputs too (pinned by
    tests/test_properties.py::test_bottomk_sketch_merges_distributively),
    so callers need not dedupe the items first. ``sort_array`` rather
    than ``array_sort``: md5 hashes are never NULL, so the two orders
    agree, and ``array_sort``'s default comparator evaluates a lambda
    on every comparison (its interpreted sort was the top executor
    frame of ``neardup_cluster_components``' sketch stage)."""
    return F.slice(
        F.sort_array(
            F.array_distinct(
                F.transform(items, lambda s: F.substring(F.md5(s), 1, 15))
            )
        ),
        1,
        k,
    )


def top_token_run_max(toks: Column) -> Column:
    """Count of the most frequent element in a token array, computed
    row-locally as a run-length maximum over the SORTED array with one
    ``F.aggregate`` HOF — zero shuffles/explodes, works identically in
    batch and streaming projections (the Gopher-style repetition
    gates' core primitive)."""
    srt = F.array_sort(toks)
    init = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc.getField("prev"), acc.getField("run") + 1).otherwise(
            F.lit(1)
        )
        return F.struct(
            t.alias("prev"),
            run.alias("run"),
            F.greatest(acc.getField("best"), run).alias("best"),
        )

    return F.aggregate(srt, init, step, lambda acc: acc.getField("best"))


def simhash64_from_xxhashes(hashes: Column) -> Column:
    """Production-form 64-bit SimHash from a PRE-HASHED xxhash64
    array: ONE hash per token supplies all 64 bit votes (bit p of the
    hash votes ±1 on fingerprint bit p) — the design actually deployed
    at corpus scale, vs the md5 form whose job is cross-engine
    verifiability. Callers materialize ``F.transform(toks,
    F.xxhash64)`` in its own projection (same CollapseProject
    reasoning as ``simhash_from_md5s``). Spark-internal hash ⇒ no
    DuckDB oracle; the invariants are pinned by guarantee tests."""

    # ONE fold carrying a 64-wide vote vector, not 64 independent
    # F.aggregate folds (r10 cold audit): the 64-fold form builds a
    # Catalyst tree ~64x this size (seconds of planning/codegen per
    # run) and re-walks the token array once per bit. Semantics are
    # identical — votes[p] = sum over tokens of +/-1 by hash bit p,
    # fingerprint bit p set iff votes[p] > 0.
    positions = F.sequence(F.lit(0), F.lit(63))
    votes = F.aggregate(
        hashes,
        F.expr("array_repeat(0, 64)"),
        lambda acc, h: F.zip_with(
            acc,
            positions,
            # call_function: the python shiftright/shiftleft wrappers
            # type-check numBits as a literal int, but the underlying
            # SQL expressions take any integral column — here the
            # shift amount is the lambda-bound bit position.
            lambda a, p: a
            + (
                F.call_function("shiftright", h, p).bitwiseAND(F.lit(1)) * 2
                - 1
            ).cast("int"),
        ),
    )
    return F.aggregate(
        F.zip_with(
            votes,
            positions,
            lambda v, p: F.call_function(
                "shiftleft",
                F.when(v > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
                p,
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )
