"""Hashing / fingerprinting expressions for dedup and similarity.

All JVM-side (md5 / xxhash64 / higher-order functions) — the hot dedup
path never leaves codegen. md5-derived 64-bit integers are used where
the DuckDB oracle must reproduce the value exactly (both engines
implement standard md5); xxhash64 is used where only self-consistency
matters (MinHash permutations), being ~5x faster.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def md5_fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 hex of the raw text.
    Portable across engines (DuckDB md5() produces identical output)."""
    return F.md5(_col(col))


def hex64(col: Column | str) -> Column:
    """First 15 hex chars of md5 as a non-negative 60-bit BIGINT.
    Portable: DuckDB ``CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)``
    yields the identical value."""
    return F.conv(F.substring(F.md5(_col(col)), 1, 15), 16, 10).cast("long")


def normalized_tokens(col: Column | str) -> Column:
    """Lowercased word tokens with punctuation stripped; the shared
    tokenizer for shingling / SimHash / language-ID.

    Spelled as ONE regex pass (r11, guide §1.2 per-task work): split
    directly on runs of non-alphanumerics. The previous
    ``regexp_replace(lower, "[^a-z0-9\\s]", " ")`` → ``trim`` →
    ``split("\\s+")`` chain materialized a full cleaned copy of every
    document and ran two regex scans. Token-stream equivalence is by
    construction: under the old spelling every non-[a-z0-9] character
    is whitespace at split time (either it was \\s and kept, or it was
    replaced by ' '), so tokens are exactly the maximal [a-z0-9] runs
    — which is literally what splitting on "[^a-z0-9]+" yields. Both
    spellings emit '' only at the boundaries (trim handled the left
    edge before; Java split keeps trailing empties either way), and
    the shared array_remove(..., '') cleans them. Pinned by the
    old-vs-new property test in tests/test_properties.py."""
    c = _col(col)
    return F.array_remove(F.split(F.lower(c), "[^a-z0-9]+"), "")


def shingles_of_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a token-array column.

    For each start index i: ``concat_ws(' ', tokens[i..i+k-1])``.
    IMPORTANT: pass a *materialized* token column (project
    ``normalized_tokens`` into its own select first). If the tokenizer
    expression is inlined here, the lambda re-evaluates it per shingle
    — measured 6x slower on real documents.
    """
    n = F.size(toks)
    # degenerate guard: for n < k, sequence(1, n-k+1) would DESCEND
    # (Spark sequence counts down to a smaller bound, e.g. [1, 0]) and
    # slice(toks, 0, k) then raises INVALID_PARAMETER_VALUE — so a
    # single short/empty document would crash the whole stage. Emit an
    # empty shingle set instead, matching the DuckDB oracle's
    # range(1, greatest(n-k+1,0)+1) which is empty for n < k. CaseWhen
    # branches evaluate lazily per-row, so the sequence never runs for
    # short docs.
    starts = F.sequence(F.lit(1), n - (k - 1))
    full = F.array_distinct(
        F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )
    return F.when(n >= F.lit(k), full).otherwise(F.array().cast("array<string>"))


def shingle_hashes_of_tokens(toks: Column, k: int = 3) -> Column:
    """Distinct 64-bit k-shingle HASHES of a token-array column —
    the join-key form of :func:`shingles_of_tokens` for consumers
    that never read the shingle STRING (the inverted-index self-join
    queries, which previously built every shingle string only to
    ``xxhash64`` it at the next projection).

    ``xxhash64(t_i, t_{i+1}, t_{i+2})`` hash-combines the k tokens
    directly (no slice allocation, no string concat, and the distinct
    dedups 8-byte longs instead of strings) — r12 micro-bench: the
    exploded-index build is ~10-15% cheaper at sf0.1. Collision
    class is the same as hashing the joined string (~1e-9 at 1e6
    shingles, the documented ngram_jaccard_pairs trade): tokens are
    [a-z0-9]+ so the space-joined string is injective on the triple,
    and at sf0.1 both domains produce the identical 27213-shingle df
    multiset (plans/r12/ab_shingle_hash_kernel.json)."""
    n = F.size(toks)
    starts = F.sequence(F.lit(1), n - (k - 1))
    full = F.array_distinct(
        F.transform(
            starts,
            lambda i: F.xxhash64(
                *[F.element_at(toks, i + F.lit(j)) for j in range(k)]
            ),
        )
    )
    return F.when(n >= F.lit(k), full).otherwise(
        F.array().cast("array<long>")
    )


def shingles(col: Column | str, k: int = 3) -> Column:
    """One-shot shingling of a raw text column. Prefer the two-step
    ``normalized_tokens`` → :func:`shingles_of_tokens` form in plans
    (see operators/dedup.py) for the evaluation-cost reason above."""
    return shingles_of_tokens(normalized_tokens(col), k)


def minhash_signature(
    shingle_arr: Column,
    num_hashes: int = 64,
    seed: int = 42,
) -> Column:
    """MinHash signature (array<bigint>, length ``num_hashes``) over a
    shingle array.

    Permutation family: ``h_i(s) = xxhash64(s, seed+i)`` (the i-th
    "permutation" hashes the shingle together with its function index —
    independent functions with no (a*x+b) mod-p arithmetic).

    Single-pass formulation: one ``aggregate`` over the shingles with a
    64-wide accumulator (``zip_with(acc, hashes(s), least)``) — one
    traversal of the array instead of num_hashes traversals, which
    benchmarked ~10x faster than the per-function ``array_min`` form.
    """
    max_long = (1 << 63) - 1
    init = F.array_repeat(F.lit(max_long), num_hashes)
    idx = F.sequence(F.lit(seed), F.lit(seed + num_hashes - 1))

    def merge(acc: Column, s: Column) -> Column:
        hashes = F.transform(idx, lambda i: F.xxhash64(s, i))
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    return F.aggregate(shingle_arr, init, merge)


def simhash64(col: Column | str) -> Column:
    """64-bit SimHash of a text column, JVM-side.

    Each distinct token hashes to 64 bits (xxhash64); for each bit
    position the +1/-1 votes over tokens are summed; the sign forms the
    output bit. Implemented as 64 aggregate expressions over the token
    array — no UDF. Hamming distance between simhashes approximates
    cosine similarity of the token multisets.
    """
    toks = F.array_distinct(normalized_tokens(col))
    h = F.transform(toks, lambda t: F.xxhash64(t))
    n = F.size(h)

    # single pass: 63-wide vote accumulator (votes[b] = #tokens with
    # bit b set); output bit b = (2*votes[b] > n). Sign bit kept clear.
    powers = F.array(*[F.lit(1 << b).cast("long") for b in range(63)])
    init = F.array_repeat(F.lit(0).cast("long"), 63)

    def merge(acc: Column, v: Column) -> Column:
        return F.zip_with(
            acc,
            F.transform(powers, lambda p: (v.bitwiseAND(p) != 0).cast("long")),
            lambda a, bit: a + bit,
        )

    votes = F.aggregate(h, init, merge)
    weighted = F.zip_with(
        votes,
        powers,
        lambda cnt, p: F.when(cnt * 2 > n, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(weighted, F.lit(0).cast("long"), lambda acc, v: acc + v)


def cosine_similarity(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity of two array<float|double> columns, computed in
    double with sequential aggregation (matches DuckDB
    list_cosine_similarity on double lists bit-for-bit in practice).
    JVM-side higher-order functions — no UDF in the hot path."""
    ca, cb = _col(a).cast("array<double>"), _col(b).cast("array<double>")
    dot = F.aggregate(
        F.zip_with(ca, cb, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(F.aggregate(ca, F.lit(0.0), lambda acc, v: acc + v * v))
    nb = F.sqrt(F.aggregate(cb, F.lit(0.0), lambda acc, v: acc + v * v))
    return dot / (na * nb)


def jaccard(a: Column, b: Column) -> Column:
    """Jaccard similarity of two string arrays (treated as sets)."""
    inter = F.size(F.array_intersect(a, b))
    return inter / (F.size(F.array_distinct(a)) + F.size(F.array_distinct(b)) - inter)


def dot_product_batch():
    """Arrow-batched dot product of two array<double> columns (numpy
    einsum per batch). The re-rank hot path for candidate pairs: one
    vectorized multiply-add sweep instead of an interpreted
    zip_with/aggregate chain per row (~10x on 64-dim vectors)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def dot(a: pd.Series, b: pd.Series) -> pd.Series:
        A = np.asarray(a.tolist(), dtype=np.float64)
        B = np.asarray(b.tolist(), dtype=np.float64)
        if A.size == 0:
            return pd.Series([], dtype=np.float64)
        return pd.Series(np.einsum("ij,ij->i", A, B))

    return dot


def _blake64(data: bytes) -> int:
    """Stable 64-bit hash of bytes (blake2b/8): deterministic across
    processes and runs, unlike Python's salted hash()."""
    import hashlib

    return int.from_bytes(hashlib.blake2b(data, digest_size=8).digest(), "little")


def _md5_64(data: bytes) -> int:
    """Upper 64 bits of md5 as a big-endian int — the ENGINE-PORTABLE
    64-bit hash: DuckDB recomputes it as the first 16 chars of md5()'s
    hex string (== the first 8 digest bytes big-endian, the cheaper
    form used here), so kernels built on it (simhash) stay
    oracle-checkable where blake2b/xxhash64 families cannot be."""
    import hashlib

    return int.from_bytes(hashlib.md5(data).digest()[:8], "big")


def _splitmix64(z: "np.ndarray") -> "np.ndarray":
    """Vectorized splitmix64 finalizer over uint64 (wrap-around mults)."""
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def _batch_min_sigs(
    sh: "pd.Series", seeds: "np.ndarray", empty_sig: "np.ndarray"
) -> "np.ndarray":
    """MinHash signature matrix (n_docs x num_hashes, uint64) for a
    whole Arrow batch of shingle arrays.

    Bit-identical to the per-document formulation (r11 rewrite, guide
    §4.2): _blake64 is pure, so hashing each DISTINCT shingle string
    once per batch (pd.factorize) and gathering per occurrence yields
    the identical ``base`` array per document; min() is
    order-independent. The python-level blake2b loop — the dominant
    kernel cost on any corpus with cross-document repetition — now
    runs once per distinct string instead of once per occurrence.
    Empty-shingle rows get ``empty_sig``."""
    n_out = len(sh)
    lens = np.zeros(n_out, dtype=np.int64)
    flat: list = []
    for j, arr in enumerate(sh):
        if arr is not None and len(arr):
            lens[j] = len(arr)
            flat.extend(arr)
    sigs = np.empty((n_out, len(seeds)), dtype=np.uint64)
    if not flat:
        sigs[:] = empty_sig
        return sigs
    codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
    uh = np.array(
        [_blake64(s.encode("utf-8")) for s in uniques], dtype=np.uint64
    )
    # r12 measured-and-REJECTED: permuting each DISTINCT hash once
    # ((distinct x H) splitmix matrix + per-doc gather +
    # np.minimum.reduceat segment-min) is bit-identical but NOT
    # faster — within one task's Arrow batch the shingle duplication
    # rate is low (the ~30x rate is corpus-wide, not per-batch), so
    # the distinct-side saving is small while the H[codes] gather adds
    # a full occurrence-sized memory copy (A/B: executor 15.5 s -> 16.6,
    # wall 1.12-1.13 -> 1.16-1.19 warm). The per-document transient
    # (n x H) permute below stays cache-resident and wins.
    hflat = uh[codes]
    pos = 0
    for j in range(n_out):
        n = lens[j]
        if n == 0:
            sigs[j] = empty_sig
            continue
        base = hflat[pos : pos + n]
        pos += n
        sigs[j] = _splitmix64(base[:, None] ^ seeds[None, :]).min(axis=0)
    return sigs


def minhash_band_buckets_batch(
    num_hashes: int, bands: int, seed: int = 42
):
    """Arrow-batched MinHash + LSH banding fused in one kernel:
    array<string> shingles -> array<long> of ``bands`` band-bucket ids.

    Folding the banding into the kernel replaces ``bands`` interpreted
    slice/cast/concat/xxhash expression chains over the signature array
    (measured ~1s at 69 bands x 5k docs) with one vectorized fold, and
    shrinks the exploded frame's source row from ``num_hashes`` to
    ``bands`` longs. Buckets combine each band's ``rows`` signature
    values with a splitmix64 fold — deterministic across
    runs/executors; join on (band_index, bucket) via posexplode."""
    from pyspark.sql.functions import pandas_udf

    rows = num_hashes // bands
    # rows == 0 would fold every document to identical all-zero buckets
    # (the LSH join degenerates to a full quadratic all-pairs product,
    # silently); a non-dividing bands count would silently discard the
    # remainder hashes — both are caller bugs, fail fast.
    if rows == 0 or num_hashes % bands != 0:
        raise ValueError(
            f"bands ({bands}) must evenly divide num_hashes ({num_hashes})"
        )
    rng = random.Random(seed)
    seeds = np.array(
        [rng.randrange(0, 1 << 64) for _ in range(num_hashes)], dtype=np.uint64
    )
    empty_sig = np.full(num_hashes, 1 << 62, dtype=np.uint64)

    @pandas_udf("array<long>")
    def buckets(sh: pd.Series) -> pd.Series:
        # r11 (guide §4.2): the per-OCCURRENCE python blake2b loop was
        # the kernel's whole cost (stage_profile: 11.4 s executor run
        # vs 1.7 s JVM cpu — all Python worker time). _blake64 is a
        # pure function, so hash each DISTINCT shingle in the batch
        # once (pd.factorize, C-speed) and index back: bit-identical
        # signatures, and a near-dup corpus pays ~1/dup-rate of the
        # hash calls. The band fold is likewise lifted batch-wide.
        sigs = _batch_min_sigs(sh, seeds, empty_sig)
        banded = sigs[:, : bands * rows].reshape(len(sigs), bands, rows)
        acc = np.zeros((len(sigs), bands), dtype=np.uint64)
        for r in range(rows):
            acc = _splitmix64(acc ^ banded[:, :, r])
        return pd.Series(list((acc >> np.uint64(1)).astype(np.int64)))

    return buckets


def simhash64_batch():
    """Arrow-batched SimHash: text -> 64-bit signature (sign bit clear).
    Tokenization matches :func:`normalized_tokens` (lowercase, strip
    non-alnum, whitespace split, distinct); per-bit votes over the
    distinct tokens' md5-prefix bits (:func:`_md5_64`), vectorized in
    numpy. The md5 family (late r6, was blake2b) makes the signature
    ORACLE-CHECKABLE: DuckDB reproduces every bit from md5()'s hex
    string, so simhash graduated from rows-only to value-compared
    (the r4 minhash precedent).

    Hot-path twin of the groupBy formulation in operators/dedup.py —
    same semantics, different hash constants; one kernel pass replaces
    a 64-aggregate-wide groupBy whose codegen alone costs seconds."""
    import re

    from pyspark.sql.functions import pandas_udf

    bitpos = np.arange(63, dtype=np.uint64)
    tok_re = re.compile(r"[a-z0-9]+")

    @pandas_udf("long")
    def sim(texts: pd.Series) -> pd.Series:
        # r11 (guide §4.2): md5 each DISTINCT token once per batch
        # instead of once per (doc, token) — _md5_64 is pure and the
        # per-bit vote sum is order-independent, so the signature is
        # bit-identical while the python-level md5 loop shrinks by the
        # cross-document vocabulary overlap factor.
        lens = np.zeros(len(texts), dtype=np.int64)
        flat: list = []
        for i, t in enumerate(texts):
            toks = set(tok_re.findall((t or "").lower()))
            lens[i] = len(toks)
            flat.extend(toks)
        out = np.zeros(len(texts), dtype=np.int64)
        if not flat:
            return pd.Series(out)
        codes, uniques = pd.factorize(np.asarray(flat, dtype=object))
        uh = np.array(
            [_md5_64(tk.encode("utf-8")) for tk in uniques], dtype=np.uint64
        )
        hflat = uh[codes]
        pos = 0
        for i in range(len(texts)):
            n = lens[i]
            if n == 0:
                continue
            base = hflat[pos : pos + n]
            pos += n
            bits = (base[:, None] >> bitpos[None, :]) & np.uint64(1)  # n x 63
            votes = bits.sum(axis=0)
            simbits = (votes * 2 > n).astype(np.uint64)
            out[i] = int((simbits << bitpos).sum())
        return pd.Series(out)

    return sim


CDC_BASE = 31
CDC_PRIME = 1_000_000_007


def cdc_spans_batch(window: int = 16, divisor: int = 64):
    """Arrow-batched content-defined chunking: text -> array of
    (start, length) chunk spans. A boundary is cut after position i
    (1-based, i >= window) when the Karp-Rabin hash of the trailing
    ``window`` characters is divisible by ``divisor`` — so expected
    chunk length ~= divisor characters, and (the CDC property) chunk
    boundaries depend only on LOCAL content: an insertion early in a
    document shifts bytes but re-synchronizes the remaining
    boundaries, which fixed-size chunking never does. Same polynomial
    family as the doc_fingerprint rolling hash (fp = acc*31 + code
    mod 1e9+7).

    Linear per document (one rolling update per character) — the
    scale path; the DuckDB oracle twin recomputes each window hash
    from prefix hashes by the closed form
    wh(i) = (H(i) - H(i-w)*31^w) mod p, O(n^2) but engine-exact
    (integer mod arithmetic both sides)."""
    from pyspark.sql.functions import pandas_udf

    pow_w = pow(CDC_BASE, window, CDC_PRIME)

    @pandas_udf("array<struct<start:int,length:int>>")
    def spans(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            t = t or ""
            n = len(t)
            cuts = []
            h = 0
            for i in range(n):
                h = (h * CDC_BASE + ord(t[i])) % CDC_PRIME
                if i >= window:
                    h = (h - ord(t[i - window]) * pow_w) % CDC_PRIME
                if i + 1 >= window and h % divisor == 0:
                    cuts.append(i + 1)
            starts = [0] + cuts
            ends = cuts + [n]
            out.append(
                [
                    {"start": s, "length": e - s}
                    for s, e in zip(starts, ends)
                    if e > s
                ]
            )
        return pd.Series(out)

    return spans


# Rolling token-window hashing (the ExactSubstr stride-1 pass).
# Base must be ODD so it is invertible mod 2^64 (the prefix-sum
# normalization below multiplies by powers of its inverse).
ROLL_BASE = 0x9E3779B97F4A7C15
ROLL_BASE_INV = pow(ROLL_BASE, -1, 1 << 64)


def rolling_window_hashes_batch(window: int):
    """Arrow-batched stride-1 window hashes over PRE-HASHED token
    streams: an ``array<bigint>`` of per-token xxhash64 values in, an
    ``array<bigint>`` of ``n - window + 1`` window hashes out — O(n)
    per document instead of the O(n*window) bytes a per-window
    ``concat_ws(slice(...))`` string materialization pushes through
    the tokenizer (the cdc_spans_batch Karp-Rabin discipline, lifted
    from characters to token hashes).

    Mechanics (all vectorized numpy, wraparound mod 2^64): with
    per-token hashes t_j and prefix sums P_k = sum_{j<k} t_j * B^-j,
    the hash of the window starting at i is
    ``(P[i+W] - P[i]) * B^i == sum_{d<W} t_{i+d} * B^-d`` — a pure
    function of the token-hash subsequence, so two windows collide
    exactly when their token sequences match (up to 64-bit hash
    collisions, the same residual the previous per-window xxhash64
    carried). Token hashing itself stays JVM-side
    (``transform(toks, t -> xxhash64(t))``), so the kernel moves
    8 bytes per token over Arrow, never strings, and Python sees only
    int64 ndarrays.

    Position sensitivity: B^-d weights by IN-WINDOW offset d, so equal
    token multisets in different orders hash differently, and the
    normalization by B^i makes the value independent of the window's
    absolute position — required for cross-document matching."""
    from pyspark.sql.functions import pandas_udf

    B = np.uint64(ROLL_BASE)
    Binv = np.uint64(ROLL_BASE_INV)

    @pandas_udf("array<bigint>")
    def roll(hs: pd.Series) -> pd.Series:
        lens = [0 if a is None else len(a) for a in hs]
        maxlen = max(lens, default=0)
        # shared power tables per Arrow batch: B^i and B^-i, i<=maxlen
        powB = np.ones(maxlen + 1, dtype=np.uint64)
        powBinv = np.ones(maxlen + 1, dtype=np.uint64)
        if maxlen:
            np.multiply.accumulate(
                np.full(maxlen, B, dtype=np.uint64), out=powB[1:]
            )
            np.multiply.accumulate(
                np.full(maxlen, Binv, dtype=np.uint64), out=powBinv[1:]
            )
        out = []
        with np.errstate(over="ignore"):
            for arr, n in zip(hs, lens):
                if n < window:
                    out.append(np.empty(0, dtype=np.int64))
                    continue
                t = np.asarray(arr, dtype=np.int64).view(np.uint64)
                P = np.empty(n + 1, dtype=np.uint64)
                P[0] = 0
                np.cumsum(t * powBinv[:n], out=P[1:])
                m = n - window + 1
                h = (P[window:] - P[:m]) * powB[:m]
                out.append(h.view(np.int64))
        return pd.Series(out)

    return roll


def lsh_plane_matrix_q(
    num_tables: int, num_planes: int, dim: int, seed: int = 42
) -> "np.ndarray":
    """ENGINE-PORTABLE sign-LSH hyperplanes: component (t, p, d) is
    the first 16 bits of md5("lsh:{seed}:{t}:{p}:{d}") minus 32768 —
    a deterministic integer in [-32768, 32767] DuckDB recomputes from
    md5()'s hex string (the _md5_64 / simhash family applied to plane
    GENERATION instead of token hashing). Discrete-uniform components
    give the same direction symmetry sign-LSH needs from Gaussian
    planes (random-projection sign tests only need E[sign agreement]
    = 1 - angle/pi, which holds for any symmetric component law).

    Returns (num_tables, num_planes, dim) integer-valued float64;
    dots with Q6 unit vectors stay below 2^53 (dim·1.1e6·32768 ≈
    2.3e12 at dim 64), so bucket bits are exact in every engine."""
    import hashlib

    W = np.empty((num_tables, num_planes, dim))
    for t in range(num_tables):
        for p in range(num_planes):
            for d in range(dim):
                h = hashlib.md5(
                    f"lsh:{seed}:{t}:{p}:{d}".encode()
                ).hexdigest()
                W[t, p, d] = int(h[:4], 16) - 32768
    return W
