"""Bloom-filter membership sketches — the sublinear-memory prefilter.

At 100 TB an exact membership table stops fitting anywhere.  Spark's
automatic runtime bloom join
(`spark.sql.optimizer.runtime.bloomFilter.enabled`) covers the
within-query case; this module adds the *explicit, reusable* filter —
build once from a (possibly large) key set, persist the bits, and
prefilter any number of later scans (e.g. decontamination against a
fixed benchmark set).  PySpark 4.1 exposes no public bloom expression,
so: two `xxhash64` seeds are computed JVM-side per key and expanded
into the k probe positions by Kirsch-Mitzenmacher double hashing
(position_i = (h1 + i*h2) mod num_bits — the standard Bloom
construction); small filters are probed entirely in whole-stage
codegen, large ones test bits in an Arrow-batched pandas UDF against a
broadcast numpy bit array — no per-row Python hashing.

FORMAT (r10): persisted blobs are versioned — byte 0 is a scheme tag
(currently 2 = the double-hashing scheme above), the rest the
little-endian packed bit array.  ``bloom_might_contain`` REFUSES blobs
without a matching tag: r9 changed the hashing scheme (k independent
seeds → double hashing), and probing bits persisted under the old
scheme would silently produce false negatives — rebuild any filter
persisted before the tag existed.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bloom_build", "bloom_build_auto", "bloom_might_contain",
    "bloom_params",
]


def bloom_params(expected_items: int, fpp: float = 0.01) -> tuple[int, int]:
    """Optimal (num_bits, num_hashes) for a target false-positive rate."""
    if expected_items <= 0:
        raise ValueError("expected_items must be positive")
    if not 0.0 < fpp < 1.0:
        raise ValueError("fpp must be in (0, 1)")
    num_bits = int(math.ceil(-expected_items * math.log(fpp)
                             / (math.log(2) ** 2)))
    num_hashes = max(1, int(round(num_bits / expected_items * math.log(2))))
    return max(64, num_bits), num_hashes


# Packed-blob format (r10): byte 0 is a scheme tag, bytes 1.. the
# little-endian packed bit array.  The tag exists because the bytes are
# documented as persistable across sessions and the hashing scheme
# changed once already (r9: k independent xxhash64 seeds →
# Kirsch-Mitzenmacher double hashing over seeds 0/1) — a filter built
# under one scheme probed under another silently produces FALSE
# NEGATIVES, breaking the no-false-negative guarantee the anti-join /
# decontamination callers rely on.  ``bloom_might_contain`` refuses
# untagged or foreign-scheme blobs loudly instead.
_SCHEME_KM2 = 2  # xxhash64 seeds 0/1, position_i = (h1 + i*h2) mod bits


def _pairs_df(df: DataFrame, key_col: str) -> DataFrame:
    """The distinct keys' (h1, h2) xxhash64 pair — the k probe
    positions derive from the pair by Kirsch-Mitzenmacher double
    hashing (position_i = (h1 + i·h2) mod num_bits), so the filter can
    be sized AND built from a single collect (r9: the former build
    needed a separate ``count()`` job to size the filter before a
    second job could hash, and collected ~k rows per key instead of
    one pair)."""
    return (df.select(F.xxhash64(F.col(key_col), F.lit(0)).alias("h1"),
                      F.xxhash64(F.col(key_col), F.lit(1)).alias("h2"))
            .distinct())


def _hash_pairs(df: DataFrame, key_col: str):
    """ONE distributed job → distinct (h1, h2) pairs as two int64
    numpy arrays (see :func:`_pairs_df`)."""
    rows = _pairs_df(df, key_col).collect()
    h1 = np.array([r["h1"] for r in rows], dtype=np.int64)
    h2 = np.array([r["h2"] for r in rows], dtype=np.int64)
    return h1, h2


def _pack_bits(h1, h2, num_bits: int, num_hashes: int) -> bytes:
    bits = np.zeros(num_bits, dtype=np.uint8)
    if h1.size:
        a = h1 % num_bits  # numpy % has the divisor's sign == pmod
        b = h2 % num_bits
        for i in range(num_hashes):
            bits[(a + i * b) % num_bits] = 1
    return bytes([_SCHEME_KM2]) + \
        np.packbits(bits, bitorder="little").tobytes()


def _unpack_payload(bloom_bits: bytes, num_bits: int) -> bytes:
    """Validate the scheme tag and length; return the packed bit payload.

    Raises on untagged or foreign-scheme blobs: probing bits built
    under a different hashing scheme yields silent FALSE NEGATIVES —
    the one failure mode a Bloom prefilter must never have.  A tagged
    blob probed with another ``num_bits`` than it was built with is a
    separate error: the blob is fine, the caller's signature is not."""
    if not bloom_bits or bloom_bits[0] != _SCHEME_KM2:
        raise ValueError(
            f"bloom blob is untagged or carries a foreign scheme tag "
            f"(byte 0 is {bloom_bits[:1].hex() or 'missing'}, expected "
            f"{_SCHEME_KM2:02x} = xxhash64 double hashing).  Filters "
            f"persisted by an older scheme must be rebuilt — probing "
            f"them would produce false negatives.")
    payload_len = (num_bits + 7) // 8
    if len(bloom_bits) != payload_len + 1:
        raise ValueError(
            f"bloom blob length does not match num_bits={num_bits}: got "
            f"{len(bloom_bits)} bytes, expected {payload_len + 1}.  Probe "
            f"with the num_bits the filter was built with.")
    return bloom_bits[1:]


def bloom_build(df: DataFrame, key_col: str, num_bits: int,
                num_hashes: int) -> bytes:
    """Build the filter's packed bit array from a key DataFrame.

    Distributed: keys hash and dedup on the cluster; one (h1, h2) pair
    per distinct key comes back to the driver (16 bytes/key — less
    than the ~1.2 bytes-per-key-per-probe of the former per-position
    collect), positions expand vectorized on the driver.

    Driver-memory bound (r10): the pair collect is bounded by the
    DISTINCT KEY COUNT, which an explicit small ``num_bits`` over a
    huge key set does not cap — so the collect is probed with a
    ``limit(cap + 1)`` first, and past that the build falls back to
    collecting the distinct PROBE POSITIONS instead (≤ ``num_bits``
    rows by construction, the old per-position bound).  Identical
    bits either way.  ``cap`` is ``num_bits`` clamped to what Spark's
    ``limit`` (a Java int) accepts; a probe that hits the clamp takes
    the position path, never a build from a truncated key set."""
    pairs = _pairs_df(df, key_col)
    cap = min(num_bits, 2**31 - 2)
    rows = pairs.limit(cap + 1).collect()
    if len(rows) <= cap:
        h1 = np.array([r["h1"] for r in rows], dtype=np.int64)
        h2 = np.array([r["h2"] for r in rows], dtype=np.int64)
        return _pack_bits(h1, h2, num_bits, num_hashes)
    # more distinct keys than bits: the filter is saturated anyway;
    # collect the ≤ num_bits distinct positions, never the key set.
    # Expression mirrors _pack_bits exactly: reduce h1/h2 mod num_bits
    # BEFORE the linear combination (same values, and i*h2 cannot
    # overflow under ANSI).
    nb = F.lit(num_bits).cast("long")
    a = F.pmod(F.col("h1"), nb)
    b = F.pmod(F.col("h2"), nb)
    pos = pairs.select(F.explode(F.array(
        *[F.pmod(a + F.lit(i).cast("long") * b, nb)
          for i in range(num_hashes)])).alias("p")).distinct().collect()
    bits = np.zeros(num_bits, dtype=np.uint8)
    bits[np.array([r["p"] for r in pos], dtype=np.int64)] = 1
    return bytes([_SCHEME_KM2]) + \
        np.packbits(bits, bitorder="little").tobytes()


def bloom_build_auto(df: DataFrame, key_col: str,
                     fpp: float = 0.01) -> tuple[bytes, int, int]:
    """Size AND build the filter in ONE distributed job → (bits,
    num_bits, num_hashes).  The distinct (h1, h2) collect doubles as
    the exact key count, so the separate ``df.count()`` sizing job the
    explicit-signature path needs disappears (r9 — at sf0.1 that was
    half the Bloom construction wall time; at scale it was a second
    full scan of the dim side).  The collect is proportional to the
    distinct key count — exactly like the filter being sized."""
    h1, h2 = _hash_pairs(df, key_col)
    num_bits, num_hashes = bloom_params(max(h1.size, 1), fpp)
    return _pack_bits(h1, h2, num_bits, num_hashes), num_bits, num_hashes


# filters at or below this size are embedded in the plan as a packed
# long-array literal and probed with pure codegen bit arithmetic —
# no Python boundary at all.  2^20 bits = 16 Ki longs (~128 KiB in the
# plan, milliseconds to ship); beyond that the literal's plan/py4j cost
# outgrows the Arrow-probe cost and the broadcast+pandas path takes
# over.
_JVM_PROBE_MAX_BITS = 1 << 20


def bloom_might_contain(df: DataFrame, key_col: str, bloom_bits: bytes,
                        num_bits: int, num_hashes: int,
                        out_col: str = "might_contain") -> DataFrame:
    """Append a boolean column: key possibly in the built filter.

    No false negatives; false-positive rate per :func:`bloom_params`.
    Hashing stays JVM-side (`xxhash64` per seed, whole-stage codegen).
    Small filters (≤ ``_JVM_PROBE_MAX_BITS``) are probed entirely in
    codegen — the packed bit words ride in the plan as an array<long>
    literal and each probe is an element_at + shift + mask (r9: removes
    the ArrowEvalPython node and its JVM↔Python transfer; measured
    0.75 s → 0.28 s for a 150k-row probe at local[32]).  Large filters
    keep the broadcast-numpy pandas UDF, whose cost is one vectorized
    fancy-index per Arrow batch.
    """
    payload = _unpack_payload(bloom_bits, num_bits)
    if num_bits <= _JVM_PROBE_MAX_BITS:
        pad = (8 - len(payload) % 8) % 8
        words = np.frombuffer(payload + b"\0" * pad,
                              dtype="<u8").view(np.int64)
        # ONE SQL-text expression (a single py4j call — the former
        # per-probe Column chain cost ~0.3 s of driver construction per
        # filter at k=7).  The expression stays FLAT so it keeps
        # whole-stage codegen (a `transform` let-binding would be
        # CodegenFallback); the h1/h2 hashes repeat textually per probe
        # and codegen subexpression elimination evaluates them once.
        # h1/h2 are reduced mod num_bits first, so h1 + i*h2 never
        # overflows under ANSI; the array literal constant-folds once.
        words_sql = "array(" + ",".join(f"{int(w)}L" for w in words) + ")"
        h1 = f"pmod(xxhash64(`{key_col}`, 0), {num_bits}L)"
        h2 = f"pmod(xxhash64(`{key_col}`, 1), {num_bits}L)"
        tests = " AND ".join(
            f"((shiftright(element_at({words_sql}, "
            f"cast((pmod({h1} + {i}L * {h2}, {num_bits}L)) div 64 as int)"
            f" + 1), "
            f"cast(pmod(pmod({h1} + {i}L * {h2}, {num_bits}L), 64) as int))"
            f" & 1L) = 1L)"
            for i in range(num_hashes))
        return df.withColumn(out_col, F.expr(f"({tests})"))

    sc = df.sparkSession.sparkContext
    bits_bc = sc.broadcast(
        np.unpackbits(np.frombuffer(payload, dtype=np.uint8),
                      bitorder="little")[:num_bits])

    @F.pandas_udf("boolean")
    def _test(h1s: pd.Series, h2s: pd.Series) -> pd.Series:
        bits = bits_bc.value
        if not len(h1s):
            return pd.Series([], dtype="bool")
        a = h1s.to_numpy(dtype=np.int64) % num_bits
        b = h2s.to_numpy(dtype=np.int64) % num_bits
        ok = np.ones(len(a), dtype=bool)
        for i in range(num_hashes):
            ok &= bits[(a + i * b) % num_bits] == 1
        return pd.Series(ok)

    return df.withColumn(
        out_col, _test(F.xxhash64(F.col(key_col), F.lit(0)),
                       F.xxhash64(F.col(key_col), F.lit(1))))
