"""Pair forming for the near-duplicate tiers: banded Hamming candidates
and in-array ordered pairs.

Reference surface: ``SimhashIndex`` (`deva/utils/simhash.py:247-341`):
split a fingerprint into k+1 chunks — two fingerprints within Hamming
distance k must share at least one chunk (pigeonhole) — then verify
each candidate by its exact distance. The text simhash tier (48-bit
fingerprints), the image tier (64-bit perceptual hashes) and the video
tier (64-bit per-frame hashes) all run that one algorithm here:

  * :func:`band` explodes each row into one ``(ci, cv)`` row per chunk —
    the stageable, appendable chunk index;
  * :func:`hamming_candidates` is the equality join on ``(ci, cv)``
    with the exact ``bit_count(a XOR b)`` verify applied before any
    exchange, so a failing candidate never shuffles.

The grouped-index tiers (audio peaks, substring windows, source
shingles) collect sorted id arrays per key instead of joining, and
:func:`ordered_pairs` explodes each array into its ordered pairs.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def check_banding(bits: int, n_bands: int, max_distance: int) -> None:
    """Pigeonhole precondition of a banded Hamming join: a budget of
    ``max_distance`` bits needs more bands than that (so a pair within
    budget leaves one band unchanged), and a band needs at least one
    bit."""
    if not 0 <= max_distance < n_bands <= bits:
        raise ValueError(
            "banding needs 0 <= max_distance < n_bands <= bits, got "
            f"max_distance={max_distance}, n_bands={n_bands}, bits={bits}"
        )


def band(
    df: DataFrame,
    hash_col: str,
    bits: int,
    n_bands: int,
    carry: Sequence[str] = (),
) -> DataFrame:
    """``(*carry, hash_col, ci, cv)``: one row per band of the low
    ``bits`` bits of ``hash_col``. The bands are contiguous, nearly even
    spans from bit 0 up; the first ``bits % n_bands`` spans carry one
    extra bit. ``cv`` is the span's value, read with an unsigned shift
    so a signed 64-bit hash with its top bit set bands like any other."""
    check_banding(bits, n_bands, 0)
    base, rem = divmod(bits, n_bands)
    h = F.col(hash_col)
    chunks, start = [], 0
    for i in range(n_bands):
        width = base + (1 if i < rem else 0)
        mask = (1 << width) - 1 if width < 64 else -1
        chunks.append(F.shiftrightunsigned(h, start).bitwiseAND(F.lit(mask)))
        start += width
    return df.select(
        *carry, h, F.posexplode(F.array(*chunks)).alias("ci", "cv")
    )


def hamming_candidates(
    a: DataFrame,
    b: DataFrame | None = None,
    *,
    id_col: str,
    hash_col: str,
    bits: int,
    max_distance: int,
    n_bands: int | None = None,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Verified banded candidates: ``(id_a, id_b, <c>_a, <c>_b for c in
    carry, distance)`` for every pair sharing a band whose hashes differ
    in at most ``max_distance`` bits. The self form (``b`` omitted)
    keeps ``id_a < id_b``; the cross form keeps ``id_a != id_b`` (an id
    present in both tables is already known, not its own duplicate).

    A pair comes out once per band it shares, all copies carrying the
    same distance; the caller dedups in its own aggregation. Either
    side may already be a :func:`band` output (a staged chunk index) —
    it must carry ``id_col``, ``hash_col`` and ``carry`` and be banded
    at the same ``n_bands`` (default ``max_distance + 1``)."""
    n_bands = max_distance + 1 if n_bands is None else n_bands
    check_banding(bits, n_bands, max_distance)

    def banded(df: DataFrame) -> DataFrame:
        if "ci" in df.columns:
            return df
        return band(df, hash_col, bits, n_bands, [id_col, *carry])

    def side(df: DataFrame, suffix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"id{suffix}"),
            F.col(hash_col).alias(f"_h{suffix}"),
            *[F.col(c).alias(f"{c}{suffix}") for c in carry],
            "ci",
            "cv",
        )

    ba = banded(a)
    if b is None:
        ids = F.col("id_a") < F.col("id_b")
        bb = ba
    else:
        ids = F.col("id_a") != F.col("id_b")
        bb = banded(b)
    distance = F.bit_count(F.col("_h_a").bitwiseXOR(F.col("_h_b")))
    return (
        side(ba, "_a")
        .join(side(bb, "_b"), ["ci", "cv"])
        .filter(ids & (distance <= max_distance))
        .select(
            "id_a",
            "id_b",
            *[f"{c}{s}" for c in carry for s in ("_a", "_b")],
            distance.alias("distance"),
        )
    )


def ordered_pairs(arr: Column, pair: Callable[[Column, Column], Column]) -> Column:
    """``[pair(arr[i], arr[j]) for i < j]`` as one flat array — on a
    sorted id array, every pair with ``a < b`` exactly once, formed
    in-array with no join. Each tail slice runs to ``size(arr)``: a
    literal length would silently drop pairs from long arrays."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.size(arr)), lambda y: pair(x, y)
            ),
        )
    )
