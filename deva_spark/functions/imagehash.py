"""Perceptual image hashing + banded hamming near-dup pairs.

The image analog of the text near-dup tier (simhash/minhash): a
training-image corpus carries the SAME picture re-encoded, recompressed
and re-exposed many times over — exact byte/pixel dedup misses all of
it. Three classic 64-bit perceptual hashes (public algorithms:
aHash/dHash/pHash as popularized by the pHash project and the Python
``imagehash`` library; reimplemented here on the package's own resize
and DCT machinery):

  * ``ahash64`` — mean threshold over an 8x8 resize: crudest, fastest.
  * ``dhash64`` — horizontal gradient signs over a 9x8 resize:
    brightness/contrast-shift invariant by construction (comparisons,
    not levels), the workhorse.
  * ``phash64`` — sign-vs-median of the top-left 8x8 DCT block (DC
    dropped) of a 32x32 resize: robust to recompression blur.

Near-dup pairs come from the pigeonhole-banded Hamming join shared with
the text simhash and video tiers (:mod:`deva_spark.operators.neardup`),
on 4 x 16-bit bands at the default budget of 3 bits. Everything after
the hashing UDF is column algebra.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from deva_spark.functions.multimodal import decode_image, resize_image
from deva_spark.operators.neardup import hamming_candidates

def _dct_basis(n: int) -> np.ndarray:
    k = np.arange(n)[:, None]
    i = np.arange(n)[None, :]
    c = np.sqrt(2.0 / n) * np.cos((2 * i + 1) * k * np.pi / (2 * n))
    c[0] = np.sqrt(1.0 / n)
    return c


_C32 = _dct_basis(32)


def _gray(arr: np.ndarray) -> np.ndarray:
    """float64 (H, W) luminance; accepts uint8 or float [0,1], 2-D or
    (H, W, C>=3) — alpha channels are ignored, gray+alpha keeps gray."""
    a = np.asarray(arr, dtype=np.float64)
    if a.ndim == 3 and a.shape[2] >= 3:
        a = 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]
    elif a.ndim == 3:
        a = a[:, :, 0]
    return a


def _bits_to_u64(bits: np.ndarray) -> int:
    v = 0
    for b in bits.reshape(-1):
        v = (v << 1) | int(b)
    return v


def _as_i64(v: int) -> int:
    """Two's-complement fold into a signed 64-bit value (LongType)."""
    return v - (1 << 64) if v >= (1 << 63) else v


def ahash64(arr: np.ndarray) -> int:
    """Average hash: 8x8 bilinear resize, bit = pixel > mean."""
    g = resize_image(_gray(arr), (8, 8))
    return _as_i64(_bits_to_u64(g > g.mean()))


def dhash64(arr: np.ndarray) -> int:
    """Difference hash: 8x9 bilinear resize, bit = right > left —
    invariant to global brightness/contrast shifts by construction."""
    g = resize_image(_gray(arr), (8, 9))
    return _as_i64(_bits_to_u64(g[:, 1:] > g[:, :-1]))


def phash64(arr: np.ndarray) -> int:
    """DCT hash: 32x32 bilinear resize, 2-D DCT-II, bit = coefficient >
    median over the top-left 8x8 block minus DC (63 bits + a 0 pad)."""
    g = resize_image(_gray(arr), (32, 32))
    d = _C32 @ g @ _C32.T
    block = d[:8, :8].reshape(-1)[1:]  # drop DC: brightness immunity
    return _as_i64(_bits_to_u64(block > np.median(block)))


_HASH_FNS: dict[str, Callable[[np.ndarray], int]] = {
    "ahash": ahash64,
    "dhash": dhash64,
    "phash": phash64,
}


def image_hashes(
    df: DataFrame,
    id_col: str = "media_id",
    content_col: str = "content",
    decoder: Callable[[bytes], np.ndarray] = decode_image,
    hashes: tuple[str, ...] = ("ahash", "dhash", "phash"),
) -> DataFrame:
    """One Arrow-batched pass: decode each payload, emit the requested
    64-bit hashes as LongType — ``(id, <hashes...>)``. ``hashes``
    defaults to all three; a consumer that only joins on one (every
    registry dedup tier uses dhash alone) should pass that one —
    phash's 32x32 resize + DCT is ~2/3 of the per-image hashing cost,
    and an opaque Python stage computes whatever it is told to, so
    column pruning can never remove an unused hash after the fact
    (optimization guide §4: pass only the work the function needs)."""
    unknown = [h for h in hashes if h not in _HASH_FNS]
    if unknown or not hashes:
        raise ValueError(
            f"hashes must be a non-empty subset of {sorted(_HASH_FNS)}: "
            f"{hashes!r}"
        )
    fns = [_HASH_FNS[h] for h in hashes]
    out_schema = f"{id_col} long, " + ", ".join(f"{h} long" for h in hashes)
    cols = [id_col, *hashes]

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for mid, content in zip(pdf[id_col], pdf[content_col]):
                img = decoder(bytes(content))
                rows.append((int(mid), *[fn(img) for fn in fns]))
            yield pd.DataFrame(rows, columns=cols)

    return df.mapInPandas(run, schema=out_schema)


def check_max_distance(max_distance: int) -> None:
    """The image and video tiers' Hamming budget: 0..3 bits, so the
    bands stay 16 bits or wider."""
    if not 0 <= max_distance <= 3:
        raise ValueError(
            "max_distance must be 0..3 (16-bit bands stop pruning past "
            f"that), got {max_distance}"
        )


def _pairs(
    a: DataFrame,
    b: DataFrame | None,
    hash_col: str,
    id_col: str,
    max_distance: int,
) -> DataFrame:
    """Banded candidates deduped to one ``(id_a, id_b, distance)`` row
    per pair. ``groupBy.agg(min)`` rather than ``dropDuplicates``: the
    one exchange carries only the pair and its distance, never the two
    hashes, and ``min`` is exact since every band copy of a pair
    carries the same distance."""
    return (
        hamming_candidates(
            a, b, id_col=id_col, hash_col=hash_col, bits=64,
            max_distance=max_distance,
        )
        .groupBy("id_a", "id_b")
        .agg(F.min("distance").alias("distance"))
    )


def hamming_neardup_join(
    left: DataFrame,
    right: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    max_distance: int = 3,
) -> DataFrame:
    """Cross-table variant of :func:`hamming_neardup_pairs` — every
    (left id, right id) pair within ``max_distance`` bits, as
    ``(id_a, id_b, distance)`` with id_a from ``left``. The
    INCREMENTAL dedup shape: ``left`` is the staged corpus hash table,
    ``right`` is today's batch — the banded join probes only
    batch-vs-corpus (never corpus-vs-corpus again), so the daily cost
    scales with the batch, the same discipline as the incremental
    text tiers (x77/x82/x88). Equal ids never pair: an image present
    in both tables is already known, not its own duplicate."""
    check_max_distance(max_distance)
    return _pairs(left, right, hash_col, id_col, max_distance)


def hamming_neardup_pairs(
    hashes: DataFrame,
    hash_col: str = "dhash",
    id_col: str = "media_id",
    max_distance: int = 3,
) -> DataFrame:
    """All id pairs whose 64-bit ``hash_col`` values differ by at most
    ``max_distance`` bits — ``(id_a, id_b, distance)`` with
    ``id_a < id_b``, from the banded self-join of
    :func:`deva_spark.operators.neardup.hamming_candidates`.
    ``max_distance`` is capped at 3 (4 x 16-bit bands): beyond that
    the bands stop pruning and the join degenerates toward the cross
    product."""
    check_max_distance(max_distance)
    # Materialize the hash synopsis BEFORE the banded self-join (guide
    # §2.4/§5): both join branches hang off the same opaque Arrow stage
    # (decode + hash — for the registry tiers, image SYNTHESIS too), and
    # Spark cannot share an unmaterialized Python stage across branches
    # (no common-subtree reuse without an identical Exchange), so an
    # unpersisted lineage runs the decode+hash pass once PER BRANCH —
    # measured 2x the whole tier at bench scale (plans/r14/x115: 4
    # MapInPandas + 2 scans -> 2 + 1). The synopsis is (id, hash) rows —
    # KBs per million images. An eager local checkpoint, not persist():
    # a persisted plan stays in the session's CacheManager, so the next
    # caller over the same plan would read this run's hashes back. The
    # checkpoint's blocks belong to this result alone and the
    # ContextCleaner frees them once the result is dropped.
    hashes = hashes.localCheckpoint(eager=True)
    return _pairs(hashes, None, hash_col, id_col, max_distance)
