"""Video temporal near-dup: frame-sampled perceptual hashes + aligned
banded matching.

Completes the media-dedup triad (text: simhash/minhash; image:
:mod:`deva_spark.functions.imagehash` x115; audio:
:mod:`deva_spark.functions.audiofp` x116): a crawled video corpus
carries the same CLIP re-encoded, brightness-shifted and TRIMMED many
times over — invisible to byte dedup AND to single-frame digests
(x108/x112 audit exact per-frame digests; a one-frame trim breaks every
one of them). The public shape is frame-fingerprint matching with
temporal alignment (the video analog of Wang-2003 landmark offsets, as
used by every public near-dup-video system since VisualRank/LSH video
copy detection): hash sampled frames perceptually, match frames across
videos, then require the matches to agree on ONE temporal offset —
re-encodes keep per-frame hashes within a few bits, trims shift all of
them by a constant offset, and unrelated videos can't assemble several
aligned 64-bit coincidences.

Scale shape (identical to the image tier, per frame instead of per
image): hashing is one Arrow pass (decode + dhash per sampled frame, no
shuffle); matching is the banded Hamming join of
:mod:`deva_spark.operators.neardup` on per-frame hashes, then two
aggregations on candidate pair keys (per-offset count, per-pair max). Nothing is
all-pairs; the incremental variant joins batch-vs-staged-corpus only.

Reference parity: the reference has no video operators at all (its
crawler just moves raw media bytes,
/root/reference/deva/core/core.py:1655); this tier is part of the
training-data extension the brief makes first-class.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from deva_spark.functions.imagehash import check_max_distance, dhash64
from deva_spark.functions.multimodal import decode_avi
from deva_spark.operators.neardup import hamming_candidates


def video_frame_hashes(
    df: DataFrame,
    id_col: str = "video_id",
    content_col: str = "content",
    decoder: Callable[[bytes], np.ndarray] = decode_avi,
    sample_every: int = 1,
) -> DataFrame:
    """One Arrow pass: decode each video payload, sample every
    ``sample_every``-th frame, dhash64 each sampled frame — one row per
    sampled frame: ``(id, frame_idx, dhash)``. ``frame_idx`` counts
    SAMPLED frames (0, 1, 2, ...), so temporal offsets downstream are in
    sample units regardless of stride.

    Per-row fault isolation (the audiofp contract): an undecodable
    payload contributes ZERO rows instead of killing the Arrow stage —
    invisible to dedup, auditable by anti-joining ids against the
    source."""
    if sample_every < 1:
        raise ValueError(f"sample_every must be >= 1, got {sample_every}")
    out_schema = f"{id_col} long, frame_idx int, dhash long"

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in pdfs:
            rows = []
            for vid, content in zip(pdf[id_col], pdf[content_col]):
                try:
                    clip = decoder(bytes(content))
                except (ValueError, NotImplementedError):
                    continue  # bad payload: zero rows, job survives
                for j, t in enumerate(
                    range(0, clip.shape[0], sample_every)
                ):
                    rows.append((int(vid), j, dhash64(clip[t])))
            yield pd.DataFrame(
                rows, columns=[id_col, "frame_idx", "dhash"]
            )

    return df.mapInPandas(run, schema=out_schema)


def _validate(max_distance: int, threshold: int, threshold_name: str) -> None:
    check_max_distance(max_distance)
    if threshold < 1:
        raise ValueError(
            f"{threshold_name} must be >= 1, got {threshold}"
        )


def _frame_matches(
    a: DataFrame,
    b: DataFrame | None,
    id_col: str,
    frame_col: str,
    max_distance: int,
) -> DataFrame:
    """Verified frame matches ``(id_a, id_b, _fa, _fb)`` from the banded
    dhash join (self form when ``b`` is None). Band copies of a frame
    pair are still present as identical rows; the aggregations
    downstream dedup them with ``count_distinct`` instead of a separate
    ``dropDuplicates`` exchange."""
    return hamming_candidates(
        a, b, id_col=id_col, hash_col="dhash", bits=64,
        max_distance=max_distance, carry=[frame_col],
    ).select(
        "id_a",
        "id_b",
        F.col(f"{frame_col}_a").alias("_fa"),
        F.col(f"{frame_col}_b").alias("_fb"),
    )


def _aligned_pairs(matches: DataFrame, min_aligned: int) -> DataFrame:
    """Verified frame matches -> temporally aligned video pairs. The
    TEMPORAL step: group matches by (pair, offset = frame_b -
    frame_a) and keep the pair's best-supported offset. A re-encode
    matches at offset 0, a head-trim of t frames at offset -t; unrelated
    videos would need ``min_aligned`` independent <=``max_distance``-bit
    64-bit coincidences AT THE SAME OFFSET (P ~ (2.4e-15)^min_aligned
    per offset) — the alignment is what turns frame-level noise
    tolerance into video-level selectivity."""
    matches = matches.withColumn("offset", F.col("_fb") - F.col("_fa"))
    # count_distinct: band copies of one frame match collapse here (the
    # offset fixes _fb given _fa, so distinct _fa == distinct matches)
    per_offset = matches.groupBy("id_a", "id_b", "offset").agg(
        F.count_distinct("_fa").alias("aligned")
    )
    return (
        per_offset.groupBy("id_a", "id_b")
        .agg(
            F.max("aligned").alias("aligned"),
            # deterministic under ties: best-supported offset, smallest
            # offset wins a tie (max_by on (aligned, -offset))
            F.expr(
                "max_by(offset, struct(aligned, -offset))"
            ).alias("offset"),
        )
        .filter(F.col("aligned") >= min_aligned)
    )


def video_neardup_pairs(
    frame_hashes: DataFrame,
    id_col: str = "video_id",
    frame_col: str = "frame_idx",
    max_distance: int = 3,
    min_aligned: int = 4,
) -> DataFrame:
    """All video pairs sharing ``min_aligned`` or more frame matches at
    one temporal offset — ``(id_a, id_b, aligned, offset)`` with
    ``id_a < id_b``. Frame matches come from the banded Hamming
    self-join of :mod:`deva_spark.operators.neardup`, as in the image
    tier; the offset vote then enforces temporal consistency (see
    :func:`_aligned_pairs`). ``max_distance`` caps at 3, as in
    imagehash: wider radii stop pruning in 16-bit bands."""
    _validate(max_distance, min_aligned, "min_aligned")
    # Materialize the frame-hash synopsis BEFORE the banded self-join
    # (guide §2.4/§5): both branches hang off the same opaque Arrow
    # stage (AVI decode + per-frame dhash — for the registry tiers,
    # video SYNTHESIS too), and an unmaterialized lineage runs that
    # pass once PER BRANCH (plans/r14/x118: 4 MapInPandas + 2 scans
    # before, 2 + 1 after). (id, frame_idx, dhash) rows — tiny; an
    # eager local checkpoint, freed with the result (the
    # imagehash.hamming_neardup_pairs contract).
    frame_hashes = frame_hashes.localCheckpoint(eager=True)
    return _aligned_pairs(
        _frame_matches(frame_hashes, None, id_col, frame_col, max_distance),
        min_aligned,
    )


def video_neardup_unordered(
    frame_hashes: DataFrame,
    id_col: str = "video_id",
    frame_col: str = "frame_idx",
    max_distance: int = 3,
    min_shared: int = 3,
) -> DataFrame:
    """Order-FREE variant of :func:`video_neardup_pairs` —
    ``(id_a, id_b, shared)`` for pairs sharing ``min_shared``+ matched
    frames regardless of temporal position. This is the tier that
    catches FRAME-RATE-RESAMPLED twins (the honest boundary of the
    offset vote: dropping every other frame maps source frame 2j to
    twin frame j, so pairwise offsets VARY and no single offset
    accumulates support — but the matched-frame COUNT is untouched).
    Selectivity trades down accordingly: an unrelated pair needs
    ``min_shared`` independent <=``max_distance``-bit coincidences in
    ANY arrangement (P ~ C(na*nb, m) * (2.4e-15)^m — still negligible
    at corpus scale for m >= 3, but the aligned vote is strictly
    stronger; prefer it when the corpus's twins are same-rate). Same
    shuffle shape: banded (band, chunk) keys, one aggregation."""
    _validate(max_distance, min_shared, "min_shared")
    # same materialize-before-self-join contract as video_neardup_pairs
    frame_hashes = frame_hashes.localCheckpoint(eager=True)
    matches = _frame_matches(
        frame_hashes, None, id_col, frame_col, max_distance
    )
    return (
        matches.groupBy("id_a", "id_b")
        # distinct (_fa, _fb): band copies of one frame match count once
        .agg(F.count_distinct("_fa", "_fb").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def video_neardup_join(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "video_id",
    frame_col: str = "frame_idx",
    max_distance: int = 3,
    min_aligned: int = 4,
) -> DataFrame:
    """Cross-table variant of :func:`video_neardup_pairs` — the
    INCREMENTAL dedup shape: ``corpus`` is the staged frame-hash table,
    ``batch`` is today's crawl, and the banded join probes only
    batch-vs-corpus (never corpus-vs-corpus again), so the daily cost
    scales with the batch — the same discipline as the incremental
    image/text tiers (x117, x77/x82/x88). ``id_a`` comes from
    ``corpus``, ``id_b`` from ``batch``. Equal ids never pair: a video
    present in both tables (a re-submitted batch after the staged
    corpus was rebuilt) is already-known, not its own duplicate."""
    _validate(max_distance, min_aligned, "min_aligned")
    return _aligned_pairs(
        _frame_matches(corpus, batch, id_col, frame_col, max_distance),
        min_aligned,
    )
