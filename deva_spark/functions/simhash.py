"""SimHash fingerprinting + banded near-duplicate join.

Reference surface: `/root/reference/deva/utils/simhash.py:78-245`
(64-bit simhash built from token hashes with per-bit voting) and
`simhash.py:247-341` (SimhashIndex: split the fingerprint into k+1 chunks —
two fingerprints within Hamming distance k must share at least one chunk —
then verify candidates by exact Hamming distance).

Our fingerprint is 48-bit (12 MD5 hex chars) so it always fits a signed
BIGINT in every engine. The word hash is the first 12 hex chars of
``md5(word)`` big-endian — chosen because the DuckDB oracle can recompute
the identical value with pure SQL arithmetic (no engine-specific hash).

The fingerprint itself is a vectorized Arrow pandas UDF (hashlib + integer
ops over a batch) — the one place Python earns its keep here; the banding
join and Hamming verify are the column ops of
:mod:`deva_spark.operators.neardup`, shared with the image and video tiers.
"""

from __future__ import annotations

import functools
import hashlib

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import LongType

from deva_spark.operators.neardup import band, check_banding, hamming_candidates

BITS = 48
NUM_CHUNKS = 4  # k+1 chunks for Hamming k=3


import numpy as np

_BIT_WEIGHTS = 1 << np.arange(BITS, dtype=np.int64)

# word → ±1 vote vector, memoized: natural-language corpora reuse tokens
# heavily, so the md5+bit-expansion cost is paid once per distinct word per
# worker, not once per occurrence.
_word_votes: dict[str, "np.ndarray"] = {}


def _votes_for(word: str) -> "np.ndarray":
    v = _word_votes.get(word)
    if v is None:
        h = int(hashlib.md5(word.encode("utf-8")).hexdigest()[:12], 16)
        bits = (h >> np.arange(BITS, dtype=np.int64)) & 1
        v = (bits * 2 - 1).astype(np.int32)
        if len(_word_votes) < 1_000_000:  # bounded memo per worker
            _word_votes[word] = v
    return v


def _simhash_one(text: str) -> int:
    """48-bit simhash: per-bit vote over whitespace tokens, weight = term
    frequency (each occurrence votes)."""
    if text is None:
        return 0
    words = text.strip().split()
    if not words:
        return 0
    total = np.zeros(BITS, dtype=np.int64)
    for w in words:
        total += _votes_for(w)
    return int(_BIT_WEIGHTS[total > 0].sum())


# DataType object (not DDL string) so the UDF can be defined without an
# active SparkSession at import time.
@pandas_udf(LongType())
def simhash48(texts: pd.Series) -> pd.Series:
    return texts.map(_simhash_one)


def fingerprints(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    # Spread the CPU-bound fingerprint UDF over every core only when the
    # input arrives under-split (single parquet file); an already-wide scan
    # keeps its partitioning — no shuffle of the corpus text.
    from deva_spark.session import ensure_parallelism

    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), simhash48(F.col(text_col)).alias("fp")
    )


def chunk_keys(fps: DataFrame, n_chunks: int = NUM_CHUNKS) -> DataFrame:
    """Chunk projection of a fingerprint table: ``(doc_id, fp, ci,
    cv)`` rows, one per (doc, chunk index), with the chunk's bit-span
    value as the bucket key (:func:`deva_spark.operators.neardup.band`;
    the default ``NUM_CHUNKS`` gives four 12-bit spans). This is the
    simhash tier's stageable/appendable index — a pure per-doc function
    of the fingerprint, so a new batch's rows append to an existing
    table without any rebuild (the band_keys / window-index contract).
    Rows carry ``fp`` so the Hamming verify needs no second join.

    ``n_chunks`` sets the banding (pigeonhole: ``n_chunks`` chunks cover
    Hamming budgets up to ``n_chunks - 1``). Tables joined on (ci, cv)
    must share the SAME ``n_chunks`` — the near-dup entry points derive
    it from ``max_hamming`` and say so."""
    return band(fps, "fp", BITS, n_chunks, ["doc_id"])


def banding_chunks(max_hamming: int) -> int:
    """Chunk count whose pigeonhole guarantee covers ``max_hamming``:
    ``max(NUM_CHUNKS, max_hamming + 1)`` capped at the bit width. The
    fixed NUM_CHUNKS=4 banding silently MISSED pairs whose differing
    bits landed one per chunk for any budget above 3 (r11 review) — the
    entry points now derive the banding from the budget, and the
    default budget keeps the historical 4x12-bit layout byte-identical
    for staged projections. A budget of ``BITS`` or more has no such
    banding (a pair may differ in every chunk) and raises."""
    n_chunks = min(BITS, max(NUM_CHUNKS, max_hamming + 1))
    check_banding(BITS, n_chunks, max_hamming)
    return n_chunks


def incremental_near_duplicates(
    new_fps: DataFrame,
    old_fps: DataFrame,
    max_hamming: int = 3,
    old_chunks: DataFrame | None = None,
    old_chunks_banding: int | None = None,
) -> DataFrame:
    """Incremental simhash near-dup — the x77/x80 anatomy on the
    fingerprint tier: the NEW batch's chunk keys join the existing
    corpus's chunk projection (new x old) plus a batch self-join
    (new x new); old x old candidates never recompute, so per-batch
    cost scales with the batch. Chunk rows carry the fingerprint, so
    the ``bit_count(xor)`` verify is join-free. Output equals
    :func:`near_duplicates` on the union corpus restricted to pairs
    touching the batch (parity-tested); doc ids must be disjoint.
    ``old_chunks``: the staged chunk projection (:func:`chunk_keys`);
    when given, old fingerprints are never re-exploded — and it MUST be
    built with ``chunk_keys(old_fps, banding_chunks(max_hamming))`` (the
    default staged layout covers budgets <= NUM_CHUNKS - 1; a wider
    budget needs a wider-banded projection, or pass ``old_fps`` and let
    this function band both sides consistently). The contract is
    validated at runtime; pass ``old_chunks_banding`` (the chunk count
    the staged table was written with) to make that validation a pure
    integer compare instead of a corpus-wide column max — recurring
    incremental pipelines know their own staged layout."""
    n_chunks = banding_chunks(max_hamming)
    nc = chunk_keys(new_fps, n_chunks)
    if old_chunks is not None:
        # The docstring's layout contract, ENFORCED (ADVICE r11 #2): a
        # staged projection banded at a different chunk count joins
        # (ci, cv) keys cut from different bit spans — candidate
        # collisions nearly vanish and pairs are silently missed (worse
        # recall than any fixed banding). ``old_chunks_banding`` is the
        # zero-scan path (r12 review): staged pipelines KNOW the layout
        # they wrote, so they declare it and validation is one integer
        # compare — per-batch cost stays batch-sized. Without the
        # declaration, fall back to the exact column-pruned max over
        # the small-int ci column (a corpus-wide scan — correct, and
        # the right default for ad-hoc callers, but declare the banding
        # on any recurring incremental pipeline).
        if old_chunks_banding is not None:
            staged_chunks = int(old_chunks_banding)
        else:
            staged = (
                old_chunks.agg(F.max("ci").alias("mx")).collect()[0]["mx"]
            )
            staged_chunks = (staged + 1) if staged is not None else n_chunks
        if staged_chunks != n_chunks:
            raise ValueError(
                f"old_chunks is banded at {staged_chunks} chunks but "
                f"max_hamming={max_hamming} requires "
                f"{n_chunks} (banding_chunks); rebuild the staged "
                "projection with chunk_keys(old_fps, "
                f"banding_chunks({max_hamming})) or pass old_fps and "
                "let this function band both sides consistently"
            )
        oc = old_chunks
    else:
        oc = chunk_keys(old_fps, n_chunks)
    cand = functools.partial(
        hamming_candidates, id_col="doc_id", hash_col="fp", bits=BITS,
        max_distance=max_hamming, n_bands=n_chunks,
    )
    cross = cand(nc, oc).select(
        F.least("id_a", "id_b").alias("id_a"),
        F.greatest("id_a", "id_b").alias("id_b"),
        "distance",
    )
    return _dedup(cross.unionByName(cand(nc)))


def _dedup(cand: DataFrame) -> DataFrame:
    """One ``(id_a, id_b, hd)`` row per verified candidate pair. The
    verify already ran before this exchange, and every band copy of a
    pair carries the same distance, so ``min`` is exact."""
    return cand.groupBy("id_a", "id_b").agg(F.min("distance").alias("hd"))


def near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    fps: DataFrame | None = None,
) -> DataFrame:
    """Simhash near-dup pairs (id_a, id_b, hamming <= max_hamming).

    Banding (`simhash.py:247-341` semantics): split the 48-bit fingerprint
    into ``banding_chunks(max_hamming)`` chunks (>= max_hamming + 1, so
    the guarantee holds for ANY budget — the old fixed 4-chunk banding
    silently under-recalled budgets above 3); any pair within the budget
    shares >= 1 chunk, so the self-join key is (chunk_index, chunk_value) —
    shuffle carries (small int, small int, doc_id), never the text. Exact
    ``bit_count(xor)`` verifies candidates.

    ``fps``: a precomputed ``(doc_id, fp)`` fingerprint table (the
    build-once artifact — fingerprints are per-doc functions of the
    text, the doc_sigs pattern; the caller owns its persistence). When
    omitted, fingerprints are computed and checkpointed here.
    """
    n_chunks = banding_chunks(max_hamming)
    if fps is None:
        # Eager checkpoint: the pandas-UDF fingerprint pass feeds the
        # chunk explosion and both join sides; compute it once.
        fps = fingerprints(docs, id_col, text_col).localCheckpoint(eager=True)
    return _dedup(
        hamming_candidates(
            fps, id_col="doc_id", hash_col="fp", bits=BITS,
            max_distance=max_hamming, n_bands=n_chunks,
        )
    )
