"""MinHash + LSH banded near-duplicate detection, and exact n-gram Jaccard.

Reference surface: near-dup text dedup via simhash banding
(`/root/reference/deva/utils/simhash.py:247-341` — 64-bit fingerprints,
4 key-chunks, Hamming <= k). This module is the MinHash/LSH counterpart a
training-data pipeline needs; functions/simhash.py covers the simhash one.

Portable-hash design (double hashing): each shingle is MD5-hashed ONCE;
the two little-endian 64-bit halves of the digest (h1 = bytes[0:8],
h2 = bytes[8:16] — exactly DuckDB's ``md5_number_upper`` /
``md5_number_lower``) generate all permutations as
``(h1 % M + j * (h2 % M)) % M`` with M = 2^61 - 1, and the MinHash value
is the integer minimum. One digest per shingle instead of NUM_HASHES —
the standard (h1 + i*h2) construction (Kirsch & Mitzenmacher 2006) — and
pure integer arithmetic both engines reproduce bit-for-bit.

Scale notes: everything is per-row array algebra (shingle → transform →
array_min) until the band self-join, which shuffles only
(band_key, doc_id) pairs — bands are 16-byte digests, so the join input is
tiny relative to the corpus. The candidate verify step re-joins signatures
per pair. No cross join anywhere; complexity is driven by bucket collision
counts, the standard LSH cost model.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType

from deva_spark.functions.text import word_shingles

NUM_HASHES = 12
BAND_SIZE = 3  # => 4 bands; collision prob for jaccard s: 1-(1-s^3)^4
M61 = (1 << 61) - 1  # Mersenne prime modulus for the permutation family


def minhash_signature(text: Column, num_hashes: int = NUM_HASHES) -> Column:
    """array<long> MinHash signature — pure-column-expression twin of the
    pandas UDF (used for parity testing; the UDF is the production path).

    Little-endian 64-bit halves of md5 are recovered from the hex digest by
    reversing its byte pairs and `conv`-ing base 16 → 10 (conv is unsigned,
    so the full 64-bit range survives via an intermediate decimal).
    Permutations are ``(h1 + j*h2) % M61`` in decimal(38,0) arithmetic.
    Nested (not sibling) lambdas with distinct variable names — sibling
    lambdas sharing a name can get bound literals conflated by the analyzer.
    """
    sh = word_shingles(text, 3)
    seeds = F.sequence(F.lit(0), F.lit(num_hashes - 1))

    def _le64(hexcol: Column, start: int) -> Column:
        rev = F.concat(*[F.substring(hexcol, start + 2 * k, 2) for k in range(7, -1, -1)])
        return F.conv(rev, 16, 10).cast("decimal(38,0)") % F.lit(M61)

    halves = F.transform(
        sh, lambda s: F.struct(_le64(F.md5(s), 1).alias("h1"), _le64(F.md5(s), 17).alias("h2"))
    )
    sig = F.transform(
        seeds,
        lambda j: F.array_min(
            F.transform(
                halves,
                lambda h: ((h["h1"] + j.cast("decimal(38,0)") * h["h2"]) % F.lit(M61)).cast(
                    "long"
                ),
            )
        ),
    )
    # NULL (not an array of NULLs) for NULL/short texts — bit-parity
    # with _signature_py (r12 review: the [NULL]*n form passed
    # signatures()' isNotNull filter, and band_keys' concat_ws then
    # skipped the NULL elements, colliding EVERY short doc into one
    # md5('') bucket per band — a quadratic candidate blowup)
    return F.when(F.size(sh) >= 1, sig)


def _signature_py(text: str, num_hashes: int = NUM_HASHES) -> list[int] | None:
    """Python twin of :func:`minhash_signature` — bit-identical output.

    ``str.split()`` == trim + split-on-whitespace-runs, matching the
    ``\\s+`` regex split of the column expression and the SQL oracle.

    ONE md5 per shingle (the digest's two LE-64 halves seed every
    permutation); the j-loop is vectorized numpy. Since both operands of
    the rolling add are < M61 < 2^61, the uint64 sum never wraps.
    """
    if text is None:
        return None
    ws = text.split()
    if len(ws) < 3:
        return None
    md5 = hashlib.md5
    buf = b"".join(
        md5((" ".join(ws[i : i + 3])).encode()).digest() for i in range(len(ws) - 2)
    )
    halves = np.frombuffer(buf, dtype="<u8").reshape(-1, 2)
    m = np.uint64(M61)
    h1 = halves[:, 0] % m
    h2 = halves[:, 1] % m
    sig = [int(h1.min())]
    acc = h1
    for _ in range(1, num_hashes):
        acc = (acc + h2) % m
        sig.append(int(acc.min()))
    return sig


# Arrow-batched signature computation: one digest pass over each document
# (the column-expression version re-evaluates md5 once per seed inside the
# nested lambda — num_hashes× the work).
@pandas_udf(ArrayType(LongType()))
def minhash_signature_udf(texts: pd.Series) -> pd.Series:
    return texts.map(_signature_py)


def signatures(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    # Spread the CPU-bound hashing only when the input arrives under-split
    # (single-file corpus = a handful of row-group splits starving the Arrow
    # worker pool); a wide scan keeps its partitioning — no text shuffle.
    from deva_spark.session import ensure_parallelism

    return (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            minhash_signature_udf(F.col(text_col)).alias("sig"),
        )
        .filter(F.col("sig").isNotNull())
    )


def band_keys(
    sigs: DataFrame,
    band_size: int = BAND_SIZE,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Band projection of a signature table: ``(doc_id, band, bkey)``
    rows, one per (doc, band), with the band's signature slice hashed
    to a bucket key. This is the LSH tier's stageable/appendable index —
    a pure per-doc function of the signature, so a new batch's band
    rows join an existing table without any rebuild.

    ``num_hashes`` must match the width the signatures were BUILT with
    (r12 review: the hardcoded module default crashed with an ANSI
    array-index error on narrower signatures and silently ignored the
    tail of wider ones — declare the width for non-default builds)."""
    num_bands = num_hashes // band_size
    return sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|",
                                *[
                                    F.col("sig")[b * band_size + i].cast("string")
                                    for i in range(band_size)
                                ],
                            )
                        ).alias("bkey"),
                    )
                    for b in range(num_bands)
                ]
            )
        ).alias("bs"),
    ).select("doc_id", F.col("bs.band").alias("band"), F.col("bs.bkey").alias("bkey"))


def lsh_candidate_pairs(
    sigs: DataFrame,
    band_size: int = BAND_SIZE,
    num_hashes: int = NUM_HASHES,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become a candidate pair."""
    bands = band_keys(sigs, band_size, num_hashes)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )


def _verify_candidates(
    cands: DataFrame, sigs: DataFrame, min_matches: int
) -> DataFrame:
    """Per-candidate exact signature rescore — ONE copy of the
    oracle-sensitive est_sim contract shared by :func:`near_duplicates`
    and :func:`incremental_near_duplicates` (r12 review: two verbatim
    copies could drift, the es_sort_key lesson). The denominator is the
    ACTUAL signature length, so non-default signature widths scale
    est_sim correctly (== NUM_HASHES for every default-built table —
    values unchanged)."""
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq
        )
    )
    return (
        cands.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("n_match", matches)
        .filter(F.col("n_match") >= min_matches)
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_match").cast("double")
                / F.size("sig_a").cast("double"),
                4,
            ).alias("est_sim"),
        )
    )


def incremental_near_duplicates(
    new_sigs: DataFrame,
    old_sigs: DataFrame,
    min_matches: int = 6,
    band_size: int = BAND_SIZE,
    old_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental MinHash near-dup — the x77 anatomy on the signature
    tier: the NEW batch's band keys join the existing corpus's band
    projection (new x old) plus a batch self-join (new x new); old x
    old candidates never recompute, so per-batch cost scales with the
    batch. The verify rescore joins the union signature table per
    candidate exactly as `near_duplicates` does, so the output equals
    `near_duplicates` on the union corpus restricted to pairs touching
    the batch (parity-tested). Doc ids must be disjoint between the
    inputs. On a cluster both the signature table and its band
    projection are staged parquet; the batch appends its rows to each
    after running (no rebuild — the substring tier's x77 contract).
    ``old_bands``: the existing corpus's staged band projection (from
    :func:`band_keys`); when given, the old signatures are touched only
    by the per-candidate rescore join, never re-banded."""
    nb = band_keys(new_sigs, band_size)
    ob = old_bands if old_bands is not None else band_keys(old_sigs, band_size)
    cross = (
        nb.select(F.col("doc_id").alias("nid"), "band", "bkey")
        .join(ob.select(F.col("doc_id").alias("oid"), "band", "bkey"), ["band", "bkey"])
        .select(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
        )
    )
    a = nb.alias("a")
    b = nb.alias("b")
    self_pairs = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
    )
    cands = cross.unionByName(self_pairs).distinct()
    return _verify_candidates(cands, new_sigs.unionByName(old_sigs), min_matches)


def near_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_matches: int = 6,
    sigs: DataFrame | None = None,
) -> DataFrame:
    """MinHash near-dup pairs: LSH candidates whose signatures agree on at
    least ``min_matches`` of the NUM_HASHES components (estimated Jaccard
    >= min_matches/NUM_HASHES). Output: (id_a, id_b, est_sim).

    ``sigs``: a precomputed ``(doc_id, sig)`` signature table (the
    build-once-query-many artifact — signatures depend only on the text,
    so one table serves every consumer; the caller owns its persistence).
    When omitted, signatures are computed and checkpointed here."""
    if sigs is None:
        # Checkpoint the signatures: they feed the band explosion AND both
        # sides of the verify join — without this the 12×|shingles| MD5
        # evaluation runs three times (observed 191 s → ~8 s at sf0.1).
        # The blocks belong to the result and the ContextCleaner frees
        # them once it is dropped. At cluster scale this is a
        # materialized signature table (write once, join many).
        sigs = signatures(docs, id_col, text_col).localCheckpoint(eager=True)
    cands = lsh_candidate_pairs(sigs)
    return _verify_candidates(cands, sigs, min_matches)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    pct_threshold: int = 30,
    df_cap: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join via an inverted shingle index:
    explode distinct shingles, join docs sharing one, count common shingles,
    keep pairs with jaccard >= pct_threshold % (integer cross-multiplied —
    no float boundary). Output: (id_a, id_b, jaccard).

    Scale: the join key is a shingle string shared by few docs (stopword-only
    shingles are the skew risk — AQE skew-join splits those buckets); the
    pair aggregation shuffles (id_a, id_b) pairs only.

    ``df_cap``: prefix-filtering for corpus scale — shingles appearing in
    more than ``df_cap`` documents are dropped from the CANDIDATE join
    (they generate the quadratic blowup while carrying almost no
    similarity signal), then every surviving candidate pair is re-scored
    EXACTLY against the full shingle sets. Precision stays exact; recall
    misses only pairs whose overlap is entirely high-df shingles.
    """
    # Eagerly checkpointed: the plan references the exploded shingle
    # index four times (both join sides + two size lookups), and without
    # a barrier one job races to compute the subtree 4× (observed 8 s vs
    # 1 s). Cluster-scale equivalent: stage the shingle index to a table
    # once, then join against it. The join key is the 64-bit xxhash of the
    # shingle, not the string itself: the shuffle moves 8-byte keys instead
    # of full n-grams (collision probability ~(distinct shingles)^2 / 2^64 —
    # negligible), which is what makes this join survive a corpus-scale run.
    from deva_spark.functions.text import distinct_word_shingles_udf

    from deva_spark.session import ensure_parallelism

    sh = (
        ensure_parallelism(docs)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(distinct_word_shingles_udf(F.col(text_col))).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("sh"))
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    if df_cap is None:
        common = (
            a.join(b, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    else:
        # candidates from the low-df index only…
        rare = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfc")).filter(
            F.col("dfc") <= df_cap
        )
        a_r = a.join(rare.select("sh"), "sh")
        b_r = b.join(rare.select("sh"), "sh")
        cands = (
            a_r.join(b_r, "sh")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
        )
        # …then EXACT re-scoring of each candidate over the full sets
        common = (
            cands.join(a, "id_a")
            .join(b, ["id_b", "sh"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("common"))
        )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        # sizes has one row per doc — small enough that AQE picks a broadcast
        # at test scale, but at corpus scale it's a shuffle join on doc id;
        # don't force a broadcast hint here.
        common.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("union_n", F.col("na") + F.col("nb") - F.col("common"))
        .filter(F.col("common") * 100 >= F.col("union_n") * pct_threshold)
        .select(
            "id_a",
            "id_b",
            F.round(F.col("common").cast("double") / F.col("union_n").cast("double"), 4).alias(
                "jaccard"
            ),
        )
    )


def containment_pairs(
    shingle_index: DataFrame,
    pct_threshold: int = 30,
    id_col: str = "doc_id",
    sh_col: str = "_sh",
) -> DataFrame:
    """Asymmetric shingle-containment join: pairs where one document's
    shingle set is (mostly) CONTAINED in the other's — |A∩B| / |A| —
    which Jaccard misses when a short quote sits inside a long document
    (|A∩B|/|A∪B| shrinks with the big side; |A∩B|/|A| does not). The
    standard near-superset / quote-detection tier of a dedup stack,
    complementing :func:`ngram_jaccard_pairs` (symmetric resemblance) —
    the reference's dedup surface (`deva/core/stream.py` unique/dedup)
    has no containment tier; this extends it for training-data curation.

    Input is an already-exploded per-doc DISTINCT shingle index
    ``(id_col, sh_col)`` — share one staged index across every consumer
    (the IndexStream pattern). CAUTION on df-cap prefilters (r12
    review): unlike :func:`ngram_jaccard_pairs` there is NO exact
    rescore here — sizes and intersections both come from whatever
    index you pass, so a capped index computes containment over the
    REDUCED shingle universe (a doc whose surviving shingles all
    overlap reads 100%% even if its dropped high-df shingles do not).
    For exact percentages pass the full index; cap only when
    reduced-universe containment is the semantics you want.

    Output: ``(id_a, id_b, cont_a_pct, cont_b_pct)`` with ``id_a <
    id_b``, kept when EITHER direction reaches ``pct_threshold`` percent.
    Percentages are integer-floored (``div``) — no float boundary, so
    the kept set is bit-stable across engines.

    Scale shape: the self-join key is the 8-byte shingle hash (the
    quadratic risk is hot shingles — cap upstream), the pair aggregation
    shuffles (id_a, id_b) only, and the size join is doc-level.
    """
    sh = shingle_index.select(
        F.col(id_col).alias("doc_id"), F.col(sh_col).alias("sh")
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("id_a"), "sh")
    b = sh.select(F.col("doc_id").alias("id_b"), "sh")
    common = (
        a.join(b, "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.expr("(common * 100) div na").alias("cont_a_pct"),
            F.expr("(common * 100) div nb").alias("cont_b_pct"),
        )
        .filter(
            F.greatest(F.col("cont_a_pct"), F.col("cont_b_pct"))
            >= F.lit(pct_threshold)
        )
    )


def incremental_shingle_overlap(
    new_index: DataFrame,
    old_index: DataFrame,
    pct_threshold: int = 30,
    id_col: str = "doc_id",
    sh_col: str = "_sh",
    old_sizes: DataFrame | None = None,
    new_sizes: DataFrame | None = None,
) -> DataFrame:
    """Incremental EXACT-overlap dedup — the x77/x80/x82 contract on the
    shingle-set tier, serving both resemblance (Jaccard, the
    :func:`ngram_jaccard_pairs` criterion) and containment (asymmetric
    |A∩B|/|A|, the :func:`containment_pairs` criterion) in one pass:
    the NEW batch's exploded distinct-shingle index joins the STAGED
    corpus index (new x old) plus a batch self-join (new x new);
    old x old pairs never recompute, and the batch's index rows append
    afterwards (a pure per-doc function of the text — the band_keys /
    chunk_keys / digests contract).

    Inputs are ``(id_col, sh_col)`` exploded DISTINCT shingle indexes
    (the shared staged 5-gram index); doc ids must be DISJOINT between
    the two (a batch re-run after its rows already appended must be
    deduplicated upstream — self-pairs are dropped defensively but
    duplicated size rows would still fan out the sizes join). Counting rows per candidate pair
    IS the exact |A∩B| — the index carries the full sets, so no second
    rescore join is needed (unlike the banded MinHash tier).

    Output: ``(id_a, id_b, common, jaccard, cont_a_pct, cont_b_pct)``
    with ``id_a < id_b``, kept when EITHER the symmetric criterion
    (``common*100 >= union*pct``, integer cross-multiplied) or the
    asymmetric one (either integer-floored containment percentage
    reaches ``pct_threshold``) holds. Equals the full-corpus overlap
    table restricted to pairs touching the batch (parity-tested).

    Scale shape: the candidate join shuffles 8-byte shingle hashes; at
    corpus scale stage the old index BUCKETED by the shingle hash
    (``writers.write_bucketed``) so each batch's lookup join shuffles
    only the batch side. ``old_sizes``: a staged per-doc size table
    (itself appendable — sizes are per-doc constants); when omitted the
    old index is re-aggregated for sizes of matched docs. ``new_sizes``:
    the batch's per-doc sizes from the same staged table — REQUIRED when
    the passed indexes are the >= 2-doc PRUNED projection (the subwin8d
    move: a shingle held by one doc can never pair, so pruning leaves
    |A∩B| exact, but per-doc sizes must then come from the FULL index,
    not the pruned rows).
    """
    # batch-sized; feeds cross join, self join, and sizes
    n = new_index.select(
        F.col(id_col).alias("doc_id"), F.col(sh_col).alias("sh")
    ).localCheckpoint(eager=True)
    o = old_index.select(
        F.col(id_col).alias("doc_id"), F.col(sh_col).alias("sh")
    )
    cross = (
        n.select(F.col("doc_id").alias("nid"), "sh")
        .join(o.select(F.col("doc_id").alias("oid"), "sh"), "sh")
        # ids must be DISJOINT between batch and corpus (the
        # incremental_near_duplicates contract); a replayed batch whose
        # rows already landed in the staged index would otherwise emit
        # (X, X) self-pairs — drop them defensively (r12 review; the
        # duplicated-sizes fanout of a true overlap remains the
        # caller's idempotency problem, now documented)
        .filter(F.col("nid") != F.col("oid"))
        .select(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
        )
    )
    selfp = (
        n.select(F.col("doc_id").alias("id_a"), "sh")
        .join(n.select(F.col("doc_id").alias("id_b"), "sh"), "sh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    common = (
        cross.unionByName(selfp)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    nsz = (
        new_sizes.select(F.col(id_col).alias("doc_id"), "n")
        if new_sizes is not None
        else n.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    osz = (
        old_sizes.select(F.col(id_col).alias("doc_id"), "n")
        if old_sizes is not None
        else o.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    )
    sizes = nsz.unionByName(osz)
    na = sizes.select(F.col("doc_id").alias("id_a"), F.col("n").alias("na"))
    nb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n").alias("nb"))
    u = F.col("na") + F.col("nb") - F.col("common")
    return (
        common.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            "common",
            F.round(F.col("common").cast("double") / u.cast("double"), 4).alias(
                "jaccard"
            ),
            F.expr("(common * 100) div na").alias("cont_a_pct"),
            F.expr("(common * 100) div nb").alias("cont_b_pct"),
            (F.col("common") * 100 >= u * pct_threshold).alias("_sym"),
        )
        .filter(
            F.col("_sym")
            | (
                F.greatest("cont_a_pct", "cont_b_pct")
                >= F.lit(pct_threshold)
            )
        )
        .drop("_sym")
    )
