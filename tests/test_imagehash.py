"""Perceptual image hashes + banded hamming pairs (r13): invariances,
golden stability, banding == brute force, Spark stages."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from deva_spark.functions import imagehash as ih
from deva_spark.functions.multimodal import encode_png


def _img(seed, h=12, w=10):
    return np.random.default_rng(seed).integers(
        0, 256, (h, w, 3), dtype=np.uint8
    )


def _ham(a, b):
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def test_hash_basics_and_invariances():
    img = _img(1)
    for fn in (ih.ahash64, ih.dhash64, ih.phash64):
        v = fn(img)
        assert -(2**63) <= v < 2**63  # LongType-safe
        assert fn(img) == v  # deterministic
        assert fn(img.astype(np.float64) / 255.0) == v  # dtype-agnostic
    # dhash: exact invariance to moderate brightness shift (gradient
    # signs), phash: DC-drop makes it brightness-insensitive too
    twin = np.clip(img.astype(np.int16) + 5, 0, 255).astype(np.uint8)
    assert _ham(ih.dhash64(img), ih.dhash64(twin)) <= 2
    assert _ham(ih.phash64(img), ih.phash64(twin)) <= 4
    # unrelated images sit far apart
    other = _img(2)
    assert _ham(ih.dhash64(img), ih.dhash64(other)) >= 16
    assert _ham(ih.phash64(img), ih.phash64(other)) >= 16
    # grayscale input accepted
    assert isinstance(ih.dhash64(img[:, :, 0]), int)


def test_phash_survives_jpeg_recompression():
    from deva_spark.functions.jpeg import decode_jpeg, encode_jpeg

    for s in range(8):
        img = _img(s, 16, 12)
        rec = decode_jpeg(encode_jpeg(img, quality=90))
        assert _ham(ih.phash64(img), ih.phash64(rec)) <= 12, s
        assert _ham(ih.dhash64(img), ih.dhash64(rec)) <= 12, s


def test_golden_hashes():
    # pin the exact bits: a shared drift in resize/DCT/threshold still
    # "works" pairwise but breaks cross-version reproducibility
    img = _img(7, 9, 13)
    assert (ih.ahash64(img), ih.dhash64(img), ih.phash64(img)) == (
        _GOLD_A, _GOLD_D, _GOLD_P
    ), (ih.ahash64(img), ih.dhash64(img), ih.phash64(img))


_GOLD_A = -5097999613040365409
_GOLD_D = -6497123432024844941
_GOLD_P = 4783083146634704774


def test_banded_pairs_equal_brute_force(spark):
    rows = []
    for i in range(30):
        im = _img(i, 10, 11)
        rows.append((i * 10, encode_png(im)))
        if i % 3 == 0:
            tw = np.clip(im.astype(np.int16) + 5, 0, 255).astype(np.uint8)
            rows.append((i * 10 + 1, encode_png(tw)))
    df = spark.createDataFrame(rows, "media_id long, content binary")
    hashes = ih.image_hashes(df)
    hs = {r.media_id: r.dhash for r in hashes.collect()}
    for tau in (0, 3):
        got = sorted(
            (r.id_a, r.id_b)
            for r in ih.hamming_neardup_pairs(
                hashes, "dhash", max_distance=tau
            ).collect()
        )
        brute = sorted(
            (a, b)
            for a in hs
            for b in hs
            if a < b and _ham(hs[a], hs[b]) <= tau
        )
        assert got == brute, tau
    # twins recovered
    got3 = sorted(
        (r.id_a, r.id_b)
        for r in ih.hamming_neardup_pairs(hashes, "dhash").collect()
    )
    assert set((i * 10, i * 10 + 1) for i in range(0, 30, 3)) <= set(got3)
    with pytest.raises(ValueError, match="max_distance"):
        ih.hamming_neardup_pairs(hashes, "dhash", max_distance=8)


def test_cross_table_join_matches_pairs(spark):
    # incremental shape (x117): staged corpus vs fresh batch — the
    # cross-table banded join must find exactly what the full
    # self-join finds between the two sides
    rows_a, rows_b = [], []
    for i in range(20):
        im = _img(i, 10, 11)
        rows_a.append((i * 10, encode_png(im)))
        if i % 4 == 0:
            tw = np.clip(im.astype(np.int16) + 5, 0, 255).astype(np.uint8)
            rows_b.append((i * 10 + 1, encode_png(tw)))
    corpus = ih.image_hashes(
        spark.createDataFrame(rows_a, "media_id long, content binary")
    )
    batch = ih.image_hashes(
        spark.createDataFrame(rows_b, "media_id long, content binary")
    )
    got = sorted(
        (r.id_a, r.id_b)
        for r in ih.hamming_neardup_join(corpus, batch).collect()
    )
    assert got == sorted((i * 10, i * 10 + 1) for i in range(0, 20, 4))
    # brute equivalence across tables
    ca = {r.media_id: r.dhash for r in corpus.collect()}
    cb = {r.media_id: r.dhash for r in batch.collect()}
    brute = sorted(
        (a, b) for a in ca for b in cb if _ham(ca[a], cb[b]) <= 3
    )
    assert got == brute


def test_group_images_share_dhash_across_docs(spark):
    # x122's synthesis contract: same group -> same base picture with
    # per-doc brightness shifts (bytes differ, dhash within the banded
    # radius); different groups -> unrelated pictures
    from deva_spark.functions import multimodal as mm

    docs = spark.createDataFrame(
        [(25 * i, (25 * i) // 100) for i in range(8)],
        "doc_id long, grp long",
    )
    imgs = mm.synthesize_group_images(docs)
    payloads = {r.image_id: bytes(r.content) for r in imgs.collect()}
    # different shifts in one group -> different bytes (docs with the
    # SAME doc_id % 3 legitimately byte-collide — exact dups happen)
    assert payloads[0] != payloads[25] != payloads[50]
    assert payloads[0] != payloads[100]  # different groups differ
    hashes = {
        r.image_id: r.dhash
        for r in ih.image_hashes(imgs, id_col="image_id").collect()
    }
    def ham(a, b):
        return bin((a ^ b) & ((1 << 64) - 1)).count("1")
    same = [ham(hashes[0], hashes[25]), ham(hashes[0], hashes[50]),
            ham(hashes[100], hashes[125])]
    cross = [ham(hashes[0], hashes[100]), ham(hashes[75], hashes[150])]
    assert max(same) <= 3, same
    assert min(cross) > 10, cross


def test_image_cross_table_join_never_pairs_equal_ids(spark):
    # review r14: same guard as the video tier — an image in both the
    # staged corpus and the batch is already-known, not a pair
    from deva_spark.functions import multimodal as mm

    docs = spark.createDataFrame(
        [(i * 2, f"img doc {i}") for i in range(4)],
        "doc_id long, text string",
    )
    imgs = mm.synthesize_doc_images(docs, twins=True, twin_every=2)
    hashes = ih.image_hashes(imgs, id_col="image_id")
    got = ih.hamming_neardup_join(
        hashes, hashes, "dhash", id_col="image_id"
    ).collect()
    assert got and all(r.id_a != r.id_b for r in got)


def test_image_twins_only_matches_filtered_synthesis(spark):
    from deva_spark.functions import multimodal as mm

    docs = spark.createDataFrame(
        [(i * 2, f"img doc {i}") for i in range(4)],
        "doc_id long, text string",
    )
    full = mm.synthesize_doc_images(docs, twins=True, twin_every=2)
    only = mm.synthesize_doc_images(
        docs, twins=True, twin_every=2, twins_only=True
    )
    want = {
        r.image_id: bytes(r.content)
        for r in full.filter(F.col("image_id") % 10 == 1).collect()
    }
    got = {r.image_id: bytes(r.content) for r in only.collect()}
    assert got == want and len(got) == 4
    with pytest.raises(ValueError, match="twins_only"):
        mm.synthesize_doc_images(docs, twins_only=True)


def test_x122_leaves_no_cache_entry(spark, sf_dir, tmp_path, monkeypatch):
    # x122 must not keep its pairs or hash synopsis in the session's
    # CacheManager: a cached plan would hand the next x122 run this
    # run's results. The fresh artifact root gives the pair plan a scan
    # path no earlier test cached.
    from deva_spark import queries as Q

    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))
    Q.stage_artifacts(spark, sf_dir, ["jaccard_pairs"])
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    df = Q.SPARK_QUERIES["x122_multimodal_dedup_clusters"](spark, sf_dir)
    assert df.count() > 0
    del df
    assert cm.numCachedEntries() == before


@pytest.mark.parametrize(
    "name",
    [
        "x115_image_neardup_pairs",
        "x118_video_neardup_pairs",
        "x123_resampled_video_neardup",
    ],
)
def test_media_neardup_leaves_no_cache_entry(spark, sf_dir, name):
    # the hash synopsis these tiers materialize for their banded
    # self-join must not land in the session's CacheManager: a cached
    # plan would hand the next run of the entry this run's hashes
    from deva_spark import queries as Q

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    df = Q.SPARK_QUERIES[name](spark, sf_dir)
    assert df.count() > 0
    del df
    assert cm.numCachedEntries() == 0
