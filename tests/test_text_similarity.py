"""Text-analysis and similarity operators over the synthetic corpus."""

import pytest
from pyspark.sql import functions as F

from deva_spark.functions import minhash as mh
from deva_spark.functions import simhash as sh
from deva_spark.functions import text as T
from deva_spark.functions import vectors as V


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_token_count_matches_python(spark):
    df = spark.createDataFrame(
        [(1, "  a  b\tc "), (2, "one"), (3, "x y")], "doc_id long, text string"
    )
    out = {r.doc_id: r.n for r in df.select("doc_id", T.token_count(F.col("text")).alias("n")).collect()}
    assert out == {1: 3, 2: 1, 3: 2}


def test_lang_id_stopword_heuristic(spark):
    df = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "zzz qqq www rrr")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.l for r in df.select("doc_id", T.lang_id(F.col("text")).alias("l")).collect()}
    assert out == {1: "en", 2: "other"}


def test_fingerprint_normalization(spark):
    df = spark.createDataFrame(
        [(1, "A  b\tC"), (2, " a b c "), (3, "different")], "doc_id long, text string"
    )
    fps = {r.doc_id: r.fp for r in df.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    assert fps[1] == fps[2] != fps[3]


def test_shingles_column_vs_python(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], "doc_id long, text string")
    out = {r.doc_id: list(r.sh) for r in df.select("doc_id", T.word_shingles(F.col("text")).alias("sh")).collect()}
    assert out[1] == ["a b c", "b c d"]
    assert out[2] == []  # shorter than n -> empty, not a descending sequence


def test_simhash_properties(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy cat"),
            (3, "completely unrelated words about spark engines"),
        ],
        "doc_id long, text string",
    )
    fps = {r.doc_id: r.fp for r in sh.fingerprints(df).collect()}
    assert fps[1] == sh._simhash_one("the quick brown fox jumps over the lazy dog")
    d12 = bin(fps[1] ^ fps[2]).count("1")
    d13 = bin(fps[1] ^ fps[3]).count("1")
    assert d12 < d13  # near-dup closer than unrelated


def test_minhash_finds_known_neardups(spark, docs):
    pairs = mh.near_duplicates(docs).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r.id_a < r.id_b
        assert 0.5 <= r.est_sim <= 1.0


def test_minhash_udf_matches_column_expression(spark):
    # The Arrow UDF and the JVM column expression must produce identical
    # signatures (they are interchangeable implementations of one operator).
    df = spark.createDataFrame(
        [(1, "w0 w1 w2 w3 w4 w5 w6 w7"), (2, "a b c d e")], "doc_id long, text string"
    )
    via_udf = {r.doc_id: list(r.sig) for r in mh.signatures(df).collect()}
    via_col = {
        r.doc_id: list(r.sig)
        for r in df.select("doc_id", mh.minhash_signature(F.col("text")).alias("sig")).collect()
    }
    assert via_udf == via_col


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        "doc_id long, text string",
    )
    # doc1 shingles: {abc,bcd,cde}; doc2: {abc,bcd,cdx}; common=2, union=4
    out = mh.ngram_jaccard_pairs(df, pct_threshold=30).collect()
    assert [(r.id_a, r.id_b, r.jaccard) for r in out] == [(1, 2, 0.5)]


def test_cosine_topk_self_similarity(spark, emb):
    qs = emb.filter(F.col("vec_id") < 3)
    out = V.brute_force_topk(emb, qs, k=5).collect()
    assert len(out) == 15
    for r in out:
        assert -1.0001 <= r.cos <= 1.0001
        assert r.vec_id != r.qid


def test_lsh_recall_vs_brute_force(spark, emb):
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.vec_id) for r in V.brute_force_topk(emb, qs, k=5).collect()}
    approx = {(r.qid, r.vec_id) for r in V.lsh_bucketed_topk(emb, qs, k=5).collect()}
    recall = len(exact & approx) / len(exact)
    # ANN is approximate by design; with 4 hyperplanes on clustered data
    # recall should still be substantial.
    assert recall >= 0.5, f"LSH recall too low: {recall}"


def test_lsh_onepass_matches_join_formulation(spark, emb):
    # the single-pass mapInPandas route (driver query buckets +
    # per-partition rescore/top-k, x09's r8 plan) must return IDENTICAL
    # rows to the explode/join formulation — same buckets, same HALF_UP
    # 4dp cosines, same (cos desc, id) order
    qs = emb.filter(F.col("vec_id") < 10)
    a = sorted(tuple(r) for r in V.lsh_bucketed_topk(emb, qs, k=5).collect())
    b = sorted(tuple(r) for r in V.lsh_topk_onepass(emb, qs, k=5).collect())
    assert a == b and len(a) > 0


def test_ann_routes_agree_on_degenerate_vectors(spark, emb):
    # r12 review: an UNGUARDED zero-norm embedding made the cosine NaN,
    # which Spark's descending sort ranks FIRST while numpy's lexsort
    # ranks LAST — onepass/join and staged/unstaged silently disagreed.
    # With the norm floored, a zero vector scores ~0 everywhere and
    # every route agrees; empty query sets return empty, not a crash.
    zero = spark.createDataFrame(
        [(99_999, [0.0] * 64, 0)], "vec_id long, embedding array<float>, label int"
    )
    both = emb.select("vec_id", "embedding", "label").unionByName(zero)
    qs = both.filter(F.col("vec_id") < 10)
    a = sorted(tuple(r) for r in V.lsh_bucketed_topk(both, qs, k=5).collect())
    b = sorted(tuple(r) for r in V.lsh_topk_onepass(both, qs, k=5).collect())
    assert a == b and len(a) > 0
    assert not any(r[1] == 99_999 for r in a)  # never in anyone's top-k
    # the zero vector as a QUERY scores 0 against everything — rows may
    # exist (ties at 0) but all cosines are finite
    import math

    zq = V.lsh_bucketed_topk(both, both.filter(F.col("vec_id") == 99_999), k=3)
    assert all(math.isfinite(r.cos) for r in zq.collect())
    # near-dup pair routes agree too (pair-join vs grouped) and emit no NaN
    pj = {
        (r.id_a, r.id_b)
        for r in V.cosine_neardup_pairs(both, threshold=0.9).collect()
    }
    assert not any(99_999 in p for p in pj)
    # empty query set: empty result, right schema (np.stack([]) raised)
    empty_q = both.filter(F.col("vec_id") < 0)
    out = V.lsh_topk_onepass(both, empty_q, k=5)
    assert out.columns == ["qid", "vec_id", "cos", "rnk"] and out.count() == 0


def test_centroids_shape(spark, emb):
    out = V.centroids(emb).collect()
    labels = {r.label for r in out}
    assert len(out) == len(labels)
    assert all(len(r.centroid) == 64 for r in out)
    # r12: the decimal-summed mean is deterministic AND numerically the
    # mean (1e-12 of the float average)
    import numpy as np

    rows = emb.limit(200).collect()
    by_label = {}
    for r in rows:
        by_label.setdefault(r.label, []).append(np.array(r.embedding))
    got = {
        r.label: np.array(r.centroid)
        for r in V.centroids(spark.createDataFrame(rows, emb.schema)).collect()
    }
    for lab, vecs in by_label.items():
        assert np.allclose(got[lab], np.mean(vecs, axis=0), atol=1e-9)


def test_ngram_jaccard_df_cap_matches_exact_on_rare_overlap(spark, docs):
    # on this corpus every near-dup pair shares rare shingles, so prefix
    # filtering with a generous cap must reproduce the exact result
    exact = {(r.id_a, r.id_b): r.jaccard for r in mh.ngram_jaccard_pairs(docs).collect()}
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in mh.ngram_jaccard_pairs(docs, df_cap=50).collect()
    }
    assert capped == exact
    # a tiny cap may lose recall but never precision (scores still exact)
    tiny = {
        (r.id_a, r.id_b): r.jaccard
        for r in mh.ngram_jaccard_pairs(docs, df_cap=3).collect()
    }
    for pair, jac in tiny.items():
        assert exact.get(pair) == jac


def test_containment_pairs_directional(spark):
    # doc 1's shingles {10,11,12} sit ENTIRELY inside doc 2's
    # {10,11,12,13,14,15,16,17,18,19}; Jaccard = 3/10 but containment of
    # 1-in-2 is 100%. doc 3 shares nothing.
    rows = (
        [(1, h) for h in range(10, 13)]
        + [(2, h) for h in range(10, 20)]
        + [(3, h) for h in range(50, 60)]
    )
    idx = spark.createDataFrame(rows, "doc_id long, _sh long")
    out = {
        (r.id_a, r.id_b): (r.cont_a_pct, r.cont_b_pct)
        for r in mh.containment_pairs(idx, pct_threshold=80).collect()
    }
    assert out == {(1, 2): (100, 30)}
    # symmetric Jaccard at the same bar misses the pair entirely
    assert mh.containment_pairs(idx, pct_threshold=101).count() == 0


def test_seed_cluster_assign_matches_numpy(spark, emb):
    import numpy as np

    pdf = emb.orderBy("vec_id").toPandas()
    M = np.array([np.asarray(e, dtype=np.float64) for e in pdf.embedding])
    n = M / np.linalg.norm(M, axis=1, keepdims=True)
    ids = pdf.vec_id.to_numpy()
    seeds = n[ids < 8]
    expected = dict(zip(ids, (n @ seeds.T).round(6).argmax(axis=1)))
    got = {
        r.vec_id: r.cluster_id
        for r in V.seed_cluster_assign(emb, n_clusters=8).collect()
    }
    # fold-order vs pairwise float sums can differ in the last bits, but
    # a 6dp-rounded argmax flip would need two seeds within 1e-6 — assert
    # exact agreement (holds on this data)
    assert got == expected


def test_seed_cluster_assign_sparse_ids(spark):
    # ADVICE r6: seeds are the n_clusters LOWEST-id vectors by rank, not
    # an id-value filter — an offset (non-dense) id space must still
    # yield exactly n_clusters seeds, labelled by their real ids.
    rows = [
        (1000 + 3 * i, [float((i * 7 + j) % 5) + 1.0 for j in range(4)])
        for i in range(12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    asg = V.seed_cluster_assign(df, n_clusters=4)
    got = asg.collect()
    assert len(got) == 12
    assert {r.cluster_id for r in got} <= {1000, 1003, 1006, 1009}


def test_semdedup_pairs_within_cluster_only(spark, emb):
    pairs = V.semdedup_pairs(emb, n_clusters=8, threshold=0.3).collect()
    assert pairs, "expected near-dup pairs at threshold 0.3"
    asg = {
        r.vec_id: r.cluster_id
        for r in V.seed_cluster_assign(emb, n_clusters=8).collect()
    }
    for r in pairs:
        assert r.keep_id < r.prune_id
        assert asg[r.keep_id] == asg[r.prune_id] == r.cluster_id
        assert r.cos >= 0.3


def test_semdedup_refined_tier_finds_planted_duplicates(spark):
    # VERDICT r6 #6: the Lloyd-refined tier must find (at least) the
    # planted near-duplicate pairs the seed tier finds — identical
    # vectors co-assign under ANY centroid set, so the planted pairs
    # survive both assignments.
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(60, 16)
    rows = [(i, [float(x) for x in base[i]]) for i in range(60)]
    # plant 5 exact duplicates with higher ids
    rows += [(200 + i, [float(x) for x in base[i]]) for i in range(5)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    planted = {(i, 200 + i) for i in range(5)}

    seed_pairs = {
        (r.keep_id, r.prune_id)
        for r in V.semdedup_pairs(df, n_clusters=4, threshold=0.95).collect()
    }
    refined_pairs = {
        (r.keep_id, r.prune_id)
        for r in V.semdedup_pairs(
            df, n_clusters=4, threshold=0.95, refine=True
        ).collect()
    }
    assert planted <= seed_pairs
    assert planted <= refined_pairs
    # recall contract on the planted set: refined finds every planted
    # pair the seed tier found
    assert (seed_pairs & planted) <= refined_pairs


def test_incremental_minhash_matches_full_restricted(spark, sf_dir):
    # incremental near-dup (new-batch bands vs existing-corpus bands)
    # must equal near_duplicates over the union restricted to pairs
    # touching the batch — no old x old pair appears
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    T = 400
    sigs = mh.signatures(docs).persist()
    try:
        sigs.count()
        full = {
            (r.id_a, r.id_b): r.est_sim
            for r in mh.near_duplicates(docs, sigs=sigs).collect()
        }
        expected = {p: s for p, s in full.items() if p[0] >= T or p[1] >= T}
        got = {
            (r.id_a, r.id_b): r.est_sim
            for r in mh.incremental_near_duplicates(
                sigs.filter(F.col("doc_id") >= T),
                sigs.filter(F.col("doc_id") < T),
            ).collect()
        }
        assert got == expected and len(got) > 0
        assert all(p[0] >= T or p[1] >= T for p in got)
        # staged band projection route: identical (old sigs touched
        # only by the rescore join)
        staged = {
            (r.id_a, r.id_b): r.est_sim
            for r in mh.incremental_near_duplicates(
                sigs.filter(F.col("doc_id") >= T),
                sigs.filter(F.col("doc_id") < T),
                old_bands=mh.band_keys(sigs.filter(F.col("doc_id") < T)),
            ).collect()
        }
        assert staged == expected
    finally:
        sigs.unpersist()


def test_incremental_simhash_matches_full_restricted(spark, sf_dir):
    # incremental simhash (new-batch chunk keys vs existing chunk
    # projection) must equal near_duplicates over the union restricted
    # to pairs touching the batch; the staged old_chunks route is
    # identical (old fingerprints never re-exploded)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    T = 400
    H = 14  # wide budget so the parity set is non-trivial at tiny SF
    fps = sh.fingerprints(docs).persist()
    try:
        fps.count()
        full = {
            (r.id_a, r.id_b): r.hd
            for r in sh.near_duplicates(docs, max_hamming=H, fps=fps).collect()
        }
        expected = {p: d for p, d in full.items() if p[0] >= T or p[1] >= T}
        new_fps = fps.filter(F.col("doc_id") >= T)
        old_fps = fps.filter(F.col("doc_id") < T)
        got = {
            (r.id_a, r.id_b): r.hd
            for r in sh.incremental_near_duplicates(
                new_fps, old_fps, max_hamming=H
            ).collect()
        }
        assert got == expected and len(got) > 0
        assert all(p[0] >= T or p[1] >= T for p in got)
        staged = {
            (r.id_a, r.id_b): r.hd
            for r in sh.incremental_near_duplicates(
                new_fps, old_fps, max_hamming=H,
                # staged projections must share the banding the budget
                # derives (r11: banding is now dynamic in max_hamming)
                old_chunks=sh.chunk_keys(old_fps, sh.banding_chunks(H)),
            ).collect()
        }
        assert staged == expected
        # ADVICE r11 #2: a staged projection banded at a DIFFERENT chunk
        # count joins (ci, cv) keys cut from different bit spans —
        # candidates silently vanish. The layout contract is enforced at
        # runtime, not just documented.
        import pytest

        with pytest.raises(ValueError, match="banded at"):
            sh.incremental_near_duplicates(
                new_fps, old_fps, max_hamming=H,
                old_chunks=sh.chunk_keys(old_fps),  # default 4-chunk layout
            ).collect()
        # r12: declared banding is the zero-scan path — same results,
        # and a WRONG declaration still raises (integer compare)
        declared = {
            (r.id_a, r.id_b): r.hd
            for r in sh.incremental_near_duplicates(
                new_fps, old_fps, max_hamming=H,
                old_chunks=sh.chunk_keys(old_fps, sh.banding_chunks(H)),
                old_chunks_banding=sh.banding_chunks(H),
            ).collect()
        }
        assert declared == expected
        with pytest.raises(ValueError, match="banded at"):
            sh.incremental_near_duplicates(
                new_fps, old_fps, max_hamming=H,
                old_chunks=sh.chunk_keys(old_fps, sh.banding_chunks(H)),
                old_chunks_banding=sh.NUM_CHUNKS,
            )
    finally:
        fps.unpersist()


def test_band_index_append_and_compaction_invariance(spark, sf_dir, tmp_path):
    # the staged band projection is an OPERATIONAL structure: batches
    # append to it (one parquet file each), and a maintenance-tick
    # compaction (writers.compact_table) must leave incremental
    # near-dup results bit-identical while cutting the file count
    import os

    from deva_spark.sources.writers import compact_table

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    T1, T2 = 300, 400
    sigs = mh.signatures(docs).persist()
    try:
        sigs.count()
        path = str(tmp_path / "bands")
        mh.band_keys(sigs.filter(F.col("doc_id") < T1)).write.parquet(path)
        for lo, hi in ((T1, 350), (350, T2)):
            mh.band_keys(
                sigs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
            ).write.mode("append").parquet(path)

        def run():
            return {
                (r.id_a, r.id_b): r.est_sim
                for r in mh.incremental_near_duplicates(
                    sigs.filter(F.col("doc_id") >= T2),
                    sigs.filter(F.col("doc_id") < T2),
                    old_bands=spark.read.parquet(path),
                ).collect()
            }

        expected = {
            (r.id_a, r.id_b): r.est_sim
            for r in mh.incremental_near_duplicates(
                sigs.filter(F.col("doc_id") >= T2),
                sigs.filter(F.col("doc_id") < T2),
            ).collect()
        }
        assert run() == expected and len(expected) > 0

        def n_files():
            return sum(
                1
                for _dp, _dn, fns in os.walk(path)
                for f in fns
                if f.endswith(".parquet")
            )

        before = n_files()
        assert before >= 3  # one per append at minimum
        compact_table(spark, path, target_mb=128)
        assert n_files() < before
        assert run() == expected
    finally:
        sigs.unpersist()


def test_incremental_shingle_overlap_matches_full_restricted(spark, docs):
    # the exact-overlap tier's incremental form: new-batch index joined
    # against the old index (+ batch self-join) == the FULL corpus
    # overlap table restricted to batch-touching pairs; and an
    # old_sizes= staged table changes nothing
    T1 = 350
    idx = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.expr(
                        "transform(sequence(1, greatest(size(split(trim(text),"
                        " '\\\\s+')) - 4, 0)), i -> concat_ws(' ',"
                        " slice(split(trim(text), '\\\\s+'), i, 5)))"
                    )
                )
            ).alias("s"),
        )
        .filter(F.length("s") > 0)
        .select("doc_id", F.xxhash64("s").alias("_sh"))
        .persist()
    )
    try:
        idx.count()
        new, old = (
            idx.filter(F.col("doc_id") >= T1),
            idx.filter(F.col("doc_id") < T1),
        )

        def as_map(df):
            return {
                (r.id_a, r.id_b): (
                    r.common,
                    r.jaccard,
                    r.cont_a_pct,
                    r.cont_b_pct,
                )
                for r in df.collect()
            }

        inc = as_map(mh.incremental_shingle_overlap(new, old))
        # full table = same operator with an empty old side over the
        # whole corpus (the self-join covers every pair)
        full = as_map(mh.incremental_shingle_overlap(idx, idx.limit(0)))
        expected = {
            p: v for p, v in full.items() if p[0] >= T1 or p[1] >= T1
        }
        assert inc == expected and len(expected) > 0
        # no old x old pair leaks in
        assert all(a >= T1 or b >= T1 for a, b in inc)
        # staged per-doc size table: same output, old index never
        # re-aggregated
        osz = old.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        assert as_map(
            mh.incremental_shingle_overlap(new, old, old_sizes=osz)
        ) == expected
        # the >= 2-doc PRUNED index (shingle5d route): |A∩B| identical
        # by construction; sizes for BOTH sides must come from the FULL
        # index (the new_sizes contract — pruned rows undercount |A|)
        cnt = (
            idx.groupBy("_sh")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter("c >= 2")
            .select("_sh")
        )
        slim = idx.join(cnt, "_sh")
        full_sizes = idx.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
        assert as_map(
            mh.incremental_shingle_overlap(
                slim.filter(F.col("doc_id") >= T1),
                slim.filter(F.col("doc_id") < T1),
                old_sizes=full_sizes.filter(F.col("doc_id") < T1),
                new_sizes=full_sizes.filter(F.col("doc_id") >= T1),
            )
        ) == expected
    finally:
        idx.unpersist()


def test_incremental_shingle_overlap_criteria(spark):
    # synthetic: one containment-only pair (short inside long), one
    # jaccard pair (identical), one unrelated — thresholds match the
    # batch operators' integer semantics
    long_doc = " ".join(f"w{i}" for i in range(30))
    short_doc = " ".join(f"w{i}" for i in range(10))  # contained run
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(0, long_doc), (1, other), (10, short_doc), (11, long_doc)],
        "doc_id long, text string",
    )
    idx = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(size(split(trim(text),"
                    " '\\\\s+')) - 4, 0)), i -> concat_ws(' ',"
                    " slice(split(trim(text), '\\\\s+'), i, 5)))"
                )
            )
        ).alias("s"),
    ).select("doc_id", F.xxhash64("s").alias("_sh"))
    out = {
        (r.id_a, r.id_b): r
        for r in mh.incremental_shingle_overlap(
            idx.filter(F.col("doc_id") >= 10),
            idx.filter(F.col("doc_id") < 10),
        ).collect()
    }
    # short (6 shingles) fully inside long (26): containment 100% of the
    # short side, jaccard 6/26 below 30% -> kept by the asymmetric arm
    assert out[(0, 10)].cont_b_pct == 100 and out[(0, 10)].jaccard < 0.3
    # identical docs: jaccard 1.0
    assert out[(0, 11)].jaccard == 1.0
    # unrelated doc shares nothing
    assert not any(1 in p for p in out)


def test_incremental_cosine_neardup_matches_full_restricted(spark, emb):
    # the semantic tier's incremental form: the batch's bucket keys join
    # the staged bucket projection (+ batch self-join) == the full
    # cosine_neardup_pairs output restricted to batch-touching pairs,
    # including the 4dp einsum rescore
    T1 = 350
    base = V.neardup_base(emb).persist()
    try:
        base.count()
        full = {
            (r.id_a, r.id_b): r.cos
            for r in V.cosine_neardup_pairs(
                emb, threshold=0.4, base=base
            ).collect()
        }
        expected = {p: c for p, c in full.items() if p[0] >= T1 or p[1] >= T1}
        got = {
            (r.id_a, r.id_b): r.cos
            for r in V.incremental_cosine_neardup(
                base.filter(F.col("vid") >= T1),
                base.filter(F.col("vid") < T1),
                threshold=0.4,
            ).collect()
        }
        assert got == expected and len(expected) > 0
        assert all(a >= T1 or b >= T1 for a, b in got)
    finally:
        base.unpersist()


def test_canonical_url_collapses_crawl_variants(spark):
    from deva_spark.functions.text import canonical_url

    variants = [
        "HTTPS://Example.COM:443/a/?utm_source=tw&b=2&a=1#frag",
        "https://example.com/a?a=1&b=2",
        "https://example.com:443/a/?b=2&a=1&utm_campaign=x",
    ]
    df = spark.createDataFrame([(u,) for u in variants], "u string")
    got = {
        r.c for r in df.select(canonical_url(F.col("u")).alias("c")).collect()
    }
    assert got == {"https://example.com/a?a=1&b=2"}  # all collapse to one

    edge = spark.createDataFrame(
        [
            ("http://example.com:80/",),
            ("http://example.com",),
            ("https://a.b:8443/p?gclid=z&y=2",),  # non-default port kept
            ("not a url",),
        ],
        "u string",
    )
    rows = [r.c for r in edge.select(canonical_url(F.col("u")).alias("c")).collect()]
    assert rows[0] == rows[1] == "http://example.com"
    assert rows[2] == "https://a.b:8443/p?y=2"
    assert rows[3] is None

    # drop_www merges the www alias; drop_params is caller-extendable
    www = spark.createDataFrame(
        [("https://www.example.com/x?ref=abc&k=1",)], "u string"
    )
    assert (
        www.select(
            canonical_url(F.col("u"), drop_www=True).alias("c")
        ).collect()[0].c
        == "https://example.com/x?k=1"
    )


def test_pq_roundtrip_recall_and_compression(spark, sf_dir=None):
    # PQ codes over the synthetic embeddings: ADC top-10 must land most
    # of brute-force cosine's top-10 (recall), codes must be m small
    # ints (compression), and encode/search must be deterministic
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    books = V.pq_train(emb, m=8, n_codes=32, train_rows=1024)
    assert books.shape[0] == 8 and books.shape[1] == 32
    codes = V.pq_encode(emb, books)
    first = codes.orderBy("vec_id").limit(5).collect()
    assert all(len(r.codes) == 8 for r in first)
    assert all(0 <= c < 32 for r in first for c in r.codes)
    # determinism: a second encode pass yields identical codes
    again = V.pq_encode(emb, books).orderBy("vec_id").limit(5).collect()
    assert [list(r.codes) for r in again] == [list(r.codes) for r in first]

    qrow = emb.orderBy("vec_id").limit(1).collect()[0]
    q = list(qrow.embedding)
    got = [r.vec_id for r in V.pq_search(codes, books, q, k=10).collect()]
    # exact cosine top-10 by numpy (independent reference)
    all_rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in all_rows])
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in all_rows])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    qv = np.array(q) / max(np.linalg.norm(q), 1e-12)
    sims = mat @ qv
    order = np.lexsort((ids, -sims))[:10]
    exact = list(ids[order])
    # the query vector itself must rank first (its own code is nearest)
    assert got[0] == qrow.vec_id
    recall = len(set(got) & set(exact)) / 10
    assert recall >= 0.5, (recall, got, exact)
    # partition invariance of the two-phase top-k
    reshuffled = [
        r.vec_id
        for r in V.pq_search(codes.repartition(13), books, q, k=10).collect()
    ]
    assert reshuffled == got


def test_ivfpq_stage_and_search(spark, tmp_path):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    centers, books = V.ivfpq_stage(emb, path, n_cells=8, m=8, n_codes=32)
    assert centers.shape[0] == 8 and books.shape == (8, 32, 8)
    staged = spark.read.parquet(path)
    # compressed postings: codes + cell only, NO embedding column
    assert set(staged.columns) == {"vec_id", "codes", "cell"}

    queries = emb.orderBy("vec_id").limit(3)
    out = V.ivfpq_search(spark, path, queries, k=10, n_probe=8)
    rows = out.collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.qid, []).append(r)
    assert len(by_q) == 3 and all(len(v) == 10 for v in by_q.values())

    # recall vs exact cosine (self excluded) over the full corpus
    all_rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in all_rows])
    mat = np.stack([np.array(r.embedding, dtype=np.float64) for r in all_rows])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    recs = []
    for qr in queries.collect():
        qv = np.array(qr.embedding, dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        sims = mat @ qv
        mask = ids != qr.vec_id
        order = np.lexsort((ids[mask], -sims[mask]))[:10]
        exact = set(ids[mask][order])
        got = {r.vec_id for r in by_q[qr.vec_id]}
        recs.append(len(got & exact) / 10)
    assert sum(recs) / len(recs) >= 0.25, recs  # raw ADC: coarse m=8 codes

    # partition invariance: ranks are a pure function of (score, vec_id)
    again = V.ivfpq_search(spark, path, queries, k=10, n_probe=8).collect()
    assert sorted(map(tuple, again)) == sorted(map(tuple, rows))

    # the standard rerank tail: ADC shortlist (code-only) + exact rescore
    # of a bounded candidate set buys the recall back
    rr = V.ivfpq_search(
        spark, path, queries, k=10, n_probe=8,
        rerank_vectors=emb, rerank_factor=8,
    ).collect()
    by_q_rr = {}
    for r in rr:
        by_q_rr.setdefault(r.qid, set()).add(r.vec_id)
    recs_rr = []
    for qr in queries.collect():
        qv = np.array(qr.embedding, dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        sims = mat @ qv
        mask = ids != qr.vec_id
        order = np.lexsort((ids[mask], -sims[mask]))[:10]
        exact_ids = set(ids[mask][order])
        recs_rr.append(len(by_q_rr[qr.vec_id] & exact_ids) / 10)
    # this corpus is near-isotropic (true top-10 cosines ~0.29-0.37 vs a
    # 0.32 p99 background — margins below the m=8 quantization noise), so
    # absolute recall bounds stay loose; the rerank lift is the contract
    assert sum(recs_rr) / len(recs_rr) >= 0.45, (recs, recs_rr)
    assert sum(recs_rr) >= sum(recs)  # rerank never hurts on average

    # strong-signal preservation: a query that IS a tiny perturbation of
    # a corpus vector must retrieve its twin first, even from codes alone
    import numpy.random as npr

    rng = npr.default_rng(7)
    twin_of = int(ids[42])
    base = mat[ids == twin_of][0]
    q2 = [float(v) for v in base + 0.01 * rng.standard_normal(base.shape)]
    q2df = spark.createDataFrame([(999_999, q2)], "vec_id long, embedding array<double>")
    top = V.ivfpq_search(spark, path, q2df, k=3, n_probe=8).collect()
    assert top[0].vec_id == twin_of


def test_ivfpq_append_serves_grown_corpus(spark, tmp_path):
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 450)
    new = emb.filter(F.col("vec_id") >= 450)
    path = str(tmp_path / "ivfpq")
    V.ivfpq_stage(old, path, n_cells=8, m=8, n_codes=32)
    V.ivfpq_append(spark, path, new)
    grown = spark.read.parquet(path)
    assert grown.count() == emb.count()
    # appended rows are encoded with the ORIGINAL codebooks (read back
    # from the sidecar), not retrained ones
    import json as _json

    with open(f"{path}/_ivfpq_meta.json") as fh:
        books0 = np.array(_json.load(fh)["codebooks"])
    a = {r.vec_id: list(r.codes) for r in grown.filter("vec_id >= 450").collect()}
    b = {
        r.vec_id: list(r.codes)
        for r in V.pq_encode(new, books0).collect()
    }
    assert a == b
    # search sees the appended vectors: a query equal to an appended
    # vector (tiny perturbation) retrieves it first
    qrow = new.orderBy(F.desc("vec_id")).limit(1).collect()[0]
    base = np.array(qrow.embedding, dtype=np.float64)
    q = [float(v) for v in base + 0.005 * np.cos(np.arange(base.size))]
    qdf = spark.createDataFrame([(888_888, q)], "vec_id long, embedding array<double>")
    top = V.ivfpq_search(spark, path, qdf, k=3, n_probe=8).collect()
    assert top[0].vec_id == qrow.vec_id


def test_nfkc_fold_collapses_unicode_variants(spark):
    variants = [
        (1, "Ｃａｆé"),        # fullwidth Ｃａｆé
        (2, "CAFÉ"),                        # CAFÉ
        (3, "café"),                       # cafe + combining acute
        (4, "café"),                        # café
        (5, "completely different"),
        (6, None),
    ]
    df = spark.createDataFrame(variants, "doc_id long, text string")
    out = {
        r.doc_id: r.k
        for r in df.select("doc_id", T.nfkc_fold(F.col("text")).alias("k")).collect()
    }
    assert out[1] == out[2] == out[3] == out[4] == "cafe"
    assert out[5] != out[1] and out[6] is None
    # composes with the digest key: one fingerprint per folded equivalence class
    keys = df.select(
        F.md5(T.nfkc_fold(F.col("text"))).alias("fp")
    ).na.drop().distinct().count()
    assert keys == 2


def test_cosine_neardup_grouped_matches_pair_join_route(spark):
    # the bucket-local gram formulation must be BIT-IDENTICAL to the
    # candidate-pair-join route (same rounded doubles, same pair set) —
    # x23 rides the grouped route on this contract
    import numpy as np

    rng = np.random.RandomState(7)
    base_v = rng.randn(40, 64)
    rows = []
    for i in range(40):
        rows.append((i, base_v[i].tolist()))
        # planted near-dups: small perturbations collide in buckets
        if i % 5 == 0:
            rows.append((100 + i, (base_v[i] + 0.01 * rng.randn(64)).tolist()))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    base = V.neardup_base(emb).persist()
    base.count()
    try:
        old = sorted(
            map(tuple, V.cosine_neardup_pairs(emb, threshold=0.3, base=base).collect())
        )
        new = sorted(
            map(tuple, V.cosine_neardup_pairs_grouped(base, threshold=0.3).collect())
        )
        assert old == new and len(old) > 0
    finally:
        base.unpersist()


def test_simhash_wide_budget_finds_spread_bit_pairs(spark):
    # r11 review: with the fixed 4-chunk banding, a pair differing in
    # exactly 4 bits — one per 12-bit chunk — shared NO chunk key and
    # was silently absent for max_hamming=4. Dynamic banding
    # (banding_chunks = max_hamming + 1 chunks) restores the pigeonhole
    # guarantee for any budget.
    base = 0x123456789ABC
    spread = base ^ ((1 << 0) | (1 << 12) | (1 << 24) | (1 << 36))
    fps = spark.createDataFrame(
        [(1, base), (2, spread)], "doc_id long, fp long"
    )
    docs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    got3 = sh.near_duplicates(docs, max_hamming=3, fps=fps).collect()
    assert got3 == []  # hd=4 > 3: correctly out of budget
    got4 = {
        (r.id_a, r.id_b): r.hd
        for r in sh.near_duplicates(docs, max_hamming=4, fps=fps).collect()
    }
    assert got4 == {(1, 2): 4}  # previously silently missed
    # default banding unchanged: 4 chunks, historical 12-bit spans
    assert sh.banding_chunks(3) == sh.NUM_CHUNKS == 4
    spans = {r.ci: r.cv for r in sh.chunk_keys(fps.filter("doc_id = 1")).collect()}
    assert spans == {i: (base >> (12 * i)) & 0xFFF for i in range(4)}


def test_simhash_budget_without_covering_banding_raises(spark):
    # banding_chunks caps at 48 chunks (one bit each), so a budget of 48
    # bits has no pigeonhole banding: fps 0 and 2**48 - 1 (hd = 48)
    # differ in every chunk and came back as no pair at all. The budget
    # is now rejected instead of under-recalled.
    import pytest

    fps = spark.createDataFrame(
        [(1, 0), (2, (1 << 48) - 1)], "doc_id long, fp long"
    )
    docs = spark.createDataFrame([(1, "x"), (2, "y")], "doc_id long, text string")
    assert sh.near_duplicates(docs, max_hamming=47, fps=fps).collect() == []
    with pytest.raises(ValueError, match="max_distance"):
        sh.near_duplicates(docs, max_hamming=48, fps=fps)
    with pytest.raises(ValueError, match="max_distance"):
        sh.incremental_near_duplicates(
            fps.filter("doc_id = 2"), fps.filter("doc_id = 1"), max_hamming=48
        )


def test_minhash_column_twin_nulls_short_docs(spark):
    # r12 review (reproduced): the column-expression twin returned an
    # array of 12 NULLs for NULL/<3-token texts where _signature_py
    # returns None — the [NULL]*12 form passed signatures()' isNotNull
    # filter and collided every short doc into one md5('') LSH bucket.
    df = spark.createDataFrame(
        [(1, "one two"), (2, None), (3, "a proper three token text")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.s
        for r in df.select(
            "doc_id", mh.minhash_signature(F.col("text")).alias("s")
        ).collect()
    }
    assert rows[1] is None and rows[2] is None
    assert rows[3] == mh._signature_py("a proper three token text")


def test_band_keys_declared_width(spark):
    # r12 review (reproduced): band_keys hardcoded NUM_HASHES — a
    # narrower signature crashed with an ANSI array-index error. The
    # width is now a declared parameter, and est_sim scales by the
    # ACTUAL signature length.
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta")],
        "doc_id long, text string",
    )
    sigs = docs.select(
        "doc_id", mh.minhash_signature(F.col("text"), num_hashes=6).alias("sig")
    )
    bands = mh.band_keys(sigs, band_size=3, num_hashes=6).collect()
    assert len(bands) == 2 * 2  # 2 docs x 2 bands
    pairs = mh.lsh_candidate_pairs(sigs, band_size=3, num_hashes=6).collect()
    assert [(r.id_a, r.id_b) for r in pairs] == [(1, 2)]
    # identical docs: 6/6 matches -> est_sim 1.0 with the length-aware
    # denominator (the hardcoded /12 would have said 0.5)
    out = mh._verify_candidates(
        mh.lsh_candidate_pairs(sigs, band_size=3, num_hashes=6), sigs, 3
    ).collect()
    assert out[0].est_sim == 1.0
