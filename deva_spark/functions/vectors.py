"""Embedding similarity search: cosine top-k (brute force + LSH-bucketed).

North-star operators for a training-data pipeline (BASELINE.json): the
reference has no vector search; this is the Spark-native design.

Determinism for oracle parity: the dot product is a left-to-right fold over
index order (``aggregate(zip_with(...))``) — the same sequential order a
scalar loop uses — so Spark and DuckDB produce bit-identical doubles, and
ranking on the rounded score with an id tie-break is stable across engines.

Scale notes: brute force is a broadcast nested-loop of Q query vectors
against N candidates — linear in N, embarrassingly parallel, the correct
baseline when Q is small. The LSH variant buckets vectors by random
hyperplane signs so candidate generation touches only same-bucket pairs —
the 100 TB path (recall < 1 by design, like any ANN).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, LongType


def _half_up(raw: "np.ndarray", scale: float = 1e4) -> "np.ndarray":
    """HALF_UP rounding to ``1/scale`` — the cross-engine contract for
    every numpy-side cosine in this module (DEVIATIONS #13 / ADVICE r7):
    DuckDB's ROUND is HALF_UP while ``np.round`` is half-to-even, so the
    two diverge exactly at .xxxx5 boundaries. ONE shared helper instead
    of a hand-typed idiom per operator (r11 review) — a typo in one copy
    would silently break oracle parity for just that operator."""
    return np.floor(np.abs(raw) * scale + 0.5) / scale * np.sign(raw)


def dot(a: Column, b: Column) -> Column:
    """Sequential-order dot product of two array<float/double> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm, floored at 1e-12 (r12 review): every consumer divides
    by it, and an unguarded zero-norm embedding turns the cosine into
    NaN — which Spark's descending sort ranks FIRST (NaN compares
    largest) while the numpy mirrors rank it LAST, so staged/unstaged
    and onepass/join formulations silently disagreed on degenerate
    corpora. Floored, a zero vector scores ~0 against everything — out
    of every top-k and below every near-dup threshold, identically on
    all routes (the grouped/ivfpq numpy paths already guarded)."""
    return F.greatest(F.sqrt(dot(a, a)), F.lit(1e-12))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt_buckets: int = 32,
) -> DataFrame:
    """Exact cosine top-k per query vector.

    queries is broadcast (small Q); every candidate partition scores its
    rows against all queries, then a TWO-PHASE top-k (VERDICT r10 #3):
    phase 1 ranks within (qid, salt) where salt = xxhash64(vec_id) %
    ``salt_buckets`` — |Q| x salt_buckets reducers, each seeing ~1/salt
    of one query's candidates — and keeps k per bucket; phase 2 ranks
    the surviving |Q| x salt_buckets x k rows per qid. Exact by
    construction (the global top-k per qid is contained in the union of
    per-bucket top-k; the (cos desc, vec_id) key is a total order), and
    the per-reducer row volume no longer scales with the corpus under a
    fixed query count. Output: (qid, vec_id, cos, rnk) with cos rounded
    to 4dp before ranking so the ordering is reproducible across
    engines.
    """
    # Norms are precomputed per vector (not per pair): the pairwise stage
    # then does ONE fold per pair instead of three.
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("ce"),
        norm(F.col(vec_col)).alias("cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    from deva_spark.operators.windows import small_input

    w2 = Window.partitionBy("qid").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    if small_input(vectors):
        # adaptive cutover (the global_positions discipline): below the
        # small-input threshold the candidate side fits one reducer per
        # qid comfortably and the salt phase is pure overhead; plan
        # tests zero the threshold to audit the scale shape
        return (
            scored.withColumn("rnk", F.row_number().over(w2))
            .filter(F.col("rnk") <= k)
            .select("qid", "vec_id", "cos", "rnk")
        )
    w1 = Window.partitionBy("qid", "_salt").orderBy(
        F.col("cos").desc(), F.col("vec_id")
    )
    local = (
        scored.withColumn(
            "_salt",
            F.pmod(F.xxhash64(F.col("vec_id")), F.lit(salt_buckets)),
        )
        .withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= k)
    )
    return (
        local.withColumn("rnk", F.row_number().over(w2))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos", "rnk")
    )


def hyperplane_signs(vec: Column, planes: list[list[float]]) -> Column:
    """LSH bucket id: sign bits of dot products with fixed random
    hyperplanes, packed into a bigint."""
    bits = [
        F.when(dot(vec, F.array(*[F.lit(v) for v in p])) >= 0, F.lit(1 << i)).otherwise(
            F.lit(0)
        )
        for i, p in enumerate(planes)
    ]
    out = bits[0]
    for bcol in bits[1:]:
        out = out + bcol
    return out


def deterministic_planes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Fixed pseudo-random hyperplanes (LCG — library-free, reproducible)."""
    state = seed
    planes = []
    for _ in range(n_planes):
        p = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            p.append((state / float(1 << 64)) * 2.0 - 1.0)
        planes.append(p)
    return planes


def lsh_bucketed_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via multi-table random-hyperplane LSH.

    ``n_tables`` independent hash tables of ``n_planes`` sign bits each; a
    candidate is scored if it shares a bucket with the query in ANY table
    (collision prob per table for angle θ: (1-θ/π)^n_planes — multiple
    tables trade compute for recall, the standard ANN knob). Candidates are
    deduped before the (expensive) exact scoring. Output shape matches
    brute_force_topk; recall measured against it in tests, not equality.
    """
    planes_mat = np.array(deterministic_planes(dim, n_planes * n_tables))  # (T*P, dim)
    # One numpy matmul per Arrow batch instead of T*P*dim literal-laden
    # column expressions (whole-stage codegen chokes on ~2k embedded
    # literals: observed 8.9 s of mostly planning/compile time).
    bucket_ids = _bucket_ids_udf(planes_mat, n_tables, n_planes)

    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        norm(F.col(vec_col)).alias("qn"),
    )
    c = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("ce"),
        norm(F.col(vec_col)).alias("cn"),
    )
    qb = q.select("qid", F.posexplode(bucket_ids(F.col("qe"))).alias("t", "b"))
    cb = c.select("vec_id", F.posexplode(bucket_ids(F.col("ce"))).alias("t", "b"))
    cand = (
        cb.join(F.broadcast(qb), ["t", "b"])
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id")
        .distinct()
    )
    scored = (
        cand.join(F.broadcast(q), "qid")
        .join(c, "vec_id")
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos", "rnk")
    )


def _bucket_ids_udf(planes_mat: "np.ndarray", n_tables: int, n_planes: int):
    """pandas UDF: per vector, one packed sign-bucket id per hash table —
    one numpy matmul per Arrow batch (see lsh_bucketed_topk)."""
    weights = 1 << np.arange(n_planes)

    @pandas_udf(ArrayType(LongType()))
    def bucket_ids(vecs: pd.Series) -> pd.Series:
        # float64 before the matmul: the oracle computes sign-of-dot in
        # DOUBLE, and float32 accumulation error (~1e-6 relative) is wide
        # enough to flip a near-zero sign that double arithmetic wouldn't
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ planes_mat.T) >= 0
        signs = signs.reshape(len(m), n_tables, n_planes)
        return pd.Series(list((signs * weights).sum(axis=2)))

    return bucket_ids


def lsh_topk_onepass(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_planes: int = 4,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Single-pass formulation of :func:`lsh_bucketed_topk` — identical
    results (same double-precision sign buckets, same any-table
    candidate rule, same HALF_UP 4dp cosine, same (cos desc, id) order),
    restructured for scale: query buckets are computed driver-side
    (queries are small by contract — the ivf_search_staged pattern),
    and ONE ``mapInPandas`` pass over the vectors does bucket-match +
    rescore + per-partition top-k in numpy. The only shuffled rows are
    the <= partitions*k*Q partial winners into the bounded global
    top-k merge (exact: global top-k under the (cos desc, vec_id) total
    order is partition-invariant — the x72 argument) — versus the
    explode/distinct/rescore-join pipeline's three data-sized shuffles.

    Rescore uses a numpy matmul (pairwise summation) where the join
    formulation folds left-to-right — ~1e-15 relative, invisible at the
    4dp rounding (DEVIATIONS #13, the x32 contract).
    """
    planes_mat = np.array(deterministic_planes(dim, n_planes * n_tables))
    weights = 1 << np.arange(n_planes)

    def _buckets(m: "np.ndarray") -> "np.ndarray":
        s = (m @ planes_mat.T) >= 0
        return (s.reshape(len(m), n_tables, n_planes) * weights).sum(axis=2)

    q_rows = queries.select(id_col, vec_col).collect()  # small by contract
    if not q_rows:
        # zero query rows: an empty result with the right schema, like
        # the staged siblings (np.stack([]) would raise — r12 review)
        return queries.sparkSession.createDataFrame(
            [], "qid long, vec_id long, cos double, rnk int"
        )
    qids = np.array([r[0] for r in q_rows], dtype=np.int64)
    qm = np.stack([np.array(r[1], dtype=np.float64) for r in q_rows])
    qnorm = np.maximum(np.linalg.norm(qm, axis=1), 1e-12)
    qb = _buckets(qm)  # (Q, T)

    def _score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vids = pdf[id_col].to_numpy().astype(np.int64)
            cb = _buckets(M)  # (N, T)
            match = (cb[:, None, :] == qb[None, :, :]).any(axis=2)  # (N, Q)
            out_q, out_v, out_c = [], [], []
            for qi in range(len(qids)):
                mask = match[:, qi] & (vids != qids[qi])
                if not mask.any():
                    continue
                V_ = M[mask]
                v_ = vids[mask]
                raw = (V_ @ qm[qi]) / (
                    np.maximum(np.linalg.norm(V_, axis=1), 1e-12)
                    * qnorm[qi]
                )
                # HALF_UP, matching F.round/duckdb ROUND
                c_ = _half_up(raw)
                top = np.lexsort((v_, -c_))[:k]
                out_q.extend([qids[qi]] * len(top))
                out_v.extend(v_[top])
                out_c.extend(c_[top])
            yield pd.DataFrame(
                {"qid": out_q, "vec_id": out_v, "cos": out_c}
            ).astype({"qid": "int64", "vec_id": "int64", "cos": "float64"})

    partial = vectors.select(id_col, vec_col).mapInPandas(
        _score, "qid long, vec_id long, cos double"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        partial.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos", "rnk")
    )


def _pair_cos_udf():
    """Vectorized pair-dot rescore: one numpy einsum per Arrow batch
    instead of an interpreted higher-order-function fold per pair (HOFs
    don't codegen; observed 3 s -> sub-second on 130k candidates).
    float32 -> float64 cast before the multiply matches the oracle's
    CAST(x AS DOUBLE); numpy's pairwise summation can differ from the
    sequential fold by ~1e-15, invisible at 4 dp except for a
    measure-zero .xxxx5 boundary."""
    from pyspark.sql.types import DoubleType

    @pandas_udf(DoubleType())
    def pair_cos(a: pd.Series, b: pd.Series) -> pd.Series:
        ma = np.stack(a.to_numpy()).astype(np.float64)
        mb = np.stack(b.to_numpy()).astype(np.float64)
        return pd.Series(np.einsum("ij,ij->i", ma, mb))

    # every call site projects cos = f(pair_cos(...)) and then filters on
    # cos; the optimizer pushes that filter below the projection and
    # duplicates the UDF — one ArrowEvalPython under the filter, a second
    # above it re-scoring every SURVIVING pair (guide §4.4; x88 plan had
    # two ArrowEvalPython nodes for one rescore). asNondeterministic
    # forbids the copy, so each candidate pair pays the dot product once.
    # The UDF is in fact a pure function — the flag only constrains the
    # optimizer, results are unchanged.
    return pair_cos.asNondeterministic()


def neardup_base(
    vectors: DataFrame,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector bucket table ``(vid, e, n, bs)`` feeding
    :func:`cosine_neardup_pairs`: the embedding, its norm, and the
    multi-table hyperplane bucket ids — all per-vector functions, so
    the table is a build-once artifact (the doc_sigs pattern)."""
    planes_mat = np.array(deterministic_planes(dim, n_planes * n_tables))
    bucket_ids = _bucket_ids_udf(planes_mat, n_tables, n_planes)
    return vectors.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).alias("e"),
        norm(F.col(vec_col)).alias("n"),
        bucket_ids(F.col(vec_col)).alias("bs"),
    )


def cosine_neardup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 6,
    n_tables: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    base: DataFrame | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: (id_a < id_b, cos) with
    cosine >= ``threshold`` — the embedding tier of the dedup stack
    (exact md5 → MinHash/SimHash text tiers → this semantic tier).

    ``base``: a precomputed ``(vid, e, n, bs)`` bucket table (see
    :func:`neardup_base` — norms and bucket signatures are per-vector
    functions of the embedding, the doc_sigs staging pattern; the
    caller owns its persistence). When omitted it is computed and
    checkpointed here.

    Scale shape: candidates come from a multi-table hyperplane-LSH bucket
    SELF-join (same machinery as :func:`lsh_bucketed_topk` — the shuffle
    carries (table, bucket, id) triples, never embeddings), deduped, then
    exactly rescored with the sequential-fold dot product. Recall < 1 by
    design (raise ``n_tables`` / lower ``n_planes`` to trade compute for
    recall); precision is exact. The deterministic planes let the DuckDB
    oracle reproduce candidate generation bit-for-bit.

    The bucket table built here is an eager local checkpoint (it feeds
    both candidate sides + the rescore); its blocks belong to the result
    and are freed once the result is dropped.
    """
    if base is None:
        base = neardup_base(
            vectors, n_planes, n_tables, dim, id_col, vec_col
        ).localCheckpoint(eager=True)
    buckets = base.select("vid", F.posexplode("bs").alias("t", "b"))
    cand = (
        buckets.alias("a")
        .join(buckets.alias("b"), ["t", "b"])
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(F.col("a.vid").alias("id_a"), F.col("b.vid").alias("id_b"))
        .distinct()
    )
    ea = base.select(F.col("vid").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na"))
    eb = base.select(F.col("vid").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb"))

    pair_cos = _pair_cos_udf()
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(pair_cos(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")), 4).alias(
                "cos"
            ),
        )
        .filter(F.col("cos") >= threshold)
    )


def cosine_neardup_pairs_grouped(
    base: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Bucket-local formulation of :func:`cosine_neardup_pairs` over a
    precomputed ``(vid, e, n, bs)`` base — identical results, different
    shuffle shape: instead of materializing the candidate PAIR set and
    joining each pair back to two embedding rows (the pair join ships
    ~2 x dim doubles PER PAIR — the dominant cost once buckets grow),
    every (table, bucket) group computes its pairwise cosines LOCALLY
    with one numpy gram per group (the semdedup_pairs shape), emits only
    qualifying pairs, and a global DISTINCT collapses pairs that
    collide in several tables (the cosine is a pure function of the two
    vectors, so every table computes the identical rounded double).

    Shuffle inventory: each vector ships once per table
    (n_tables x dim doubles per VECTOR, not per pair) + the bounded
    qualifying-pair set. 4dp HALF_UP before the threshold keeps the
    cross-engine contract; (id_a < id_b) ordering matches the pair-join
    route exactly (parity-tested)."""
    exploded = base.select(
        "vid", "e", F.posexplode("bs").alias("t", "b")
    )

    thr = float(threshold)

    def _bucket_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vid"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack(pdf["e"].to_numpy())[order].astype(np.float64)
        u = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        raw = u @ u.T
        s = _half_up(raw)
        iu = np.triu_indices(len(ids), 1)
        keep = s[iu] >= thr
        return pd.DataFrame(
            {
                "id_a": ids[iu[0][keep]],
                "id_b": ids[iu[1][keep]],
                "cos": s[iu][keep],
            }
        )

    # Cross-table collision dedup keys on (id_a, id_b) ONLY (max of cos
    # across collisions, ADVICE r9): the rounded score is computed by
    # BLAS gram kernels over different bucket-group sizes, so a last-ulp
    # difference at a .xxxx5 rounding boundary could otherwise emit the
    # same pair twice with two cos values — pair-set equality must never
    # depend on bit-identical floating summation across groups. (In the
    # non-degenerate case every collision carries the same rounded cos,
    # and max() of identical values is that value, so this is
    # hash-identical to the old distinct().)
    # no trailing orderBy: the contract is pair-SET equality with
    # cosine_neardup_pairs (unordered), so a global range-partition sort
    # here would be pure overhead on the scaled path (r11 review) —
    # consumers that need display order sort the bounded result
    return (
        exploded.groupBy("t", "b")
        .applyInPandas(_bucket_pairs, "id_a long, id_b long, cos double")
        .groupBy("id_a", "id_b")
        .agg(F.max("cos").alias("cos"))
    )


def incremental_cosine_neardup(
    new_base: DataFrame,
    old_base: DataFrame,
    threshold: float = 0.9,
) -> DataFrame:
    """Incremental SEMANTIC near-dup — the x77/x80/x82 contract on the
    embedding tier, the last detection tier to get its batch-incremental
    form: the NEW batch's (table, bucket) keys join the existing
    corpus's staged bucket projection (:func:`neardup_base` — norms and
    bucket signatures are per-vector functions, so batch rows append to
    the staged table with no rebuild) plus a batch self-join; old x old
    candidates never recompute. Every candidate is exactly rescored
    with the shared einsum dot — identical arithmetic to
    :func:`cosine_neardup_pairs`, so the output equals the full-corpus
    pair set restricted to pairs touching the batch (parity-tested).

    Inputs are ``(vid, e, n, bs)`` base tables; vid sets must be
    disjoint. The caller owns persistence (the staged old table is
    parquet; persist the batch side if it is not already materialized).

    Scale shape: candidate shuffles carry (table, bucket, id) triples,
    never embeddings; the rescore joins embeddings per candidate only.
    At corpus scale stage the old bucket projection BUCKETED by
    (t, b) so each batch's lookup shuffles only the batch side.
    """
    nb = new_base.select("vid", F.posexplode("bs").alias("t", "b"))
    ob = old_base.select("vid", F.posexplode("bs").alias("t", "b"))
    cross = (
        nb.select(F.col("vid").alias("nid"), "t", "b")
        .join(ob.select(F.col("vid").alias("oid"), "t", "b"), ["t", "b"])
        .select(
            F.least("nid", "oid").alias("id_a"),
            F.greatest("nid", "oid").alias("id_b"),
        )
    )
    selfp = (
        nb.select(F.col("vid").alias("id_a"), "t", "b")
        .join(nb.select(F.col("vid").alias("id_b"), "t", "b"), ["t", "b"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    cand = cross.unionByName(selfp).distinct()
    allb = new_base.select("vid", "e", "n").unionByName(
        old_base.select("vid", "e", "n")
    )
    ea = allb.select(
        F.col("vid").alias("id_a"), F.col("e").alias("ea"), F.col("n").alias("na")
    )
    eb = allb.select(
        F.col("vid").alias("id_b"), F.col("e").alias("eb"), F.col("n").alias("nb")
    )
    pair_cos = _pair_cos_udf()
    return (
        cand.join(ea, "id_a")
        .join(eb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                pair_cos(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb")),
                4,
            ).alias("cos"),
        )
        .filter(F.col("cos") >= threshold)
    )


def _nearest_cell_udf(centers: "np.ndarray"):
    """pandas UDF: per vector, cell indices ordered by cosine to centers."""
    mat = centers

    @pandas_udf(ArrayType(LongType()))
    def nearest_cells(vecs: pd.Series) -> pd.Series:
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        sims = m @ mat.T
        # stable: exact cosine ties resolve to the LOWER cell id, the same
        # tie-break the SQL oracle's (sim DESC, cell ASC) ordering uses
        order = np.argsort(-sims, axis=1, kind="stable")
        return pd.Series(list(order.astype(np.int64)))

    return nearest_cells


def ivf_centers(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """The IVF coarse quantizer (shared by :func:`ivf_topk` and
    :func:`ivf_stage`): deterministic data seeds (first ``n_cells``
    vectors by id) refined by one distributed Lloyd step. Both passes
    are full-table aggregations; only the n_cells×dim center matrix
    reaches the driver."""
    seed_rows = (
        vectors.orderBy(id_col).limit(n_cells).select(vec_col).collect()
    )
    seeds = np.stack([np.array(r[0], dtype=np.float64) for r in seed_rows])
    seeds = seeds / np.maximum(np.linalg.norm(seeds, axis=1, keepdims=True), 1e-12)

    # one Lloyd iteration: mean of members per seed-cell — ONE shuffle on
    # the cell id, one numpy mean per group (applyInPandas), instead of a
    # posexplode + two aggregations + collect_list sort (measured 4 s -> 1 s)
    assign0 = _nearest_cell_udf(seeds)

    def _cell_mean(pdf: pd.DataFrame) -> pd.DataFrame:
        # sort members: the mean's float rounding must not depend on the
        # nondeterministic arrival order of rows within the group
        pdf = pdf.sort_values("vid")
        m = np.stack(pdf["e"].to_numpy()).astype(np.float64)
        return pd.DataFrame({"cell": [int(pdf["cell"].iloc[0])], "c": [m.mean(axis=0)]})

    center_rows = (
        vectors.select(
            F.col(id_col).alias("vid"),
            assign0(F.col(vec_col))[0].alias("cell"),
            F.col(vec_col).alias("e"),
        )
        .groupBy("cell")
        .applyInPandas(_cell_mean, "cell long, c array<double>")
        .collect()
    )
    centers = seeds.copy()
    for r in center_rows:
        centers[r["cell"]] = np.array(r["c"], dtype=np.float64)
    return centers / np.maximum(np.linalg.norm(centers, axis=1, keepdims=True), 1e-12)


def ivf_stage(
    vectors: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> np.ndarray:
    """Write the corpus as a CELL-PARTITIONED table — the 100 TB IVF
    layout :func:`ivf_topk`'s docstring promises: cell assignment becomes
    the table's physical partitioning, so a search touches only its probe
    cells' files via partition pruning (no index structure beyond the
    directory layout + an ``n_cells×dim`` centers sidecar).

    Returns the centers; they are also written to
    ``<path>/_ivf_centers.json`` so :func:`ivf_search_staged` needs only
    the path. Re-staging is a full rewrite — IVF postings are immutable
    artifacts (rebuild on drift, like the signature tables)."""
    import json
    import os

    centers = ivf_centers(vectors, n_cells, id_col, vec_col)
    nearest = _nearest_cell_udf(centers)
    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        nearest(F.col(vec_col))[0].alias("cell"),
    )
    staged.write.partitionBy("cell").mode("overwrite").parquet(path)
    # sidecar LAST (overwrite clears the dir): it doubles as the
    # completion marker. Carries the table schema so the search path
    # skips parquet-footer schema inference on every read.
    with open(os.path.join(path, "_ivf_centers.json"), "w") as f:
        json.dump(
            {"centers": centers.tolist(), "schema": staged.schema.json()}, f
        )
    return centers


def ivf_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a NEW vector batch to an :func:`ivf_stage`-written layout
    without retraining — the x77 incremental contract on the vector
    side: new vectors are assigned to the EXISTING cells (the sidecar's
    centers, exactly the arithmetic `ivf_stage` ran) and land as
    appended files inside their cells' partition directories. The
    centers sidecar is untouched, so :func:`ivf_search_staged` serves
    the grown corpus immediately — per-batch cost is one assignment
    pass + a partitioned parquet append, never a corpus rewrite.

    Centers drift as the corpus grows; restage on drift exactly like
    the signature tables (the IVF literature's retrain-vs-insert
    trade — inserts keep serving, retrains restore cell balance)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centers.json")) as f:
        meta = json.load(f)
    centers = np.array(
        meta["centers"] if isinstance(meta, dict) else meta,
        dtype=np.float64,
    )
    nearest = _nearest_cell_udf(centers)
    (
        new_vectors.select(
            F.col(id_col).alias("vec_id"),
            F.col(vec_col).alias("embedding"),
            nearest(F.col(vec_col))[0].alias("cell"),
        )
        .write.partitionBy("cell")
        .mode("append")
        .parquet(path)
    )


def ivf_retract(
    spark,
    path: str,
    forget: DataFrame,
    id_col: str = "vec_id",
) -> int:
    """Remove a forget-list from an :func:`ivf_stage`-written layout —
    the deletion side of :func:`ivf_append` (the `dedup.retract_rows`
    contract on the vector tier): only the partition directories of
    cells that actually CONTAIN a forgotten vector are rewritten, via
    dynamic partition overwrite; every other cell's files are untouched
    bytes. Locating the affected cells scans just the pruned ``vec_id``
    column (parquet column pruning), and the forget-list is a bounded
    request batch by contract, so both the membership broadcast and the
    affected-cell collect are metadata-sized.

    The centers sidecar is deliberately untouched: deletion cannot
    un-train a centroid any more than it can recover a retracted
    min/max (the `retract_stat_partials` honesty boundary) — the cells
    drift-restage on the same schedule as growth. Search over the
    retracted layout equals search over the surviving corpus exactly
    (assignments of survivors are unchanged; parity-tested).

    A cell emptied entirely by the retraction is removed explicitly —
    dynamic overwrite only replaces partitions present in the written
    data, so an emptied cell would otherwise keep its stale files.
    Returns the number of cell partitions rewritten or removed.
    """
    import json
    import os
    import shutil

    from pyspark.sql.types import StructType

    with open(os.path.join(path, "_ivf_centers.json")) as f:
        meta = json.load(f)
    reader = spark.read
    if isinstance(meta, dict) and "schema" in meta:
        reader = reader.schema(StructType.fromJson(json.loads(meta["schema"])))
    tbl = reader.parquet(path)
    fg = forget.select(F.col(forget.columns[0]).alias("vec_id")).distinct()
    per_cell = (
        tbl.select("vec_id", "cell")
        .join(F.broadcast(fg), "vec_id", "left_semi")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_forgotten"))
        .collect()
    )
    affected = [r.cell for r in per_cell]
    if not affected:
        return 0
    survivors = tbl.filter(F.col("cell").isin(affected)).join(
        F.broadcast(fg), "vec_id", "left_anti"
    )
    nonempty = {
        r.cell
        for r in survivors.groupBy("cell").agg(F.count(F.lit(1))).collect()
    }
    if nonempty:
        (
            survivors.filter(F.col("cell").isin(list(nonempty)))
            .select("vec_id", "embedding", "cell")
            .write.partitionBy("cell")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(path)
        )
    for cell in set(affected) - nonempty:
        shutil.rmtree(os.path.join(path, f"cell={cell}"), ignore_errors=True)
    return len(affected)


def ivf_search_staged(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k over an :func:`ivf_stage`-written table.

    The query side is small by contract (the centers pattern: bounded
    metadata), so it is collected ONCE and probe assignment runs in
    numpy on the driver — the identical arithmetic the assignment UDF
    runs (normalize, batch matmul, stable descending argsort). The
    probe-cell set becomes an ``isin`` filter on the PARTITION column,
    so the scan reads only those cells' files (static partition
    pruning), and scoring rides the partitioning: one ``mapInPandas``
    stage computes each cell's query×member cosine block as a numpy
    matmul and emits only the per-(query, cell) top-k — top-k is
    distributive over any partition of the candidates, so ranking the
    ≤ |Q|×n_probe×k survivors in a final micro-window is exact. No
    join shuffle at all; the batch matmul's pairwise summation vs the
    oracle's sequential fold is the DEVIATIONS #13 contract (≈1e-15,
    invisible at the 4dp rounding; hash-verified at three SFs).
    Output: (qid, vec_id, cos, rnk)."""
    import json
    import os

    with open(os.path.join(path, "_ivf_centers.json")) as f:
        meta = json.load(f)
    if isinstance(meta, dict):
        centers = np.array(meta["centers"], dtype=np.float64)
        from pyspark.sql.types import StructType

        reader = spark.read.schema(
            StructType.fromJson(json.loads(meta["schema"]))
        )
    else:  # pre-schema sidecar format: a bare centers list
        centers = np.array(meta, dtype=np.float64)
        reader = spark.read
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, vec_id long, cos double, rnk int"
        )
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    qm = np.stack([np.array(r[1], dtype=np.float64) for r in qrows])
    qnorm = np.maximum(np.linalg.norm(qm, axis=1), 1e-12)
    qunit = qm / qnorm[:, None]
    order = np.argsort(-(qunit @ centers.T), axis=1, kind="stable")[:, :n_probe]
    probe_cells = sorted({int(c) for c in order.ravel()})
    q_by_cell: dict[int, list[int]] = {}
    for i in range(len(qids)):
        for cell in order[i]:
            q_by_cell.setdefault(int(cell), []).append(i)

    def _score(batches):
        for pdf in batches:
            out_q, out_v, out_c = [], [], []
            for cell, grp in pdf.groupby("cell"):
                idxs = q_by_cell.get(int(cell))
                if not idxs:
                    continue
                M = np.stack(grp["embedding"].to_numpy()).astype(np.float64)
                vids = grp["vec_id"].to_numpy().astype(np.int64)
                # zero-norm guard like every sibling numpy path (r12
                # review: staged vs unstaged disagreed on a degenerate
                # vector — NaN ranks last in lexsort, first in Spark)
                mn = np.maximum(np.linalg.norm(M, axis=1), 1e-12)
                raw = (qm[idxs] @ M.T) / (qnorm[idxs][:, None] * mn[None, :])
                # HALF_UP to match F.round/duckdb ROUND (ADVICE r7:
                # np.round is half-to-even and can diverge from the
                # unstaged route at exact .00005 cosine boundaries)
                cos = _half_up(raw)
                for row, qi in enumerate(idxs):
                    mask = vids != qids[qi]
                    c_, v_ = cos[row][mask], vids[mask]
                    top = np.lexsort((v_, -c_))[:k]
                    out_q.extend([qids[qi]] * len(top))
                    out_v.extend(v_[top])
                    out_c.extend(c_[top])
            yield pd.DataFrame(
                {"qid": out_q, "vec_id": out_v, "cos": out_c}
            ).astype({"qid": "int64", "vec_id": "int64", "cos": "float64"})

    cand = (
        reader.parquet(path)
        .filter(F.col("cell").isin(probe_cells))  # partition pruning
        .select("cell", "vec_id", "embedding")
        .mapInPandas(_score, "qid long, vec_id long, cos double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos", "rnk")
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: the corpus is partitioned
    into ``n_cells`` Voronoi cells around k-means-lite centroids; a query
    scores only the ``n_probe`` nearest cells' members.

    The coarse quantizer is k-means-lite: deterministic data seeds (first
    ``n_cells`` vectors by id) refined by one distributed Lloyd step —
    both passes are full-table aggregations, only the n_cells×dim center
    matrix ever reaches the driver. At 100 TB the cell assignment is the
    table's physical partitioning — each query touches n_probe/n_cells of
    the data.
    """
    centers = ivf_centers(vectors, n_cells, id_col, vec_col)
    nearest = _nearest_cell_udf(centers)
    c = vectors.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("ce"),
        norm(F.col(vec_col)).alias("cn"),
        nearest(F.col(vec_col))[0].alias("cell"),  # member: its own cell
    )
    q = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qe"),
        norm(F.col(vec_col)).alias("qn"),
        F.explode(F.slice(nearest(F.col(vec_col)), 1, n_probe)).alias("cell"),
    )
    scored = (
        c.join(F.broadcast(q), "cell")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            F.round(
                dot(F.col("qe"), F.col("ce")) / (F.col("qn") * F.col("cn")), 4
            ).alias("cos"),
        )
        # no dedup needed: each member carries exactly ONE cell and a
        # query's n_probe cells are distinct (slice of an argsort
        # permutation), so the join yields at most one row per
        # (qid, vec_id) — the old dropDuplicates was a full extra
        # shuffle over the scored set for nothing (r12 review)
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "cos", "rnk")
    )


def centroids(vectors: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """Per-label mean vector (IVF coarse quantizer building block):
    element-wise average via posexplode + group — shuffle carries
    (label, dim_index, partial sums) thanks to map-side combine.

    The mean sums in DECIMAL(38,15), not float (r12 review): a float
    AVG merges per-partition partials in shuffle-arrival order, so two
    runs could differ in the last ulp — the one nondeterminism the
    module's determinism discipline forbids (``ivf_centers`` sorts
    members before its mean for the same reason). Decimal addition is
    exact and order-independent; the 15-dp cast truncation is a pure
    per-value function, identical every run."""
    exploded = vectors.select(
        F.col(label_col).alias("label"), F.posexplode(vec_col).alias("i", "v")
    )
    return (
        exploded.groupBy("label", "i")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(38,15)"))
                / F.count(F.lit(1))
            )
            .cast("double")
            .alias("m")
        )
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("i", "m"))).alias("s"))
        .select("label", F.transform("s", lambda x: x["m"]).alias("centroid"))
    )


def quantize_int8(vec: Column) -> Column:
    """Symmetric per-vector int8 quantization (the embedding-store
    compression step: 4x smaller than float32, 8x than float64):
    ``scale = max(|v_i|)``, ``q_i = floor(v_i * 127 / scale + 0.5)`` in
    [-127, 127]. Returns ``struct(scale double, q array<int>)``.

    ``floor(x + 0.5)`` instead of ``round``: Spark rounds HALF_UP and
    DuckDB half-even, but floor is floor everywhere, so quantized codes
    are bit-identical across engines (every arithmetic step — cast to
    double, multiply, divide, floor — is IEEE-deterministic). An
    all-zero vector quantizes to all-zero codes with scale 0. Pure
    per-row array expressions: no shuffle, no Python, fully pushes into
    the scan projection."""
    dv = F.transform(vec, lambda x: x.cast("double"))
    scale = F.array_max(F.transform(dv, F.abs))
    q = F.transform(
        dv,
        lambda x: F.when(scale == 0.0, F.lit(0)).otherwise(
            F.floor(x * F.lit(127.0) / scale + F.lit(0.5)).cast("int")
        ),
    )
    return F.struct(scale.cast("double").alias("scale"), q.alias("q"))


from pyspark.sql.types import DoubleType as _Dbl  # noqa: E402
from pyspark.sql.types import StructField as _SF  # noqa: E402
from pyspark.sql.types import StructType as _ST  # noqa: E402

_QUANT_STATS_SCHEMA = _ST(
    [
        _SF("scale", _Dbl()),
        _SF("n_dims", LongType()),
        _SF("sum_q", LongType()),
        _SF("sum_abs_q", LongType()),
    ]
)


@pandas_udf(_QUANT_STATS_SCHEMA)
def quantize_stats_udf(embs: pd.Series) -> pd.DataFrame:
    """Arrow-vectorized twin of ``quantize_int8`` + integer checksums in
    one pass (x48's hot path: the array-lambda formulation evaluates
    interpreted per element). Bit-parity with the column expression: the
    element arithmetic is the identical IEEE double sequence —
    float->double widen, ``*127.0``, ``/scale``, ``+0.5``, ``floor`` —
    so quantized codes and their sums hash-match the DuckDB oracle."""
    scales, nds, sums, asums = [], [], [], []
    for v in embs:
        if v is None:
            # NULL embedding -> NULL stats row, matching the column
            # expression's null semantics instead of crashing the stage
            scales.append(None)
            nds.append(None)
            sums.append(None)
            asums.append(None)
            continue
        a = np.asarray(v, dtype=np.float64)
        if a.size == 0:
            # EMPTY array: quantize_int8's array_max over an empty array
            # is NULL in Spark, so its struct carries scale=NULL — match
            # it exactly or the bit-parity contract breaks on the one
            # degenerate row shape (r12 review; counts/sums stay 0,
            # like aggregating nothing)
            scales.append(None)
            nds.append(0)
            sums.append(0)
            asums.append(0)
            continue
        s = float(np.max(np.abs(a)))
        if s == 0.0:
            q = np.zeros(a.size, dtype=np.int64)
        else:
            q = np.floor(a * 127.0 / s + 0.5).astype(np.int64)
        scales.append(s)
        nds.append(a.size)
        sums.append(int(q.sum()))
        asums.append(int(np.abs(q).sum()))
    # Nullable extension dtypes: plain int/float lists would turn None
    # into NaN (wrong type for LongType, wrong value for DoubleType)
    return pd.DataFrame(
        {
            "scale": pd.array(scales, dtype="Float64"),
            "n_dims": pd.array(nds, dtype="Int64"),
            "sum_q": pd.array(sums, dtype="Int64"),
            "sum_abs_q": pd.array(asums, dtype="Int64"),
        }
    )


def dequantize_int8(quant: Column) -> Column:
    """Inverse of :func:`quantize_int8`: ``q_i * scale / 127`` as
    array<double> — the read path of an int8 embedding store."""
    s = quant["scale"]
    return F.transform(quant["q"], lambda x: x.cast("double") * s / F.lit(127.0))


def seed_cluster_assign(
    vectors: DataFrame,
    n_clusters: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest-by-cosine seed centroid, where
    the seeds are the ``n_clusters`` lowest-id vectors — deterministic by
    construction (no iteration, no RNG), so the partitioning is
    reproducible across engines and the whole assignment is expressible
    in the SQL oracle. This is the exact, oracle-checkable tier of the
    cluster family; :func:`ivf_topk` is the Lloyd-refined scaled variant
    of the same shape (both broadcast a centroid table against the
    corpus; here the centroid table is a filter of the input itself).

    Output: ``(id_col, cluster_id)``. Ties (equal 6dp-rounded cosine)
    break to the lowest cluster id (numpy ``argmax`` keeps the first
    max; seed rows are sorted by id). Scale: the seed matrix is an
    ``n_clusters×dim`` driver collect captured in the UDF closure (the
    same bounded-metadata pattern as :func:`ivf_topk`'s centers), so
    assignment is one Arrow batch matmul per partition — no crossJoin
    shipping ``n_clusters`` copies of every vector (measured ~3x on the
    assignment stage), no shuffle at all.
    """
    seed_rows = (
        vectors.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(n_clusters)
        .collect()
    )
    if not seed_rows:
        raise ValueError("seed_cluster_assign: input has no vectors")
    seed_ids = np.array([r[0] for r in seed_rows], dtype=np.int64)
    sm = np.stack([np.array(r[1], dtype=np.float64) for r in seed_rows])
    sm_norm = np.linalg.norm(sm, axis=1)

    @pandas_udf(LongType())
    def _best_seed(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        # guard zero norms like every sibling (neardup_base etc.): a
        # zero vector would make its row NaN and argmax would assign an
        # ARBITRARY cluster diverging from the oracle tie-break (r11)
        xn = np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        raw = (x @ sm.T) / (xn * np.maximum(sm_norm, 1e-12))
        # HALF_UP, not np.round's half-to-even — keeps the argmax tie
        # surface identical to the oracle's ROUND (vectors.py:261 idiom)
        cs = _half_up(raw, 1e6)
        return pd.Series(seed_ids[np.argmax(cs, axis=1)])

    return vectors.select(
        F.col(id_col).alias(id_col), _best_seed(F.col(vec_col)).alias("cluster_id")
    )


def semdedup_pairs(
    vectors: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    refine: bool = False,
) -> DataFrame:
    """SemDeDup-style cluster-partitioned semantic dedup (Abbas et al.
    2023, arXiv:2303.09540): cluster the embedding space, then find
    near-duplicate pairs ONLY within each cluster — the cluster id is
    the shuffle key, so the quadratic pair search is bounded per cluster
    instead of corpus-global. The complementary tier to
    :func:`cosine_neardup_pairs` (hyperplane-LSH buckets): LSH recall
    depends on bucket collisions; cluster partitioning gives each vector
    exactly one partition, the shape that scales to billions of
    embeddings by raising ``n_clusters`` (SemDeDup uses ~10k clusters
    for 100M+ docs).

    Output: ``(cluster_id, keep_id, prune_id, cos)`` — within a pair the
    lower id is kept, the higher pruned (deterministic survivor rule);
    feed the prune list to an anti-join, or the pairs to
    ``graphs.canonical_assignments`` for transitive resolution.

    Exactness contract: assignment and rescore use numpy batch dots
    (DEVIATIONS #13 — pairwise vs sequential summation differs by
    ~1e-15, invisible at the 6dp/4dp rounding applied before
    argmax/threshold).

    Execution shape: ONE shuffle — the rows move to their cluster
    (``groupBy(cluster_id).applyInPandas``) and the all-pairs cosine is
    one numpy gram matrix per cluster, instead of a self-join that
    round-trips every candidate pair's two embeddings through Arrow
    (measured ~3x). Per-group memory is ``cluster_size²`` doubles —
    bounded by the same contract that makes SemDeDup scale: cluster
    count rises with the corpus so cluster size stays flat.

    ``refine=True`` swaps the seed assignment for Lloyd-refined
    centroids (:func:`ivf_centers`: the same deterministic seeds plus
    one distributed k-means step — the shape the SemDeDup paper
    actually clusters with). Refined clusters track density instead of
    the arbitrary first-k vectors, so recall on a real corpus is
    higher; the seed tier stays the oracle-checkable contract (x66).
    Cluster ids under ``refine``: the 0-based center index.
    """
    if refine:
        centers = ivf_centers(vectors, n_clusters, id_col, vec_col)
        nearest = _nearest_cell_udf(centers)
        asg = vectors.select(
            F.col(id_col).alias(id_col),
            nearest(F.col(vec_col))[0].alias("cluster_id"),
        )
    else:
        asg = seed_cluster_assign(vectors, n_clusters, id_col, vec_col)
    v = vectors.select(
        F.col(id_col).alias("_vid"), F.col(vec_col).alias("e")
    ).join(asg.withColumnRenamed(id_col, "_vid"), "_vid")

    def _cluster_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["_vid"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        x = np.stack(pdf["e"].to_numpy())[order].astype(np.float64)
        # zero-norm guard (r11): NaN rows silently drop that member's
        # near-dup pairs (NaN >= threshold is False) with no error
        n = x / np.maximum(
            np.linalg.norm(x, axis=1, keepdims=True), 1e-12
        )
        raw = n @ n.T
        # HALF_UP to match DuckDB ROUND at the .00005 cosine boundary
        s = _half_up(raw)
        iu = np.triu_indices(len(ids), 1)
        keep = s[iu] >= threshold
        return pd.DataFrame(
            {
                "cluster_id": np.full(int(keep.sum()), int(pdf["cluster_id"].iloc[0])),
                "keep_id": ids[iu[0][keep]],
                "prune_id": ids[iu[1][keep]],
                "cos": s[iu][keep],
            }
        )

    return v.groupBy("cluster_id").applyInPandas(
        _cluster_pairs,
        "cluster_id long, keep_id long, prune_id long, cos double",
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou, Douze & Schmid 2011) — the ANN COMPRESSION
# tier: IVF partitions the corpus, PQ shrinks what each cell stores. A
# 64-dim float64 embedding (512 B) compresses to m one-byte codes (m=8:
# 64x smaller), and search scores codes against a per-query distance
# table without ever decompressing — the memory layout that makes
# billion-vector ANN fit a cluster's RAM.
# ---------------------------------------------------------------------------


def pq_train(
    vectors: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    iters: int = 5,
) -> np.ndarray:
    """Train the ``(m, n_codes, dim/m)`` PQ codebooks on a DETERMINISTIC
    bounded sample (first ``train_rows`` vectors by id — the ivf_centers
    seeding discipline): vectors L2-normalize (so inner-product ADC
    approximates cosine), split into ``m`` subspaces, and each subspace
    runs ``iters`` Lloyd steps from first-rows seeds, numpy on the
    driver. Bounded by contract: quantizer training uses a fixed-size
    sample at ANY corpus size (the standard practice — the codebook is
    16-256 points per subspace; more data stops changing it), so the
    driver holds ``train_rows x dim`` floats, never the corpus."""
    rows = (
        vectors.orderBy(id_col).limit(train_rows).select(vec_col).collect()
    )
    if len(rows) < n_codes:
        # the first-rows seeding needs one row per code: fail with the
        # actionable message, not numpy's opaque broadcast ValueError
        # (r12 review — the seed_cluster_assign guard discipline)
        raise ValueError(
            f"pq_train: {len(rows)} training vectors < n_codes="
            f"{n_codes}; shrink n_codes or supply a larger corpus"
        )
    x = np.stack([np.array(r[0], dtype=np.float64) for r in rows])
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    dim = x.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    books = np.empty((m, n_codes, dsub))
    for j in range(m):
        sub = x[:, j * dsub : (j + 1) * dsub]
        cb = sub[:n_codes].copy()  # deterministic first-rows seeds
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cb[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(n_codes):
                members = sub[assign == c]
                if len(members):
                    cb[c] = members.mean(axis=0)
        books[j] = cb
    return books


def pq_encode_udf(codebooks: np.ndarray):
    """The row-local PQ encoder as a reusable pandas UDF — staging fuses
    it with the cell assignment into ONE select over the corpus (r12
    review: the old pq_encode-then-join shape scanned the vectors twice
    and shuffled the whole corpus by vec_id to recombine two row-local
    columns). Deterministic: ties resolve to the lower code (stable
    argmin)."""
    m, n_codes, dsub = codebooks.shape
    books = codebooks

    @pandas_udf(ArrayType(LongType()))
    def _enc(vecs: pd.Series) -> pd.Series:
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(x), m), dtype=np.int64)
        for j in range(m):
            sub = x[:, j * dsub : (j + 1) * dsub]
            d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(axis=2)
            out[:, j] = d2.argmin(axis=1)
        return pd.Series(list(out))

    return _enc


def pq_encode(
    vectors: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` small integer codes — one linear
    pass, NO shuffle (encoding is row-local and pipelines inside the
    scan); output ``(vec_id, codes array<int>)`` is the compressed
    posting payload an IVF cell stores."""
    return vectors.select(
        F.col(id_col).alias("vec_id"),
        pq_encode_udf(codebooks)(F.col(vec_col)).alias("codes"),
    )


def pq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    query: list[float],
    k: int = 10,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query builds an
    ``m x n_codes`` inner-product table ON THE DRIVER (bounded by the
    codebook geometry), every code row scores as ``sum_j table[j,
    code_j]`` — table lookups, no decompression, no embedding ever
    shuffled — and per-partition top-k + one bounded merge returns the
    global top-k under the (score DESC, vec_id) total order (the
    lsh_topk_onepass argument). Scores are the query-normalized inner
    products of RECONSTRUCTED vectors, i.e. cosine up to quantization
    error; 4dp HALF_UP rounding before ranking keeps the order
    partition-invariant."""
    m, n_codes, dsub = codebooks.shape
    q = np.array(query, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-12)
    table = np.empty((m, n_codes))
    for j in range(m):
        table[j] = codebooks[j] @ q[j * dsub : (j + 1) * dsub]

    @pandas_udf("double")
    def _score(code_col: pd.Series) -> pd.Series:
        c = np.stack(code_col.to_numpy()).astype(np.int64)
        s = np.zeros(len(c))
        for j in range(m):
            s += table[j][c[:, j]]
        # HALF_UP at 4dp, matching F.round/the oracle convention
        return pd.Series(_half_up(s))

    from pyspark.sql import Window

    scored = codes.select("vec_id", _score(F.col("codes")).alias("score"))
    pw = Window.partitionBy("_p").orderBy(F.desc("score"), "vec_id")
    part = (
        scored.withColumn("_p", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(pw))
        .filter(F.col("_rn") <= k)
        .select("vec_id", "score")
    )
    merged = part.groupBy().agg(
        F.slice(
            F.sort_array(
                F.collect_list(F.struct((-F.col("score")).alias("_ns"), "vec_id"))
            ),
            1,
            k,
        ).alias("_top")
    )
    return merged.select(F.posexplode("_top").alias("_i", "_s")).select(
        F.col("_s.vec_id").alias("vec_id"),
        (-F.col("_s._ns")).alias("score"),
        (F.col("_i") + 1).cast("int").alias("rnk"),
    )


def ivfpq_stage(
    vectors: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 32,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_rows: int = 2048,
    iters: int = 5,
) -> tuple[np.ndarray, np.ndarray]:
    """The full IVF-PQ layout (the billion-vector standard: IVF
    partitions, PQ compresses what each cell stores): write the corpus
    cell-partitioned like :func:`ivf_stage` but with ``m`` one-byte-ish
    codes per vector INSTEAD of the embedding — at m=8 over 64-dim
    float64 that is a 64x smaller posting payload, which is what lets
    the whole index live in cluster RAM at 10^9+ vectors. Returns
    (centers, codebooks); both also land in the ``_ivfpq_meta.json``
    sidecar (the completion marker). ``train_rows``/``iters`` pass
    through to :func:`pq_train` (the oracle-checked registrations use
    ``iters=1`` so DuckDB can mirror the single Lloyd step exactly, the
    x32 centers discipline)."""
    import json
    import os

    centers = ivf_centers(vectors, n_cells, id_col, vec_col)
    books = pq_train(
        vectors,
        m=m,
        n_codes=n_codes,
        id_col=id_col,
        vec_col=vec_col,
        train_rows=train_rows,
        iters=iters,
    )
    nearest = _nearest_cell_udf(centers)
    # cell assignment and PQ codes are BOTH row-local functions of the
    # embedding: one select, one corpus scan, zero shuffle (r12 review —
    # the old encode-then-join recombined them through a corpus-wide
    # exchange on vec_id)
    staged = vectors.select(
        F.col(id_col).alias("vec_id"),
        pq_encode_udf(books)(F.col(vec_col)).alias("codes"),
        nearest(F.col(vec_col))[0].alias("cell"),
    )
    staged.write.partitionBy("cell").mode("overwrite").parquet(path)
    with open(os.path.join(path, "_ivfpq_meta.json"), "w") as f:
        json.dump(
            {
                "centers": centers.tolist(),
                "codebooks": books.tolist(),
                "schema": staged.schema.json(),
            },
            f,
        )
    return centers, books


def ivfpq_search(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rerank_vectors: DataFrame | None = None,
    rerank_factor: int = 4,
) -> DataFrame:
    """ADC top-k over an :func:`ivfpq_stage` table: probe cells resolve
    on the driver (the ivf_search_staged pattern — queries are bounded
    by contract), the scan partition-prunes to those cells and reads
    CODES only, and one mapInPandas stage scores each cell's members
    against the per-query ``m x n_codes`` distance tables — table
    lookups, never a reconstruction, never an embedding shuffle. Output
    (qid, vec_id, score, rnk); scores are quantized cosines (4dp
    HALF_UP), self-matches excluded like the exact route.

    ``rerank_vectors``: the raw embedding table — enables the standard
    IVF-PQ-rerank tail: ADC keeps ``k * rerank_factor`` candidates per
    query (still code-only), then ONLY those ≤ |Q|*k*factor rows join
    their exact embeddings for a true-cosine rescore. The expensive
    exact arithmetic touches a candidate set bounded by the query count,
    never the corpus — quantization recall loss is bought back for a
    constant-size join."""
    import json
    import os

    with open(os.path.join(path, "_ivfpq_meta.json")) as f:
        meta = json.load(f)
    centers = np.array(meta["centers"], dtype=np.float64)
    books = np.array(meta["codebooks"], dtype=np.float64)
    m, n_codes, dsub = books.shape
    from pyspark.sql.types import StructType

    reader = spark.read.schema(StructType.fromJson(json.loads(meta["schema"])))
    qrows = queries.select(id_col, vec_col).collect()
    if not qrows:
        return spark.createDataFrame(
            [], "qid long, vec_id long, score double, rnk int"
        )
    qids = np.array([int(r[0]) for r in qrows], dtype=np.int64)
    qm = np.stack([np.array(r[1], dtype=np.float64) for r in qrows])
    qunit = qm / np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-12)
    order = np.argsort(-(qunit @ centers.T), axis=1, kind="stable")[:, :n_probe]
    probe_cells = sorted({int(c) for c in order.ravel()})
    q_by_cell: dict[int, list[int]] = {}
    for i in range(len(qids)):
        for cell in order[i]:
            q_by_cell.setdefault(int(cell), []).append(i)
    # per-query ADC tables: (n_queries, m, n_codes) — bounded by geometry
    qsub = np.stack(
        [qunit[:, j * dsub : (j + 1) * dsub] for j in range(m)], axis=1
    )
    tables = np.einsum("qjd,jcd->qjc", qsub, books)

    # the ADC shortlist depth: k alone without rerank, k*factor when a
    # rerank tail follows — the per-cell cut below must keep this many,
    # not k, or a single dominant probe cell starves the exact rescore
    # of the candidates the rerank contract promises
    k_adc = k * rerank_factor if rerank_vectors is not None else k

    def _score(batches):
        for pdf in batches:
            out_q, out_v, out_s = [], [], []
            for cell, grp in pdf.groupby("cell"):
                idxs = q_by_cell.get(int(cell))
                if not idxs:
                    continue
                c = np.stack(grp["codes"].to_numpy()).astype(np.int64)
                vids = grp["vec_id"].to_numpy().astype(np.int64)
                for qi in idxs:
                    s = np.zeros(len(c))
                    for j in range(m):
                        s += tables[qi, j][c[:, j]]
                    s = _half_up(s)
                    mask = vids != qids[qi]
                    s_, v_ = s[mask], vids[mask]
                    top = np.lexsort((v_, -s_))[:k_adc]
                    out_q.extend([qids[qi]] * len(top))
                    out_v.extend(v_[top])
                    out_s.extend(s_[top])
            yield pd.DataFrame(
                {"qid": out_q, "vec_id": out_v, "score": out_s}
            ).astype({"qid": "int64", "vec_id": "int64", "score": "float64"})

    cand = (
        reader.parquet(path)
        .filter(F.col("cell").isin(probe_cells))
        .select("cell", "vec_id", "codes")
        .mapInPandas(_score, "qid long, vec_id long, score double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(F.col("score").desc(), F.col("vec_id"))
    ranked = (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k_adc)
        .select("qid", "vec_id", "score", "rnk")
    )
    if rerank_vectors is None:
        return ranked

    q_lookup = {int(qids[i]): qunit[i] for i in range(len(qids))}

    @pandas_udf("double")
    def _exact_cos(qid_col: pd.Series, emb_col: pd.Series) -> pd.Series:
        M = np.stack(emb_col.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        qs = np.stack([q_lookup[int(x)] for x in qid_col.to_numpy()])
        raw = (qs * M).sum(axis=1)
        return pd.Series(_half_up(raw))

    exact = ranked.select("qid", "vec_id").join(
        rerank_vectors.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_e")
        ),
        "vec_id",
    )
    rescored = exact.select(
        "qid", "vec_id", _exact_cos(F.col("qid"), F.col("_e")).alias("score")
    )
    return (
        rescored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("qid", "vec_id", "score", "rnk")
    )


def ivfpq_append(
    spark,
    path: str,
    new_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Append a new batch to an :func:`ivfpq_stage` layout without
    retraining EITHER quantizer — the :func:`ivf_append` contract
    extended to the compressed index: the batch assigns to the
    EXISTING cells and encodes against the EXISTING codebooks (both
    from the sidecar, the exact arithmetic the stage ran), then appends
    inside the cell partition dirs. :func:`ivfpq_search` serves the
    grown corpus immediately; restage on drift re-tightens both
    quantizers at once (the z-order bounds / IVF-centers compaction
    story)."""
    import json
    import os

    with open(os.path.join(path, "_ivfpq_meta.json")) as f:
        meta = json.load(f)
    centers = np.array(meta["centers"], dtype=np.float64)
    books = np.array(meta["codebooks"], dtype=np.float64)
    nearest = _nearest_cell_udf(centers)
    # one batch scan, zero shuffle — the ivfpq_stage fused-select shape
    (
        new_vectors.select(
            F.col(id_col).alias("vec_id"),
            pq_encode_udf(books)(F.col(vec_col)).alias("codes"),
            nearest(F.col(vec_col))[0].alias("cell"),
        )
        .write.partitionBy("cell")
        .mode("append")
        .parquet(path)
    )
