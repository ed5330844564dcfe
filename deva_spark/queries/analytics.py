"""Sketches, graphs and behavioral analytics (x60-x72).

KMV distinct, integer PageRank over staged denorm edges, streaming
trending, event transitions, containment pairs, SemDeDup, funnels,
retention cohorts (+ their streaming twins), weighted sampling
(grouped/global two-phase top-k) (x60-x72).
"""

from __future__ import annotations

from deva_spark.functions import minhash as mh
from deva_spark.functions import text as T
from deva_spark.functions import vectors as V
from deva_spark.operators import aggregates as agg
from deva_spark.operators import graphs
from pyspark.sql import Window
from pyspark.sql import functions as F
from deva_spark.queries._infra import (
    ORACLE_SQL,
    _shared_artifact,
    _shared_artifact_path,
    _shingle5_hashes,
    _t,
    query,
)

@query(
    "x60_kmv_distinct_users",
    """WITH h AS (
         SELECT DISTINCT event_type,
                CAST(md5_number_upper(CAST(user_id AS VARCHAR)) AS HUGEINT) AS h
         FROM events
       ), r AS (
         SELECT event_type, h,
                row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
         FROM h
       ), a AS (
         SELECT event_type, COUNT(*) AS n,
                MAX(CASE WHEN rn = 64 THEN h END) AS hk
         FROM r WHERE rn <= 64 GROUP BY 1
       )
       SELECT event_type,
              CAST(CASE WHEN n < 64 THEN n
                   ELSE (63 * CAST(18446744073709551616 AS HUGEINT)) // hk
                   END AS BIGINT) AS est_distinct
       FROM a ORDER BY event_type""",
)
def x60(spark, sf):
    # KMV distinct-count sketch (operators.aggregates.kmv_distinct):
    # integer-exact k-minimum-values estimator over the portable md5-LE64
    # hash, so the ESTIMATE itself is hash-checkable cross-engine —
    # HLL-based approx_count_distinct can't be (register layout is
    # engine-private). Mergeable sketch = the 100 TB rollup path.
    # ensure_parallelism (r14): the test corpus is one row group, so the
    # scan is ONE task and the md5 hashing + map-side dedup — the whole
    # CPU cost — ran single-threaded. The round-robin exchange carries
    # only (event_type, user_id) raw rows and is a no-op at cluster
    # scale (nparts >= floor). The estimate is partition-invariant by
    # construction, so results are unchanged.
    from deva_spark.session import ensure_parallelism, scan_partitions

    ev = ensure_parallelism(
        _t(spark, sf, "events").select("event_type", "user_id"),
        nparts=scan_partitions(spark, sf, "events"),
    )
    return ev.transform(agg.kmv_distinct("user_id", keys=["event_type"], k=64))


@query(
    "x61_pagerank_two_steps",
    """WITH e0 AS (
         SELECT DISTINCT 'c' || CAST(o.o_custkey AS VARCHAR) AS src,
                         's' || CAST(l.l_suppkey AS VARCHAR) AS dst
         FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       ), edges AS (
         SELECT src, dst FROM e0
         UNION ALL
         SELECT dst AS src, src AS dst FROM e0
       ), deg AS (
         SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY 1
       ), r0 AS (
         SELECT node, CAST(1000000000000 AS BIGINT) AS r FROM deg
       ), it1 AS (
         SELECT e.dst AS node,
                150000000000 + SUM((r0.r * 85) // (d.outdeg * 100)) AS r
         FROM edges e
         JOIN r0 ON r0.node = e.src
         JOIN deg d ON d.node = e.src
         GROUP BY 1
       ), it2 AS (
         SELECT e.dst AS node,
                150000000000 + SUM((it1.r * 85) // (d.outdeg * 100)) AS r
         FROM edges e
         JOIN it1 ON it1.node = e.src
         JOIN deg d ON d.node = e.src
         GROUP BY 1
       )
       SELECT node, CAST(r AS BIGINT) AS rank_scaled FROM it2
       ORDER BY node""",
)
def x61(spark, sf):
    # Two PageRank iterations over the customer<->supplier bipartite
    # graph via operators.graphs.pagerank (damping 0.85, teleport 0.15,
    # rank scale 1e12, ALL-INTEGER arithmetic so ranks are bit-identical
    # across engines and partitionings), over the operator's documented
    # cluster path: the pre-staged DENORM edge table (each row carries
    # src's outdeg, stage=None) — the base join, distinct, symmetrize
    # and degree pass all ran at staging, and the degree join disappears
    # from the per-run plan.
    # Node ids stay NUMERIC through every shuffle (custkey*2 even,
    # suppkey*2+1 odd — disjoint by parity): the join, distinct, degree
    # agg and both propagation joins hash/compare bigints, and only the
    # final node-level result pays the string relabel. Same ranks —
    # relabeling is a bijection applied after the integer arithmetic —
    # measured ~2x faster than concat-first at sf0.1 (string shuffle
    # keys cost hash+compare per byte AND bigger exchange payloads; at
    # 100 TB the payload term dominates).
    ranks = graphs.pagerank(
        _shared_artifact(spark, sf, "pr_edges"),
        n_iter=2,
        symmetrize=False,
        stage=None,
        outdeg_col="outdeg",
        # the staged edge table is pre-SYMMETRIZED (built from e0's
        # explode of both directions), so every node appears as a dst
        # and the in-degree-0 source completion is provably vacuous —
        # skip its edge-table distinct (r11: the default completion
        # doubled this query's sf1 time)
        complete_sources=False,
    )
    return ranks.select(
        F.expr(
            "concat(CASE WHEN node % 2 = 0 THEN 'c' ELSE 's' END,"
            " CAST(node div 2 AS STRING))"
        ).alias("node"),
        "rank_scaled",
    )


@query(
    "x62_top_p_token_mass",
    r"""WITH tok AS (
          SELECT source, doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
        ), r AS (
          SELECT source, doc_id, n_tokens,
                 SUM(n_tokens) OVER (PARTITION BY source
                                     ORDER BY n_tokens DESC, doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(n_tokens) OVER (PARTITION BY source) AS tot
          FROM tok
        )
        SELECT source, doc_id, n_tokens
        FROM r
        WHERE (cum - n_tokens) * 100 < tot * 80
        ORDER BY source, doc_id""",
)
def x62(spark, sf):
    # Top-p (nucleus) trim for data mixing: per source, keep the largest
    # docs until the kept token mass reaches 80% of the source total —
    # the "head of the distribution" cut loaders use to cap long-tail
    # noise. Boundary test is integer cross-multiplied (no float p*total).
    # A doc is kept iff the mass BEFORE it is still under the cap, so
    # exactly one doc straddles the boundary — deterministic under the
    # (n_tokens DESC, doc_id) total order. Scale shape (r11): the
    # running mass rides top_p_by_group's grouped two-phase
    # global_running_sum + a broadcast per-source total — never a
    # whole-source window (5 sources = 5 corpus-sized reducers).
    from deva_spark.operators.sampling import top_p_by_group

    tok = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        F.size(T.words(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return tok.transform(
        top_p_by_group(["source"], "n_tokens", p_pct=80, order_tiebreak="doc_id")
    ).select("source", "doc_id", "n_tokens")


@query(
    "x63_streaming_trending",
    """WITH c AS (
         SELECT date_trunc('hour', ts) AS hr, event_type, COUNT(*) AS cnt
         FROM events GROUP BY 1, 2
       ), r AS (
         SELECT hr, event_type, cnt,
                rank() OVER (PARTITION BY hr ORDER BY cnt DESC, event_type) AS rnk
         FROM c
       )
       SELECT hr, event_type, cnt, rnk FROM r WHERE rnk <= 3
       ORDER BY hr, rnk, event_type""",
)
def x63(spark, sf):
    # STREAMING twin of x53: the hourly counts come from a Structured
    # Streaming tumbling-window drain (event time + watermark,
    # Trigger.AvailableNow); the top-3 rank runs as a batch post-pass over
    # the drained counts — the standard "streaming agg feeds a relational
    # epilogue" composition. The drained result must hash-equal the batch
    # oracle no matter how the backlog was micro-batched.
    from deva_spark.streaming.twin import (
        events_file_stream,
        run_available_now,
        tumbling_counts,
    )

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    counts = run_available_now(
        tumbling_counts(s), "x63_drain", output_mode="complete", state_partitions=8
    ).select(F.col("w").alias("hr"), "event_type", "cnt")
    w = Window.partitionBy("hr").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        counts.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("hr", "event_type", "cnt", "rnk")
    )


@query(
    "x64_event_transitions",
    """WITH s AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS prev_type
         FROM events
       )
       SELECT prev_type, event_type AS next_type, COUNT(*) AS n
       FROM s WHERE prev_type IS NOT NULL
       GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x64(spark, sf):
    # Markov transition counts over per-user event sequences (the
    # session-analysis building block: P(next|prev) numerators). One
    # per-user lag window under the explicit (ts, event_id) total order
    # (DEVIATIONS #2), then a hash aggregate on the 25-cell pair space —
    # the shuffle carries (prev, next) pairs, partial-aggregated map-side.
    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    s = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        s.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "x65_containment_pairs",
    r"""WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents
        ), ex AS (
          SELECT doc_id,
                 UNNEST(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4])) AS s
          FROM words WHERE len(ws) >= 5
        ), sh AS (SELECT DISTINCT doc_id, s FROM ex),
        sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
        common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               (c * 100) // na.n AS cont_a_pct,
               (c * 100) // nb.n AS cont_b_pct
        FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE greatest((c * 100) // na.n, (c * 100) // nb.n) >= 30
        ORDER BY id_a, id_b""",
)
def x65(spark, sf):
    # Shingle-CONTAINMENT tier of the dedup stack (near-superset / quote
    # detection — asymmetric |A∩B|/|A|, which Jaccard dilutes when a
    # short doc sits inside a long one). Runs off the SAME staged 5-gram
    # index as x44/x45/x55 — one explode serves four queries. The Spark
    # join key is the 8-byte xxhash of the shingle; the oracle joins the
    # shingle strings (same pairs — collision odds ~|shingles|²/2⁶⁴).
    return mh.containment_pairs(
        _shingle5_hashes(spark, sf).select("doc_id", "_sh"), pct_threshold=30
    )


@query(
    "x66_semdedup_prune",
    """WITH v AS (
         SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
         FROM embeddings
       ), nrm AS (
         SELECT vec_id, e,
                sqrt(list_sum(list_transform(range(1, 65), i -> e[i] * e[i]))) AS nn
         FROM v
       ), seeds AS (
         -- rank-based seed pick (the n_clusters LOWEST-id vectors), not
         -- an id-value filter: correct on sparse/offset id spaces too
         SELECT vec_id AS cid, e AS ce, nn AS cn
         FROM nrm ORDER BY vec_id LIMIT 32
       ), sc AS (
         SELECT n.vec_id, s.cid,
                ROUND(list_sum(list_transform(range(1, 65), i -> n.e[i] * s.ce[i]))
                      / (n.nn * s.cn), 6) AS cs
         FROM nrm n CROSS JOIN seeds s
       ), asg AS (
         SELECT vec_id, cid FROM (
           SELECT vec_id, cid,
                  ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY cs DESC, cid) AS rn
           FROM sc) WHERE rn = 1
       ), x AS (
         SELECT a.cid, n.vec_id, n.e, n.nn
         FROM nrm n JOIN asg a ON a.vec_id = n.vec_id
       )
       SELECT a.cid AS cluster_id, a.vec_id AS keep_id, b.vec_id AS prune_id,
              ROUND(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
                    / (a.nn * b.nn), 4) AS cos
       FROM x a JOIN x b ON a.cid = b.cid AND a.vec_id < b.vec_id
       WHERE ROUND(list_sum(list_transform(range(1, 65), i -> a.e[i] * b.e[i]))
                   / (a.nn * b.nn), 4) >= 0.4
       ORDER BY keep_id, prune_id""",
)
def x66(spark, sf):
    # SemDeDup-style cluster-partitioned semantic dedup: deterministic
    # seed-centroid assignment (32 clusters, exact fold cosine — the
    # oracle-checkable tier of the IVF family), then near-dup pairs ONLY
    # within each cluster. The cluster id is the shuffle key — the
    # quadratic search is bounded per cluster, the shape that scales to
    # 1e9 embeddings by raising n_clusters, vs x23's LSH buckets whose
    # recall rides on hyperplane collisions.
    # n_clusters is THE scale knob: within-cluster pair work is
    # quadratic per cluster, so cluster count rises with the corpus
    # (32 here ~= 60 vectors/cluster at sf0.1; SemDeDup uses ~10k at
    # 100M docs).
    return V.semdedup_pairs(
        _t(spark, sf, "embeddings"), n_clusters=32, threshold=0.4
    )


@query(
    "x67_funnel_conversion",
    """WITH s1 AS (
         SELECT user_id AS u, MIN(ts) AS t FROM events
         WHERE event_type = 'signup' GROUP BY 1
       ), s2 AS (
         SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
         JOIN s1 ON s1.u = e.user_id AND e.ts > s1.t
         WHERE e.event_type = 'view' GROUP BY 1
       ), s3 AS (
         SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
         JOIN s2 ON s2.u = e.user_id AND e.ts > s2.t
         WHERE e.event_type = 'click' GROUP BY 1
       ), s4 AS (
         SELECT e.user_id AS u, MIN(e.ts) AS t FROM events e
         JOIN s3 ON s3.u = e.user_id AND e.ts > s3.t
         WHERE e.event_type = 'purchase' GROUP BY 1
       ), n AS (
         SELECT 1 AS step, 'signup' AS event_type, (SELECT COUNT(*) FROM s1) AS users
         UNION ALL SELECT 2, 'view', (SELECT COUNT(*) FROM s2)
         UNION ALL SELECT 3, 'click', (SELECT COUNT(*) FROM s3)
         UNION ALL SELECT 4, 'purchase', (SELECT COUNT(*) FROM s4)
       )
       SELECT step, event_type, users,
              (users * 100) // (SELECT COUNT(*) FROM s1) AS pct_of_first
       FROM n ORDER BY step""",
)
def x67(spark, sf):
    # Ordered product funnel signup -> view -> click -> purchase: step k
    # counts users whose first step-k event lands STRICTLY after their
    # step k-1 entry (operators.analytics.funnel_counts — chained
    # filtered min-aggregates; each stage shuffles (user, ts) only, the
    # step-type filter is pushed to the scan). Integer-floored pct.
    from deva_spark.operators.analytics import funnel_counts

    return funnel_counts(
        _t(spark, sf, "events"), ["signup", "view", "click", "purchase"]
    )


@query(
    "x68_retention_cohorts",
    """WITH days AS (
         SELECT DISTINCT user_id AS u, CAST(ts AS DATE) AS d FROM events
       ), cohort AS (
         SELECT u, MIN(d) AS cohort_date FROM days GROUP BY 1
       ), j AS (
         SELECT days.u, cohort_date,
                datediff('day', cohort_date, d) AS day_offset
         FROM days JOIN cohort ON cohort.u = days.u
       )
       SELECT cohort_date, day_offset, COUNT(*) AS users
       FROM j GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x68(spark, sf):
    # Retention cohort matrix: users keyed by first-seen day, counted on
    # each later active day (operators.analytics.retention_cohorts —
    # two hash aggregates over (user, day) pairs; the distinct bounds
    # the shuffle by active user-days, not raw events).
    from deva_spark.operators.analytics import retention_cohorts

    return retention_cohorts(_t(spark, sf, "events"))


_FUNNEL_STEPS = ["signup", "view", "click", "purchase"]


@query("x69_streaming_funnel", ORACLE_SQL["x67_funnel_conversion"])
def x69(spark, sf):
    # STREAMING twin of x67: per-user funnel state tracked across
    # micro-batches (applyInPandasWithState — step + entry time), one
    # conversion row emitted per (user, step); a batch epilogue folds the
    # drained conversions into the same step/users/pct table. The greedy
    # in-order advance equals the batch min-ts chaining, so the drain
    # hash-matches x67's oracle no matter how the backlog was
    # micro-batched.
    from deva_spark.streaming.stateful import streaming_funnel
    from deva_spark.streaming.twin import events_file_stream, run_available_now

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    conv = run_available_now(
        streaming_funnel(s, _FUNNEL_STEPS), "x69_drain", output_mode="append", state_partitions=8
    )
    steps_df = spark.createDataFrame(
        [(i + 1, t) for i, t in enumerate(_FUNNEL_STEPS)],
        "step int, event_type string",
    )
    counts = conv.groupBy("step").agg(F.count(F.lit(1)).alias("users"))
    full = steps_df.join(counts, "step", "left").select(
        "step",
        "event_type",
        F.coalesce(F.col("users"), F.lit(0).cast("long")).alias("users"),
    )
    first = full.filter(F.col("step") == 1).select(F.col("users").alias("_n1"))
    return full.crossJoin(F.broadcast(first)).select(
        "step",
        "event_type",
        "users",
        F.expr("(users * 100) div _n1").alias("pct_of_first"),
    )


@query(
    "x70_weighted_sample",
    r"""WITH w AS (
          SELECT source, doc_id,
                 len(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents
        ), h AS (
          SELECT source, doc_id, w,
                 ROUND(ln((CAST(CAST(md5_number_upper(CAST(doc_id AS VARCHAR))
                                     AS HUGEINT) AS DOUBLE) + 0.5)
                          / 18446744073709551616.0) / w, 10) AS skey
          FROM w WHERE w > 0
        ), r AS (
          SELECT source, doc_id, w, skey,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY skey DESC, doc_id) AS rn
          FROM h
        )
        SELECT source, doc_id, w, skey, rn AS rnk
        FROM r WHERE rn <= 20 ORDER BY source, rnk""",
)
def x70(spark, sf):
    # Deterministic weighted corpus subsample: 20 docs per source,
    # probability proportional to token count (Efraimidis-Spirakis on
    # the portable md5-LE64 hash — sampling.weighted_sample_topk). The
    # data-mixing step after x47's rebalance targets: pick WHICH docs
    # fill each source's quota, biased to longer docs, reproducibly.
    from deva_spark.operators.sampling import weighted_sample_topk

    docs = _t(spark, sf, "documents").select(
        "source", "doc_id", T.token_count(F.col("text")).alias("w")
    )
    return weighted_sample_topk(
        docs, k=20, weight_col="w", group_cols=("source",)
    ).select("source", "doc_id", "w", "skey", "rnk")


@query("x71_streaming_retention", ORACLE_SQL["x68_retention_cohorts"])
def x71(spark, sf):
    # STREAMING twin of x68: the distinct (user, day) set streams through
    # state-store dropDuplicates — keyed on EXACTLY the projected columns,
    # so there is no survivor ambiguity (the kept row IS the key) and the
    # drained set equals the batch DISTINCT no matter the micro-batching.
    # The cohort join + offset counts run as the batch epilogue.
    from deva_spark.streaming.twin import events_file_stream, run_available_now

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    days_stream = s.select(
        "user_id", F.to_date("ts").alias("_d")
    ).dropDuplicates(["user_id", "_d"])
    days = run_available_now(days_stream, "x71_drain", output_mode="append", state_partitions=8)
    # fresh attribute ids for the self-join's aggregate side (a memory-
    # sink view joined with its own aggregate otherwise carries
    # conflicting references)
    cohort = (
        days.select(F.col("user_id").alias("_cu"), F.col("_d").alias("_cd"))
        .groupBy("_cu")
        .agg(F.min("_cd").alias("cohort_date"))
    )
    return (
        days.join(cohort, days.user_id == cohort._cu)
        .select(
            "cohort_date",
            F.datediff(F.col("_d"), F.col("cohort_date")).alias("day_offset"),
        )
        .groupBy("cohort_date", "day_offset")
        .agg(F.count(F.lit(1)).alias("users"))
    )


@query(
    "x72_global_weighted_sample",
    r"""WITH w AS (
          SELECT source, doc_id,
                 len(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents
        ), h AS (
          SELECT source, doc_id, w,
                 ROUND(ln((CAST(CAST(md5_number_upper(CAST(doc_id AS VARCHAR))
                                     AS HUGEINT) AS DOUBLE) + 0.5)
                          / 18446744073709551616.0) / w, 10) AS skey
          FROM w WHERE w > 0
        ), r AS (
          SELECT source, doc_id, w, skey,
                 row_number() OVER (ORDER BY skey DESC, doc_id) AS rn
          FROM h
        )
        SELECT source, doc_id, w, skey, rn AS rnk
        FROM r WHERE rn <= 50 ORDER BY rnk""",
)
def x72(spark, sf):
    # Corpus-GLOBAL weighted sample (VERDICT r6 #7): the x70 draw with
    # no group quota — 50 docs from the whole corpus, probability
    # proportional to token count. The single-reducer window the oracle
    # uses is exactly what the operator avoids: per-physical-partition
    # E-S top-k partials, then one bounded hash-aggregate merge
    # (<= partitions*k rows) — the KMV k-smallest shape. Same rows.
    from deva_spark.operators.sampling import weighted_sample_global

    docs = _t(spark, sf, "documents").select(
        "source", "doc_id", T.token_count(F.col("text")).alias("w")
    )
    return weighted_sample_global(docs, k=50, weight_col="w").select(
        "source", "doc_id", "w", "skey", "rnk"
    )


