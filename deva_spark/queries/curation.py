"""Streaming drains + corpus curation + sampling (x33-x59).

Structured Streaming twins (tumbling/session/running-sum/z-score
drains, interval join, first-seen dedup), LLM-stage extraction,
cluster resolution, repetition/PII/decontamination/boilerplate,
sequence packing, mixture rebalance, quantization, prefix-dup groups,
URL/encoding quality, trending, per-source budgets, cross-source
overlap, deciles (x33-x59).
"""

from __future__ import annotations

from deva_spark.functions import text as T
from deva_spark.functions import vectors as V
from deva_spark.operators import windows
from deva_spark.operators.aggregates import money_sum
from deva_spark.operators.neardup import ordered_pairs
from pyspark.sql import Window
from pyspark.sql import functions as F
from deva_spark.queries._infra import (
    _jaccard_pairs,
    _shared_artifact,
    _shared_artifact_path,
    _shingle5_hashes,
    _t,
    query,
)

@query(
    "x33_streaming_tumbling",
    """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS w, event_type,
              COUNT(*) AS cnt,
              CAST(ROUND(SUM(CAST(value AS DECIMAL(30,6))), 2) AS DOUBLE) AS sv
       FROM events GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x33(spark, sf):
    # STREAMING result hash-checked against the BATCH oracle: the staged
    # event stream drains through Structured Streaming (event-time
    # tumbling windows + watermark, Trigger.AvailableNow) and must equal
    # what DuckDB computes over the same rows at rest — q18's streaming
    # twin promoted to the driver contract.
    from deva_spark.streaming.twin import events_file_stream, run_available_now, tumbling_counts

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    return run_available_now(tumbling_counts(s), "x33_drain", output_mode="complete", state_partitions=8)


@query(
    "x34_streaming_sessions",
    """WITH s AS (
         SELECT user_id, ts,
                CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) sess
         FROM (SELECT *, CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                                   > INTERVAL 30 MINUTE
                              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                         THEN 1 ELSE 0 END new_s FROM events) a)
       SELECT user_id, MIN(ts) AS start, COUNT(*) AS cnt
       FROM s GROUP BY user_id, sess ORDER BY 1, 2""",
)
def x34(spark, sf):
    # streaming session_window drain vs the batch lag-based oracle.
    from deva_spark.streaming.twin import events_file_stream, run_available_now, session_counts

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    return run_available_now(session_counts(s), "x34_drain", output_mode="complete", state_partitions=8)


@query(
    "x35_streaming_running_sum",
    """SELECT user_id, event_id,
              CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT))
                     OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS DOUBLE) / 100.0 AS rs
       FROM events ORDER BY event_id""",
)
def x35(spark, sf):
    # STREAMING stateful running fold (accumulate/scan via
    # applyInPandasWithState, ops.py:738-824 + 803-806) hash-checked
    # against the batch prefix-sum oracle: integer-cents state makes the
    # streamed total independent of micro-batch boundaries.
    from deva_spark.streaming.stateful import streaming_running_sum_exact
    from deva_spark.streaming.twin import events_file_stream, run_available_now

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    return run_available_now(
        streaming_running_sum_exact(s), "x35_drain", output_mode="append", state_partitions=8
    )


@query(
    "x36_streaming_zscore",
    """WITH o AS (
         SELECT user_id, event_id, value,
                COUNT(*) OVER wp AS n,
                AVG(value) OVER wp AS m,
                STDDEV_SAMP(value) OVER wp AS sd
         FROM events
         WINDOW wp AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
       SELECT user_id, event_id, CAST(ROUND((value - m) / sd, 2) AS DOUBLE) AS z
       FROM o
       WHERE n >= 30 AND sd > 0 AND ABS((value - m) / sd) >= 3
       ORDER BY event_id""",
)
def x36(spark, sf):
    # STREAMING online Welford anomaly detector (radar/engine.py:264-298)
    # hash-checked against the batch prefix-window oracle: flag-before-update
    # online semantics == stats over the strictly-preceding rows per key.
    from deva_spark.streaming.stateful import streaming_zscore_anomalies
    from deva_spark.streaming.twin import events_file_stream, run_available_now

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    out = run_available_now(
        streaming_zscore_anomalies(s), "x36_drain", output_mode="append", state_partitions=8
    )
    return out.select(
        "user_id", "event_id", F.round("z", 2).cast("double").alias("z")
    )


@query(
    "x37_llm_json_extract",
    """SELECT doc_id,
              list_reduce(list_transform(
                  regexp_extract_all(substr(md5('classify: ' || text), 1, 8), '.'),
                  c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)),
                (a, b) -> a * 16 + b) % 100 AS score,
              'stub:' || substr(md5('classify: ' || text), 1, 8) AS label
       FROM documents ORDER BY doc_id""",
)
def x37(spark, sf):
    # structured-extraction LLM stage (async_json_gpt twin) under the
    # driver contract: the deterministic offline stub derives the JSON
    # object from the prompt md5, which the oracle reproduces with a
    # hex-fold — so the WHOLE path (prompt build → mapInPandas client →
    # JSON validation → from_json struct) is hash-checked.
    from deva_spark.functions.llm import llm_stage_json

    prompts = _t(spark, sf, "documents").select(
        "doc_id", F.concat(F.lit("classify: "), F.col("text")).alias("prompt")
    )
    out = llm_stage_json(prompts, "score bigint, label string")
    return out.select(
        "doc_id", F.col("parsed.score").alias("score"), F.col("parsed.label").alias("label")
    )


@query(
    "x38_stream_interval_join",
    """SELECT a.event_id AS click_id, b.event_id AS purchase_id
       FROM events a JOIN events b
         ON a.user_id = b.user_id
        AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
       WHERE a.event_type = 'click' AND b.event_type = 'purchase'
       ORDER BY 1, 2""",
)
def x38(spark, sf):
    # STREAM-STREAM event-time interval join drained against the batch
    # self-join oracle: each streamed click pairs with the same user's
    # purchases in the preceding hour. Watermarks on both sides bound the
    # join state (the scale property the reference's in-memory
    # combine-latest cache lacked).
    from deva_spark.streaming.twin import (
        events_file_stream,
        run_available_now,
        stream_interval_join,
    )

    staged = _shared_artifact_path(spark, sf, "event_chunks4")
    clicks = events_file_stream(spark, staged, files_per_trigger=2).filter(
        F.col("event_type") == "click"
    )
    purchases = events_file_stream(spark, staged, files_per_trigger=2).filter(
        F.col("event_type") == "purchase"
    )
    joined = stream_interval_join(clicks, purchases, key="user_id", band="1 hour")
    out = run_available_now(
        joined.select(
            F.col("l.event_id").alias("click_id"),
            F.col("r.event_id").alias("purchase_id"),
        ),
        "x38_drain",
        output_mode="append", state_partitions=8,
    )
    return out


def _md5_bucket_sql(expr: str, buckets: int = 100) -> str:
    """DuckDB twin of operators.sampling.hash_bucket: fold the md5 head's
    hex chars into the same 32-bit integer Spark's conv(...) produces."""
    return (
        f"list_reduce(list_transform("
        f"regexp_extract_all(substr(md5({expr}), 1, 8), '.'), "
        f"c -> CAST(strpos('0123456789abcdef', c) - 1 AS BIGINT)), "
        f"(a, b) -> a * 16 + b) % {buckets}"
    )


@query(
    "x39_stratified_sample",
    f"""SELECT event_id FROM events
        WHERE {_md5_bucket_sql("CAST(event_id AS VARCHAR)")} <
              CASE event_type WHEN 'click' THEN 10
                              WHEN 'view' THEN 5 ELSE 50 END
        ORDER BY event_id""",
)
def x39(spark, sf):
    # curation op: deterministic per-stratum downsampling by content-hash
    # bucket — stable under re-partitioning/re-runs/engine swaps (a seeded
    # Bernoulli draw is not), pure map, no shuffle.
    from deva_spark.operators import sampling

    return (
        _t(spark, sf, "events")
        .transform(
            sampling.stratified_sample(
                {"click": 10, "view": 5}, "event_type", "event_id", default_rate=50
            )
        )
        .select("event_id")
    )


@query(
    "x40_dataset_split",
    f"""SELECT doc_id,
               CASE WHEN {_md5_bucket_sql("CAST(doc_id AS VARCHAR)")} < 80 THEN 'train'
                    WHEN {_md5_bucket_sql("CAST(doc_id AS VARCHAR)")} < 90 THEN 'val'
                    ELSE 'test' END AS split
        FROM documents ORDER BY doc_id""",
)
def x40(spark, sf):
    # curation op: deterministic train/val/test assignment by content hash
    # — join-free, shuffle-free, reproducible split label per row.
    from deva_spark.operators import sampling

    return (
        _t(spark, sf, "documents")
        .transform(sampling.dataset_split("doc_id", train_pct=80, val_pct=10))
        .select("doc_id", "split")
    )


@query(
    "x41_dedup_clusters",
    r"""WITH RECURSIVE words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS shingles
          FROM words WHERE len(ws) >= 3
        ), ex AS (
          SELECT doc_id, UNNEST(shingles) AS s FROM sh
        ), sizes AS (
          SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY doc_id
        ), common AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
          FROM ex a JOIN ex b USING (s) WHERE a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id_a, id_b FROM common
          JOIN sizes na ON na.doc_id = id_a
          JOIN sizes nb ON nb.doc_id = id_b
          WHERE common * 100 >= (na.n + nb.n - common) * 30
        ), edges AS (
          SELECT id_a AS a, id_b AS b FROM pairs
          UNION ALL
          SELECT id_b, id_a FROM pairs
        ), reach(node, lbl) AS (
          SELECT a, a FROM edges
          UNION
          SELECT e.b, r.lbl FROM reach r JOIN edges e ON e.a = r.node
        )
        SELECT node AS doc_id, MIN(lbl) AS cluster_id,
               node = MIN(lbl) AS is_canonical
        FROM reach GROUP BY node ORDER BY doc_id""",
)
def x41(spark, sf):
    # dedup funnel last mile: near-dup PAIRS (x05's exact-jaccard edges)
    # -> connected components (distributed min-label propagation) -> one
    # canonical survivor per cluster. The oracle resolves the same
    # components with a recursive reachability CTE.
    from deva_spark.operators import graphs

    pairs = _jaccard_pairs(spark, sf)
    return graphs.canonical_assignments(pairs.select("id_a", "id_b"))


@query(
    "x42_repetition_signals",
    r"""WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        ), g AS (
          SELECT doc_id, ws,
                 list_transform(range(1, greatest(len(ws) - 1, 0) + 1),
                                i -> ws[i] || ' ' || ws[i+1]) AS bg,
                 list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                                i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS tg
          FROM words
        )
        SELECT doc_id,
               len(ws) AS n_words,
               len(list_distinct(ws)) AS n_distinct_words,
               len(bg) AS n_bigrams,
               CASE WHEN len(bg) > 0 THEN
                 list_max(list_transform(list_distinct(bg),
                          x -> len(list_filter(bg, y -> y = x))))
               ELSE 0 END AS top_bigram_count,
               len(tg) AS n_trigrams,
               len(list_distinct(tg)) AS n_distinct_trigrams
        FROM g ORDER BY doc_id""",
)
def x42(spark, sf):
    # Gopher-style repetition/diversity counters — raw BIGINTs (exactly
    # hash-stable; ratio thresholds are integer cross-multiplied by the
    # caller), pure codegen column expressions.
    sig = T.repetition_signals(F.col("text"))
    return _t(spark, sf, "documents").select("doc_id", sig.alias("_r")).select(
        "doc_id", "_r.*"
    )


@query(
    "x43_pii_redaction",
    r"""SELECT doc_id,
               regexp_replace(regexp_replace(regexp_replace(
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com via 10.0.'
                        || CAST(doc_id % 256 AS VARCHAR)
                        || '.7 or call +1-555-'
                        || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                   '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g'),
                   '\+?[0-9]{1,3}-[0-9]{3}-[0-9]{3,4}(-[0-9]{3,4})?', '<PHONE>', 'g')
               AS redacted
        FROM documents ORDER BY doc_id""",
)
def x43(spark, sf):
    # PII scrub pass over deterministically-augmented text (the corpus has
    # no organic PII, so both engines plant the same email/IP/phone per
    # doc, then the chained regexp_replace redaction must agree exactly).
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@example.com via 10.0."),
        (d % 256).cast("string"),
        F.lit(".7 or call +1-555-"),
        F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    return _t(spark, sf, "documents").select(
        "doc_id", T.redact_pii(aug).alias("redacted")
    )


@query(
    "x44_decontamination",
    r"""WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4])) AS shingles
          FROM words WHERE len(ws) >= 5
        ), ex AS (
          SELECT doc_id, UNNEST(shingles) AS s FROM sh
        ), bench AS (
          SELECT DISTINCT s FROM ex WHERE doc_id % 97 = 0
        )
        SELECT e.doc_id, COUNT(*) AS n_shared
        FROM ex e JOIN bench USING (s)
        WHERE e.doc_id % 97 <> 0
        GROUP BY 1 ORDER BY 1""",
)
def x44(spark, sf):
    # benchmark decontamination: count distinct 5-grams each corpus doc
    # shares with the benchmark subset (doc_id % 97 == 0) — hashed-shingle
    # join over the SHARED shingle index (one explode serves x44/x45/x55),
    # benchmark side broadcast-small.
    from deva_spark.plans.corpus import contamination_counts_prehashed

    sh = _shingle5_hashes(spark, sf).select(
        F.col("doc_id").alias("_id"), "_sh"
    )
    return contamination_counts_prehashed(
        sh.filter(F.col("_id") % 97 != 0), sh.filter(F.col("_id") % 97 == 0)
    )


@query(
    "x45_boilerplate",
    r"""WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_distinct(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4])) AS shingles
          FROM words WHERE len(ws) >= 5
        ), ex AS (
          SELECT doc_id, UNNEST(shingles) AS s FROM sh
        ), common AS (
          SELECT s, 1 AS hit FROM ex GROUP BY s HAVING COUNT(*) >= 3
        )
        SELECT e.doc_id, COUNT(*) AS n_shingles, COUNT(c.hit) AS n_common
        FROM ex e LEFT JOIN common c USING (s)
        GROUP BY 1 ORDER BY 1""",
)
def x45(spark, sf):
    # RefinedWeb-style boilerplate signal: per doc, how many of its
    # distinct 5-grams recur in >= 3 docs corpus-wide (headers/footers/
    # templates). Hashed-shingle shuffle over the shared index — 8-byte
    # keys, never text.
    from deva_spark.plans.corpus import boilerplate_stats_prehashed

    sh = _shingle5_hashes(spark, sf).select(
        F.col("doc_id").alias("_id"), "_sh"
    )
    return boilerplate_stats_prehashed(sh, min_docs=3)


@query(
    "x46_sequence_packing",
    r"""WITH RECURSIVE w AS (
          SELECT source, doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
          FROM documents
        ), t AS (
          SELECT source, doc_id, n_tokens,
                 row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
          FROM w
        ), rec(source, rn, doc_id, n_tokens, cum, pack) AS (
          SELECT source, rn, doc_id, n_tokens, n_tokens, CAST(0 AS BIGINT)
          FROM t WHERE rn = 1
          UNION ALL
          SELECT t.source, t.rn, t.doc_id, t.n_tokens,
                 CASE WHEN r.cum + t.n_tokens > 256 THEN t.n_tokens
                      ELSE r.cum + t.n_tokens END,
                 CASE WHEN r.cum + t.n_tokens > 256 THEN r.pack + 1
                      ELSE r.pack END
          FROM rec r JOIN t ON t.source = r.source AND t.rn = r.rn + 1
        )
        SELECT source, doc_id, n_tokens, pack AS pack_id
        FROM rec ORDER BY source, doc_id""",
)
def x46(spark, sf):
    # context-window packing: greedy fill of 256-token packs per source
    # shard — parallel across shards, deterministic within (the oracle
    # replays the same greedy walk as a recursive CTE).
    from deva_spark.operators.packing import greedy_pack

    docs = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        F.size(T.words(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    return greedy_pack(docs, "source", "doc_id", "n_tokens", capacity=256)


@query(
    "x47_mixture_rebalance",
    f"""WITH c AS (
          SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY 1
        ), r AS (
          SELECT lang,
                 CAST(floor(100.0 * sqrt((SELECT MIN(cnt) FROM c) / cnt)) AS INT)
                   AS rate
          FROM c
        )
        SELECT d.doc_id, d.lang FROM documents d JOIN r USING (lang)
        WHERE {_md5_bucket_sql("CAST(doc_id AS VARCHAR)")} < rate
        ORDER BY doc_id""",
)
def x47(spark, sf):
    # temperature (alpha=0.5) mixture rebalancing: big languages are
    # deterministically downsampled toward parity, smallest keeps 100%.
    # sqrt (not pow) because both engines round it correctly per IEEE.
    from deva_spark.operators import sampling

    return (
        _t(spark, sf, "documents")
        .transform(sampling.mixture_rebalance("lang", "doc_id"))
        .select("doc_id", "lang")
    )


@query(
    "x48_int8_quantization",
    """SELECT vec_id,
              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))))
                AS scale,
              CAST(len(embedding) AS BIGINT) AS n_dims,
              CAST(list_sum(list_transform(embedding, x ->
                CASE WHEN scale = 0 THEN 0
                     ELSE CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                               AS BIGINT) END)) AS BIGINT) AS sum_q,
              CAST(list_sum(list_transform(embedding, x ->
                CASE WHEN scale = 0 THEN 0
                     ELSE abs(CAST(floor(CAST(x AS DOUBLE) * 127.0 / scale + 0.5)
                              AS BIGINT)) END)) AS BIGINT) AS sum_abs_q
       FROM embeddings ORDER BY vec_id""",
)
def x48(spark, sf):
    # int8 embedding-store compression: symmetric per-vector quantization
    # with floor(x+0.5) rounding (HALF_UP vs half-even differs between
    # engines; floor doesn't). Checked via integer code checksums.
    # Arrow-vectorized stats UDF (quantize_int8's column twin evaluates
    # array lambdas interpreted — same IEEE arithmetic, one numpy pass)
    return (
        _t(spark, sf, "embeddings")
        .select("vec_id", V.quantize_stats_udf(F.col("embedding")).alias("_q"))
        .select("vec_id", "_q.scale", "_q.n_dims", "_q.sum_q", "_q.sum_abs_q")
    )


@query(
    "x49_streaming_first_seen",
    """WITH r AS (
         SELECT user_id, ts, event_id, event_type,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                  AS rn
         FROM events
       )
       SELECT user_id, ts AS first_ts, event_id AS first_event_id,
              event_type AS first_event_type
       FROM r WHERE rn = 1 ORDER BY user_id""",
)
def x49(spark, sf):
    # STREAMING first-seen-per-key drain (unique(key=...) promoted to the
    # driver contract): event-time min_by aggregation, so the result is
    # identical no matter how the backlog was micro-batched — unlike raw
    # dropDuplicates, whose survivor depends on arrival order.
    from deva_spark.streaming.twin import (
        events_file_stream,
        run_available_now,
        streaming_first_event,
    )

    s = events_file_stream(spark, _shared_artifact_path(spark, sf, "event_chunks4"), files_per_trigger=2)
    return run_available_now(
        streaming_first_event(s, "user_id"), "x49_drain", output_mode="complete", state_partitions=8
    )


# ---------------------------------------------------------------------------
# Round 5 — corpus hygiene + relational breadth (x50-x59)
# ---------------------------------------------------------------------------


@query(
    "x50_prefix_dup_groups",
    r"""WITH p AS (
          SELECT doc_id,
                 array_to_string(regexp_split_to_array(trim(text), '\s+')[1:2], ' ')
                   AS prefix
          FROM documents
        )
        SELECT prefix, COUNT(*) AS n_docs, MIN(doc_id) AS keep_id
        FROM p GROUP BY prefix HAVING COUNT(*) > 1 ORDER BY prefix""",
)
def x50(spark, sf):
    # Crawl-style prefix dedup candidates (same-header pages): group docs
    # by their leading-k-words prefix, emit groups with >1 member and the
    # first-seen keeper. Shuffle key is the short prefix string, never the
    # body; at 100 TB swap the key for xxhash64(prefix) and keep min-id.
    docs = _t(spark, sf, "documents")
    prefix = F.concat_ws(" ", F.slice(T.words(F.col("text")), 1, 2))
    return (
        docs.select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@query(
    "x51_url_host_stats",
    r"""WITH aug AS (
          SELECT doc_id,
                 text || ' see https://cdn' || CAST(doc_id % 7 AS VARCHAR)
                      || '.example-' || CAST(doc_id % 13 AS VARCHAR)
                      || '.org/p/' || CAST(doc_id AS VARCHAR) AS t
          FROM documents
        )
        SELECT regexp_extract(t, 'https?://([a-z0-9.-]+)/', 1) AS host,
               COUNT(*) AS n_docs,
               CAST(SUM(len(regexp_split_to_array(trim(t), '\s+'))) AS BIGINT)
                 AS sum_tokens
        FROM aug GROUP BY 1 ORDER BY 1""",
)
def x51(spark, sf):
    # URL/host rollup for crawl curation (per-host doc counts feed host-
    # level quality decisions). The corpus has no organic URLs, so both
    # engines plant the same deterministic URL per doc (x43 precedent),
    # then host extraction + rollup must agree exactly.
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" see https://cdn"),
        (d % 7).cast("string"),
        F.lit(".example-"),
        (d % 13).cast("string"),
        F.lit(".org/p/"),
        d.cast("string"),
    )
    docs = _t(spark, sf, "documents").select("doc_id", aug.alias("t"))
    return (
        docs.select(
            F.regexp_extract("t", r"https?://([a-z0-9.-]+)/", 1).alias("host"),
            F.size(T.words(F.col("t"))).cast("bigint").alias("_n"),
        )
        .groupBy("host")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_n").alias("sum_tokens"),
        )
    )


@query(
    "x52_encoding_quality",
    r"""WITH aug AS (
          SELECT doc_id,
                 text
                 || CASE WHEN doc_id % 11 = 0
                         THEN ' caf' || chr(233) || ' r' || chr(233) || 'sum'
                              || chr(233) ELSE '' END
                 || CASE WHEN doc_id % 13 = 0 THEN chr(65533) ELSE '' END
                 || CASE WHEN doc_id % 17 = 0 THEN chr(7) ELSE '' END AS t
          FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(t, '[^\x00-\x7f]')) AS BIGINT)
                 AS n_nonascii,
               CAST(len(regexp_extract_all(t, '[\x00-\x08\x0b-\x1f]')) AS BIGINT)
                 AS n_control,
               CAST(len(regexp_extract_all(t, chr(65533))) AS BIGINT)
                 AS n_replacement,
               CAST(length(t) AS BIGINT) AS n_chars
        FROM aug ORDER BY doc_id""",
)
def x52(spark, sf):
    # Encoding-quality signals (mojibake / control-char screens): integer
    # counts per doc; callers threshold ratios by integer cross-multiply.
    # Corpus text is clean ASCII, so both engines plant identical non-ASCII
    # spans first. Pure codegen column expressions, no Python.
    d = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(d % 11 == 0, F.lit(" café résumé")).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.lit("�")).otherwise(F.lit("")),
        F.when(d % 17 == 0, F.lit("\x07")).otherwise(F.lit("")),
    )
    docs = _t(spark, sf, "documents").select("doc_id", aug.alias("t"))
    return docs.select(
        "doc_id",
        F.regexp_count("t", F.lit(r"[^\x00-\x7f]")).cast("bigint").alias("n_nonascii"),
        F.regexp_count("t", F.lit(r"[\x00-\x08\x0b-\x1f]"))
        .cast("bigint")
        .alias("n_control"),
        F.regexp_count("t", F.lit("�")).cast("bigint").alias("n_replacement"),
        F.length("t").cast("bigint").alias("n_chars"),
    )


@query(
    "x53_hourly_trending",
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
def x53(spark, sf):
    # Trending dashboard: per hour, top-3 event types by count with a
    # deterministic (cnt DESC, type ASC) tie-break. Count shuffles on
    # (hour, type); the rank window partitions by hour — no global window.
    ev = _t(spark, sf, "events")
    c = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hr"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("hr").orderBy(F.desc("cnt"), F.asc("event_type"))
    return (
        c.withColumn("rnk", F.rank().over(w))
        .filter(F.col("rnk") <= 3)
        .select("hr", "event_type", "cnt", "rnk")
    )


@query(
    "x54_source_token_budget",
    r"""WITH tok AS (
          SELECT source, doc_id,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
        ), r AS (
          SELECT source, n_tokens,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n_tokens, doc_id) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM tok
        )
        SELECT source,
               CAST(MAX(n) AS BIGINT) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(MAX(CASE WHEN rn = (n + 1) // 2 THEN n_tokens END) AS BIGINT)
                 AS median_tokens,
               CAST(MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN n_tokens END)
                 AS BIGINT) AS p90_tokens
        FROM r GROUP BY source ORDER BY source""",
)
def x54(spark, sf):
    # Token-budget report per source: exact discrete percentiles via
    # position selection — identical integer semantics on both engines,
    # no interpolating percentile. Positions come from the grouped
    # two-phase numbering (`windows.global_positions(group_cols=...)`,
    # r11): a plain per-source rank window would pull each source's full
    # corpus slice through ONE reducer (5 sources = 5 corpus-sized
    # reducers at any scale); the two-phase path range-buckets within
    # each source and adds broadcast offsets. The per-source count rides
    # a groupBy + broadcast join, not a count-over window, for the same
    # reason.
    from deva_spark.operators.joins import broadcast_join_null_safe
    from deva_spark.operators.windows import global_positions

    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "source",
        "doc_id",
        F.size(T.words(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    r = global_positions(
        tok, order=("n_tokens", "doc_id"), out="rn", group_cols=("source",)
    )
    n_by_src = tok.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # null-safe: the oracle's window PARTITION BY keeps a NULL source
    # group; a name-based equi-join would silently drop it (r11 review)
    r = broadcast_join_null_safe(r, n_by_src, ["source"])
    med_pos = F.expr("(n + 1) div 2")  # exact integer div — no float round
    p90_pos = F.expr("(9 * n + 9) div 10")
    return r.groupBy("source").agg(
        F.max("n").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.max(F.when(F.col("rn") == med_pos, F.col("n_tokens"))).alias(
            "median_tokens"
        ),
        F.max(F.when(F.col("rn") == p90_pos, F.col("n_tokens"))).alias(
            "p90_tokens"
        ),
    )


@query(
    "x55_cross_source_overlap",
    r"""WITH words AS (
          SELECT source, doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents
        ), ex AS (
          SELECT source,
                 UNNEST(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4])) AS s
          FROM words WHERE len(ws) >= 5
        ), sh AS (
          SELECT DISTINCT source, s FROM ex
        )
        SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_shared
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x55(spark, sf):
    # Cross-source contamination matrix: distinct 5-grams per source,
    # pairwise shared counts. ONE pass: per shingle hash, collect the
    # (sorted) source set and explode its in-array pairs — the corpus is
    # scanned once (a self-join would recompute the explode subtree for
    # both sides), the shuffle carries 8-byte hashes, and per-shingle
    # fan-out is bounded by C(n_sources, 2), not pair rows across docs.
    # the staged index is already per-shingle sorted source arrays —
    # the timed query is scan → pair-explode → pair aggregate
    srcs = _shared_artifact(spark, sf, "shingle5_src")
    pairs = ordered_pairs(
        F.col("_srcs"),
        lambda a, b: F.struct(a.alias("src_a"), b.alias("src_b")),
    )
    return (
        srcs.filter(F.size("_srcs") >= 2)
        .select(F.explode(pairs).alias("_p"))
        .groupBy(
            F.col("_p.src_a").alias("src_a"), F.col("_p.src_b").alias("src_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@query(
    "x56_common_token_mass",
    r"""WITH tok AS (
          SELECT doc_id,
                 UNNEST(regexp_split_to_array(trim(text), '\s+')) AS w
          FROM documents
        ), top10 AS (
          SELECT w FROM tok GROUP BY w
          ORDER BY COUNT(*) DESC, w LIMIT 10
        )
        SELECT t.doc_id,
               COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN p.w IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_common
        FROM tok t LEFT JOIN top10 p ON t.w = p.w
        GROUP BY 1 ORDER BY 1""",
)
def x56(spark, sf):
    # Stopword-mass proxy: per doc, how many tokens fall in the corpus
    # top-10 most frequent tokens (deterministic count-desc, token-asc
    # tie-break). Token frequency is the textbook power-law key set, so
    # the counts go through the salted two-phase aggregation (hot-token
    # reducer share bounded by 1/n_salts even if map-side hash-agg
    # spills to pass-through); the top-10 set is a broadcast join side
    # and the token explode aggregates straight back to doc_id.
    from deva_spark.operators.skew import salted_group_agg

    docs = _t(spark, sf, "documents")
    tok = docs.select(
        "doc_id", F.explode(T.words(F.col("text"))).alias("w")
    )
    top10 = (
        tok.transform(
            salted_group_agg(["w"], {"_c": (F.count(F.lit(1)), F.sum)})
        )
        .orderBy(F.desc("_c"), F.asc("w"))
        .limit(10)
        .select("w", F.lit(1).alias("_hit"))
    )
    return (
        tok.join(F.broadcast(top10), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_common"),
        )
    )


@query(
    "x57_length_histogram",
    r"""WITH tok AS (
          SELECT source,
                 CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT)
                   AS n_tokens
          FROM documents
        )
        SELECT source, n_tokens // 25 AS bucket, COUNT(*) AS n_docs
        FROM tok GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x57(spark, sf):
    # Doc-length histogram per source (fixed 25-token buckets — integer
    # division, no float log binning that could flip on exact powers).
    docs = _t(spark, sf, "documents")
    n = F.size(T.words(F.col("text"))).cast("bigint")
    return (
        docs.select(
            "source", F.floor(n / 25).cast("bigint").alias("bucket")
        )
        .groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


@query(
    "x58_late_orders_by_priority",
    """SELECT o.o_orderpriority, COUNT(*) AS n_orders
       FROM orders o
       WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
         AND o.o_orderdate < TIMESTAMP '1996-07-01'
         AND EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY)
       GROUP BY 1 ORDER BY 1""",
)
def x58(spark, sf):
    # TPC-H Q4 shape: EXISTS with a correlated cross-table predicate =
    # left-semi join with a compound condition (this testdata's lineitem
    # carries l_shipdate only, so "late" = shipped >90 days after the
    # order date). The date filter prunes the orders scan before the
    # semi-join; only matching keys shuffle.
    o = _t(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = _t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 90 DAY")
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "x59_customer_value_deciles",
    """WITH spend AS (
         SELECT o_custkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
                  AS total
         FROM orders GROUP BY 1
       ), r AS (
         SELECT o_custkey, total,
                row_number() OVER (ORDER BY total DESC, o_custkey) AS rn,
                COUNT(*) OVER () AS n
         FROM spend
       )
       SELECT CAST((rn - 1) * 10 // n AS BIGINT) AS decile,
              COUNT(*) AS n_customers,
              CAST(SUM(total) AS DECIMAL(18,2)) AS total_spend
       FROM r GROUP BY 1 ORDER BY 1""",
)
def x59(spark, sf):
    # Customer lifetime-value deciles: exact decimal spend, deterministic
    # (spend DESC, custkey) ranking, integer decile buckets. The global
    # numbering goes through the adaptive two-phase path (windows.
    # global_positions) — no single-reducer window at scale.
    spend = (
        _t(spark, sf, "orders")
        .groupBy("o_custkey")
        .agg(
            money_sum(F.col("o_totalprice")).cast("decimal(18,2)").alias("total")
        )
    )
    # global_positions orders ascending by name — rank DESC on spend via an
    # exact decimal negation (ties broken by custkey ASC on both engines).
    ranked = windows.global_positions(
        spend.withColumn("_neg", (-F.col("total")).cast("decimal(19,2)")),
        order=["_neg", "o_custkey"],
        out="rn",
    )
    # customer count as a broadcast 1-row aggregate (the x26 bounds /
    # mixture_rebalance pattern) — the old driver-side spend.count()
    # ran a second full orders aggregation at PLAN-BUILD time, doubling
    # the query's dominant cost on every invocation (r11 review)
    n_df = spend.agg(F.count(F.lit(1)).alias("_n"))
    return (
        ranked.join(F.broadcast(n_df))
        .select(
            F.expr("((rn - 1) * 10) div _n").alias("decile"),
            F.col("total"),
        )
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("total").cast("decimal(18,2)").alias("total_spend"),
        )
    )




# ---------------------------------------------------------------------------
# x120/x121: corpus-trained BPE (r14, VERDICT r13 "next" #4). The oracle
# replays the EXACT training loop unrolled: each merge round is one CTE
# trio (pair counts -> argmax with the (freq DESC, lhs, rhs) tie-break ->
# merge application via the double-space replace algebra, which makes
# non-overlapping left-to-right replace equal BPE's greedy scan in BOTH
# engines). Merge application uses LEFT JOIN b{k} ON TRUE with a
# NULL-guard CASE, not a cross join: on a corpus that fuses completely
# before the last round, b{k} goes empty and a cross join would empty
# every later w{k} — diverging from train_bpe's early-stop, which keeps
# the final segmentation (review r14; degenerate-parity and replace-
# algebra parity both pinned in tests/test_bpe.py). w/b CTEs are declared
# AS MATERIALIZED: each w{k} is referenced twice, and DuckDB's default
# inlining would otherwise expand the 12-round chain exponentially
# (the un-hinted query never finishes). 12 rounds keeps the
# generated SQL ~90 lines and already learns multi-char subwords on the
# test corpora.
# ---------------------------------------------------------------------------

_BPE_N = 12


def _bpe_oracle_ctes(n_merges: int, corpus_where: str = "") -> str:
    parts = [
        f"""WITH w0 AS MATERIALIZED (
  SELECT word, COUNT(*)::BIGINT AS freq,
         array_to_string(string_split(word, ''), ' ') || ' </w>' AS seg
  FROM (
    SELECT u.w AS word FROM documents,
      UNNEST(string_split_regex(lower(COALESCE(text, '')), '[^a-z]+')) AS u(w)
    WHERE u.w <> ''{corpus_where}
  ) GROUP BY word
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", p{k} AS (
  SELECT lhs, rhs, SUM(freq)::BIGINT AS freq FROM (
    SELECT w.freq, w.syms[i] AS lhs, w.syms[i + 1] AS rhs
    FROM (SELECT freq, string_split(seg, ' ') AS syms FROM w{k}) w,
         UNNEST(generate_series(1, array_length(w.syms) - 1)) AS u(i)
  ) GROUP BY 1, 2
), b{k} AS MATERIALIZED (
  SELECT {k} AS step, lhs, rhs, freq FROM p{k}
  ORDER BY freq DESC, lhs, rhs LIMIT 1
), w{k + 1} AS MATERIALIZED (
  SELECT w{k}.word, w{k}.freq,
         CASE WHEN b.lhs IS NULL THEN w{k}.seg ELSE trim(replace(replace(
    ' ' || replace(w{k}.seg, ' ', '  ') || ' ',
    ' ' || b.lhs || '  ' || b.rhs || ' ',
    ' ' || b.lhs || b.rhs || ' '), '  ', ' ')) END AS seg
  FROM w{k} LEFT JOIN b{k} b ON TRUE
)"""
        )
    return "".join(parts)


_X120_ORACLE = (
    _bpe_oracle_ctes(_BPE_N)
    + "\n"
    + " UNION ALL ".join(f"SELECT * FROM b{k}" for k in range(_BPE_N))
    + " ORDER BY step"
)


@query("x120_bpe_merge_table", _X120_ORACLE)
def x120(spark, sf):
    # TRAINED SUBWORD VOCABULARY (r14): the Sennrich-2016 BPE merge
    # loop as a Spark aggregation over the distinct-word synopsis —
    # ONE corpus-scale job (word counts), then 12 rounds of
    # pair-count argmax (1-row collect each, bounded by contract) +
    # JVM string-algebra merge application. The driver-checked surface
    # is the merge table itself: 12 (step, lhs, rhs, freq) rows that
    # the DuckDB oracle re-derives by replaying the identical loop
    # unrolled — a drifted tie-break, a wrong greedy-overlap
    # semantics, or a miscounted pair all flip the hash.
    from deva_spark.functions import bpe

    words = bpe.word_counts(_t(spark, sf, "documents"))
    merges, _ = bpe.train_bpe(words, _BPE_N)
    return bpe.merges_df(spark, merges).orderBy("step")


_X121_ORACLE = (
    _bpe_oracle_ctes(_BPE_N)
    + f""",
dw AS (
  SELECT doc_id, u.w AS word FROM documents,
    UNNEST(string_split_regex(lower(COALESCE(text, '')), '[^a-z]+')) AS u(w)
  WHERE u.w <> ''
)
SELECT dw.doc_id,
       SUM(array_length(string_split(f.seg, ' ')))::BIGINT AS n_tokens
FROM dw JOIN w{_BPE_N} f USING (word)
GROUP BY dw.doc_id ORDER BY dw.doc_id"""
)


@query("x121_bpe_token_counts", _X121_ORACLE)
def x121(spark, sf):
    # TOKEN BUDGETING IN TRAINED TOKENS (r14): per-document subword
    # counts under the x120 vocabulary — the number a loader
    # pipeline's per-source budgets (x54) and sequence packing (x46)
    # should price, not whitespace words. Spark side: the trained
    # word -> segmentation table broadcast-joins each document's
    # words (the vocabulary is the synopsis; no per-token work). The
    # oracle replays the training chain and the same join. The trained
    # segmentation is a STAGED artifact (bpe_seg — train once per
    # (sf_dir, documents mtime), price many: the 100 TB shape, and
    # honest bench attribution per the staged-index discipline).
    from deva_spark.functions import bpe

    docs = _t(spark, sf, "documents")
    final = _shared_artifact(spark, sf, "bpe_seg")
    return bpe.token_counts(docs, final).orderBy("doc_id")


def _bpe_apply_ctes(n_merges: int) -> str:
    """Deployment half of the x124 oracle: segment the BATCH's distinct
    words by replaying the trained merges (b0..b{n-1} from the training
    chain) as the same double-space replace algebra, one MATERIALIZED
    CTE per merge (each s{k} is referenced by s{k+1} — the exponential-
    inlining hazard again)."""
    parts = [
        """, bw AS MATERIALIZED (
  SELECT doc_id, u.w AS word FROM documents,
    UNNEST(string_split_regex(lower(COALESCE(text, '')), '[^a-z]+')) AS u(w)
  WHERE doc_id % 7 = 3 AND u.w <> ''
), s0 AS MATERIALIZED (
  SELECT DISTINCT word,
         array_to_string(string_split(word, ''), ' ') || ' </w>' AS seg
  FROM bw
)"""
    ]
    for k in range(n_merges):
        parts.append(
            f""", s{k + 1} AS MATERIALIZED (
  SELECT s{k}.word,
         CASE WHEN b.lhs IS NULL THEN s{k}.seg ELSE trim(replace(replace(
    ' ' || replace(s{k}.seg, ' ', '  ') || ' ',
    ' ' || b.lhs || '  ' || b.rhs || ' ',
    ' ' || b.lhs || b.rhs || ' '), '  ', ' ')) END AS seg
  FROM s{k} LEFT JOIN b{k} b ON TRUE
)"""
        )
    return "".join(parts)


_X124_ORACLE = (
    _bpe_oracle_ctes(_BPE_N, corpus_where=" AND doc_id % 7 <> 3")
    + _bpe_apply_ctes(_BPE_N)
    + f"""
SELECT bw.doc_id,
       SUM(array_length(string_split(s.seg, ' ')))::BIGINT AS n_tokens
FROM bw JOIN s{_BPE_N} s USING (word)
GROUP BY 1 ORDER BY 1"""
)


@query("x124_bpe_unseen_batch_tokens", _X124_ORACLE)
def x124(spark, sf):
    # TOKENIZER DEPLOYMENT (r14): tomorrow's crawl is priced with
    # TODAY's vocabulary, never retrained per batch — the half of BPE
    # x120/x121 don't exercise (their vocab covers every corpus word
    # by construction; here the batch is the held-out doc_id % 7 = 3
    # slice, so its words can be genuinely unseen). The merge table is
    # a STAGED artifact trained on the % 7 <> 3 corpus (bpe_merges7,
    # 12 rows — collected as a bounded contract, the merge table IS
    # driver-sized); the batch's distinct words segment once through
    # the chained JVM replace algebra and broadcast-join back to the
    # per-doc word list: staged index + batch-sized work, no corpus
    # access. The oracle replays training on the filtered corpus AND
    # application to the batch — a drifted merge, a wrong application
    # order, or an unseen word mis-segmented all flip the hash.
    from deva_spark.functions import bpe

    merges = [
        (r.step, r.lhs, r.rhs, r.freq)
        for r in _shared_artifact(spark, sf, "bpe_merges7").collect()
    ]
    batch = _t(spark, sf, "documents").filter(F.col("doc_id") % 7 == 3)
    return bpe.batch_token_counts(batch, merges).orderBy("doc_id")
