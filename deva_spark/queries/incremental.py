"""Incremental/operational tiers (x73-x99).

Substring/duplicate-run dedup incl. corpus rewrite (x73-x77), every
incremental near-dup tier (exact/minhash/simhash/cosine/shingle),
cluster resolution with retraction and keep-best, curation audit,
sketch rollups (KMV/CMS/quantile) with retraction, bloom-pruned and
salted skew joins, z-order scans, incremental reservoir sampling
(x78-x99).
"""

from __future__ import annotations

from deva_spark.functions import minhash as mh
from deva_spark.functions import simhash as sh
from deva_spark.functions import text as T
from deva_spark.functions import vectors as V
from deva_spark.operators import aggregates as agg
from deva_spark.operators import dedup
from deva_spark.operators import graphs
from deva_spark.operators import joins
from pyspark.sql import functions as F
import os as _os
from deva_spark.queries._infra import (
    ORACLE_SQL,
    _doc_signatures,
    _jaccard_pairs,
    _shared_artifact,
    _shared_artifact_path,
    _t,
    query,
)
from deva_spark.queries.declared import _STOPS_SQL
from deva_spark.session import session_memo
from deva_spark.queries.similarity import (
    _x23_oracle,
    _x32_oracle,
)

@query(
    "x73_merge_intervals",
    """WITH sp AS (
         SELECT user_id, ts AS start_ts,
                ts + (CAST(FLOOR(value) AS BIGINT) % 300)
                     * INTERVAL 1 SECOND AS end_ts
         FROM events
       ), m AS (
         SELECT user_id, start_ts, end_ts,
                MAX(end_ts) OVER (
                  PARTITION BY user_id ORDER BY start_ts, end_ts
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) AS pmax
         FROM sp
       ), f AS (
         SELECT *, CASE WHEN pmax IS NULL OR start_ts > pmax
                        THEN 1 ELSE 0 END AS brk
         FROM m
       ), g AS (
         SELECT *, SUM(brk) OVER (
                     PARTITION BY user_id ORDER BY start_ts, end_ts
                     ROWS UNBOUNDED PRECEDING
                   ) AS island
         FROM f
       )
       SELECT user_id, MIN(start_ts) AS start_ts, MAX(end_ts) AS end_ts,
              COUNT(*) AS n_merged
       FROM g GROUP BY user_id, island
       ORDER BY user_id, start_ts""",
)
def x73(spark, sf):
    # Interval merge over EXPLICIT [start, end] spans (windows.
    # merge_intervals — the gaps-and-islands primitive complementing
    # x25's point-event sessionization): spans synthesized per user as
    # [ts, ts + (floor(value) % 300) sec]. The span end uses exact
    # integer-second timestampadd (floor-then-mod, both engines
    # truncate identically) so the timestamps are bit-identical; keyed
    # on user_id, so the two window passes and the island aggregate all
    # ride ONE shuffle — the scale path (a global merge single-reduces).
    from deva_spark.operators.windows import merge_intervals

    spans = _t(spark, sf, "events").select(
        "user_id",
        F.col("ts").alias("start_ts"),
        F.expr(
            "timestampadd(SECOND, CAST(FLOOR(value) AS BIGINT) % 300, ts)"
        ).alias("end_ts"),
    )
    return merge_intervals("start_ts", "end_ts", partition="user_id")(
        spans
    ).select("user_id", "start_ts", "end_ts", "n_merged")


@query(
    "x74_substring_dup_pairs",
    r"""WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 8 + 2),
                          i -> array_to_string(w[i : i + 7], ' '))) AS s
            FROM d WHERE len(w) >= 8
          )
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        ORDER BY 1, 2""",
)
def x74(spark, sf):
    # Exact-substring dedup tier (VERDICT r7 #2, Lee et al. 2022
    # re-expressed): doc pairs sharing at least one exact 8-word run at
    # ANY position — the signal the ratio tiers (x05/x06/x07) dilute
    # for licence boilerplate and partially-copied documents. Inverted
    # index over per-doc distinct window hashes; the self-join ships
    # 8-byte xxhash64 keys, never text; n_common is an exact integer
    # count, hash-stable across engines.
    # The staged pair-ready grouped index makes it one scan, an
    # in-array pair explode and one aggregate (the shingle5_src move;
    # 2x the flat-index join route at sf1, parity-tested).
    from deva_spark.functions.substring import substring_dup_pairs_from_groups

    return substring_dup_pairs_from_groups(
        _shared_artifact(spark, sf, "subwin8g"), min_common=1
    )


@query(
    "x75_longest_common_run",
    r"""WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), p AS (
          SELECT doc_id, u.pos AS pos, u.s AS s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 8 + 2),
                          i -> struct_pack(pos := i,
                               s := array_to_string(w[i : i + 7], ' ')))) AS u
            FROM d WHERE len(w) >= 8
          )
        ), m AS (
          SELECT a.doc_id AS ia, b.doc_id AS ib, a.pos AS pa,
                 a.pos - b.pos AS dd
          FROM p a JOIN p b ON a.s = b.s AND a.doc_id < b.doc_id
        ), r AS (
          SELECT ia, ib, dd, pa,
                 pa - ROW_NUMBER() OVER (
                   PARTITION BY ia, ib, dd ORDER BY pa) AS grp
          FROM m
        ), runs AS (
          SELECT ia, ib, COUNT(*) AS len
          FROM r GROUP BY ia, ib, dd, grp
        )
        SELECT ia AS id_a, ib AS id_b, MAX(len) + 7 AS run_words
        FROM runs GROUP BY 1, 2 ORDER BY 1, 2""",
)
def x75(spark, sf):
    # Longest exact shared word-run per doc pair (substring.
    # longest_common_run — the measurement Lee et al.'s suffix arrays
    # produce): shared windows land on (pair, diagonal) chains, a
    # pos - row_number() island pass measures them, and an island of L
    # windows certifies a run of L + window - 1 words exactly. The join
    # ships (hash, id, pos) rows; the island window rides the pair
    # shuffle.
    # The staged pair-ready positioned group index makes it scan ->
    # in-array pair explode -> island aggregate, with no join shuffle
    # (the subwin8g move; parity-tested).
    from deva_spark.functions.substring import longest_common_run_from_groups

    return longest_common_run_from_groups(
        _shared_artifact(spark, sf, "subpos8g"), window=8
    )


@query(
    "x77_incremental_dup_pairs",
    r"""WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 8 + 2),
                          i -> array_to_string(w[i : i + 7], ' '))) AS s
            FROM d WHERE len(w) >= 8
          )
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        WHERE a.doc_id % 10 = 0 OR b.doc_id % 10 = 0
        GROUP BY 1, 2
        ORDER BY 1, 2""",
)
def x77(spark, sf):
    # Incremental dedup — the operational 100 TB shape: docs with
    # doc_id % 10 == 0 simulate a NEW 10% arrival batch (SCALE-INVARIANT
    # split, the x86 recipe — the old `doc_id >= 450` cutoff degenerated
    # to a 99%-of-corpus "batch" on amplified tables, VERDICT r9 #5);
    # its window index joins the STAGED index of the existing corpus
    # (new x old) plus a batch self-join (new x new). old x old is never
    # recomputed, so the per-batch cost scales with batch size, not
    # corpus size; result == the full x74 pair set restricted to pairs
    # touching the batch (parity-tested). The index is the staged
    # PRUNED flat index (subwin8d — distinct (doc_id, wh) rows whose wh
    # is held by >= 2 docs, the ~10x-smaller pair-forming subset),
    # result-identical by construction (a wh held by one doc can never
    # form a pair).
    from deva_spark.functions.substring import incremental_dup_pairs

    batch_pred = F.col("doc_id") % 10 == 0
    idx = _shared_artifact(spark, sf, "subwin8d")
    return incremental_dup_pairs(
        idx.filter(batch_pred),
        idx.filter(~batch_pred),
    )


@query(
    "x78_streaming_incremental_dedup",
    r"""WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), sh AS (
          SELECT DISTINCT doc_id, s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 8 + 2),
                          i -> array_to_string(w[i : i + 7], ' '))) AS s
            FROM d WHERE len(w) >= 8
          )
        )
        SELECT a.doc_id AS id_a, b.doc_id AS id_b,
               COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.s = b.s
        WHERE a.doc_id % 10 <> 0 AND b.doc_id % 10 = 0
        GROUP BY 1, 2
        ORDER BY 1, 2""",
)
def x78(spark, sf):
    # STREAMING incremental dedup (x77's operational arrival shape):
    # new documents land on a file stream in doc_id-ordered chunks;
    # each micro-batch's window index (stateless explode+hash)
    # stream-static joins the STAGED corpus index and a streaming
    # aggregation counts shared windows per (old, new) pair. Counts
    # decompose over micro-batches, so the AvailableNow drain
    # hash-matches the batch oracle under any batching. The new-x-new
    # side runs as the batch epilogue (x77) once the batch index
    # appends to the staged corpus.
    from deva_spark.streaming.twin import (
        docs_file_stream,
        run_available_now,
        streaming_incremental_pairs,
    )

    batch_pred = F.col("doc_id") % 10 == 0
    # corpus-wide >= 2-doc prune is sound for the stream-static join
    # too: an (old, new) pair's shared wh has corpus count >= 2, so the
    # old row survives the prune
    old = _shared_artifact(spark, sf, "subwin8d").filter(~batch_pred)
    s = docs_file_stream(
        spark,
        _shared_artifact_path(spark, sf, "doc_chunks_new10"),
        files_per_trigger=1,
    )
    return run_available_now(
        streaming_incremental_pairs(s, old, window=8),
        "x78_drain",
        output_mode="complete", state_partitions=8,
    )


@query("x79_ivf_append_search", None)  # oracle attached below (generated)
def x79(spark, sf):
    # Incremental ANN (x77's contract on the vector side): vectors with
    # vec_id % 10 == 0 simulate a 10% batch appended AFTER staging (the
    # scale-invariant modular split — the last absolute cutoff in the
    # registry, converted in r10) — ivf_append assigns them to the
    # EXISTING cells (old-corpus centers, no retrain) and appends
    # inside the cell partitions; the identical ivf_search_staged plan
    # then serves the grown corpus (partition pruning + one matmul
    # mapInPandas, no rebuild). The generated oracle mirrors the whole
    # pipeline with center training restricted to the pre-append corpus
    # — appended vectors DO appear in the results, proving the append
    # is live.
    q = _t(spark, sf, "embeddings").filter(F.col("vec_id") < 10)
    return V.ivf_search_staged(
        spark, _shared_artifact_path(spark, sf, "ivf16_app"), q, k=5, n_probe=4
    )


ORACLE_SQL["x79_ivf_append_search"] = _x32_oracle(
    train_where="WHERE vec_id % 10 <> 0"
)


@query(
    "x76_remove_duplicate_runs",
    r"""WITH d AS (
          SELECT doc_id,
                 regexp_split_to_array(lower(trim(text)), '\s+') AS w
          FROM documents
        ), p AS (
          SELECT doc_id, u.pos AS pos, u.s AS s FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) - 8 + 2),
                          i -> struct_pack(pos := i,
                               s := array_to_string(w[i : i + 7], ' ')))) AS u
            FROM d WHERE len(w) >= 8
          )
        ), mask AS (
          SELECT s, MIN(doc_id) AS keep_id
          FROM p GROUP BY s HAVING COUNT(DISTINCT doc_id) >= 2
        ), cov AS (
          SELECT DISTINCT p.doc_id, p.pos + k.o AS cp
          FROM p JOIN mask ON p.s = mask.s AND p.doc_id <> mask.keep_id
          CROSS JOIN (SELECT unnest(range(0, 8)) AS o) k
        ), wp AS (
          SELECT doc_id, u.i AS i, u.wd AS wd FROM (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(w) + 1),
                          j -> struct_pack(i := j, wd := w[j]))) AS u
            FROM d
          )
        ), kept AS (
          SELECT wp.doc_id, wp.i, wp.wd
          FROM wp LEFT JOIN cov
            ON wp.doc_id = cov.doc_id AND wp.i = cov.cp
          WHERE cov.doc_id IS NULL
        )
        SELECT d.doc_id,
               len(d.w) AS n_words,
               len(d.w) - COUNT(k.i) AS n_removed,
               COALESCE(string_agg(k.wd, ' ' ORDER BY k.i), '') AS clean_text
        FROM d LEFT JOIN kept k ON d.doc_id = k.doc_id
        GROUP BY d.doc_id, len(d.w)
        ORDER BY d.doc_id""",
)
def x76(spark, sf):
    # The substring tier's ACTION step (Lee et al. 2022's actual
    # dedup): rewrite the corpus with every >=8-word run shared by >=2
    # docs removed from all but its first-seen (min doc_id) doc.
    # x74/x75 detect; this removes. LINEAR anatomy — positioned window
    # index, duplicate mask (one hash aggregate), index-vs-mask hash
    # join (occurrence fan-out, no pairwise blowup), gaps-and-islands
    # interval merge per doc (the x73 anatomy over word spans), then a
    # pure-JVM array rewrite (filter-by-interval + array_join). Output
    # text is hash-stable: exact words joined by single spaces.
    from deva_spark.functions.substring import remove_duplicate_runs
    from deva_spark.session import ensure_parallelism, scan_partitions

    # ensure_parallelism (r14): the rewrite side — words() + the
    # per-word interval HOF filter + array_join over every document —
    # is the operator's CPU bulk, and the single-split test corpus ran
    # it as ONE task. Round-robin the raw docs (one narrow exchange of
    # the text column, no-op at cluster scale where the scan already
    # has thousands of splits); the rewrite is per-row, so results are
    # partition-invariant.
    docs = ensure_parallelism(
        _t(spark, sf, "documents"),
        nparts=scan_partitions(spark, sf, "documents"),
    )
    return remove_duplicate_runs(
        docs, window=8, positions=_shared_artifact(spark, sf, "subpos8")
    )


@query(
    "x80_incremental_minhash_neardup",
    r"""WITH words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents
        ), sh AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
          FROM words WHERE len(ws) >= 3
        ), hs AS (
          SELECT doc_id,
                 list_transform(shingles, s ->
                     [CAST(md5_number_upper(s) AS HUGEINT) % 2305843009213693951,
                      CAST(md5_number_lower(s) AS HUGEINT) % 2305843009213693951]) AS hs
          FROM sh
        ), sig AS (
          SELECT doc_id,
                 list_transform(range(0, 12),
                     j -> CAST(list_min(list_transform(hs,
                              h -> (h[1] + j * h[2]) % 2305843009213693951)) AS BIGINT)) AS sig
          FROM hs
        ), bands AS (
          SELECT doc_id, b,
                 md5(CAST(sig[b*3+1] AS VARCHAR) || '|' || CAST(sig[b*3+2] AS VARCHAR)
                     || '|' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
          FROM sig, range(0, 4) t(b)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM bands a JOIN bands b2 USING (b, bkey)
          WHERE a.doc_id < b2.doc_id
        ), scored AS (
          SELECT id_a, id_b,
                 len(list_filter(range(1, 13), i -> sa.sig[i] = sb.sig[i])) AS n_match
          FROM cand
          JOIN sig sa ON sa.doc_id = id_a
          JOIN sig sb ON sb.doc_id = id_b
        )
        SELECT id_a, id_b, CAST(ROUND(n_match / 12.0, 4) AS DOUBLE) AS est_sim
        FROM scored
        WHERE n_match >= 6 AND (id_a % 10 = 0 OR id_b % 10 = 0)
        ORDER BY id_a, id_b""",
)
def x80(spark, sf):
    # Incremental MinHash near-dup — the x77 anatomy on the signature
    # tier: docs with doc_id % 10 == 0 simulate a NEW 10% arrival batch
    # (scale-invariant split, the x86 recipe) whose band keys
    # join the existing corpus's band projection (new x old) plus a
    # batch self-join (new x new); old x old candidates never recompute
    # and band rows are append-only (a pure per-doc function of the
    # signature). The verify rescore joins the shared signature table
    # per candidate, so the output equals the full x06 pair set
    # restricted to pairs touching the batch (oracle = x06's SQL with
    # that restriction; parity test vs near_duplicates on the union).
    batch_pred = F.col("doc_id") % 10 == 0
    sigs = _doc_signatures(spark, sf)
    return mh.incremental_near_duplicates(
        sigs.filter(batch_pred),
        sigs.filter(~batch_pred),
    )


@query(
    "x81_incremental_dedup_clusters",
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
def x81(spark, sf):
    # Incremental cluster resolution — x77/x80's contract on the LAST
    # mile of the dedup funnel: the staged pre-batch assignment table
    # (old docs = doc_id % 10 != 0, the scale-invariant modular split;
    # its rows read as diameter-<=2 star edges) merges with the
    # batch-touching pair set (x77's restriction of the shared
    # jaccard_pairs edges); old x old pairs are never re-detected and
    # the pair history never replays. Output == the full x41 resolution
    # over the union corpus (same oracle SQL — the result is
    # SPLIT-INVARIANT, so this oracle needed no change), including the
    # case where one new edge bridges two previously-distinct old
    # clusters and the whole cluster relabels.
    from deva_spark.operators import graphs

    batch = (F.col("id_a") % 10 == 0) | (F.col("id_b") % 10 == 0)
    old_assign = _shared_artifact(spark, sf, "dup_assign_old")
    new_pairs = _jaccard_pairs(spark, sf).filter(batch).select("id_a", "id_b")
    return graphs.incremental_canonical_assignments(old_assign, new_pairs)


@query(
    "x82_incremental_simhash_neardup",
    r"""WITH w AS (
          SELECT doc_id, UNNEST(regexp_split_to_array(trim(text), '\s+')) AS word
          FROM documents
        ), wh AS (
          SELECT doc_id, substr(md5(word), 1, 12) AS hx FROM w
        ), bits AS (
          SELECT doc_id, b,
                 SUM(CASE WHEN CAST(floor((strpos('0123456789abcdef',
                          substr(hx, CAST(floor((47 - b) / 4) AS INT) + 1, 1)) - 1)
                          / power(2, b % 4)) AS BIGINT) % 2 = 1
                     THEN 1 ELSE -1 END) AS vote
          FROM wh, range(0, 48) t(b) GROUP BY doc_id, b
        ), fp AS (
          SELECT doc_id,
                 SUM(CASE WHEN vote > 0 THEN CAST(power(2, b) AS BIGINT) ELSE 0 END) AS fp
          FROM bits GROUP BY doc_id
        ), chunks AS (
          SELECT doc_id, fp, ci,
                 CAST(floor(fp / power(2, ci * 12)) AS BIGINT) % 4096 AS cv
          FROM fp, range(0, 4) t(ci)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, a.fp AS fp_a, b2.doc_id AS id_b, b2.fp AS fp_b
          FROM chunks a JOIN chunks b2 USING (ci, cv)
          WHERE a.doc_id < b2.doc_id
        )
        SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS BIGINT) AS hd
        FROM cand
        WHERE bit_count(xor(fp_a, fp_b)) <= 3 AND (id_a % 10 = 0 OR id_b % 10 = 0)
        ORDER BY id_a, id_b""",
)
def x82(spark, sf):
    # Incremental SimHash near-dup — the x77/x80 contract on the
    # fingerprint tier: docs with doc_id % 10 == 0 simulate a NEW 10%
    # arrival batch (scale-invariant split, the x86 recipe)
    # whose chunk keys join the existing corpus's chunk projection
    # (`simhash.chunk_keys`, the stageable/appendable index; chunk rows
    # carry fp so the Hamming verify is join-free) plus a batch
    # self-join; old x old candidates never recompute. Oracle = x07's
    # SQL restricted to batch-touching pairs; parity test vs
    # near_duplicates on the union incl. the staged old_chunks route
    # (tests/test_text_similarity.py).
    batch_pred = F.col("doc_id") % 10 == 0
    fps = _shared_artifact(spark, sf, "simhash_fps")
    return sh.incremental_near_duplicates(
        fps.filter(batch_pred),
        fps.filter(~batch_pred),
        max_hamming=3,
    ).select("id_a", "id_b", F.col("hd").cast("bigint").alias("hd"))


@query(
    "x83_incremental_exact_dedup",
    """WITH u AS (
         SELECT doc_id, text FROM documents
         UNION ALL
         SELECT doc_id + 10000000000 AS doc_id, text
         FROM documents WHERE doc_id % 97 = 3
       ), h AS (SELECT doc_id, MD5(TRIM(text)) AS _h FROM u),
       k AS (SELECT _h, MIN(doc_id) AS dup_of FROM h GROUP BY _h)
       SELECT doc_id, dup_of FROM h JOIN k USING (_h)
       WHERE (doc_id % 10 = 0 OR doc_id >= 10000000000)
         AND doc_id <> dup_of ORDER BY doc_id""",
)
def x83(spark, sf):
    # Incremental EXACT dedup — the x77/x80/x81 contract on the first
    # funnel tier: the new batch's digests (`dedup.digests`, the
    # stageable/appendable index) semi-join the staged digest table, so
    # only old rows whose digest the batch actually carries ever ship;
    # per-batch cost scales with the batch, never the corpus. The batch
    # is a scale-invariant 10% arrival slice (doc_id % 10 == 0, the x86
    # recipe) plus a RE-CRAWL slice — every 97th old page arriving again
    # under a new id (+1e10, above any amplified-table id range), the
    # shape exact dedup exists for (the small SFs carry no natural
    # byte-exact dups, so the batch models the operational one). dup_of
    # is the GLOBAL minimum id over the digest group (batch ∪ matched
    # old), so interleaved batch/old ids resolve identically in both
    # engines. Output == the union corpus's exact_text_groups membership
    # restricted to batch docs (oracle = q34's digest grouping as
    # per-doc dup_of rows with that restriction; parity test in
    # tests/test_windows_dedup.py).
    # The staged digest table IS the index: the batch's digests are
    # slices of it (a re-crawl carries the same trimmed text, hence the
    # same digest, under its new id) — no text re-hash at all.
    batch_pred = F.col("doc_id") % 10 == 0
    dg = _shared_artifact(spark, sf, "doc_digests")
    recrawl_dg = dg.filter(F.col("doc_id") % 97 == 3).withColumn(
        "doc_id", F.col("doc_id") + F.lit(10_000_000_000).cast("long")
    )
    batch_dg = dg.filter(batch_pred).unionByName(recrawl_dg)
    return dedup.incremental_exact_dups_from_digests(
        batch_dg, dg.filter(~batch_pred)
    )


@query(
    "x84_incremental_corpus_stats",
    r"""WITH t AS (
          SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS v
          FROM documents
        ), g AS (
          SELECT lang, COUNT(*) AS cnt, SUM(CAST(v AS HUGEINT)) AS s,
                 SUM(CAST(v AS HUGEINT) * v) AS s2, MIN(v) AS mn, MAX(v) AS mx
          FROM t GROUP BY lang
        )
        SELECT lang, cnt, CAST(s AS BIGINT) AS s, mn, mx,
               ROUND(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 4) AS mean,
               CASE WHEN cnt > 1
                    THEN ROUND(CAST(cnt * s2 - s * s AS DOUBLE)
                               / (CAST(cnt AS DOUBLE) * (cnt - 1)), 4)
               END AS var
        FROM g ORDER BY lang""",
)
def x84(spark, sf):
    # Incremental corpus statistics — the stats/monitoring tier of the
    # incremental ring (`aggregates.stats_partials` +
    # `merge_stat_partials`): three arrival batches each reduce to one
    # ALGEBRAIC partial row per lang (cnt/sum/sum-of-squares in exact
    # integer DECIMAL, min/max); the union of partials — the appendable
    # staged table — folds into full-corpus count/sum/min/max/mean/
    # variance without rescanning any old batch. Exact integer algebra
    # until one final IEEE division, so the merge is bit-identical under
    # any batch split (oracle = the direct one-pass SQL over the whole
    # corpus; split-invariance property test in test_misc_ops.py).
    # Batches are modular thirds (doc_id % 3) — scale-invariant at every
    # SF, where the old 300/450 id cutoffs degenerated to a 99% third on
    # amplified tables (VERDICT r9 #5).
    docs = _t(spark, sf, "documents")
    partials = None
    for r in (0, 1, 2):
        b = docs.filter(F.col("doc_id") % 3 == r)
        p = b.select(
            "lang", T.token_count(F.col("text")).alias("v")
        ).transform(agg.stats_partials("v", keys=["lang"]))
        partials = p if partials is None else partials.unionByName(p)
    return partials.transform(agg.merge_stat_partials(keys=["lang"]))


@query(
    "x85_kmv_rollup_distinct_users",
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
def x85(spark, sf):
    # Hierarchical KMV rollup — the distinct-count tier of the
    # incremental ring (`aggregates.kmv_partials` + `kmv_merge_partials`),
    # making kmv_distinct's "mergeable sketch = the 100 TB rollup path"
    # claim oracle-checked: one bounded SYNOPSIS row (k smallest distinct
    # hashes) per (event_type, day) — the appendable per-day table — then
    # the merge re-takes the k smallest over the union per event_type.
    # Every corpus-wide k-smallest hash is within its own day's k
    # smallest, so the rollup estimate is BIT-IDENTICAL to the one-shot
    # x60 sketch over the whole corpus (same oracle SQL; integer
    # arithmetic end to end).
    # _shared_artifact: staged read OR session-cached inline build —
    # the bare fallback rebuilt the day partials on every unstaged
    # invocation while sibling tiers (x94/x96/x106) cached (r11 review)
    partials = _shared_artifact(spark, sf, "kmv_day_users")
    return partials.transform(agg.kmv_merge_partials(keys=["event_type"], k=64))


@query(
    "x86_incremental_shingle_overlap",
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
        SELECT id_a, id_b, c AS common,
               ROUND(CAST(c AS DOUBLE) / (na.n + nb.n - c), 4) AS jaccard,
               (c * 100) // na.n AS cont_a_pct,
               (c * 100) // nb.n AS cont_b_pct
        FROM common
        JOIN sizes na ON na.doc_id = id_a
        JOIN sizes nb ON nb.doc_id = id_b
        WHERE (c * 100 >= (na.n + nb.n - c) * 30
               OR greatest((c * 100) // na.n, (c * 100) // nb.n) >= 30)
          AND (id_a % 10 = 0 OR id_b % 10 = 0)
        ORDER BY id_a, id_b""",
)
def x86(spark, sf):
    # Incremental EXACT-overlap dedup (`minhash.incremental_shingle_overlap`)
    # — the last dedup tier to get its batch-incremental form, closing
    # the ring: x05's symmetric Jaccard criterion AND x65's asymmetric
    # containment criterion in ONE pass over the shared staged 5-gram
    # index. The batch's exploded shingles join the staged corpus index
    # (new x old) plus a batch self-join; counting rows per pair IS the
    # exact |A∩B| (the index carries full sets — no rescore join), and
    # old x old pairs never recompute. Oracle = the full-corpus overlap
    # SQL (x65's CTEs + both criteria) restricted to batch-touching
    # pairs; parity test vs the full table in test_text_similarity.py.
    # The split is SCALE-INVARIANT (doc_id % 10 — a 10% arrival batch at
    # every SF): the old `doc_id >= 450` cutoff degenerated to a
    # 99%-of-corpus "batch" on the amplified bench tables, exhibiting
    # the incremental design at its worst (VERDICT r8 #5).
    batch_pred = F.col("doc_id") % 10 == 0
    # staged per-doc size table (appendable — sizes are per-doc
    # constants): the old side's sizes come from the bounded synopsis
    # instead of a second full-index aggregation
    sizes = _shared_artifact(spark, sf, "shingle5_sizes")
    # the >= 2-doc pruned projection: |A∩B| identical by construction;
    # BOTH sides' sizes then come from the full-index synopsis (the
    # new_sizes contract)
    idx = _shared_artifact(spark, sf, "shingle5d")
    return mh.incremental_shingle_overlap(
        idx.filter(batch_pred),
        idx.filter(~batch_pred),
        pct_threshold=30,
        old_sizes=sizes.filter(~batch_pred),
        new_sizes=sizes.filter(batch_pred),
    )


@query(
    "x87_batch_drift_gate",
    r"""WITH t AS (
          SELECT lang, doc_id,
                 len(regexp_split_to_array(trim(text), '\s+')) AS v
          FROM documents
        ), h AS (
          SELECT lang, COUNT(*) AS cnt, SUM(CAST(v AS HUGEINT)) AS s,
                 SUM(CAST(v AS HUGEINT) * v) AS s2
          FROM t WHERE doc_id % 10 <> 0 GROUP BY lang
        ), hf AS (
          SELECT lang, cnt,
                 ROUND(CAST(s AS DOUBLE) / cnt, 4) AS mean,
                 CASE WHEN cnt > 1
                      THEN ROUND(CAST(cnt * s2 - s * s AS DOUBLE)
                                 / (CAST(cnt AS DOUBLE) * (cnt - 1)), 4)
                 END AS var
          FROM h
        ), b AS (
          SELECT lang, COUNT(*) AS cnt,
                 ROUND(CAST(SUM(CAST(v AS HUGEINT)) AS DOUBLE)
                       / COUNT(*), 4) AS mean
          FROM t WHERE doc_id % 10 = 0 GROUP BY lang
        ), z AS (
          SELECT b.lang, hf.cnt AS hist_cnt, hf.mean AS hist_mean,
                 b.cnt AS batch_cnt, b.mean AS batch_mean,
                 CASE WHEN hf.var > 0
                      THEN ROUND((b.mean - hf.mean)
                                 / sqrt(hf.var / b.cnt), 4)
                 END AS z
          FROM b LEFT JOIN hf USING (lang)
        )
        SELECT lang, hist_cnt, hist_mean, batch_cnt, batch_mean, z,
               CASE WHEN hist_cnt IS NULL THEN TRUE
                    WHEN z IS NOT NULL THEN ABS(z) >= 3.0
                    ELSE batch_mean <> hist_mean
               END AS drifted
        FROM z ORDER BY lang""",
)
def x87(spark, sf):
    # Arrival-batch QUALITY GATE over the stats tier
    # (`aggregates.batch_drift`, the operational consumer of x84's
    # partials): before the batch's partial row appends to the staged
    # table, its per-group token-count mean scores against the merged
    # HISTORY with z = (m_b - m_h) / sqrt(var_h / n_b); drifted or
    # never-seen groups flag. Every input to the score comes from the
    # exact integer algebra (4dp), so the gate is bit-stable under any
    # history batch split (property test in test_misc_ops.py). Oracle =
    # the same formulas over the direct per-side SQL aggregates. The
    # history/batch split is the scale-invariant modular arrival slice
    # (doc_id % 10 == 0 = the 10% batch, the x86 recipe) — the old
    # `>= 450` cutoff made the "batch" 99% of amplified tables.
    vals = _t(spark, sf, "documents").select(
        "lang", "doc_id", T.token_count(F.col("text")).alias("v")
    )
    batch_pred = F.col("doc_id") % 10 == 0
    hist = vals.filter(~batch_pred).transform(
        agg.stats_partials("v", keys=["lang"])
    )
    batch = vals.filter(batch_pred).transform(
        agg.stats_partials("v", keys=["lang"])
    )
    return agg.batch_drift(hist, batch, keys=["lang"], z_threshold=3.0)


@query("x88_incremental_cosine_neardup", None)  # oracle attached below
def x88(spark, sf):
    # Incremental SEMANTIC near-dup (`vectors.incremental_cosine_neardup`)
    # — the x77/x80/x82 contract on the embedding tier, the last
    # detection tier to get its batch-incremental form: a 10% arrival
    # batch (vec_id % 10 — scale-invariant, the x86/x103 lesson) whose
    # (table, bucket) keys join the existing corpus's staged bucket
    # projection (`emb_base` IS the appendable index — norms and bucket
    # signatures are per-vector functions) plus a batch self-join;
    # old x old candidates never recompute, and the shared einsum
    # rescore keeps the 4dp contract. Oracle = x23's generated SQL
    # restricted to batch-touching pairs; parity test vs
    # cosine_neardup_pairs on the union
    # (test_incremental_cosine_neardup_matches_full_restricted).
    batch_pred = F.col("vid") % 10 == 0
    base = _shared_artifact(spark, sf, "emb_base")
    return V.incremental_cosine_neardup(
        base.filter(batch_pred),
        base.filter(~batch_pred),
        threshold=0.4,
    )


ORACLE_SQL["x88_incremental_cosine_neardup"] = _x23_oracle(
    restrict="AND (id_a % 10 = 0 OR id_b % 10 = 0)"
)


# ---------------------------------------------------------------------------
# Governance / retraction ring (round 8, fourth session): the deletion
# side of the incremental contract — opt-out removal against the staged
# cluster state (x89), keep-best survivor selection (x90), per-doc
# curation provenance (x91), and exact stats retraction (x92).
# ---------------------------------------------------------------------------

#: The registry's deterministic forget-list: every 11th-ish document
#: (doc_id % 11 == 5) files an opt-out. Shared by x89 and x92 so the
#: ring reads as one scenario.
_FORGET_PRED = "doc_id % 11 = 5"


def _cluster_assign_cte(doc_where: str = "") -> str:
    """x41's pair-detection + recursive-resolution CTE chain (verbatim
    anatomy), parameterized on a document filter, ending in an
    ``assign(doc_id, cluster_id, is_canonical)`` relation for the
    caller's final SELECT."""
    return rf"""WITH RECURSIVE words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents {doc_where}
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
        ), assign AS (
          SELECT node AS doc_id, MIN(lbl) AS cluster_id,
                 node = MIN(lbl) AS is_canonical
          FROM reach GROUP BY node
        )"""


@query(
    "x89_retract_clusters",
    _cluster_assign_cte(f"WHERE NOT ({_FORGET_PRED})")
    + """
        SELECT doc_id, cluster_id, is_canonical FROM assign ORDER BY doc_id""",
)
def x89(spark, sf):
    # Right-to-be-forgotten against the staged cluster state
    # (`graphs.retract_assignments`): the forget-list's clusters — and
    # ONLY those — re-resolve from the surviving members of the staged
    # pair set (covering the cluster-split and canonical-relabel cases),
    # while untouched clusters keep their assignment rows through a
    # broadcast anti-join, never recomputing. The oracle re-runs full
    # detection + resolution over the surviving corpus — equality IS the
    # retraction contract (pair membership is a pure two-doc function,
    # so surviving pairs == staged pairs with both endpoints surviving).
    pairs = _jaccard_pairs(spark, sf).select("id_a", "id_b")
    assign = _shared_artifact(spark, sf, "dup_assign")
    forget = (
        _t(spark, sf, "documents")
        .filter(F.expr(_FORGET_PRED))
        .select("doc_id")
    )
    return graphs.retract_assignments(assign, pairs, forget)


@query(
    "x90_keep_best_per_cluster",
    _cluster_assign_cte()
    + rf""", qd AS (
          SELECT doc_id,
                 ROUND((CASE WHEN LENGTH(text) BETWEEN 50 AND 5000 THEN 30 ELSE 0 END)
                     + (CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                                  w -> w IN {_STOPS_SQL})) * 10
                             >= len(regexp_split_to_array(trim(text), '\s+')) THEN 40 ELSE 0 END)
                     + (CASE WHEN LENGTH(text) > 0
                             THEN 30.0 * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                                                / CAST(LENGTH(text) AS DOUBLE))
                             ELSE 0.0 END), 2) AS q
          FROM documents
        ), r AS (
          SELECT a.cluster_id, a.doc_id, qd.q,
                 ROW_NUMBER() OVER (PARTITION BY a.cluster_id
                                    ORDER BY qd.q DESC, a.doc_id) AS rn
          FROM assign a JOIN qd USING (doc_id)
        )
        SELECT cluster_id, MAX(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
               COUNT(*) AS n_members
        FROM r GROUP BY cluster_id ORDER BY cluster_id""",
)
def x90(spark, sf):
    # Keep-BEST survivor per duplicate cluster
    # (`dedup.cluster_representatives`): real curation keeps the
    # highest-quality copy, not the numerically smallest id — the staged
    # assignment table joins the staged per-doc quality column and a
    # rank window picks argmax(q, tie -> min doc_id) per cluster. Both
    # the window and the aggregate partition on cluster_id (one
    # exchange, AQE-reused).
    assign = _shared_artifact(spark, sf, "dup_assign")
    feats = _shared_artifact(spark, sf, "doc_stats").select("doc_id", "q")
    return dedup.cluster_representatives(
        assign, feats, [F.col("q").desc(), F.col("doc_id")]
    )


@query(
    "x91_curation_audit",
    rf"""WITH base AS (
          SELECT doc_id, text,
                 ROUND((CASE WHEN LENGTH(text) BETWEEN 50 AND 5000 THEN 30 ELSE 0 END)
                     + (CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                                  w -> w IN {_STOPS_SQL})) * 10
                             >= len(regexp_split_to_array(trim(text), '\s+')) THEN 40 ELSE 0 END)
                     + (CASE WHEN LENGTH(text) > 0
                             THEN 30.0 * (1.0 - CAST(len(regexp_extract_all(text, '[0-9]')) AS DOUBLE)
                                                / CAST(LENGTH(text) AS DOUBLE))
                             ELSE 0.0 END), 2) AS q,
                 CASE WHEN len(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                                           w -> w IN {_STOPS_SQL})) * 100
                          >= len(regexp_split_to_array(trim(text), '\s+')) * 15
                      THEN 'en' ELSE 'other' END AS lang_pred,
                 md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
          FROM documents
        ), k AS (
          SELECT *, MIN(CASE WHEN q >= 40 AND lang_pred = 'en' THEN doc_id END)
                        OVER (PARTITION BY fp) AS keep_fp
          FROM base
        ), exact AS (
          SELECT doc_id, text FROM k WHERE doc_id = keep_fp
        ), words AS (
          SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM exact
        ), sh AS (
          SELECT doc_id,
                 list_transform(range(1, greatest(len(ws) - 2, 0) + 1),
                               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) AS shingles
          FROM words WHERE len(ws) >= 3
        ), hs AS (
          SELECT doc_id,
                 list_transform(shingles, s ->
                     [CAST(md5_number_upper(s) AS HUGEINT) % 2305843009213693951,
                      CAST(md5_number_lower(s) AS HUGEINT) % 2305843009213693951]) AS hs
          FROM sh
        ), sig AS (
          SELECT doc_id,
                 list_transform(range(0, 12),
                     j -> CAST(list_min(list_transform(hs,
                              h -> (h[1] + j * h[2]) % 2305843009213693951)) AS BIGINT)) AS sig
          FROM hs
        ), bands AS (
          SELECT doc_id, b,
                 md5(CAST(sig[b*3+1] AS VARCHAR) || '|' || CAST(sig[b*3+2] AS VARCHAR)
                     || '|' || CAST(sig[b*3+3] AS VARCHAR)) AS bkey
          FROM sig, range(0, 4) t(b)
        ), cand AS (
          SELECT DISTINCT a.doc_id AS id_a, b2.doc_id AS id_b
          FROM bands a JOIN bands b2 USING (b, bkey)
          WHERE a.doc_id < b2.doc_id
        ), drops AS (
          SELECT id_b AS doc_id, MIN(id_a) AS near_of FROM cand
          JOIN sig sa ON sa.doc_id = id_a
          JOIN sig sb ON sb.doc_id = id_b
          WHERE len(list_filter(range(1, 13), i -> sa.sig[i] = sb.sig[i])) >= 6
          GROUP BY id_b
        )
        SELECT k.doc_id,
               CASE WHEN q < 40 THEN 'quality'
                    WHEN lang_pred != 'en' THEN 'language'
                    WHEN keep_fp != k.doc_id THEN 'exact_dup'
                    WHEN d.near_of IS NOT NULL THEN 'near_dup'
                    ELSE 'kept' END AS verdict,
               CASE WHEN q >= 40 AND lang_pred = 'en' AND keep_fp != k.doc_id
                    THEN keep_fp ELSE d.near_of END AS dup_of
        FROM k LEFT JOIN drops d ON d.doc_id = k.doc_id
        ORDER BY k.doc_id""",
)
def x91(spark, sf):
    # Per-doc curation provenance (`corpus.curation_audit`): WHY each
    # document was kept or dropped — first rejecting funnel stage in
    # gate order plus the duplicate it defers to — the lineage table a
    # governed pipeline must produce for any takedown or appeal. Rides
    # the staged doc_stats + neardup_pairs artifacts (x15's tables);
    # kept-rows == the curated output (parity test).
    from deva_spark.plans.corpus import curation_audit

    return curation_audit(
        _shared_artifact(spark, sf, "doc_stats"),
        pairs=_shared_artifact(spark, sf, "neardup_pairs"),
    )


@query(
    "x92_retract_corpus_stats",
    rf"""WITH t AS (
          SELECT lang, len(regexp_split_to_array(trim(text), '\s+')) AS v
          FROM documents WHERE NOT ({_FORGET_PRED})
        ), g AS (
          SELECT lang, COUNT(*) AS cnt, SUM(CAST(v AS HUGEINT)) AS s,
                 SUM(CAST(v AS HUGEINT) * v) AS s2
          FROM t GROUP BY lang
        )
        SELECT lang, cnt, CAST(s AS BIGINT) AS s,
               ROUND(CAST(s AS DOUBLE) / CAST(cnt AS DOUBLE), 4) AS mean,
               CASE WHEN cnt > 1
                    THEN ROUND(CAST(cnt * s2 - s * s AS DOUBLE)
                               / (CAST(cnt AS DOUBLE) * (cnt - 1)), 4)
               END AS var
        FROM g ORDER BY lang""",
)
def x92(spark, sf):
    # Stats-tier retraction (`aggregates.retract_stat_partials`): the
    # forget-list's rows reduce to one NEGATED algebraic partial per
    # group, appended next to the standing corpus partials — the merge
    # then yields count/sum/mean/variance bit-identical to a recompute
    # over the surviving corpus (oracle = that direct SQL) without
    # rescanning any old batch. Extrema are non-invertible and
    # conservatively NULLed for retraction-touched groups, so this
    # query reports the exactly-retractable columns.
    docs = _t(spark, sf, "documents")
    vals = docs.select("lang", "doc_id", T.token_count(F.col("text")).alias("v"))
    base = vals.transform(agg.stats_partials("v", keys=["lang"]))
    neg = vals.filter(F.expr(_FORGET_PRED)).transform(
        agg.retract_stat_partials("v", keys=["lang"])
    )
    return (
        base.unionByName(neg)
        .transform(agg.merge_stat_partials(keys=["lang"]))
        .select("lang", "cnt", "s", "mean", "var")
    )


@query(
    "x93_quantile_rollup",
    """WITH b AS (
         SELECT event_type, CAST(floor(value / 25.0) AS INT) AS bin,
                COUNT(*) AS cnt
         FROM events GROUP BY 1, 2
       ), n AS (SELECT event_type, SUM(cnt) AS n FROM b GROUP BY 1),
       c AS (
         SELECT b.event_type, bin, cnt, n.n,
                SUM(cnt) OVER (PARTITION BY b.event_type ORDER BY bin) AS cum
         FROM b JOIN n USING (event_type)
       )
       SELECT event_type, CAST(n AS BIGINT) AS n,
              CAST(25.0 * MIN(CASE WHEN cum * 100 >= 50 * n THEN bin END)
                   AS DOUBLE) AS p50,
              CAST(25.0 * MIN(CASE WHEN cum * 100 >= 90 * n THEN bin END)
                   AS DOUBLE) AS p90,
              CAST(25.0 * MIN(CASE WHEN cum * 100 >= 99 * n THEN bin END)
                   AS DOUBLE) AS p99
       FROM c GROUP BY event_type, n ORDER BY event_type""",
)
def x93(spark, sf):
    # Mergeable quantile rollup — the ORDER-STATISTICS tier of the
    # incremental ring (`aggregates.quantile_partials` +
    # `merge_quantile_partials`, the stats_partials/kmv_partials contract
    # applied to percentiles): each arrival day reduces to bounded
    # (group, bin) count rows — the appendable staged table — and the
    # merge folds any batch set into p50/p90/p99 lower-bin-edge
    # estimates (within one bin width of exact; the oracle computes the
    # identical deterministic estimate directly). Integer counts make
    # the merge bit-identical under any split AND exactly retractable
    # (`retract_quantile_partials`) — the property double-based sketches
    # (t-digest/GK) cannot offer. The Spark route proves the rollup
    # path: per-day partials union then merge == the direct compute.
    # staged read or session-cached inline build (r11 review)
    partials = _shared_artifact(spark, sf, "quant_day_cells").drop("_day")
    return partials.transform(
        agg.merge_quantile_partials(keys=["event_type"], width=25.0, pcts=(50, 90, 99))
    )


@query(
    "x94_cms_heavy_hitters",
    """WITH qk AS (SELECT DISTINCT event_type FROM events),
       cells AS (
         SELECT t.i,
                CAST(CAST(md5_number_upper(event_type || '#cms'
                          || CAST(t.i AS VARCHAR)) AS HUGEINT) % 256 AS INT)
                    AS bucket,
                COUNT(*) AS cnt
         FROM events CROSS JOIN range(0, 4) t(i)
         GROUP BY 1, 2
       ), probes AS (
         SELECT event_type, t.i,
                CAST(CAST(md5_number_upper(event_type || '#cms'
                          || CAST(t.i AS VARCHAR)) AS HUGEINT) % 256 AS INT)
                    AS bucket
         FROM qk CROSS JOIN range(0, 4) t(i)
       )
       SELECT p.event_type, CAST(MIN(COALESCE(c.cnt, 0)) AS BIGINT) AS est
       FROM probes p LEFT JOIN cells c ON p.i = c.i AND p.bucket = c.bucket
       GROUP BY 1 ORDER BY 1""",
)
def x94(spark, sf):
    # Count-Min heavy hitters — the FREQUENCY tier of the incremental
    # ring (`aggregates.cms_partials` / `cms_merge_partials` /
    # `cms_point_estimates`; Cormode & Muthukrishnan 2005): each arrival
    # day reduces to <= depth*width sketch cells on the engine-portable
    # md5-LE64 hash family (cells themselves hash-check cross-engine,
    # not just estimates); cells merge by integer addition
    # (bit-identical under any split, exactly retractable) and a point
    # estimate is min over a key's depth cells — est >= truth with the
    # eps*N bound. The Spark route proves the rollup path: per-day
    # partials union-merged, then estimates for the corpus's distinct
    # keys via bounded broadcast probes.
    depth, width = 4, 256
    # three static arrival batches (the x84 shape), sketched in ONE
    # corpus pass via keyed partials — and the per-day partials table is
    # the tier's STAGED object (`cms_day_cells`, appendable like
    # kmv_syn_src), so the timed query folds <= 3 * depth * width cell
    # rows and probes, never re-hashing the corpus
    parts = _shared_artifact(spark, sf, "cms_day_cells")
    sketch = parts.transform(agg.cms_merge_partials())
    keys = _t(spark, sf, "events").select("event_type").distinct()
    return agg.cms_point_estimates(sketch, keys, "event_type", depth, width)


@query(
    "x95_bloom_pruned_join",
    """SELECT o_orderpriority, COUNT(*) AS n_orders,
              CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
                AS total_cents
       FROM orders JOIN customer ON o_custkey = c_custkey
       WHERE c_mktsegment = 'BUILDING'
       GROUP BY 1 ORDER BY 1""",
)
def x95(spark, sf):
    # Bloom-pruned fact-dim join (`joins.bloom_pruned_join`) — the
    # explicit semi-join-reduction scale pattern: the selective dim
    # side's keys set 3 xxhash64 positions in a 2^14-bit filter that
    # embeds in the fact side's plan as a constant-folded packed-long
    # array literal; membership is shift/mask column algebra evaluated
    # inside the fact scan stage BEFORE the join shuffle materializes
    # non-matching rows. False positives only pass extra rows to the
    # exact join, so the result is IDENTICAL to the plain join — which
    # is exactly what the oracle checks (the un-pruned SQL). Money sums
    # ride the exact-cents integer path (q04's determinism contract).
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    # the 8 KB bitmap is a bounded driver-blocking build: the session
    # memo keeps it per (sf, customer-mtime) so repeated invocations
    # (bench passes, driver retries) pay the dim scan once — the
    # runtime-filter reuse shape. The mtime in the key mirrors the
    # artifact tier's source invalidation (ADVICE r9): a refreshed
    # customer table within one session must rebuild the bitmap, else
    # bloom false negatives silently drop matching join rows.
    cache = session_memo(spark)
    try:
        cust_mtime = _os.stat(_os.path.join(sf, "customer.parquet")).st_mtime_ns
    except OSError:
        cust_mtime = 0
    bkey = ("x95_bloom_bitmap", sf, cust_mtime)
    if bkey not in cache:
        cache[bkey] = joins.build_bloom_bitmap(
            cust, "c_custkey", n_hashes=3, n_bits=1 << 14
        )
    joined = joins.bloom_pruned_join(
        orders,
        cust,
        "o_custkey",
        "c_custkey",
        n_hashes=3,
        n_bits=1 << 14,
        bitmap=cache[bkey],
    )
    return (
        joined.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
                "total_cents"
            ),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "x96_kmv_source_overlap",
    r"""WITH words AS (
          SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS ws
          FROM documents
        ), ex AS (
          SELECT source,
                 UNNEST(list_transform(range(1, greatest(len(ws) - 4, 0) + 1),
                     i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' '
                          || ws[i+3] || ' ' || ws[i+4])) AS s
          FROM words WHERE len(ws) >= 5
        ), h AS (
          SELECT DISTINCT source, CAST(md5_number_upper(s) AS HUGEINT) AS h
          FROM ex
        ), r AS (
          SELECT source, h,
                 row_number() OVER (PARTITION BY source ORDER BY h) AS rn
          FROM h
        ), syn AS (
          SELECT source, list_sort(list(h)) AS hs
          FROM r WHERE rn <= 64 GROUP BY 1
        ), pairs AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 a.hs AS ha, b.hs AS hb
          FROM syn a JOIN syn b ON a.source < b.source
        ), u AS (
          SELECT source_a, source_b, ha, hb,
                 list_sort(list_distinct(list_concat(ha, hb)))[1:64] AS uu
          FROM pairs
        ), m AS (
          SELECT source_a, source_b, len(uu) AS nu, uu[64] AS hk,
                 len(list_intersect(list_intersect(uu, ha), hb)) AS c
          FROM u
        ), e AS (
          SELECT source_a, source_b, nu, c,
                 CAST(CASE WHEN nu < 64 THEN nu
                      ELSE (63 * CAST(18446744073709551616 AS HUGEINT)) // hk
                      END AS BIGINT) AS est_union
          FROM m
        )
        SELECT source_a, source_b, est_union,
               CAST(CASE WHEN nu < 64 THEN c
                    ELSE (CAST(c AS HUGEINT) * est_union) // 64
                    END AS BIGINT) AS est_inter,
               ROUND(CAST(CASE WHEN nu < 64 THEN c
                          ELSE (CAST(c AS HUGEINT) * est_union) // 64
                          END AS DOUBLE) / CAST(est_union AS DOUBLE), 4)
                   AS jaccard
        FROM e ORDER BY source_a, source_b""",
)
def x96(spark, sf):
    # KMV set algebra — sketched cross-source vocabulary overlap
    # (`aggregates.kmv_overlap`, the theta-sketch intersection rule on
    # the KMV tier): per-(source, batch) synopses of the distinct 5-gram
    # vocabulary append like any partials table, then ONE metadata-sized
    # pair join over k-hash arrays estimates every pair's union /
    # intersection / Jaccard — the sketched twin of x55's exact overlap
    # matrix, answering the same question from synopses without
    # re-scanning the corpus (the 100 TB cross-source comparison path).
    # Integer estimator arithmetic end to end (exact below k), one final
    # 4dp division — bit-identical cross-engine, which the oracle
    # hash-checks by computing the identical sketch in SQL. The
    # synopsis table is THE staged object of this tier (per-batch rows
    # append, the x84/x85 contract), so the timed query reads the staged
    # `kmv_syn_src` partials when present — a handful of 64-hash rows —
    # and the pair algebra runs over sketches alone.
    partials = _shared_artifact(spark, sf, "kmv_syn_src")
    return partials.transform(agg.kmv_overlap("source", k=64))


@query(
    "x97_salted_skew_join",
    """WITH dim AS (
         SELECT DISTINCT event_type,
                CAST(length(event_type) AS BIGINT) AS w
         FROM events
       )
       SELECT e.user_id, COUNT(*) AS n, CAST(SUM(d.w) AS BIGINT) AS wsum
       FROM events e JOIN dim d USING (event_type)
       GROUP BY 1 ORDER BY 1""",
)
def x97(spark, sf):
    # Salted skew join (`skew.salted_join`) — the hot-key join regime
    # AQE's skew split and broadcast both miss (reference is
    # single-process so skew never appears there; at 100 TB it
    # serializes the shuffle stage). events' join key is EXTREME skew by
    # construction: 5 distinct event types over the whole fact table, so
    # an unsalted shuffle join lands everything on <=5 reducers however
    # many the cluster has. Salting fans each type over n_salts reducers
    # while staying ROW-IDENTICAL to the plain join — which is exactly
    # what the oracle (a plain SQL join) hash-checks.
    from deva_spark.operators.skew import salted_join

    ev = _t(spark, sf, "events")
    dim = ev.select("event_type").distinct().withColumn(
        "w", F.length("event_type").cast("bigint")
    )
    return (
        salted_join(ev, dim, "event_type", n_salts=8)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("wsum"))
        .orderBy("user_id")
    )


@query(
    "x98_zorder_box_scan",
    """SELECT COUNT(*) AS n,
              CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
              CAST(SUM(CAST(ROUND(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT)
                AS cents
       FROM lineitem
       WHERE l_quantity BETWEEN 10 AND 15
         AND l_extendedprice BETWEEN 20000 AND 40000""",
)
def x98(spark, sf):
    # Z-order layout (`sources.layout.write_zordered`, Morton 1966 — the
    # layout behind Delta/Iceberg OPTIMIZE ZORDER): the staged lineitem
    # relayout interleaves (l_quantity, l_extendedprice) bits so
    # row-group min/max are tight in BOTH dimensions and the engine's
    # ordinary stats-based skipping prunes this 2-D box
    # multiplicatively — a single-column sort would scan every row group
    # of the surviving quantity stripe. The relayout is row-identical to
    # the raw table (tests assert it, and the pyarrow footer audit
    # proves the pruning). The REGISTRY query reads the raw table
    # unconditionally (VERDICT r8 #1: the staged/raw branch made the
    # result environment-dependent between the driver's run and local
    # runs); the relayout is exercised by tests/test_layout.py and by
    # bench.py's staged panel, where pruning is the measured signal.
    src = _t(spark, sf, "lineitem")
    return src.filter(
        F.col("l_quantity").between(10, 15)
        & F.col("l_extendedprice").between(20_000, 40_000)
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("l_orderkey").alias("key_sum"),
        F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("bigint")).alias(
            "cents"
        ),
    )


@query(
    "x99_incremental_weighted_sample",
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
        FROM r WHERE rn <= 12 ORDER BY source, rnk""",
)
def x99(spark, sf):
    # Incremental WEIGHTED SAMPLING — the sampling tier of the
    # incremental-corpus ring (`sampling.reservoir_partials` /
    # `merge_reservoir_partials`): each arrival batch reduces to one
    # bounded top-k synopsis row per source (the KMV k-smallest argument
    # flipped to largest E-S keys), synopses append, and the merge
    # re-ranks batches x k rows per group — BIT-IDENTICAL to the
    # one-shot x70 sampler over the union corpus because the E-S key is
    # a pure function of the id. The oracle is therefore the DIRECT
    # one-shot SQL: the rollup path must land on exactly the sample a
    # full-corpus pass computes, which is what makes weighted
    # subsampling maintainable on a growing 100 TB corpus without
    # rescans.
    from deva_spark.operators.sampling import (
        merge_reservoir_partials,
        reservoir_partials,
    )

    # three static arrival batches (the x84 shape) synopsized in ONE
    # corpus pass: keying the partials by batch id yields exactly the
    # per-batch synopsis rows a day-by-day arrival would append, and the
    # merge ranks over group keys only (extra partial columns drop)
    docs = _t(spark, sf, "documents").select(
        "source",
        "doc_id",
        T.token_count(F.col("text")).alias("w"),
        (F.col("doc_id") % 3).alias("_b"),
    )
    parts = docs.transform(reservoir_partials(12, "w", keys=["source", "_b"]))
    return parts.transform(
        merge_reservoir_partials(12, keys=["source"])
    ).orderBy("source", "rnk")


