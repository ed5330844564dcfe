"""Growing-corpus operations demo: the staged indexes as OPERATIONAL
structures, not caches.

Day 0 stages the corpus indexes once (substring window index, IVF cell
layout). Each later batch then:

  1. dedups against the staged window index (`incremental_dup_pairs` —
     new x old + new x new, old x old never recomputed),
  2. or streams in and dedups per micro-batch (stream-static join,
     batching-invariant counts),
  3. rewrites itself with corpus-wide duplicated runs removed
     (`remove_duplicate_runs` — the Lee et al. action step),
  4. lands its vectors in the IVF layout with `ivf_append` (existing
     cells, no retrain) — searches serve the grown corpus immediately,
  5. appends its own index rows for the next batch (parquet append),
  6. reduces to one algebraic stats partial + KMV synopsis row per
     group, so corpus-wide stats merge without rescanning old batches.

Per-batch cost scales with the batch, never the corpus — the property
that makes the loop runnable daily at 100 TB.

Run: python examples/incremental_corpus.py [sf_dir]
"""

import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from deva_spark.functions import minhash as mh, vectors as V
from deva_spark.functions.substring import (
    incremental_dup_pairs,
    remove_duplicate_runs,
    window_hashes,
)
from deva_spark.operators import graphs
from deva_spark.session import get_spark, read_table
from deva_spark.streaming import twin


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("example-incremental", cpus=8)
    docs = read_table(spark, sf_dir, "documents")
    emb = read_table(spark, sf_dir, "embeddings")
    cut = 450  # docs/vectors >= cut play the part of the new batch

    # ---- day 0: stage the corpus indexes ---------------------------------
    work = tempfile.mkdtemp(prefix="deva_inc_demo_")
    idx_path = f"{work}/window_index"
    ivf_path = f"{work}/ivf"
    old_docs = docs.filter(F.col("doc_id") < cut)
    window_hashes(old_docs, window=8).write.parquet(idx_path)
    V.ivf_stage(emb.filter(F.col("vec_id") < cut), ivf_path, n_cells=8)
    # signature tier: MinHash signatures + their band projection, and
    # the cluster assignment the old corpus's own pairs resolve to
    sig_path, band_path = f"{work}/sigs", f"{work}/bands"
    assign_path = f"{work}/assignments_v0"
    mh.signatures(old_docs.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)).write.parquet(sig_path)
    mh.band_keys(spark.read.parquet(sig_path)).write.parquet(band_path)
    old_idx0 = spark.read.parquet(idx_path)
    graphs.canonical_assignments(
        incremental_dup_pairs(old_idx0, old_idx0.limit(0))
    ).write.parquet(assign_path)
    print(f"staged: window index + IVF layout + signatures/bands + assignments under {work}")

    # ---- a batch arrives -------------------------------------------------
    new_docs = docs.filter(F.col("doc_id") >= cut)
    old_idx = spark.read.parquet(idx_path)
    new_idx = window_hashes(new_docs, window=8).persist()
    new_idx.count()

    # 1. batch dedup against the staged index (x77's anatomy)
    pairs = incremental_dup_pairs(new_idx, old_idx).orderBy("id_a", "id_b")
    print("incremental dup pairs (>=1 shared 8-word run):")
    pairs.show(10, truncate=False)

    # 1b. same contract at the signature tier (x80): the batch's band
    #     keys join the STAGED band projection; old signatures are
    #     touched only by the per-candidate rescore
    new_sigs = mh.signatures(
        new_docs.filter(F.size(F.split(F.trim("text"), r"\s+")) >= 3)
    )
    old_sigs = spark.read.parquet(sig_path)
    near = mh.incremental_near_duplicates(
        new_sigs, old_sigs, old_bands=spark.read.parquet(band_path)
    )
    print(f"incremental MinHash near-dups (est_sim >= 0.5): {near.count()}")

    # 1c. fold the batch's pairs into the STAGED cluster assignment
    #     (x81): assignment rows act as diameter-<=2 star edges, the
    #     pair history never replays; versioned write, then swap
    merged = graphs.incremental_canonical_assignments(
        spark.read.parquet(assign_path), pairs.select("id_a", "id_b")
    )
    merged.write.parquet(f"{work}/assignments_v1")
    n_clusters = (
        spark.read.parquet(f"{work}/assignments_v1")
        .filter("is_canonical").count()
    )
    print(f"clusters after merging the batch: {n_clusters}")

    # 2. the same new x old counts via a streaming drain (x78):
    #    identical under any micro-batching — counts decompose
    chunks = twin.stage_doc_chunks(
        spark, sf_dir, chunks=3, where=f"doc_id >= {cut}",
        out_dir=f"{work}/doc_chunks",
    )
    stream = twin.docs_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        twin.streaming_incremental_pairs(stream, old_idx, window=8),
        "demo_inc_drain",
        output_mode="complete",
    )
    print(f"streaming drain pair rows: {drained.count()}")

    # 3. rewrite the UNION corpus with duplicated runs stripped from
    #    all but their first-seen doc (x76) — here scoped to the docs
    #    the batch actually touched
    touched = pairs.select(F.col("id_a").alias("doc_id")).union(
        pairs.select(F.col("id_b").alias("doc_id"))
    ).distinct()
    rewritten = (
        remove_duplicate_runs(docs, window=8)
        .join(touched, "doc_id")
        .orderBy("doc_id")
    )
    print("rewritten docs (n_removed > 0 lost duplicated runs):")
    rewritten.select("doc_id", "n_words", "n_removed").show(10)

    # 3b. semantic near-dup for the batch's vectors (x88's anatomy):
    #     the batch's bucket keys join the STAGED bucket projection —
    #     emb_base is the appendable index, so this row set also
    #     appends in step 5
    base_path = f"{work}/emb_base"
    V.neardup_base(emb.filter(F.col("vec_id") < cut)).write.parquet(base_path)
    new_base = V.neardup_base(emb.filter(F.col("vec_id") >= cut))
    sem = V.incremental_cosine_neardup(
        new_base, spark.read.parquet(base_path), threshold=0.4
    )
    print(f"incremental semantic near-dups (cos >= 0.4): {sem.count()}")

    # 4. vectors land in the IVF layout — no retrain, searches see them
    V.ivf_append(spark, ivf_path, emb.filter(F.col("vec_id") >= cut))
    hits = V.ivf_search_staged(
        spark, ivf_path, emb.filter(F.col("vec_id") < 3), k=5, n_probe=3
    )
    n_new = hits.filter(F.col("vec_id") >= cut).count()
    print(f"IVF search over grown corpus: {hits.count()} rows, "
          f"{n_new} hits from the appended batch")

    # 5. the batch joins every staged structure for the next batch
    #    (parquet appends — no rebuild anywhere)
    new_idx.write.mode("append").parquet(idx_path)
    new_sigs.write.mode("append").parquet(sig_path)
    mh.band_keys(new_sigs).write.mode("append").parquet(band_path)
    new_base.write.mode("append").parquet(base_path)
    print(f"index rows after append: {spark.read.parquet(idx_path).count()}")

    # 6. the monitoring tier (x84/x85): the batch reduces to ONE
    #    algebraic stats partial row and one KMV synopsis row per
    #    group; appended to the stats tables, the merge serves exact
    #    corpus-wide token stats and distinct-token estimates without
    #    rescanning a single old batch
    from deva_spark.functions import text as T
    from deva_spark.operators import aggregates as agg

    stats_path = f"{work}/stats_partials"
    old_partials = old_docs.select(
        "lang", T.token_count(F.col("text")).alias("v")
    ).transform(agg.stats_partials("v", keys=["lang"]))
    old_partials.write.parquet(stats_path)
    batch_partials = new_docs.select(
        "lang", T.token_count(F.col("text")).alias("v")
    ).transform(agg.stats_partials("v", keys=["lang"]))
    # ...and the batch is GATED against the history before its partial
    # appends (x87): drifted or never-seen groups would flag here
    gate = agg.batch_drift(
        spark.read.parquet(stats_path), batch_partials, keys=["lang"]
    )
    print("batch drift gate (drifted groups block the append):")
    gate.orderBy("lang").show()
    batch_partials.write.mode("append").parquet(stats_path)
    corpus_stats = spark.read.parquet(stats_path).transform(
        agg.merge_stat_partials(keys=["lang"])
    )
    print("corpus token stats from merged batch partials:")
    corpus_stats.orderBy("lang").show()

    # 7. governance: a forget-list arrives (opt-outs / takedowns) and
    #    every staged structure retracts it IN PLACE — the deletion
    #    mirror of steps 1-6 (x89/x92's anatomy). Per-request cost
    #    scales with the forget-list and its cluster/cell fan-out,
    #    never the corpus.
    from deva_spark.operators import dedup

    union_ids = [r.doc_id for r in docs.select("doc_id").limit(30).collect()]
    fg_ids = union_ids[::3]
    fg = spark.createDataFrame([(i,) for i in fg_ids], "doc_id long")

    # flat per-doc indexes: anti-join == rebuild, written back compacted
    for p, id_col in (
        (idx_path, "doc_id"),
        (sig_path, "doc_id"),
        (band_path, "doc_id"),
        (base_path, "vid"),
    ):
        retracted = dedup.retract_rows(spark.read.parquet(p), fg, id_col=id_col)
        retracted.write.mode("overwrite").parquet(f"{p}_v2")
    print(f"retracted {len(fg_ids)} docs from 4 flat staged indexes")

    # cluster assignments: only forgotten-member clusters re-resolve
    # from the surviving pairs (splits + canonical relabels handled)
    all_idx = spark.read.parquet(idx_path)
    all_pairs = incremental_dup_pairs(all_idx, all_idx.limit(0))
    assign2 = graphs.retract_assignments(
        spark.read.parquet(f"{work}/assignments_v1"), all_pairs, fg
    )
    assign2.write.parquet(f"{work}/assignments_v2")
    print(f"clusters after retraction: "
          f"{assign2.filter('is_canonical').count()}")

    # IVF layout: only the cells holding forgotten vectors rewrite
    n_cells = V.ivf_retract(
        spark, ivf_path, fg.withColumnRenamed("doc_id", "vec_id")
    )
    print(f"IVF retraction rewrote {n_cells} cell partitions")

    # stats tier: one NEGATED algebraic partial per group — linear
    # moments stay exact, extrema conservatively NULL until a rescan
    neg = docs.filter(F.col("doc_id").isin(fg_ids)).select(
        "lang", T.token_count(F.col("text")).alias("v")
    ).transform(agg.retract_stat_partials("v", keys=["lang"]))
    neg.write.mode("append").parquet(stats_path)
    print("corpus token stats after retraction partials:")
    spark.read.parquet(stats_path).transform(
        agg.merge_stat_partials(keys=["lang"])
    ).orderBy("lang").show()

    # 8. versioned state: the assignment table is an OPERATIONAL table,
    #    so governance rewrites commit as manifest snapshots — the
    #    retraction lands as v2, the pre-retraction state stays
    #    readable for audit (what did resolution see on day 0?), a bad
    #    batch rolls back non-destructively, and expire-GC reclaims
    #    history on the operator's schedule, never implicitly.
    from deva_spark.sources import snapshots as snap

    assign_tbl = f"{work}/assignments_versioned"
    snap.commit_snapshot(
        spark.read.parquet(f"{work}/assignments_v1"),
        assign_tbl, mode="overwrite", note="day-0 resolution",
    )
    snap.commit_snapshot(
        assign2, assign_tbl, mode="overwrite", note="takedown retraction"
    )
    v_now = snap.snapshot_versions(assign_tbl)[-1]
    audit_day0 = snap.read_snapshot(spark, assign_tbl, 1).count()
    live = snap.read_snapshot(spark, assign_tbl).count()
    print(f"assignment snapshots: v{v_now} live ({live} rows); "
          f"day-0 audit view still readable ({audit_day0} rows)")

    # 9. drift monitoring on arrival: the batch's token-length histogram
    #    partial scores against the merged history BEFORE it appends —
    #    PSI catches shape changes the mean-z gate (step 6) cannot.
    hist_grid = dict(lo=0.0, hi=500.0, n_buckets=20)
    hist_path = f"{work}/len_hist_partials"
    docs.select("lang", T.token_count(F.col("text")).alias("v")).transform(
        agg.histogram_partials("v", keys=["lang"], **hist_grid)
    ).write.parquet(hist_path)
    batch_hist = new_docs.select(
        "lang", T.token_count(F.col("text")).alias("v")
    ).transform(agg.histogram_partials("v", keys=["lang"], **hist_grid))
    history = spark.read.parquet(hist_path).transform(
        agg.merge_histogram_partials(["lang"])
    )
    print("arrival-batch PSI vs history (drift gate):")
    agg.psi_drift(batch_hist, history, keys=["lang"],
                  n_buckets=hist_grid["n_buckets"]).orderBy("lang").show()
    batch_hist.write.mode("append").parquet(hist_path)  # then append

    new_idx.unpersist()
    shutil.rmtree(chunks, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
