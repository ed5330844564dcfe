"""Exact-substring (long-common-run) dedup tier.

The dedup stack's ratio tiers (3-gram Jaccard x05, MinHash x06, SimHash
x07) dilute a long shared span inside two otherwise-different documents:
a 40-word licence header in two 400-word docs is ~10% of either shingle
set and never crosses a similarity threshold. The public result this
tier re-expresses is Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better"): exact substrings above a length floor shared
ACROSS documents are memorization fuel and should be found regardless of
whole-document similarity. Their suffix-array build is a single-machine
construction; the scalable Spark shape is the repo's standard inverted-
index anatomy (`minhash.ngram_jaccard_pairs` is the template):

1. every length-``window`` consecutive WORD run of each document,
   hashed to 8 bytes (``xxhash64``) — stride 1 at word granularity, so
   any shared run of >= ``window`` words yields at least one shared
   window with no alignment/selection step (character-stride schemes
   need content-defined anchors to stay alignment-free);
2. inverted index (window-hash -> doc) — the join key is the 8-byte
   hash, never the text, so the shuffle survives a corpus-scale run;
3. doc pairs sharing >= ``min_common`` distinct windows, with the exact
   shared-window count as the (integer, hash-stable) output signal.

A pair sharing n >= 1 windows shares a run of >= ``window`` words; n
consecutive shared windows certify a run of ``window + n - 1`` words.

Reference surface: the reference has no substring tier — its dedup is
`SimhashIndex` (`/root/reference/deva/utils/simhash.py`) over whole
documents; this tier is part of the LLM-pipeline ring the build adds.

Scale shape: rows in the index = total words in the corpus (same
cardinality as the x05 3-gram index); the self-join key is an 8-byte
hash whose expected fan-out is tiny EXCEPT for boilerplate — which is
the signal here, so instead of dropping hot windows (x05's ``df_cap``
recall trade) the pair stage caps blowup with ``df_cap`` only when the
caller asks, and `boilerplate_windows` surfaces the hot windows
themselves (group-by, linear) for mask-style dedup where pairwise
output would be quadratic by construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from deva_spark.functions.text import words
from deva_spark.operators.neardup import ordered_pairs

def window_runs(text: Column, window: int) -> Column:
    """Array of all length-``window`` consecutive word runs of ``text``
    (lowercased, whitespace-split), each joined with single spaces —
    pure JVM expressions (split / sequence / transform / slice), no
    Python in the hot path. Empty array when the doc is shorter than
    ``window`` words (guarded: Spark's ``sequence(1, 0)`` counts DOWN).
    """
    ws = words(F.lower(text))
    n = F.size(ws)
    idx = F.when(
        n >= window, F.sequence(F.lit(1), n - window + 1)
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(ws, i, window), " ")
    )


def window_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Inverted-index rows ``(doc_id, wh)``: the DISTINCT 64-bit hashes
    of every length-``window`` word run per document. This is the
    stageable artifact of the tier (the doc_sigs/shingle5 pattern)."""
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(
                F.array_distinct(window_runs(F.col(text_col), window))
            ).alias("s"),
        )
        .select("doc_id", F.xxhash64("s").alias("wh"))
    )


def substring_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_common: int = 1,
    df_cap: int | None = None,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Document pairs sharing >= ``min_common`` distinct length-
    ``window`` word runs: ``(id_a, id_b, n_common)`` with ``id_a <
    id_b`` and the exact count of shared distinct windows — an integer,
    so the result hashes identically across engines (no float
    boundary).

    ``df_cap``: drop windows present in more than ``df_cap`` documents
    from pair generation (a window shared by 10k docs contributes
    ~5*10^7 pairs on its own). Unlike x05's candidate filter there is
    no rescore pass — capped windows are simply not counted, which is
    the honest semantics for this tier: a window THAT common is corpus
    boilerplate, and `boilerplate_windows` is the linear-cost tool for
    it.

    ``hashes``: a pre-staged :func:`window_hashes` table (the cluster
    path — stage the index once, run pair queries many times).
    """
    if hashes is not None:
        sh = hashes
    else:
        # eager checkpoint: the plan references the index on both join
        # sides (plus the df_cap aggregate) — without a barrier the
        # window-explode subtree recomputes per reference (the
        # ngram_jaccard_pairs lesson). Cluster path: stage the index to
        # a table (the `subwin8` artifact) and pass ``hashes=``.
        sh = window_hashes(docs, id_col, text_col, window).localCheckpoint(
            eager=True
        )
    if df_cap is not None:
        rare = (
            sh.groupBy("wh")
            .agg(F.count(F.lit(1)).alias("dfc"))
            .filter(F.col("dfc") <= df_cap)
            .select("wh")
        )
        sh = sh.join(rare, "wh")
    a = sh.select(F.col("doc_id").alias("id_a"), "wh")
    b = sh.select(F.col("doc_id").alias("id_b"), "wh")
    return (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def window_doc_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Pair-ready grouped index ``(wh, ids)``: per window hash, the
    SORTED array of documents containing it. The x55 `shingle5_src`
    move applied to this tier: the groupBy-wh shuffle happens at
    STAGING time, so the timed pair query is scan → in-array pair
    explode → one pair aggregate — one shuffle instead of two and one
    scan instead of two. Hot-window skew is identical to the join
    formulation (the same wh key concentrates the same pairs either
    way); ``df_cap`` in the consumer bounds it."""
    return (
        window_hashes(docs, id_col, text_col, window)
        .groupBy("wh")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
    )


def substring_dup_pairs_from_groups(
    groups: DataFrame,
    min_common: int = 1,
    df_cap: int | None = None,
) -> DataFrame:
    """:func:`substring_dup_pairs` computed from a staged
    :func:`window_doc_groups` table — identical rows (parity-tested):
    ordered in-array pairs (ids sorted at build time, so ``id_a <
    id_b`` by construction) explode straight out of each group row,
    then one hash aggregate counts shared windows per pair. ``df_cap``
    here is exact document frequency (``size(ids)``), same semantics
    as the join route's capped aggregate."""
    g = groups
    if df_cap is not None:
        g = g.filter(F.size("ids") <= df_cap)
    pairs = g.select(
        F.explode(
            ordered_pairs(
                F.col("ids"),
                lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b")),
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b")
    return (
        pairs.groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def incremental_dup_pairs(
    new_hashes: DataFrame,
    old_hashes: DataFrame,
    min_common: int = 1,
) -> DataFrame:
    """Incremental form of :func:`substring_dup_pairs` — the shape a
    growing corpus actually runs: a NEW batch's window index joins the
    STAGED index of the existing corpus, emitting only pairs with at
    least one new side (new x old via the index join, new x new via the
    batch self-join). old x old pairs were reported when those docs
    arrived and are never recomputed, so the per-batch cost is
    proportional to BATCH size plus matched fan-out — never corpus
    size. Afterwards the batch index rows are appended to the staged
    index (a parquet append, no rebuild), which is what makes the
    staged artifact an operational structure rather than a cache.

    Both inputs are :func:`window_hashes` tables ``(doc_id, wh)``; doc
    ids must be disjoint between them. Output matches
    :func:`substring_dup_pairs` on the union corpus, restricted to
    pairs where ``id_b`` or ``id_a`` is a new doc (parity-tested).
    """
    n = new_hashes.select(F.col("doc_id").alias("nid"), "wh")
    o = old_hashes.select(F.col("doc_id").alias("oid"), "wh")
    cross = n.join(o, "wh").select(
        F.least("nid", "oid").alias("id_a"),
        F.greatest("nid", "oid").alias("id_b"),
    )
    a = new_hashes.select(F.col("doc_id").alias("id_a"), "wh")
    b = new_hashes.select(F.col("doc_id").alias("id_b"), "wh")
    self_pairs = (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return (
        cross.unionByName(self_pairs)
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )


def window_hash_positions(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Positioned index rows ``(doc_id, pos, wh)``: the 64-bit hash of
    the length-``window`` word run STARTING at 1-based word position
    ``pos`` — NOT distinct (run reconstruction needs every position).
    Same row cardinality as :func:`window_hashes` before its distinct.
    """
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(window_runs(F.col(text_col), window)).alias("p0", "s"),
    ).select(
        "doc_id", (F.col("p0") + 1).alias("pos"), F.xxhash64("s").alias("wh")
    )


def longest_common_run(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_run: int | None = None,
    positions: DataFrame | None = None,
) -> DataFrame:
    """Per document pair, the length IN WORDS of the longest exact
    shared word run — the measurement Lee et al. 2022's suffix arrays
    produce, recovered here from shared-window POSITIONS: a shared
    window at word position ``i`` of A and ``j`` of B lies on diagonal
    ``d = i - j``; consecutive positions on one (pair, diagonal) chain
    into islands, and an island of ``L`` windows certifies a shared run
    of exactly ``L + window - 1`` words. Output: ``(id_a, id_b,
    run_words)`` with ``id_a < id_b``; ``min_run`` filters (in words).

    Scale shape: the join ships (8-byte hash, doc id, int position)
    rows; island detection is ONE aggregate per (pair, diagonal) — the
    positions sort in-array and a pure-expression scan (`F.aggregate`)
    finds the longest consecutive run, replacing the earlier
    window-function formulation's shuffle+sort pass plus two aggregate
    exchanges with a single big shuffle and a map-side-combined max.
    Positions are unique per (pair, diagonal) by construction (one row
    per position per doc) and the per-group array holds that diagonal's
    matches only — the same rows the join already shipped, at the same
    (pair, diagonal) grain the window partitioned by, so skew is no
    worse than before (pathologically periodic docs explode the JOIN
    itself; screen them upstream with `text.repetition_signals`).

    ``positions``: a pre-staged :func:`window_hash_positions` table.
    """
    p = (
        positions
        if positions is not None
        else window_hash_positions(docs, id_col, text_col, window)
    )
    a = p.select(F.col("doc_id").alias("id_a"), F.col("pos").alias("pa"), "wh")
    b = p.select(F.col("doc_id").alias("id_b"), F.col("pos").alias("pb"), "wh")
    m = (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "pa", (F.col("pa") - F.col("pb")).alias("dd"))
    )
    return _max_run_over_diagonals(m, window, min_run)


def _max_run_over_diagonals(
    m: DataFrame, window: int, min_run: int | None
) -> DataFrame:
    """(id_a, id_b, dd, pa) match rows -> (id_a, id_b, run_words):
    per (pair, diagonal), the positions sort in-array and a pure
    `F.aggregate` scan finds the longest consecutive run; a map-side-
    combined max folds diagonals per pair."""

    def _scan(acc, x):
        # consecutive position -> run continues, else a new run starts
        cur = F.when(x == acc["pp"] + 1, acc["cur"] + 1).otherwise(F.lit(1))
        return F.struct(
            x.alias("pp"),
            cur.alias("cur"),
            F.greatest(acc["best"], cur).alias("best"),
        )

    longest = F.aggregate(
        F.sort_array(F.collect_list("pa")),
        F.struct(
            F.lit(-2).alias("pp"), F.lit(0).alias("cur"), F.lit(0).alias("best")
        ),
        _scan,
        lambda acc: acc["best"],
    )
    runs = (
        m.groupBy("id_a", "id_b", "dd")
        .agg(longest.alias("_len"))
        .groupBy("id_a", "id_b")
        .agg((F.max("_len") + F.lit(window - 1)).alias("run_words"))
    )
    if min_run is not None:
        runs = runs.filter(F.col("run_words") >= min_run)
    return runs


def position_groups(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Pair-ready POSITIONED group index ``(wh, dps)``: per window
    hash, the sorted array of ``(doc_id, pos)`` occurrences, pruned to
    hashes with >= 2 occurrences (singleton windows can't pair). The
    :func:`window_doc_groups` move for the run-measurement tier: the
    groupBy-wh shuffle happens at STAGING time, so the timed
    :func:`longest_common_run_from_groups` query is scan → in-array
    pair explode → the island aggregate — no join shuffle. The >= 2
    prune drops the (dominant) unique-window bulk from the staged
    table entirely."""
    return (
        window_hash_positions(docs, id_col, text_col, window)
        .groupBy("wh")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("dps")
        )
        .filter(F.size("dps") >= 2)
    )


def longest_common_run_from_groups(
    groups: DataFrame,
    window: int = 8,
    min_run: int | None = None,
    df_cap: int | None = None,
) -> DataFrame:
    """:func:`longest_common_run` computed from a staged
    :func:`position_groups` table — identical rows (parity-tested):
    ordered in-array occurrence pairs (dps sorted by (doc_id, pos) at
    build time, so ``id_a <= id_b`` positionally; same-doc pairs are
    filtered in-array) explode straight out of each group row into the
    shared island aggregate. ``df_cap`` bounds hot-window fan-out
    (occurrence count per window), trading recall on pathological
    windows for a quadratic-explosion ceiling, the x74 semantics."""
    g = groups
    if df_cap is not None:
        g = g.filter(F.size("dps") <= df_cap)
    m = g.select(
        F.explode(
            F.filter(
                ordered_pairs(
                    F.col("dps"),
                    lambda a, b: F.struct(
                        a["doc_id"].alias("id_a"),
                        b["doc_id"].alias("id_b"),
                        (a["pos"] - b["pos"]).alias("dd"),
                        a["pos"].alias("pa"),
                    ),
                ),
                lambda pr: pr["id_a"] < pr["id_b"],
            )
        ).alias("p")
    ).select("p.id_a", "p.id_b", "p.dd", "p.pa")
    return _max_run_over_diagonals(m, window, min_run)


def remove_duplicate_runs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
    positions: DataFrame | None = None,
) -> DataFrame:
    """The tier's ACTION step — Lee et al. 2022's actual deduplication:
    rewrite the corpus with every length->=``window`` word run that
    appears in >= ``min_docs`` documents removed from all but its
    first-seen (min ``doc_id``) document. x74/x75 DETECT shared runs;
    this operator removes them. Output per document: ``(doc_id,
    n_words, n_removed, clean_text)`` where ``clean_text`` is the
    surviving words joined by single spaces (text is canonicalized —
    lowercased, whitespace-normalized — for untouched documents too, so
    the output is a uniform rewritten corpus, not a mixed one).

    Semantics: the keeper of a duplicated window keeps ALL its
    occurrences; every other document drops every word position covered
    by that window. A document can be keeper for one window and lose
    another — removal is per-window, which is what makes the pass
    corpus-global rather than pairwise.

    Scale shape — LINEAR, never pairwise: one positioned window index
    (``(doc_id, pos, wh)`` — 8-byte hashes, same cardinality as the
    corpus word count), one hash aggregate for the duplicate mask
    (count-distinct docs + min keeper per hash), one hash-join of index
    against mask (fan-out = occurrence count, linear in corpus size
    even for boilerplate in 10k docs — unlike the pairwise tiers there
    is no quadratic hot-key risk), a gaps-and-islands interval merge
    riding the per-doc shuffle (the x73 anatomy over word-position
    spans), and one join back to the documents for the rewrite, which
    is pure JVM array expressions (filter-by-interval + array_join).
    Nothing collects to the driver.

    ``positions``: a pre-staged :func:`window_hash_positions` table
    (the cluster path; it is also used twice here, so the unstaged
    build checkpoints it eagerly).
    """
    from pyspark.sql import Window

    if positions is not None:
        p = positions
    else:
        # referenced twice (mask aggregate + cover join): barrier, or
        # the window-explode subtree recomputes per reference
        p = window_hash_positions(
            docs, id_col, text_col, window
        ).localCheckpoint(eager=True)
    mask = (
        p.groupBy("wh")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
        .select("wh", "keep_id")
    )
    cov = (
        p.join(mask, "wh")
        .filter(F.col("doc_id") != F.col("keep_id"))
        .select(
            "doc_id",
            F.col("pos").alias("s"),
            (F.col("pos") + F.lit(window - 1)).alias("e"),
        )
    )
    # merge covered [s, e] word spans per doc (gaps-and-islands over
    # spans — the merge_intervals anatomy; adjacency merges too, since
    # only the covered-position union matters). (doc_id, s) is unique
    # by construction: one index row per word position per doc.
    w = Window.partitionBy("doc_id").orderBy("s")
    prev_max = F.max("e").over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    brk = F.when(
        prev_max.isNull() | (F.col("s") > prev_max + 1), F.lit(1)
    ).otherwise(F.lit(0))
    ivs = (
        cov.withColumn("isl", F.sum(brk).over(w))
        .groupBy("doc_id", "isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("s", "e"))).alias("ivs"))
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    )
    ws = words(F.lower(F.col("text")))
    empty_ivs = F.array().cast("array<struct<s:int,e:int>>")
    kept = F.filter(
        ws,
        lambda wd, i: ~F.exists(
            F.col("ivs"),
            lambda iv: (i + 1 >= iv["s"]) & (i + 1 <= iv["e"]),
        ),
    )
    out = (
        base.join(ivs, "doc_id", "left")
        .withColumn("ivs", F.coalesce(F.col("ivs"), empty_ivs))
        .select(
            "doc_id",
            F.size(ws).cast("long").alias("n_words"),
            (F.size(ws) - F.size(kept)).cast("long").alias("n_removed"),
            F.array_join(kept, " ").alias("clean_text"),
        )
    )
    return out


def boilerplate_windows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """The hot side of the tier, at LINEAR cost: word runs shared by >=
    ``min_docs`` documents — ``(wh, n_docs, keep_id)`` with the
    first-seen doc as keeper (x50's group-then-min shape over interior
    runs instead of prefixes). This is the mask-style output for
    corpus-wide boilerplate, where emitting pairs would be quadratic by
    construction."""
    return (
        window_hashes(docs, id_col, text_col, window)
        .groupBy("wh")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("keep_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
