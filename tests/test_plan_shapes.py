"""Physical-plan audits: the plan IS the product at 100 TB.

Each test pins the plan property that keeps an operator scalable —
broadcasts where a dim is small, pushdown reaching the scan, no shuffle
where none is needed — so a regression in plan shape fails CI even while
results stay correct.
"""

import pytest
from pyspark.sql import functions as F

from deva_spark import queries as Q


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    def plan_of(name):
        df = Q.SPARK_QUERIES[name](spark, sf_dir)
        return df._jdf.queryExecution().executedPlan().toString()

    return plan_of


def test_dim_joins_broadcast(plans):
    # nation/region are constant-size dims: both hops must broadcast — the
    # customer fact table must never shuffle for this star join.
    p = plans("q12_multiway_join")
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p


def test_enrich_left_join_broadcasts(plans):
    p = plans("q09_left_join_coalesce")
    assert "BroadcastHashJoin" in p


def test_filter_pushdown_reaches_scan(plans):
    # both predicates of q02 must appear as parquet PushedFilters
    p = plans("q02_filter")
    assert "PushedFilters" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln][0]
    assert "l_discount" in pushed and "l_returnflag" in pushed


def test_projection_prunes_scan(plans):
    # q01 projects 3 of 11 lineitem columns; the scan schema must shrink
    p = plans("q01_scan_project")
    sched = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
    assert "l_extendedprice" not in sched and "l_shipdate" not in sched


def test_topk_no_global_sort(plans):
    p = plans("q21_topk")
    assert "TakeOrderedAndProject" in p


def test_semi_anti_join_operators(plans):
    assert "LeftSemi" in plans("q10_semi_join")
    assert "LeftAnti" in plans("q11_anti_join")


def test_group_agg_has_partial_aggregation(plans):
    # map-side combine: two HashAggregate nodes (partial + final)
    p = plans("q03_group_agg")
    assert p.count("HashAggregate") >= 2


def test_zscore_stats_join_broadcasts(plans):
    # the per-key moments table is tiny: must broadcast back onto events
    p = plans("q33_zscore_anomaly")
    assert "BroadcastHashJoin" in p


def test_windows_single_shuffle_per_key(spark, sf_dir):
    # running fold: exactly one exchange (hash partition by user_id)
    df = Q.SPARK_QUERIES["q15_running_fold"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Exchange hashpartitioning") == 1


def test_positional_ops_no_single_reducer_window(spark, plans):
    # chunk / slice / zip use two-phase global numbering on the LARGE path
    # (forced here by zeroing the adaptive small-input cutover): every
    # window in the plan is PARTITIONED (by the _gb range bucket) — no
    # un-partitioned window funneling the whole input through one reducer.
    # (A 1-row SinglePartition exchange remains for the global min/max
    # bounds aggregate — metadata-sized by construction.)
    from deva_spark.operators.windows import SMALL_INPUT_BYTES_CONF

    spark.conf.set(SMALL_INPUT_BYTES_CONF, "0")
    try:
        for q in ("q13_positional_zip", "q17_partition_chunks", "q22_slice"):
            p = plans(q)
            wlines = [ln for ln in p.splitlines() if "windowspecdefinition" in ln]
            assert wlines, q
            assert all("_gb" in ln for ln in wlines), (q, wlines)
            assert "Exchange hashpartitioning" in p, q
    finally:
        spark.conf.unset(SMALL_INPUT_BYTES_CONF)


def test_positional_ops_small_input_single_window(plans):
    # AQE-style cutover: at test scale the input is far below the 128 MiB
    # threshold, so the positional ops take the plain global window — no
    # bucketing machinery (bounds agg, counts self-join) in the plan.
    for q in ("q13_positional_zip", "q17_partition_chunks", "q22_slice"):
        p = plans(q)
        assert "windowspecdefinition" in p, q
        assert "_gb" not in p, q


def test_fingerprint_stage_no_redundant_repartition(spark, sf_dir):
    # ensure_parallelism: under-split input (one parquet file) gains a
    # repartition; an input already at/above the parallelism floor must
    # pass through IDENTICALLY — no Exchange inserted before the UDF.
    from deva_spark.functions import minhash as mh
    from deva_spark.functions import simhash as sh
    from deva_spark.session import ensure_parallelism, read_table

    # Cache substitution from another test's persisted signatures() would
    # swap in an InMemoryTableScan whose stored plan text carries its own
    # Exchange — clearing makes the Exchange count assert on THIS plan
    # regardless of test ordering.
    spark.catalog.clearCache()
    docs = read_table(spark, sf_dir, "documents")
    floor = spark.sparkContext.defaultParallelism
    wide = docs.repartition(floor)
    assert ensure_parallelism(wide) is wide  # identity, not a new plan
    for stage in (mh.signatures, sh.fingerprints):
        p = stage(wide)._jdf.queryExecution().executedPlan().toString()
        # exactly the one explicit repartition above, none added by the stage
        assert p.count("Exchange RoundRobinPartitioning") == 1, stage
    # narrow input still gets spread to the floor
    assert ensure_parallelism(docs.coalesce(1)).rdd.getNumPartitions() == floor


def test_whole_stage_codegen_active(spark, sf_dir):
    # AQE finalizes the physical plan only at execution; run the query and
    # then check the final plan fuses the agg chain into codegen stages.
    df = Q.SPARK_QUERIES["q03_group_agg"](spark, sf_dir)
    df.collect()
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in p
    # "*(n)" node prefixes mark whole-stage-codegen spans; AQE should also
    # have coalesced the small shuffle
    assert "*(1)" in p and "*(2)" in p
    assert "AQEShuffleRead coalesced" in p


def test_common_token_mass_broadcasts_top10(plans):
    # x56: the 10-row top-token set must broadcast; the token explode side
    # must never shuffle for the join.
    p = plans("x56_common_token_mass")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_late_orders_semi_join_pushdown(plans):
    # x58: EXISTS compiles to a left-semi join, and the order-date range
    # must reach the orders parquet scan as pushed filters.
    p = plans("x58_late_orders_by_priority")
    assert "LeftSemi" in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln and "o_orderdate" in ln]
    assert pushed, "order-date range not pushed to the orders scan"


def test_prefix_dup_partial_aggregation(plans):
    # x50: the prefix groupBy must map-side partial-aggregate before the
    # exchange (two HashAggregates around one shuffle), so at 100 TB the
    # shuffle carries one row per (partition, prefix), not per doc.
    p = plans("x50_prefix_dup_groups")
    assert p.count("HashAggregate") >= 2


def test_cosine_topk_two_phase_rank(spark, sf_dir):
    # VERDICT r10 #3: the exact brute-force ANN baseline must pre-reduce
    # with a per-(qid, _salt) local top-k BEFORE the per-qid window —
    # otherwise each of |queries| reducers receives a full-corpus
    # candidate partition, capping parallelism at |queries| and growing
    # per-reducer volume linearly with the corpus. Two Window nodes, the
    # inner one salted, is the structural signature of the fix. The
    # small-input cutover (test scale would otherwise take the plain
    # window, correctly) is zeroed to audit the SCALE path.
    import re

    from deva_spark.operators.windows import SMALL_INPUT_BYTES_CONF

    spark.conf.set(SMALL_INPUT_BYTES_CONF, "0")
    try:
        p = (
            Q.SPARK_QUERIES["x08_cosine_topk"](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.unset(SMALL_INPUT_BYTES_CONF)
    wins = [ln for ln in p.splitlines() if re.search(r"\bWindow\b", ln)]
    assert len(wins) >= 2, f"expected two-phase rank, got {wins}"
    assert any("_salt" in ln for ln in wins), wins
    # and the final (qid-only) window consumes the salted pre-reduction,
    # not the raw scored set: the _r1 <= k filter sits between them
    assert "_r1" in p


def test_no_single_reducer_window_or_cartesian_anywhere(spark, sf_dir):
    # Whole-registry audit: with the small-input cutover disabled (the
    # 100 TB configuration), NO batch query may compile to a window fed
    # by Exchange SinglePartition (all rows through one reducer) or to a
    # CartesianProduct. This is the plan-level scale contract for every
    # entry in the driver registry at once. Shared artifacts stage on
    # first use, so the audited plans are the staged routes (x15's
    # pair-join funnel, x61's staged-graph pagerank, x55's source-index
    # overlap, the IVF/IVF-PQ layouts, ...), the only routes there are.
    import re

    streaming = {
        "x33_streaming_tumbling",
        "x34_streaming_sessions",
        "x35_streaming_running_sum",
        "x36_streaming_zscore",
        "x38_stream_interval_join",
        "x49_streaming_first_seen",
        "x63_streaming_trending",
    }
    prev = spark.conf.get("spark.deva.positional.smallInputBytes", None)
    spark.conf.set("spark.deva.positional.smallInputBytes", "0")
    offenders = []
    try:
        for name, fn in Q.SPARK_QUERIES.items():
            if name in streaming:
                continue
            p = fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
            lines = p.splitlines()
            for i, ln in enumerate(lines):
                if re.search(r"\bWindow\b", ln) and "Exchange SinglePartition" in "\n".join(
                    lines[i + 1 : i + 3]
                ):
                    offenders.append((name, "single-reducer window"))
                    break
            if "CartesianProduct" in p:
                offenders.append((name, "cartesian product"))
    finally:
        if prev is None:
            spark.conf.unset("spark.deva.positional.smallInputBytes")
        else:
            spark.conf.set("spark.deva.positional.smallInputBytes", prev)
    assert not offenders, offenders


#: Columns that make a rank window's per-key volume safe at corpus
#: scale: per-row-ish identifiers (cardinality grows with the data) or
#: shard/salt columns introduced exactly to bound per-reducer volume.
_HIGH_CARD_OR_SHARD = {
    "doc_id", "vec_id", "event_id", "user_id", "o_orderkey", "l_orderkey",
    "c_custkey", "s_suppkey", "p_partkey", "id_a", "id_b", "cluster_id",
    "fp", "wh", "_sh", "_uh", "_salt", "_gb", "_p", "_b", "term", "w",
}

#: Windows partitioned ONLY by bounded-cardinality keys that are
#: nonetheless scale-safe because their INPUT is bounded by construction
#: — each entry names why. Adding a new low-cardinality window means
#: either salting it (the x08/x70 two-phase pattern), grouping the
#: numbering/prefix sum (x54/x62's global_positions / global_running_sum
#: group_cols), or justifying it here.
_BOUNDED_INPUT_RANK_WINDOWS = {
    # final phase of the salted two-phase top-k: input already reduced
    # to <= salt_buckets x k rows per qid / per source
    ("x08_cosine_topk", ("qid",)),
    ("x70_weighted_sample", ("source",)),
    # ANN scale paths: candidates pre-pruned to probed LSH buckets / IVF
    # cells before ranking; a deployment sizes n_cells with the corpus
    # (cells ~ sqrt(N)) so per-qid candidate volume stays bounded
    ("x09_ann_lsh_topk", ("qid",)),
    ("x32_ivf_topk", ("qid",)),
    ("x79_ivf_append_search", ("qid",)),
    ("x101_ivfpq_adc_search", ("qid",)),
    ("x102_ivfpq_rerank_search", ("qid",)),
    ("x103_ivfpq_append_search", ("qid",)),
    # merge phase over per-batch synopses (bounded rows per source by
    # the reservoir contract), not over the corpus
    ("x99_incremental_weighted_sample", ("source",)),
    # window input is the PRE-AGGREGATED hourly count table: <=
    # |event_types| rows per hr key, bounded regardless of corpus size
    ("x53_hourly_trending", ("hr",)),
}


def test_rank_windows_partition_on_high_cardinality_or_salted_keys(
    spark, sf_dir
):
    # VERDICT r10 #3 (audit extension): ANY window — rank or running
    # aggregate — whose partition keys are all LOW-cardinality (a
    # handful of sources or query ids) ships each key's full input
    # through one reducer — fine at sf0.01, a parallelism cap of |keys|
    # at 100 TB. Every window in every batch registry plan must
    # partition on at least one high-cardinality or shard column, or
    # carry a bounded-input justification in
    # _BOUNDED_INPUT_RANK_WINDOWS. Runs with the small-input cutover
    # disabled so the scale paths are the ones audited.
    import re

    streaming = {
        "x33_streaming_tumbling", "x34_streaming_sessions",
        "x35_streaming_running_sum", "x36_streaming_zscore",
        "x38_stream_interval_join", "x49_streaming_first_seen",
        "x63_streaming_trending", "x69_streaming_funnel",
        "x71_streaming_retention", "x78_streaming_incremental_dedup",
    }
    pat = re.compile(r"Window \[(.*?)\], \[([^\]]*)\], \[")
    prev = spark.conf.get("spark.deva.positional.smallInputBytes", None)
    spark.conf.set("spark.deva.positional.smallInputBytes", "0")
    offenders = []
    try:
        for name, fn in Q.SPARK_QUERIES.items():
            if name in streaming:
                continue
            p = (
                fn(spark, sf_dir)
                ._jdf.queryExecution()
                .executedPlan()
                .toString()
            )
            for m in pat.finditer(p):
                parts = m.group(2)
                cols = tuple(
                    sorted(set(re.findall(r"(\w+)#\d+", parts)))
                )
                if set(cols) & _HIGH_CARD_OR_SHARD:
                    continue
                if (name, cols) in _BOUNDED_INPUT_RANK_WINDOWS:
                    continue
                offenders.append((name, cols))
    finally:
        if prev is None:
            spark.conf.unset("spark.deva.positional.smallInputBytes")
        else:
            spark.conf.set("spark.deva.positional.smallInputBytes", prev)
    assert not offenders, (
        f"rank windows on low-cardinality keys without justification: "
        f"{offenders}"
    )


def test_driver_window_accounts_for_every_registry_entry():
    # ADVICE r6 #4 + VERDICT r12 "wrong" #1: the rotation is DERIVED
    # from the committed CORRECTNESS_r*.json history, so this test no
    # longer hand-keys round filenames or entry names (the discipline a
    # fat-finger could skew); it re-derives the staleness facts from
    # the same files and checks the invariants that make the rotation
    # sound for ANY round:
    #   (a) the head is exactly 50 distinct registry entries;
    #   (b) every entry never driver-recorded sits in-window (a new
    #       registration must get its first row this round);
    #   (c) the window holds the entries with the OLDEST latest-green
    #       evidence: nothing outside the window is strictly staler
    #       than anything inside it;
    #   (d) every entry is in-window, a recorded deferral, or green
    #       within the last two driver rounds — no entry silently
    #       ships with stale evidence.
    keys = list(Q.SPARK_QUERIES)
    window = set(keys[:50])
    deferred = set(Q._DEFERRED_TO_NEXT)
    assert len(keys) >= 50 and len(window) == 50
    assert window.isdisjoint(deferred), window & deferred
    assert len(Q._DRIVER_FIRST) == len(set(Q._DRIVER_FIRST)), "dup entry"
    assert set(Q._DRIVER_FIRST) == window, "rotation did not apply"
    assert deferred <= set(keys)

    green, seen, newest = Q._correctness_history()
    assert newest >= 1, "no CORRECTNESS history found at the repo root"
    never_recorded = [k for k in keys if k not in seen]
    for k in never_recorded:
        assert k in window, f"new registration {k} fell out of the window"
    # (c) the window is the stalest cohort: max staleness inside >=
    # anything outside (0 = never green, oldest possible)
    outside = [green.get(k, 0) for k in keys[50:]]
    inside = [green.get(k, 0) for k in keys[:50] if k in seen]
    if outside and inside:
        assert max(inside) <= min(outside), (
            "a staler entry sits outside the window: "
            f"in-window latest-green max {max(inside)}, "
            f"tail min {min(outside)}"
        )
    # (d) full accounting over the last two driver rounds
    prev_green = {k for k, r in green.items() if r >= newest - 1}
    uncovered = set(keys) - window - deferred - prev_green
    assert not uncovered, f"entries with no driver row and no deferral: {uncovered}"


def test_staged_routes_plan_shapes(spark, sf_dir):
    # The registry audit above runs with the small-input cutover
    # disabled. These staged routes compile to different plans under the
    # default cutover, so audit them there for the same contracts: no
    # cartesian, no single-reducer window. (Every other staged route
    # compiles to the same plan under both settings.)
    import re

    for name in (
        "x55_cross_source_overlap",
        "x74_substring_dup_pairs",
        "x75_longest_common_run",
        "x76_remove_duplicate_runs",
        "x93_quantile_rollup",
    ):
        p = (
            Q.SPARK_QUERIES[name](spark, sf_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in p, name
        lines = p.splitlines()
        for i, ln in enumerate(lines):
            if re.search(r"\bWindow\b", ln):
                assert "Exchange SinglePartition" not in "\n".join(
                    lines[i + 1 : i + 3]
                ), (name, p)


def test_no_oracle_emits_driver_hostile_duckdb_types():
    # VERDICT r9 #1: DuckDB SUM(BIGINT) returns HUGEINT, which the
    # driver's columnar materialization turns into float64/decimal128 —
    # the canonical string then diverges from Spark's int64 while rows
    # and schema match (the exact signature of every driver-red row in
    # rounds 8-9). DESCRIBE every oracle against the real tables and
    # fail on any HUGEINT/UHUGEINT/UBIGINT/wide-DECIMAL output column,
    # so the class is structurally impossible from now on.
    import duckdb

    import __spark_entry__ as entry_mod
    from deva_spark.session import TABLES
    from tools.check_correctness import hostile_oracle_types

    con = duckdb.connect()
    sf = "/root/testdata/sf0.001"
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM read_parquet('{sf}/{t}.parquet')"
        )
    bad = {
        name: cols
        for name, sql in entry_mod.oracle_sql().items()
        if (cols := hostile_oracle_types(con, sql))
    }
    assert not bad, f"oracles emitting driver-hostile types: {bad}"


def test_bench_headline_leads_with_quiet_floor_ratio():
    # VERDICT r13 "wrong" #1: round-over-round comparisons needed
    # loadavg forensics because the median-based ratio led the parsed
    # block. The judged number is now rmin (quiet-floor ratio); pin the
    # key ORDER and the arithmetic of the emitted headline.
    import bench

    head = bench.headline_block(
        walls=[19.3, 17.0, 25.1],
        loads=[17.0, 21.5, 40.0],
        total=19.3,
        base_walls=[20.4, 19.4, 33.0],
        base_loads=[14.0, 33.0, 20.0],
        baseline_total=20.4,
    )
    assert list(head)[:5] == ["metric", "rmin", "min", "bmin", "ratio"]
    assert head["rmin"] == round(17.0 / 19.4, 3)
    assert head["min"] == 17.0 and head["bmin"] == 19.4
    assert head["ratio"] == round(19.3 / 20.4, 3)
    assert head["load"] == [17, 40] and head["bload"] == [14, 33]
    # zero-guard: a degenerate baseline must not divide by zero
    z = bench.headline_block([1.0], [0.0], 1.0, [0.0], [0.0], 0.0)
    assert z["rmin"] is None and z["ratio"] is None


def test_bench_line_keeps_per_query_map_under_tail_window():
    # VERDICT r14 "wrong" #1: the old >1800-char guard blanked the
    # queries map whenever the full suite ran, so the driver's PERF
    # block lost per-query visibility, geomean and scaling. Pin the
    # fix: a 148-query map serializes under 1800 chars as integer
    # centiseconds with EVERY query present, and forced truncation
    # discloses itself instead of silently blanking.
    import json

    import bench

    per = {f"x{i}_some_long_query_name": 1.234 + i / 100 for i in range(148)}
    out = {
        "metric": "suite_total_wall",
        "rmin": 0.757, "min": 19.18, "bmin": 25.35, "ratio": 0.894,
        "value": 25.601, "baseline_value": 28.632,
        "load": [23, 40], "bload": [18, 30], "unit": "sec", "sf": 0.1,
        "staging_sec": 111.15,
        "excluded": ["x111", "x120", "x33", "x34", "x35", "x36", "x38",
                     "x49", "x63", "x69", "x71", "x78"],
        "queries": {n.split("_", 1)[0]: round(v, 2) for n, v in per.items()},
    }
    line = bench.fit_line(dict(out), per)
    assert len(line) <= 1800
    parsed = json.loads(line)
    # every query accounted for: present, or disclosed as truncated
    assert len(parsed["queries"]) + parsed.get("queries_truncated", 0) == 148
    assert len(parsed["queries"]) >= 120  # the map is never blanked
    assert parsed["queries_unit"] == "cs"
    assert parsed["queries"]["x147"] == int(round(per["x147_some_long_query_name"] * 100))  # slowest kept, cs
    # a small map unaffected: identical line, no unit switch
    small_out = {"metric": "m", "queries": {"q01": 0.5}}
    assert json.loads(bench.fit_line(dict(small_out), {"q01_x": 0.5}))[
        "queries"
    ] == {"q01": 0.5}
    # pathological values force truncation — disclosed, slowest kept
    big = {f"x{i}_q": 10000.0 + i for i in range(148)}
    out_big = dict(out)
    out_big["queries"] = {n.split("_", 1)[0]: round(v, 2) for n, v in big.items()}
    line_big = bench.fit_line(out_big, big)
    assert len(line_big) <= 1800
    p_big = json.loads(line_big)
    assert p_big.get("queries_truncated", 0) == 148 - len(p_big["queries"])
    assert "x147" in p_big["queries"]  # slowest survived


def test_rotation_warns_without_correctness_history(monkeypatch):
    # ADVICE r13: a deployment without CORRECTNESS_r*.json next to the
    # package silently degrades the window to registration order — the
    # derivation must say so
    import warnings

    monkeypatch.setattr(Q, "_correctness_history", lambda: ({}, {}, 0))
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        head, deferred = Q._derive_rotation()
    assert any("no CORRECTNESS" in str(x.message) for x in w)
    assert list(head) == list(Q.SPARK_QUERIES)[:50] and not deferred


def test_pair_cos_evaluated_once(plans):
    # The rescore UDF column is projected then filtered on; without the
    # asNondeterministic guard the optimizer pushes the filter below the
    # projection and DUPLICATES the UDF (two ArrowEvalPython nodes — every
    # surviving pair scored twice, guide §4.4). Pin single evaluation on
    # both the one-shot and the incremental cosine tiers.
    # (count pair_cos invocation sites, not ArrowEvalPython nodes: the
    # plans legitimately carry other Arrow UDFs — embedding parses — in
    # several branches)
    for name in ("x23_cosine_neardup", "x88_incremental_cosine_neardup"):
        p = plans(name)
        assert p.count("pair_cos(") <= 1, name


def test_kmv_null_filter_pushes_to_scan(plans):
    # The COUNT-DISTINCT null skip must be `user_id IS NOT NULL` at the
    # parquet scan, not `isnotnull(md5-expr)` re-hashing every row inside
    # the Filter operator.
    p = plans("x60_kmv_distinct_users")
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("user_id" in ln for ln in pushed)
    cond = [ln for ln in p.splitlines() if "Condition" in ln and "md5" in ln]
    assert not cond, cond[:1]


#: ``(Exchange, MapInPandas)`` node counts in the executed plan of each
#: pair-forming entry at sf0.001: the banded-Hamming tiers (x07, x82,
#: x115, x117, x118, x119, x122, x123) and the in-array pair explodes
#: (x55, x74, x75, x116). A change to the shared pair primitives may
#: lower a count; raising one is a plan regression.
_PAIR_PLAN_COUNTS = {
    "x07_simhash_neardup": (2, 0),
    "x55_cross_source_overlap": (1, 0),
    "x74_substring_dup_pairs": (1, 0),
    "x75_longest_common_run": (2, 0),
    "x82_incremental_simhash_neardup": (3, 0),
    "x115_image_neardup_pairs": (3, 0),
    "x116_audio_neardup_pairs": (4, 2),
    "x117_incremental_image_neardup": (4, 2),
    "x118_video_neardup_pairs": (5, 0),
    "x119_incremental_video_neardup": (6, 2),
    "x122_multimodal_dedup_clusters": (5, 0),
    "x123_resampled_video_neardup": (4, 0),
}


@pytest.mark.parametrize("name", sorted(_PAIR_PLAN_COUNTS))
def test_pair_forming_plan_counts(plans, name):
    import re

    p = plans(name)
    counts = (
        len(re.findall(r"\b\w*Exchange\b", p)),
        len(re.findall(r"\bMapInPandas\b", p)),
    )
    exchanges, map_in_pandas = _PAIR_PLAN_COUNTS[name]
    assert counts[0] <= exchanges and counts[1] <= map_in_pandas, (counts, p)
