"""Remaining operator smoke/properties: sliding time window stream, delay,
sample, positional zip, as-of alignment."""

import datetime as dt

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from deva_spark.operators import joins, sampling
from deva_spark.session import read_table
from deva_spark.streaming import twin

BASE = dt.datetime(2024, 1, 1)

SLOW = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def test_sliding_time_window_stream_equivalence(spark, sf_dir, tmp_path):
    staged = twin.stage_event_chunks(spark, sf_dir, chunks=3, out_dir=str(tmp_path))
    import shutil

    try:
        s = twin.events_file_stream(spark, staged)
        stream_res = twin.run_available_now(twin.sliding_counts(s), "t_slide")
        batch = (
            read_table(spark, sf_dir, "events")
            .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .select(F.col("w.start").alias("w"), "event_type", "cnt")
        )
        a = sorted(tuple(r) for r in stream_res.collect())
        b = sorted(tuple(r) for r in batch.collect())
        assert a == b
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def test_delay_shifts_event_time(spark):
    df = spark.createDataFrame([(1, BASE)], "event_id long, ts timestamp")
    out = twin.delay(df, "90 seconds").collect()[0]
    assert out.ts == BASE + dt.timedelta(seconds=90)


def test_bernoulli_sample_bounds(spark):
    df = spark.range(10_000)
    n = df.transform(sampling.bernoulli_sample(0.1, seed=7)).count()
    assert 700 < n < 1300  # ~Binomial(10k, .1)
    # deterministic under a fixed seed
    n2 = df.transform(sampling.bernoulli_sample(0.1, seed=7)).count()
    assert n == n2


@given(
    n_a=st.integers(min_value=0, max_value=8),
    n_b=st.integers(min_value=0, max_value=8),
)
@SLOW
def test_positional_zip_pairs_ith_with_ith(spark, n_a, n_b):
    mk = lambda n, off: [  # noqa: E731
        (off + i, BASE + dt.timedelta(seconds=i)) for i in range(n)
    ]
    a = spark.createDataFrame(mk(n_a, 0) or [(None, None)], "event_id long, ts timestamp").filter(
        F.col("event_id").isNotNull()
    )
    b = spark.createDataFrame(mk(n_b, 100) or [(None, None)], "event_id long, ts timestamp").filter(
        F.col("event_id").isNotNull()
    )
    out = joins.positional_zip(
        a, b, order=["ts", "event_id"], left_cols={"event_id": "ia"}, right_cols={"event_id": "ib"}
    ).collect()
    assert sorted((r.ia, r.ib) for r in out) == [
        (i, 100 + i) for i in range(min(n_a, n_b))
    ]


@given(
    seq=st.lists(
        st.sampled_from(["click", "purchase"]), min_size=0, max_size=20
    )
)
@SLOW
def test_asof_latest_carries_last_purchase(spark, seq):
    rows = [
        (i, BASE + dt.timedelta(seconds=i), 1, t, float(i)) for i, t in enumerate(seq)
    ]
    if not rows:
        return
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double"
    )
    out = {
        r.event_id: r.last_v
        for r in df.transform(
            joins.asof_latest(
                F.when(F.col("event_type") == "purchase", F.col("value")),
                partition="user_id",
                order=["ts", "event_id"],
                out="last_v",
            )
        ).collect()
    }
    last = None
    for i, t in enumerate(seq):
        if t == "purchase":
            last = float(i)
        assert out[i] == last


def test_take_while_skip_while(spark):
    df = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([1, 2, 3, 9, 2, 1])], "event_id long, value double"
    )
    from deva_spark.operators import sampling

    taken = df.transform(sampling.take_while(F.col("value") < 5, ["event_id"]))
    assert sorted(r.event_id for r in taken.collect()) == [0, 1, 2]
    skipped = df.transform(sampling.skip_while(F.col("value") < 5, ["event_id"]))
    assert sorted(r.event_id for r in skipped.collect()) == [3, 4, 5]


def test_take_while_null_predicate_is_stop_row(spark):
    # reference truthiness: any non-true predicate (incl. NULL) ends the
    # prefix — a NULL value row must stop take_while and start skip_while
    from deva_spark.operators import sampling

    df = spark.createDataFrame(
        [(0, 1.0), (1, None), (2, 2.0), (3, 9.0)], "event_id long, value double"
    )
    taken = df.transform(sampling.take_while(F.col("value") < 5, ["event_id"]))
    assert sorted(r.event_id for r in taken.collect()) == [0]
    skipped = df.transform(sampling.skip_while(F.col("value") < 5, ["event_id"]))
    assert sorted(r.event_id for r in skipped.collect()) == [1, 2, 3]


def test_hash_bucket_stable_under_partitioning(spark):
    from deva_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(500)], "id long")
    a = {r.id: r.b for r in df.repartition(1).select(
        "id", sampling.hash_bucket(F.col("id")).alias("b")).collect()}
    b = {r.id: r.b for r in df.repartition(7).select(
        "id", sampling.hash_bucket(F.col("id")).alias("b")).collect()}
    assert a == b  # content hash: layout-independent
    assert all(0 <= v < 100 for v in a.values())
    # roughly uniform: every decile occupied on 500 ids
    assert len({v // 10 for v in a.values()}) == 10


def test_dataset_split_deterministic_proportions(spark):
    from deva_spark.operators import sampling

    df = spark.createDataFrame([(i,) for i in range(2000)], "id long")
    out = df.transform(sampling.dataset_split("id")).groupBy("split").count()
    counts = {r.split: r["count"] for r in out.collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["train"] - 1600) < 150
    assert abs(counts["val"] - 200) < 80
    # re-run identical (no hidden seed/partition dependence)
    again = {r.split: r["count"]
             for r in df.transform(sampling.dataset_split("id"))
             .groupBy("split").count().collect()}
    assert again == counts


def test_stratified_sample_respects_rates(spark):
    from deva_spark.operators import sampling

    rows = [(i, "a" if i % 2 else "b") for i in range(2000)]
    df = spark.createDataFrame(rows, "id long, s string")
    kept = df.transform(
        sampling.stratified_sample({"a": 100, "b": 0}, "s", "id")
    ).collect()
    assert {r.s for r in kept} == {"a"}          # rate-0 stratum fully dropped
    assert len(kept) == 1000                      # rate-100 stratum fully kept
    some = df.transform(
        sampling.stratified_sample({"a": 10}, "s", "id", default_rate=50)
    )
    by_s = {r.s: r["count"] for r in some.groupBy("s").count().collect()}
    assert abs(by_s["a"] - 100) < 60 and abs(by_s["b"] - 500) < 120


def test_hyperplane_signs_column_matches_udf_buckets(spark):
    # the JVM column variant and the numpy bucket UDF implement the same
    # sign function; check the column version on a literal
    from deva_spark.functions.vectors import deterministic_planes, hyperplane_signs

    planes = deterministic_planes(4, 3)
    df = spark.createDataFrame([([1.0, 0.0, 0.0, 0.0],)], "v array<double>")
    got = df.select(hyperplane_signs(F.col("v"), planes).alias("b")).collect()[0].b
    expected = sum(
        (1 << i) for i, p in enumerate(planes) if p[0] >= 0
    )
    assert got == expected


def test_asof_join_two_tables(spark):
    # quotes (right) as-of joined onto trades (left) per symbol key
    trades = spark.createDataFrame(
        [
            (1, "A", BASE + dt.timedelta(seconds=5)),
            (2, "A", BASE + dt.timedelta(seconds=15)),
            (3, "B", BASE + dt.timedelta(seconds=3)),
            (4, "B", BASE + dt.timedelta(seconds=10)),  # exactly at quote ts
            (5, "C", BASE),  # no quote ever
        ],
        "trade_id long, sym string, t_ts timestamp",
    )
    quotes = spark.createDataFrame(
        [
            ("A", BASE + dt.timedelta(seconds=1), 10.0),
            ("A", BASE + dt.timedelta(seconds=12), 11.0),
            ("B", BASE + dt.timedelta(seconds=10), 99.0),
        ],
        "sym string, q_ts timestamp, px double",
    )
    out = {
        r.trade_id: r.px_asof
        for r in joins.asof_join(
            trades, quotes, key="sym", left_ts="t_ts", right_ts="q_ts", value_cols=["px"]
        ).collect()
    }
    assert out == {1: 10.0, 2: 11.0, 3: None, 4: 99.0, 5: None}


def test_ewma_matches_pandas(spark):
    import pandas as pd

    vals = [1.0, 5.0, 2.0, 8.0, 3.0]
    rows = [(i, BASE + dt.timedelta(seconds=i), 1, v) for i, v in enumerate(vals)]
    rows += [(10 + i, BASE + dt.timedelta(seconds=i), 2, v * 2) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long, value double")

    from deva_spark.operators.smoothing import ewma

    out = {r.event_id: r.ewma for r in df.transform(ewma(alpha=0.3)).collect()}
    exp1 = pd.Series(vals).ewm(alpha=0.3, adjust=False).mean().tolist()
    for i, e in enumerate(exp1):
        assert abs(out[i] - e) < 1e-12
    exp2 = pd.Series([v * 2 for v in vals]).ewm(alpha=0.3, adjust=False).mean().tolist()
    for i, e in enumerate(exp2):
        assert abs(out[10 + i] - e) < 1e-12


def test_retention_eviction(spark, sf_dir, tmp_path):
    from deva_spark.session import read_table
    from deva_spark.sources import writers

    path = str(tmp_path / "t")
    events = read_table(spark, sf_dir, "events").limit(500)
    writers.append_events(events, path)
    import os

    parts_before = sorted(p for p in os.listdir(path) if p.startswith("event_date="))
    assert len(parts_before) >= 2
    # retain only partitions at/after the second partition's date
    as_of = parts_before[1].split("=", 1)[1]
    dropped = writers.evict_older_than(spark, path, keep_days=0, as_of=as_of)
    assert dropped == parts_before[:1]
    remaining = spark.read.parquet(path)
    assert remaining.count() > 0
    assert remaining.count() < 500 or len(parts_before) == 2


def test_compact_table_reduces_files_preserves_rows(spark, tmp_path):
    from deva_spark.sources import writers

    path = str(tmp_path / "frag")
    df = spark.range(10000).selectExpr("id", "id * 2 AS v")
    df.repartition(40).write.parquet(path)
    import os

    before = sum(1 for f in os.listdir(path) if f.endswith(".parquet"))
    assert before >= 40
    after = writers.compact_table(spark, path, target_mb=128)
    assert after < before
    got = spark.read.parquet(path)
    assert got.count() == 10000
    assert got.agg({"v": "sum"}).collect()[0][0] == 10000 * 9999


def test_kmv_distinct_exact_below_k(spark):
    from deva_spark.operators import aggregates as agg

    df = spark.createDataFrame([(i % 7,) for i in range(100)], "v long")
    out = df.transform(agg.kmv_distinct("v", k=64)).collect()
    assert out[0].est_distinct == 7  # fewer than k distinct -> exact


def test_kmv_distinct_estimate_accuracy(spark):
    from deva_spark.operators import aggregates as agg

    n = 2000
    df = spark.createDataFrame([(i,) for i in range(n)], "v long")
    est = df.transform(agg.kmv_distinct("v", k=128)).collect()[0].est_distinct
    assert abs(est - n) / n < 0.25  # ~1/sqrt(k) relative error

    # partition-order independence: same estimate on a reshuffled input
    est2 = (
        df.repartition(13)
        .transform(agg.kmv_distinct("v", k=128))
        .collect()[0]
        .est_distinct
    )
    assert est2 == est


def test_weighted_sample_deterministic_and_biased(spark):
    import pytest as _pytest

    from deva_spark.operators.sampling import weighted_sample_topk

    # 200 light docs (w=10) and 200 heavy docs (w=1000) in one group
    rows = [(i, "s", 10 if i < 200 else 1000) for i in range(400)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    out = weighted_sample_topk(df, k=50, weight_col="w", group_cols=("source",))
    kept = sorted(r.doc_id for r in out.collect())
    # deterministic under any physical partitioning
    kept2 = sorted(
        r.doc_id
        for r in weighted_sample_topk(
            df.repartition(7), k=50, weight_col="w", group_cols=("source",)
        ).collect()
    )
    assert kept == kept2 and len(kept) == 50
    # E-S bias: 100x heavier docs dominate the sample
    heavy = sum(1 for d in kept if d >= 200)
    assert heavy > 40
    # zero/negative weights are excluded; empty groups rejected
    z = spark.createDataFrame([(1, "s", 0)], "doc_id long, source string, w long")
    assert weighted_sample_topk(z, 5, "w", ("source",)).count() == 0
    with _pytest.raises(ValueError, match="group_cols"):
        weighted_sample_topk(df, 5, "w", ())


def test_weighted_sample_global_matches_windowed_constant_group(spark):
    # VERDICT r6 #7: the two-phase global sampler must produce EXACTLY
    # the rows the windowed path yields on a constant group — and its
    # plan must never funnel all rows through one reducer's window.
    from pyspark.sql import functions as F

    from deva_spark.operators.sampling import (
        weighted_sample_global,
        weighted_sample_topk,
    )

    rows = [(i, "s", (i * 37) % 97 + 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, source string, w long")
    glob = weighted_sample_global(df.repartition(11), k=40, weight_col="w")
    ref = weighted_sample_topk(
        df.withColumn("_g", F.lit(1)), k=40, weight_col="w", group_cols=("_g",)
    )
    g = {(r.doc_id, r.skey, r.rnk) for r in glob.collect()}
    e = {(r.doc_id, r.skey, r.rnk) for r in ref.collect()}
    assert g == e and len(g) == 40

    # same rows under a different physical partitioning
    g2 = {
        (r.doc_id, r.skey, r.rnk)
        for r in weighted_sample_global(
            df.repartition(3), k=40, weight_col="w"
        ).collect()
    }
    assert g2 == g

    # plan audit: the only window partitions by spark_partition_id —
    # no window fed by Exchange SinglePartition
    import re

    plan = (
        weighted_sample_global(df, k=40, weight_col="w")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    lines = plan.splitlines()
    for i, ln in enumerate(lines):
        if re.search(r"\bWindow\b", ln):
            assert "Exchange SinglePartition" not in "\n".join(
                lines[i + 1 : i + 3]
            ), plan


def test_weighted_sample_global_partition_invariance_random(spark):
    # hypothesis-style sweep over weight distributions: the two-phase
    # global sampler must be a pure function of (ids, weights) — same
    # rows under every partitioning, and exactly the global top-k by
    # (skey DESC, id)
    from pyspark.sql import functions as F

    from deva_spark.operators.sampling import weighted_sample_global

    state = 99
    for trial in range(3):
        rows = []
        for i in range(300):
            state = (state * 1103515245 + 12345) % (1 << 31)
            rows.append((i * 7 + trial, "s", state % 500 + 1))
        df = spark.createDataFrame(rows, "doc_id long, source string, w long")
        outs = []
        for parts in (1, 5, 17):
            outs.append(
                sorted(
                    (r.doc_id, r.skey, r.rnk)
                    for r in weighted_sample_global(
                        df.repartition(parts), k=25, weight_col="w"
                    ).collect()
                )
            )
        assert outs[0] == outs[1] == outs[2] and len(outs[0]) == 25
        # exact global order: recompute the expected top-k from the full
        # keyed frame
        keyed = df.withColumn(
            "u",
            (
                F.expr(
                    "cast(conv(concat(substring(md5(cast(doc_id as string)),15,2),"
                    "substring(md5(cast(doc_id as string)),13,2),"
                    "substring(md5(cast(doc_id as string)),11,2),"
                    "substring(md5(cast(doc_id as string)),9,2),"
                    "substring(md5(cast(doc_id as string)),7,2),"
                    "substring(md5(cast(doc_id as string)),5,2),"
                    "substring(md5(cast(doc_id as string)),3,2),"
                    "substring(md5(cast(doc_id as string)),1,2)), 16, 10) as decimal(38,0))"
                ).cast("double")
                + F.lit(0.5)
            )
            / F.lit(float(1 << 64)),
        )
        exp = sorted(
            (
                (r.doc_id, r.skey)
                for r in keyed.select(
                    "doc_id",
                    F.round(F.log("u") / F.col("w"), 10).alias("skey"),
                ).collect()
            ),
            key=lambda t: (-t[1], t[0]),
        )[:25]
        top_ids = {t[0] for t in exp}
        assert {t[0] for t in outs[0]} == top_ids


def test_asof_join_tolerance_masks_stale_matches(spark):
    # pandas merge_asof(tolerance=...) semantics: a carried match older
    # than left_ts - tolerance nulls out; in-window matches unchanged
    import datetime as dt

    from deva_spark.operators import joins

    B = dt.datetime(2024, 1, 1)
    trades = spark.createDataFrame(
        [
            (i + 1, "a", B + dt.timedelta(minutes=m))
            for i, m in enumerate((10, 90, 200))
        ],
        "tid long, sym string, t_ts timestamp",
    )
    quotes = spark.createDataFrame(
        [("a", B + dt.timedelta(minutes=5), 100.0),
         ("a", B + dt.timedelta(minutes=85), 200.0)],
        "sym string, q_ts timestamp, px double",
    )
    out = {
        r.tid: r.px_asof
        for r in joins.asof_join(
            trades, quotes, "sym", "t_ts", "q_ts", ["px"], tolerance="1 hour"
        ).collect()
    }
    # t=10: quote@5 within 1h -> 100; t=90: quote@85 within 1h -> 200;
    # t=200: last quote@85 is 115 min stale -> null
    assert out == {1: 100.0, 2: 200.0, 3: None}
    # no tolerance: t=200 keeps the stale carry
    out2 = {
        r.tid: r.px_asof
        for r in joins.asof_join(
            trades, quotes, "sym", "t_ts", "q_ts", ["px"]
        ).collect()
    }
    assert out2 == {1: 100.0, 2: 200.0, 3: 200.0}


def test_asof_join_row_level_nulls_and_tolerance(spark):
    # ADVICE r7: the match is ROW-level (DuckDB ASOF / merge_asof) — the
    # newest in-range right row supplies ALL values including its NULLs;
    # an older row's non-null value must NOT ride through the tolerance
    # gate on the newest row's timestamp
    import datetime as dt

    import pytest

    from deva_spark.operators import joins

    B = dt.datetime(2024, 1, 1)
    trades = spark.createDataFrame(
        [(1, "a", B + dt.timedelta(minutes=90))],
        "tid long, sym string, t_ts timestamp",
    )
    quotes = spark.createDataFrame(
        [("a", B + dt.timedelta(minutes=5), 100.0),   # stale, has px
         ("a", B + dt.timedelta(minutes=85), None)],  # fresh, NULL px
        "sym string, q_ts timestamp, px double",
    )
    out = joins.asof_join(
        trades, quotes, "sym", "t_ts", "q_ts", ["px"], tolerance="1 hour"
    ).collect()
    # matched row is quote@85 (in tolerance) -> its px is NULL; the
    # stale quote@5's 100.0 must not leak through
    assert out[0].px_asof is None
    # same without tolerance: row-level match still takes the newest
    # row's NULL, not the older non-null
    out2 = joins.asof_join(
        trades, quotes, "sym", "t_ts", "q_ts", ["px"]
    ).collect()
    assert out2[0].px_asof is None
    # the interpolated INTERVAL string is validated, not trusted
    with pytest.raises(ValueError, match="INTERVAL"):
        joins.asof_join(
            trades, quotes, "sym", "t_ts", "q_ts", ["px"],
            tolerance="1 hour) OR (1=1",
        )


def test_stats_partials_merge_split_invariance(spark):
    # the stats tier of the incremental ring: ANY batch split's partials
    # merge to the exact one-shot statistics (integer algebra until the
    # final division), matching a Python reference
    import statistics

    from deva_spark.operators import aggregates as agg

    rows = [(i % 3, (i * 7919) % 1000 + 1) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, v long")

    def merged(splits):
        parts = None
        for lo, hi in splits:
            p = df.filter((F.col("v") % 10 >= lo) & (F.col("v") % 10 < hi))
            pp = p.transform(agg.stats_partials("v", keys=["k"]))
            parts = pp if parts is None else parts.unionByName(pp)
        return {
            r.k: (r.cnt, r.s, r.mn, r.mx, r.mean, r.var)
            for r in parts.transform(
                agg.merge_stat_partials(keys=["k"])
            ).collect()
        }

    one = merged([(0, 10)])
    assert merged([(0, 3), (3, 7), (7, 10)]) == one
    assert merged([(0, 5), (5, 10)]) == one
    # python reference per key
    for k in (0, 1, 2):
        vs = [v for kk, v in rows if kk == k]
        cnt, s, mn, mx, mean, var = one[k]
        assert (cnt, s, mn, mx) == (len(vs), sum(vs), min(vs), max(vs))
        assert mean == round(sum(vs) / len(vs), 4)
        assert var == round(statistics.variance(vs), 4)


def test_stats_partials_singleton_group_null_var(spark):
    from deva_spark.operators import aggregates as agg

    df = spark.createDataFrame([(0, 5), (1, 3), (1, 9)], "k long, v long")
    out = {
        r.k: r
        for r in df.transform(agg.stats_partials("v", keys=["k"]))
        .transform(agg.merge_stat_partials(keys=["k"]))
        .collect()
    }
    assert out[0].var is None and out[0].cnt == 1 and out[0].mean == 5.0
    assert out[1].var == 18.0  # sample variance of (3, 9)


def test_kmv_partials_merge_equals_one_shot(spark):
    # the distinct-count tier: per-batch synopses merged == the one-shot
    # kmv_distinct estimate, bit-identical, for any batch split and
    # both below-k (exact) and above-k (estimator) regimes
    from deva_spark.operators import aggregates as agg

    rows = [(i % 2, i % 500) for i in range(3000)]  # 500 distinct per key
    df = spark.createDataFrame(rows, "k long, v long")
    one = {
        r.k: r.est_distinct
        for r in df.transform(
            agg.kmv_distinct("v", keys=["k"], k=64)
        ).collect()
    }
    for n_batches in (2, 5):
        parts = None
        for b in range(n_batches):
            p = df.filter(F.col("v") % n_batches == b).withColumn(
                "_b", F.lit(b)
            )
            pp = p.transform(agg.kmv_partials("v", keys=["k", "_b"], k=64))
            parts = pp if parts is None else parts.unionByName(pp)
        got = {
            r.k: r.est_distinct
            for r in parts.transform(
                agg.kmv_merge_partials(keys=["k"], k=64)
            ).collect()
        }
        assert got == one
    # below-k regime stays exact through the merge
    small = spark.createDataFrame([(i % 7,) for i in range(100)], "v long")
    p1 = small.filter(F.col("v") < 3).transform(agg.kmv_partials("v", k=64))
    p2 = small.filter(F.col("v") >= 3).transform(agg.kmv_partials("v", k=64))
    est = (
        p1.unionByName(p2)
        .transform(agg.kmv_merge_partials(k=64))
        .collect()[0]
        .est_distinct
    )
    assert est == 7


def test_batch_drift_gate(spark):
    # the stats tier's operational consumer: a shifted arrival batch is
    # flagged per group BEFORE its partial appends to the history; a
    # same-distribution batch passes; a group with no history flags
    from deva_spark.operators import aggregates as agg

    hist_rows = [("en", 100 + (i * 13) % 21) for i in range(300)] + [
        ("de", 200 + (i * 7) % 21) for i in range(300)
    ]
    hist = (
        spark.createDataFrame(hist_rows, "k string, v long")
        .transform(agg.stats_partials("v", keys=["k"]))
    )

    def gate(batch_rows):
        b = spark.createDataFrame(
            batch_rows, "k string, v long"
        ).transform(agg.stats_partials("v", keys=["k"]))
        return {r.k: r for r in agg.batch_drift(hist, b, keys=["k"]).collect()}

    # same distribution -> not drifted
    ok = gate([("en", 100 + (i * 13) % 21) for i in range(40)])
    assert ok["en"].drifted is False and abs(ok["en"].z) < 3
    # +30 shift (~5 sigma of the uniform-ish spread) -> drifted
    bad = gate([("en", 130 + (i * 13) % 21) for i in range(40)])
    assert bad["en"].drifted is True and bad["en"].z > 3
    # unseen group -> no history, flagged with NULL z
    new = gate([("zz", 5), ("zz", 6)])
    assert new["zz"].drifted is True and new["zz"].z is None
    # deterministic under history batch splits: same z either way
    h2 = (
        spark.createDataFrame(hist_rows[:150] , "k string, v long")
        .transform(agg.stats_partials("v", keys=["k"]))
        .unionByName(
            spark.createDataFrame(hist_rows[150:], "k string, v long")
            .transform(agg.stats_partials("v", keys=["k"]))
        )
    )
    b = spark.createDataFrame(
        [("en", 130 + (i * 13) % 21) for i in range(40)], "k string, v long"
    ).transform(agg.stats_partials("v", keys=["k"]))
    z1 = {r.k: r.z for r in agg.batch_drift(hist, b, keys=["k"]).collect()}
    z2 = {r.k: r.z for r in agg.batch_drift(h2, b, keys=["k"]).collect()}
    assert z1 == z2


def test_streaming_stats_partials_equivalence(spark, sf_dir, tmp_path):
    # the stats tier's STREAMING twin needs no new operator:
    # stats_partials is a plain aggregate transform, so it runs on a
    # file stream directly; a complete-mode AvailableNow drain equals
    # the batch route under any micro-batching (the aggregate is
    # algebraic — partials fold per micro-batch in the state store)
    from deva_spark.functions import text as T
    from deva_spark.operators import aggregates as agg

    chunks = twin.stage_doc_chunks(
        spark, sf_dir, chunks=4, where="TRUE", out_dir=str(tmp_path)
    )
    stream = twin.docs_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        stream.select("lang", T.token_count(F.col("text")).alias("v"))
        .transform(agg.stats_partials("v", keys=["lang"])),
        "stats_twin_drain",
        output_mode="complete",
    )
    got = {
        r.lang: r
        for r in drained.transform(
            agg.merge_stat_partials(keys=["lang"])
        ).collect()
    }
    batch = read_table(spark, sf_dir, "documents")
    expected = {
        r.lang: r
        for r in batch.select(
            "lang", T.token_count(F.col("text")).alias("v")
        )
        .transform(agg.stats_partials("v", keys=["lang"]))
        .transform(agg.merge_stat_partials(keys=["lang"]))
        .collect()
    }
    assert set(got) == set(expected) and len(got) > 0
    for k in got:
        assert (
            got[k].cnt,
            got[k].s,
            got[k].mn,
            got[k].mx,
            got[k].mean,
            got[k].var,
        ) == (
            expected[k].cnt,
            expected[k].s,
            expected[k].mn,
            expected[k].mx,
            expected[k].mean,
            expected[k].var,
        )


@given(
    splits=st.lists(st.integers(min_value=0, max_value=4), min_size=40, max_size=40),
)
@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
def test_stats_and_kmv_merge_arbitrary_split_property(spark, splits):
    # hypothesis: ANY assignment of rows to batches merges to the same
    # stats and the same KMV estimate as the one-shot computation —
    # the fold-order/batching-freedom contract of both synopsis tiers
    from deva_spark.operators import aggregates as agg

    rows = [
        (i % 3, (i * 2654435761) % 997, splits[i % 40]) for i in range(160)
    ]
    df = spark.createDataFrame(rows, "k long, v long, b long")
    one_stats = {
        r.k: (r.cnt, r.s, r.mn, r.mx, r.mean, r.var)
        for r in df.transform(agg.stats_partials("v", keys=["k"]))
        .transform(agg.merge_stat_partials(keys=["k"]))
        .collect()
    }
    one_kmv = {
        r.k: r.est_distinct
        for r in df.transform(agg.kmv_distinct("v", keys=["k"], k=32)).collect()
    }
    parts_s = df.transform(agg.stats_partials("v", keys=["k", "b"])).drop("b")
    got_stats = {
        r.k: (r.cnt, r.s, r.mn, r.mx, r.mean, r.var)
        for r in parts_s.transform(
            agg.merge_stat_partials(keys=["k"])
        ).collect()
    }
    parts_k = df.transform(agg.kmv_partials("v", keys=["k", "b"], k=32))
    got_kmv = {
        r.k: r.est_distinct
        for r in parts_k.transform(
            agg.kmv_merge_partials(keys=["k"], k=32)
        ).collect()
    }
    assert got_stats == one_stats
    assert got_kmv == one_kmv


def test_asof_join_ignores_null_right_timestamps(spark):
    # r12 review (reproduced): a NULL right_ts sorted first in the
    # union-window formulation and its row was carried forward — left
    # rows with no real predecessor got the NULL-ts row's values where
    # DuckDB ASOF and pandas merge_asof give NULL.
    left = spark.createDataFrame(
        [(1, "2026-01-01 10:00:00", "k")], "id long, ts string, k string"
    ).select("id", F.col("ts").cast("timestamp").alias("ts"), "k")
    right = spark.createDataFrame(
        [(None, 99.0, "k"), ("2026-01-01 11:00:00", 7.0, "k")],
        "ts string, value double, k string",
    ).select(F.col("ts").cast("timestamp").alias("ts"), "value", "k")
    out = joins.asof_join(
        left, right, key="k", left_ts="ts", right_ts="ts",
        value_cols=["value"],
    ).collect()
    assert len(out) == 1 and out[0]["value_asof"] is None


def test_bloom_staged_bitmap_mismatch_raises(spark):
    # r12 review: a staged bitmap built with FEWER hashes than the
    # probe silently dropped genuinely-matching rows. The behavioral
    # sample check now raises; the safe direction (probe with fewer
    # hashes — only false positives) still works and stays exact.
    import pytest

    small = spark.createDataFrame([(i,) for i in range(50)], "k long")
    big = spark.createDataFrame([(i, i % 50) for i in range(500)], "id long, k long")
    bm2 = joins.build_bloom_bitmap(small, "k", n_hashes=2)
    with pytest.raises(ValueError, match="different n_hashes"):
        joins.bloom_pruned_join(
            big, small.withColumnRenamed("k", "sk"), "k", "sk",
            n_hashes=3, bitmap=bm2,
        )
    bm3 = joins.build_bloom_bitmap(small, "k", n_hashes=3)
    ok = joins.bloom_pruned_join(
        big, small.withColumnRenamed("k", "sk"), "k", "sk",
        n_hashes=2, bitmap=bm3,  # fewer probes: safe, never drops
    )
    assert ok.count() == 500
