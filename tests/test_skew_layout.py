"""Skew mitigation (salted join) and multi-dimensional layout (z-order).

The reference engine is single-process, so neither concern exists there;
at 100 TB both are load-bearing: a hot join key serializes a shuffle
stage, and a single-column sort leaves two-dimensional scans unprunable.
The contracts tested here are the ones the oracles check: salted_join is
ROW-IDENTICAL to the plain join, and write_zordered is a pure relayout
(same row set) whose row groups prune multiplicatively.
"""

import os

import pytest
from pyspark.sql import functions as F

from deva_spark.operators.skew import key_share, salted_join
from deva_spark.sources.layout import (
    rowgroup_prune_stats,
    write_zordered,
    zorder_code,
)


def _skewed_pair(spark):
    # 10k rows, 90% on key 0 (the hot key), plus keys with NO dim match
    # (id 7 missing) and dim rows with no fact match (id 99)
    big = spark.range(10_000).select(
        F.when(F.col("id") % 10 < 9, 0)
        .otherwise((F.col("id") % 8).cast("int"))
        .alias("k"),
        (F.col("id") * 3).alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, f"d{i}") for i in range(7)] + [(99, "d99"), (0, "d0b")],
        "k int, label string",
    )
    return big, dim


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("how", ["inner", "left", "left_semi", "left_anti"])
def test_salted_join_row_identical(spark, how):
    big, dim = _skewed_pair(spark)
    plain = big.join(dim, "k", how)
    salted = salted_join(big, dim, "k", n_salts=5, how=how)
    assert salted.columns == plain.columns
    # duplicate dim key 0 -> inner/left multiplicity must double; missing
    # dim keys -> left null-extends, semi drops, anti keeps
    assert _sorted_rows(salted) == _sorted_rows(plain)


def test_salted_plans_have_no_nondeterministic_expression(spark):
    # VERDICT r9 #3: F.rand(seed) is a nondeterministic expression, so a
    # partial stage retry after shuffle-fetch failure may recompute a
    # partition whose rows land with different salts than the copies
    # already consumed — wrong results exactly in the 100x-cluster
    # regime salting exists for. The salt must be a pure function of row
    # content; the physical plan must carry no rand()/nondeterministic
    # marker anywhere.
    from deva_spark.operators.skew import salted_group_agg

    big, dim = _skewed_pair(spark)
    joined = salted_join(big, dim, "k", n_salts=5)
    agged = big.transform(
        salted_group_agg(
            ["k"], {"total": (F.sum("v"), F.sum), "c": (F.count(F.lit(1)), F.sum)}
        )
    )
    for df in (joined, agged):
        plan = df._jdf.queryExecution().executedPlan().toString().lower()
        assert "rand(" not in plan
        assert "nondeterministic" not in plan
        # and the salt really is content-derived
        assert "xxhash64" in plan


def test_salted_join_rejects_small_side_preserving_modes(spark):
    big, dim = _skewed_pair(spark)
    for how in ("right", "full", "outer"):
        with pytest.raises(ValueError):
            salted_join(big, dim, "k", how=how)


def test_salted_join_multi_key(spark):
    big = spark.range(2_000).select(
        (F.col("id") % 3).alias("a"),
        (F.col("id") % 2).alias("b"),
        F.col("id").alias("v"),
    )
    dim = spark.createDataFrame(
        [(i, j, i * 10 + j) for i in range(3) for j in range(2)],
        "a long, b long, w long",
    )
    assert _sorted_rows(salted_join(big, dim, ["a", "b"], n_salts=4)) == _sorted_rows(
        big.join(dim, ["a", "b"])
    )


def test_key_share_finds_the_hot_key(spark):
    big, _ = _skewed_pair(spark)
    top = key_share(big, ["k"], top=3).collect()
    assert top[0].k == 0 and top[0].cnt == 9_000
    assert abs(top[0].share - 0.9) < 1e-9
    assert len(top) == 3 and top[1].cnt < top[0].cnt


def _grid_df(spark, n=40_000):
    # deterministic pseudo-uniform 2-D points on [0,1)^2
    return spark.range(n).select(
        F.col("id"),
        ((F.crc32(F.col("id").cast("string")) % 10_000) / 10_000.0).alias("x"),
        ((F.crc32(F.concat(F.col("id").cast("string"), F.lit("y"))) % 10_000) / 10_000.0).alias("y"),
    )


def test_zorder_is_a_pure_relayout(spark, tmp_path):
    df = _grid_df(spark, 5_000)
    path = str(tmp_path / "z")
    bounds = write_zordered(df, path, ["x", "y"], bits=8, n_files=4)
    back = spark.read.parquet(path)
    assert _sorted_rows(back.select("id", "x", "y")) == _sorted_rows(df)
    assert set(bounds) == {"x", "y"}
    lo, hi = bounds["x"]
    assert 0.0 <= lo < hi <= 1.0


def test_zorder_prunes_multiplicatively(spark, tmp_path):
    # enough rows + small row groups that the footer audit sees ~100+
    # row groups — the granularity regime where the 2-D advantage is
    # unambiguous (at 16 row groups both layouts resolve the same box)
    df = _grid_df(spark, 400_000)
    box = {"x": (0.4, 0.5), "y": (0.4, 0.5)}  # ~1% of the plane
    rg = 1 << 16

    zpath, xpath, upath = (str(tmp_path / s) for s in ("z", "xs", "u"))
    write_zordered(df, zpath, ["x", "y"], bits=10, n_files=8, row_group_bytes=rg)
    # single-column sort: the classic layout z-order supersedes
    (df.repartitionByRange(8, "x").sortWithinPartitions("x")
       .write.option("parquet.block.size", str(rg)).parquet(xpath))
    # unsorted: nothing prunes
    df.write.option("parquet.block.size", str(rg)).parquet(upath)

    z_hit, z_total = rowgroup_prune_stats(zpath, box)
    x_hit, x_total = rowgroup_prune_stats(xpath, box)
    u_hit, u_total = rowgroup_prune_stats(upath, box)
    assert u_hit == u_total  # random layout: every row group intersects
    assert x_hit < x_total  # x-sort prunes along x only
    # z-order prunes BOTH axes: strictly better than the 1-D sort and
    # well under half the x-sort's surviving share
    assert z_total >= 8
    assert z_hit / z_total < 0.5 * (x_hit / x_total)


def test_zorder_code_validates_and_clips(spark):
    with pytest.raises(ValueError):
        zorder_code(["a"] * 5, [0] * 5, [1] * 5)
    with pytest.raises(ValueError):
        zorder_code(["a", "b"], [0, 0], [1, 1], bits=32)
    # out-of-bounds values clip to the grid edge instead of erroring
    # (appended batches reuse the original bounds)
    df = spark.createDataFrame([(-5.0, 20.0)], "x double, y double")
    code = df.select(
        zorder_code(["x", "y"], [0.0, 0.0], [1.0, 1.0], bits=4).alias("z")
    ).collect()[0].z
    # x clips to cell 0, y to cell 15 -> interleave = 0b10101010_0 pattern
    expected = sum(1 << (i * 2 + 1) for i in range(4))
    assert code == expected


def test_x98_staged_layout_matches_raw(spark, sf_dir):
    # the x98 contract: the staged z-ordered lineitem is row-identical to
    # the raw table, so the box-filter aggregate answers match exactly
    from deva_spark import queries as Q

    raw = Q.SPARK_QUERIES["x98_zorder_box_scan"](spark, sf_dir).collect()
    took = Q.stage_artifacts(spark, sf_dir, ["li_zorder"])
    assert Q.staged_artifact_path(sf_dir, "li_zorder")
    staged = Q.SPARK_QUERIES["x98_zorder_box_scan"](spark, sf_dir).collect()
    assert [tuple(r) for r in staged] == [tuple(r) for r in raw]
    # and the staged table actually prunes the box at row-group level
    surv, total = rowgroup_prune_stats(
        Q.staged_artifact_path(sf_dir, "li_zorder"),
        {"l_quantity": (10.0, 15.0), "l_extendedprice": (20_000.0, 40_000.0)},
    )
    assert surv < total


def test_streaming_cms_partials_equivalence(spark, sf_dir, tmp_path):
    # the frequency tier's STREAMING twin costs no new operator (the
    # x84-stats argument): cms_partials is a plain algebraic aggregate,
    # so it runs on the event file stream directly and a complete-mode
    # AvailableNow drain yields cell-identical sketches to the batch
    # route under any micro-batching — point estimates follow for free.
    # r9 registration candidate (the r8 driver window is full).
    from deva_spark.operators import aggregates as agg
    from deva_spark.session import read_table
    from deva_spark.streaming import twin

    depth, width = 4, 64
    chunks = twin.stage_event_chunks(spark, sf_dir, chunks=3, out_dir=str(tmp_path))
    stream = twin.events_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        stream.transform(agg.cms_partials("event_type", depth, width)),
        "cms_twin_drain",
        output_mode="complete",
    )
    batch = read_table(spark, sf_dir, "events").transform(
        agg.cms_partials("event_type", depth, width)
    )
    assert _sorted_rows(drained.transform(agg.cms_merge_partials())) == _sorted_rows(
        batch.transform(agg.cms_merge_partials())
    )


def test_x97_salted_equals_plain_on_events(spark, sf_dir):
    from deva_spark import queries as Q
    from deva_spark.session import read_table

    ev = read_table(spark, sf_dir, "events")
    dim = ev.select("event_type").distinct().withColumn(
        "w", F.length("event_type").cast("bigint")
    )
    plain = (
        ev.join(dim, "event_type")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("w").alias("wsum"))
    )
    got = Q.SPARK_QUERIES["x97_salted_skew_join"](spark, sf_dir)
    assert _sorted_rows(got) == _sorted_rows(plain.orderBy("user_id"))


def test_auto_join_picks_and_matches_all_strategies(spark):
    big, dim = _skewed_pair(spark)
    expected = _sorted_rows(big.join(dim, "k", "inner"))

    # tiny dim -> broadcast
    out, strat = salted_auto(big, dim, broadcast_rows=1_000_000)
    assert strat == "broadcast" and _sorted_rows(out) == expected

    # dim "too big to broadcast" (forced) + hot key -> salted
    out, strat = salted_auto(big, dim, broadcast_rows=1)
    assert strat == "salted" and _sorted_rows(out) == expected

    # uniform big side + unbroadcastable dim -> plain
    uni = spark.range(10_000).select(
        (F.col("id") % 8).cast("int").alias("k"), F.col("id").alias("v")
    )
    exp_uni = _sorted_rows(uni.join(dim, "k", "inner"))
    out, strat = salted_auto(uni, dim, broadcast_rows=1)
    assert strat == "plain" and _sorted_rows(out) == exp_uni


def salted_auto(big, dim, **kw):
    from deva_spark.operators.skew import auto_join

    return auto_join(big, dim, "k", sample_fraction=0.5, **kw)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@given(
    big_keys=st.lists(st.integers(min_value=0, max_value=5), min_size=1, max_size=60),
    dim_keys=st.lists(st.integers(min_value=0, max_value=7), min_size=0, max_size=12),
    n_salts=st.integers(min_value=1, max_value=6),
    how=st.sampled_from(["inner", "left", "left_semi", "left_anti"]),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_salted_join_property_row_identical(spark, big_keys, dim_keys, n_salts, how):
    # arbitrary key distributions INCLUDING duplicate dim keys (join
    # multiplicity > 1), keys with no match on either side, empty dim
    big = spark.createDataFrame(
        [(k, i) for i, k in enumerate(big_keys)], "k int, v int"
    )
    dim = spark.createDataFrame(
        [(k, i * 10) for i, k in enumerate(dim_keys)], "k int, w int"
    ) if dim_keys else spark.createDataFrame([], "k int, w int")
    plain = _sorted_rows(big.join(dim, "k", how))
    salted = _sorted_rows(salted_join(big, dim, "k", n_salts=n_salts, how=how))
    assert salted == plain


def test_streaming_cosine_pairs_matches_batch_incremental(spark, sf_dir, tmp_path):
    # the vector tier joins the streaming ring: an AvailableNow drain of
    # the stream-static bucket join + rescore equals the batch
    # incremental operator's new-x-old side, under any micro-batching
    from deva_spark.functions import vectors as V
    from deva_spark.session import read_table
    from deva_spark.streaming import twin

    cut = 450
    emb = read_table(spark, sf_dir, "embeddings")
    old_base = V.neardup_base(emb.filter(F.col("vec_id") < cut)).persist()
    old_base.count()
    thr = 0.3  # low bar so the tiny SF yields non-empty pairs

    chunks = twin.stage_emb_chunks(
        spark, sf_dir, chunks=3, min_id=cut, out_dir=str(tmp_path)
    )
    stream = twin.emb_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        twin.streaming_cosine_pairs(stream, old_base, threshold=thr),
        "cos_twin_drain",
        output_mode="append",
    )
    got = _sorted_rows(drained)

    new_base = V.neardup_base(emb.filter(F.col("vec_id") >= cut)).persist()
    new_base.count()
    batch = V.incremental_cosine_neardup(new_base, old_base, threshold=thr)
    # restrict to the new-x-old side (the streaming twin's scope)
    expected = _sorted_rows(
        batch.filter((F.col("id_a") < cut) & (F.col("id_b") >= cut))
    )
    assert got == expected and len(got) > 0
    old_base.unpersist()
    new_base.unpersist()


@given(
    x0=st.floats(min_value=0.0, max_value=0.85),
    y0=st.floats(min_value=0.0, max_value=0.85),
    span=st.floats(min_value=0.02, max_value=0.15),
)
@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
def test_zorder_soundness_random_boxes(spark, tmp_path_factory, x0, y0, span):
    # randomized extension of the fixed-box soundness audit: for ANY box,
    # pruned row groups contain no matching rows
    import os

    import pyarrow.parquet as pq

    path = str(tmp_path_factory.getbasetemp() / "zs")
    if not os.path.exists(path):
        write_zordered(_grid_df(spark, 30_000), path, ["x", "y"], bits=8,
                       n_files=4, row_group_bytes=1 << 16)
    box = {"x": (x0, x0 + span), "y": (y0, y0 + span)}
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(path, fname))
        meta = pf.metadata
        idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            pruned = any(
                float(rg.column(idx[c]).statistics.max) < lo
                or float(rg.column(idx[c]).statistics.min) > hi
                for c, (lo, hi) in box.items()
            )
            if not pruned:
                continue
            t = pf.read_row_group(g).to_pandas()
            hit = (
                (t["x"] >= box["x"][0]) & (t["x"] <= box["x"][1])
                & (t["y"] >= box["y"][0]) & (t["y"] <= box["y"][1])
            )
            assert not hit.any()


def test_write_zordered_empty_input_raises_clearly(spark, tmp_path):
    import pytest

    from deva_spark.sources import layout

    empty = spark.createDataFrame([], "x double, y double")
    with pytest.raises(ValueError, match="no non-NULL values"):
        layout.write_zordered(
            empty, str(tmp_path / "z"), cols=["x", "y"]
        )
