"""Operational-table maintenance ring: manifest snapshots (time travel
for staged projections), mergeable histogram partials + PSI drift,
z-order append on the original grid, stageable bloom bitmaps."""

import math
import os

import pytest
from pyspark.sql import functions as F

from deva_spark.operators import aggregates as agg
from deva_spark.operators.joins import bloom_prune, build_bloom_bitmap
from deva_spark.sources import snapshots as snap
from deva_spark.sources.layout import (
    append_zordered,
    rowgroup_prune_stats,
    write_zordered,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


# ---------------------------------------------------------------- snapshots


def test_snapshot_append_overwrite_and_time_travel(spark, tmp_path):
    path = str(tmp_path / "t")
    d1 = spark.range(3).select(F.col("id").alias("k"))
    d2 = spark.range(3, 5).select(F.col("id").alias("k"))
    d3 = spark.range(100, 102).select(F.col("id").alias("k"))

    v1 = snap.commit_snapshot(d1, path, mode="overwrite", note="day 0")
    v2 = snap.commit_snapshot(d2, path, mode="append", note="day 1 batch")
    v3 = snap.commit_snapshot(d3, path, mode="overwrite", note="rewrite")
    assert (v1, v2, v3) == (1, 2, 3)

    # a reader at any version sees exactly that version's rows — later
    # commits never disturb it
    assert _rows(snap.read_snapshot(spark, path, 1)) == [(0,), (1,), (2,)]
    assert _rows(snap.read_snapshot(spark, path, 2)) == [
        (0,), (1,), (2,), (3,), (4,),
    ]
    assert _rows(snap.read_snapshot(spark, path)) == [(100,), (101,)]

    hist = snap.snapshot_history(path)
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert hist[1]["parent"] == 1 and hist[1]["mode"] == "append"


def test_snapshot_rollback_is_nondestructive(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.range(2).select(F.col("id").alias("k")), path, "overwrite"
    )
    snap.commit_snapshot(
        spark.range(9, 10).select(F.col("id").alias("k")), path, "overwrite"
    )
    v3 = snap.rollback_snapshot(path, to_version=1)
    assert v3 == 3
    assert _rows(snap.read_snapshot(spark, path)) == [(0,), (1,)]
    # the rolled-back-over version is still readable (audit survives)
    assert _rows(snap.read_snapshot(spark, path, 2)) == [(9,)]


def test_snapshot_evict_to_cap_drops_oldest_until_within(spark, tmp_path):
    # Size-capped retention (reference store.py:174-197 analog, VERDICT
    # r9 #8): four appended batches of 10 rows; a 25-row cap must drop
    # the two OLDEST batch dirs, the lineage stays readable at every
    # surviving version, and the pre-evict version still sees all rows.
    path = str(tmp_path / "t")
    for i in range(4):
        snap.commit_snapshot(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")),
            path,
            mode="append" if i else "overwrite",
            note=f"batch {i}",
        )
    v, dropped = snap.evict_to_cap(path, max_rows=25)
    assert v == 5 and len(dropped) == 2
    kept = _rows(snap.read_snapshot(spark, path))
    assert kept == [(k,) for k in range(20, 40)]  # newest two batches
    # non-destructive: the pre-evict version still resolves all 40 rows
    assert len(_rows(snap.read_snapshot(spark, path, 4))) == 40
    # already within cap -> no empty commit
    v2, dropped2 = snap.evict_to_cap(path, max_rows=25)
    assert (v2, dropped2) == (5, [])
    # byte cap: a 1-byte cap keeps ONLY the newest dir (never evicts it)
    v3, dropped3 = snap.evict_to_cap(path, max_bytes=1)
    assert v3 == 6 and len(dropped3) == 1
    assert _rows(snap.read_snapshot(spark, path)) == [(k,) for k in range(30, 40)]
    hist = snap.snapshot_history(path)
    assert hist[-1]["mode"] == "evict" and hist[-1]["parent"] == 5
    # expire reclaims what no surviving version references
    snap.expire_snapshots(path, keep_last=1)
    assert _rows(snap.read_snapshot(spark, path)) == [(k,) for k in range(30, 40)]


def test_snapshot_expire_gc_keeps_shared_data(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.range(2).select(F.col("id").alias("k")), path, "overwrite"
    )
    snap.commit_snapshot(
        spark.range(5, 6).select(F.col("id").alias("k")), path, "append"
    )
    snap.commit_snapshot(
        spark.range(7, 8).select(F.col("id").alias("k")), path, "append"
    )
    expired = snap.expire_snapshots(path, keep_last=2)
    assert expired == [1]
    # v1's data dir is SHARED by v2/v3 (append lineage) -> must survive
    assert _rows(snap.read_snapshot(spark, path, 2)) == [(0,), (1,), (5,)]
    assert snap.snapshot_versions(path) == [2, 3]
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, path, 1)


def test_snapshot_expire_gc_deletes_unreferenced(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.range(2).select(F.col("id").alias("k")), path, "overwrite"
    )
    snap.commit_snapshot(
        spark.range(5, 6).select(F.col("id").alias("k")), path, "overwrite"
    )
    n_dirs_before = len(os.listdir(os.path.join(path, "data")))
    assert snap.expire_snapshots(path, keep_last=1) == [1]
    n_dirs_after = len(os.listdir(os.path.join(path, "data")))
    assert n_dirs_after == n_dirs_before - 1  # v1's dir reclaimed
    assert _rows(snap.read_snapshot(spark, path)) == [(5,)]


def test_snapshot_validates(spark, tmp_path):
    path = str(tmp_path / "t")
    with pytest.raises(FileNotFoundError):
        snap.read_snapshot(spark, path)
    d = spark.range(1).select(F.col("id").alias("k"))
    with pytest.raises(ValueError):
        snap.commit_snapshot(d, path, mode="merge")
    snap.commit_snapshot(d, path)
    with pytest.raises(FileNotFoundError):
        snap.rollback_snapshot(path, 9)


# ------------------------------------------------- histogram partials + PSI


def _hist(df, keys=("g",), lo=0.0, hi=100.0, n=10):
    return df.transform(
        agg.histogram_partials("v", lo, hi, n_buckets=n, keys=list(keys))
    )


def test_histogram_partials_merge_split_invariance(spark):
    df = spark.range(5_000).select(
        (F.col("id") % 3).cast("string").alias("g"),
        (F.pmod(F.crc32(F.col("id").cast("string")), F.lit(100))).alias("v"),
    )
    one = _rows(_hist(df).transform(agg.merge_histogram_partials(["g"])))
    parts = None
    for b in range(4):
        p = _hist(df.filter(F.col("id") % 4 == b))
        parts = p if parts is None else parts.unionByName(p)
    assert _rows(parts.transform(agg.merge_histogram_partials(["g"]))) == one
    # clip: out-of-grid values land in edge buckets, never drop
    edge = spark.createDataFrame(
        [("a", -50.0), ("a", 1e9)], "g string, v double"
    )
    got = {r.bucket: r.cnt for r in _hist(edge).collect()}
    assert got == {0: 1, 9: 1}


def test_psi_flags_shape_change_not_just_mean(spark):
    import random

    random.seed(7)
    # history: uniform over [0, 100); batch A: same distribution;
    # batch B: same MEAN (50) but mass piled at the extremes
    hist_rows = [("g", random.uniform(0, 100)) for _ in range(20_000)]
    same_rows = [("g", random.uniform(0, 100)) for _ in range(5_000)]
    bimodal_rows = [
        ("g", random.uniform(0, 10) if i % 2 else random.uniform(90, 100))
        for i in range(5_000)
    ]
    mk = lambda rows: spark.createDataFrame(rows, "g string, v double")
    h = _hist(mk(hist_rows)).transform(agg.merge_histogram_partials(["g"]))
    psi_same = agg.psi_drift(_hist(mk(same_rows)), h, keys=["g"], n_buckets=10)
    psi_shape = agg.psi_drift(
        _hist(mk(bimodal_rows)), h, keys=["g"], n_buckets=10
    )
    assert psi_same.collect()[0].psi < 0.1
    assert psi_shape.collect()[0].psi > 0.25
    # the mean-shift z gate would NOT flag batch B: means agree within noise
    mean_h = sum(v for _, v in hist_rows) / len(hist_rows)
    mean_b = sum(v for _, v in bimodal_rows) / len(bimodal_rows)
    assert abs(mean_h - mean_b) < 2.0


def test_psi_never_seen_group_is_finite_and_large(spark):
    h = _hist(
        spark.createDataFrame([("a", float(i % 100)) for i in range(1000)],
                              "g string, v double")
    )
    b = _hist(
        spark.createDataFrame([("b", 5.0)] * 100, "g string, v double")
    )
    rows = {r.g: r.psi for r in agg.psi_drift(b, h, keys=["g"]).collect()}
    assert math.isfinite(rows["b"]) and rows["b"] > 0.25


# ------------------------------------------------------------ layout append


def test_append_zordered_keeps_pruning_on_original_grid(spark, tmp_path):
    def grid(lo, n):
        return spark.range(lo, lo + n).select(
            F.col("id"),
            ((F.crc32(F.col("id").cast("string")) % 10_000) / 10_000.0).alias("x"),
            ((F.crc32(F.concat(F.col("id").cast("string"), F.lit("y"))) % 10_000) / 10_000.0).alias("y"),
        )

    path = str(tmp_path / "z")
    rg = 1 << 16
    bounds = write_zordered(
        grid(0, 200_000), path, ["x", "y"], bits=10, n_files=8, row_group_bytes=rg
    )
    base_rows = 200_000
    append_zordered(
        grid(1_000_000, 100_000), path, ["x", "y"], bounds,
        bits=10, n_files=4, row_group_bytes=rg,
    )
    back = spark.read.parquet(path)
    assert back.count() == base_rows + 100_000
    surv, total = rowgroup_prune_stats(path, {"x": (0.4, 0.5), "y": (0.4, 0.5)})
    # appended files are z-ordered on the same grid, so the whole table
    # still prunes hard on a 1% box
    assert surv / total < 0.2


# --------------------------------------------------------- stageable bloom


def test_bloom_bitmap_stages_and_prunes(spark):
    small = spark.createDataFrame(
        [(i * 100,) for i in range(10)], "k long"
    )
    bitmap = build_bloom_bitmap(small, "k", n_hashes=3, n_bits=1 << 14)
    assert len(bitmap) == (1 << 14) >> 6
    big = spark.range(2_000).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))
    got = {r.k for r in bloom_prune(big, "k", bitmap, n_hashes=3).collect()}
    member = {i * 100 for i in range(10) if i * 100 < 2_000}
    assert member <= got  # zero false negatives
    assert len(got) < 2_000  # and it actually prunes


# ------------------------------------------------------ sliding KMV rollup


def test_kmv_sliding_distinct_equals_oneshot_per_window(spark):
    # daily synopses merged over a trailing window == one-shot sketch
    # over the window's raw rows, for EVERY window position
    import datetime

    rows = []
    for d in range(6):
        day = datetime.date(2024, 1, 1 + d)
        for u in range(d * 40, d * 40 + 120):  # overlapping user ranges
            rows.append(("click", day, u % 150))
    df = spark.createDataFrame(rows, "t string, day date, uid long")
    daily = df.transform(
        agg.kmv_partials("uid", keys=["t", "day"], k=32)
    )
    got = {
        (r.t, str(r.day)): r.est_distinct
        for r in daily.transform(
            agg.kmv_sliding_distinct("day", window_days=3, keys=["t"], k=32)
        ).collect()
    }
    import datetime as dt

    for d in range(6):
        day = dt.date(2024, 1, 1 + d)
        lo = dt.date(2024, 1, 1 + max(0, d - 2))
        window_raw = df.filter(
            (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(day))
        )
        expected = window_raw.transform(
            agg.kmv_distinct("uid", keys=["t"], k=32)
        ).collect()[0].est_distinct
        assert got[("click", str(day))] == expected, f"day {day}"


def test_cms_sliding_merge_equals_oneshot_per_window(spark):
    import datetime as dt

    depth, width = 4, 64
    rows = []
    for d in range(5):
        day = dt.date(2024, 3, 1 + d)
        rows += [("a", day)] * (10 * (d + 1)) + [("b", day)] * 7
    df = spark.createDataFrame(rows, "k string, day date")
    daily = df.transform(
        agg.cms_partials("k", depth, width, keys=["day"])
    )
    sliding = daily.transform(agg.cms_sliding_merge("day", window_days=3))
    keys = df.select("k").distinct()
    for d in range(5):
        day = dt.date(2024, 3, 1 + d)
        lo = dt.date(2024, 3, 1 + max(0, d - 2))
        win_sketch = sliding.filter(F.col("day") == F.lit(day)).select(
            "i", "bucket", "cnt"
        )
        got = {
            r.k: r.est
            for r in agg.cms_point_estimates(
                win_sketch, keys, "k", depth, width
            ).collect()
        }
        raw = df.filter(
            (F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(day))
        )
        oneshot = raw.transform(agg.cms_partials("k", depth, width)).transform(
            agg.cms_merge_partials()
        )
        expected = {
            r.k: r.est
            for r in agg.cms_point_estimates(
                oneshot, keys, "k", depth, width
            ).collect()
        }
        assert got == expected, f"day {day}"
        # and at this tiny key count the estimates are exact
        true_a = sum(10 * (x + 1) for x in range(max(0, d - 2), d + 1))
        assert got["a"] == true_a


def test_snapshot_diff_added_removed(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.createDataFrame([(1,), (2,), (3,)], "k long"), path, "overwrite"
    )
    snap.commit_snapshot(
        spark.createDataFrame([(2,), (3,), (9,)], "k long"), path, "overwrite"
    )
    diff = {
        (r.k, r.change)
        for r in snap.snapshot_diff(spark, path, 1, 2, ["k"]).collect()
    }
    assert diff == {(9, "added"), (1, "removed")}


def test_table_stats_collect_write_read(spark, tmp_path):
    from deva_spark.plans import stats as ts

    path = str(tmp_path / "tbl")
    df = spark.createDataFrame(
        [(i, f"s{i % 5}", None if i % 4 == 0 else float(i)) for i in range(100)],
        "id long, s string, v double",
    )
    df.write.parquet(path)
    got = ts.write_table_stats(spark.read.parquet(path), path)
    assert got["rows"] == 100
    c = got["columns"]
    assert c["id"]["nulls"] == 0 and c["v"]["nulls"] == 25
    assert c["id"]["min"] == 0 and c["id"]["max"] == 99
    # HLL NDV is approximate: within 10% on 100/5 distinct
    assert abs(c["id"]["ndv"] - 100) <= 10
    assert abs(c["s"]["ndv"] - 5) <= 1
    back = ts.read_table_stats(path)
    assert back["rows"] == 100 and "ndv" in back["columns"]["s"]
    assert ts.read_table_stats(str(tmp_path / "nope")) is None


def test_training_shards_deterministic_membership(spark, tmp_path):
    from deva_spark.sources.writers import write_training_shards

    df = spark.range(1_000).select(
        F.col("id").alias("doc_id"), (F.col("id") * 3).alias("payload")
    )
    p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
    write_training_shards(df, p1, n_shards=8, id_col="doc_id")
    write_training_shards(df.repartition(17), p2, n_shards=8, id_col="doc_id")
    r1 = spark.read.parquet(p1)
    r2 = spark.read.parquet(p2)
    m1 = {(r.doc_id, r._shard) for r in r1.select("doc_id", "_shard").collect()}
    m2 = {(r.doc_id, r._shard) for r in r2.select("doc_id", "_shard").collect()}
    assert m1 == m2 and len(m1) == 1_000  # partitioning-invariant membership
    assert r1.select("_shard").distinct().count() == 8
    with pytest.raises(ValueError):
        write_training_shards(df, p1, 4, "doc_id", fmt="csvx")


def test_snapshot_schema_evolution_and_compaction(spark, tmp_path):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.createDataFrame([(1,), (2,)], "k long"), path, "overwrite"
    )
    # append a batch that ADDED a column: latest read presents the union
    # schema, old files read NULL for the new column
    snap.commit_snapshot(
        spark.createDataFrame([(3, "x")], "k long, tag string"), path, "append"
    )
    latest = snap.read_snapshot(spark, path)
    assert set(latest.columns) == {"k", "tag"}
    got = {(r.k, r.tag) for r in latest.collect()}
    assert got == {(1, None), (2, None), (3, "x")}
    # v1 readers are untouched by the evolution
    assert snap.read_snapshot(spark, path, 1).columns == ["k"]

    # compaction: many append dirs -> one dir, rows identical, new version
    import os

    n_dirs_before = len(os.listdir(os.path.join(path, "data")))
    v = snap.compact_snapshots(spark, path)
    assert v == 3
    manifest = snap.snapshot_history(path)[-1]
    assert len(manifest["data_dirs"]) == 1 and n_dirs_before == 2
    after = {(r.k, r.tag) for r in snap.read_snapshot(spark, path).collect()}
    assert after == got


def test_zorder_pruning_is_sound(spark, tmp_path):
    # SOUNDNESS (the property the engine's skipping relies on): every row
    # matching the box lives in a SURVIVING row group — pruned row groups
    # contain no matches. Checked row-group-by-row-group with pyarrow.
    import pyarrow.parquet as pq
    import os

    from deva_spark.sources.layout import write_zordered

    def grid(n):
        return spark.range(n).select(
            F.col("id"),
            ((F.crc32(F.col("id").cast("string")) % 1_000) / 1_000.0).alias("x"),
            ((F.crc32(F.concat(F.col("id").cast("string"), F.lit("y"))) % 1_000) / 1_000.0).alias("y"),
        )

    path = str(tmp_path / "z")
    write_zordered(grid(60_000), path, ["x", "y"], bits=8, n_files=4,
                   row_group_bytes=1 << 16)
    box = {"x": (0.2, 0.35), "y": (0.6, 0.8)}
    for fname in sorted(os.listdir(path)):
        if not fname.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(path, fname))
        meta = pf.metadata
        name_to_idx = {meta.schema.column(i).name: i for i in range(meta.num_columns)}
        for g in range(meta.num_row_groups):
            rg = meta.row_group(g)
            survives = True
            for col, (lo, hi) in box.items():
                st = rg.column(name_to_idx[col]).statistics
                if float(st.max) < lo or float(st.min) > hi:
                    survives = False
            if survives:
                continue
            tbl = pf.read_row_group(g).to_pandas()
            in_box = (
                (tbl["x"] >= box["x"][0]) & (tbl["x"] <= box["x"][1])
                & (tbl["y"] >= box["y"][0]) & (tbl["y"] <= box["y"][1])
            )
            assert not in_box.any()  # a pruned row group holds no matches


def test_quantile_sliding_merge_equals_oneshot_per_window(spark):
    import datetime as dt

    rows = []
    for d in range(5):
        day = dt.date(2024, 5, 1 + d)
        rows += [("svc", day, float((i * 37) % 200) + d * 10) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, day date, v double")
    daily = df.transform(
        agg.quantile_partials("v", keys=["g", "day"], width=10.0)
    )
    got = {
        str(r.day): (r.n, r.p50, r.p90, r.p99)
        for r in daily.transform(
            agg.quantile_sliding_merge("day", window_days=3, keys=["g"], width=10.0)
        ).collect()
    }
    for d in range(5):
        day = dt.date(2024, 5, 1 + d)
        lo = dt.date(2024, 5, 1 + max(0, d - 2))
        win = df.filter((F.col("day") >= F.lit(lo)) & (F.col("day") <= F.lit(day)))
        exp = win.transform(
            agg.quantile_partials("v", keys=["g"], width=10.0)
        ).transform(
            agg.merge_quantile_partials(keys=["g"], width=10.0)
        ).collect()[0]
        assert got[str(day)] == (exp.n, exp.p50, exp.p90, exp.p99), day


def test_manifest_level_data_skipping(spark, tmp_path):
    # three appended batches with disjoint key ranges + committed stats:
    # a banded read opens ONLY the matching directory's files
    path = str(tmp_path / "t")
    for lo in (0, 100, 200):
        snap.commit_snapshot(
            spark.range(lo, lo + 50).select(F.col("id").alias("k")),
            path, mode="append" if lo else "overwrite",
            stats_cols=["k"],
        )
    full = snap.read_snapshot(spark, path)
    assert full.count() == 150
    pruned = snap.read_snapshot_pruned(spark, path, {"k": (110, 120)})
    # directory pruning: only batch #2's files are in the scan
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    got = sorted(r.k for r in pruned.filter(F.col("k").between(110, 120)).collect())
    assert got == list(range(110, 121))
    # sound: a dir WITHOUT stats always survives
    snap.commit_snapshot(
        spark.range(300, 310).select(F.col("id").alias("k")), path, "append"
    )
    p2 = snap.read_snapshot_pruned(spark, path, {"k": (305, 306)})
    assert {r.k for r in p2.filter(F.col("k").between(305, 306)).collect()} == {305, 306}
    # no matching dir -> empty frame, right schema
    p3 = snap.read_snapshot_pruned(spark, path, {"k": (9_999, 10_000)}, version=3)
    assert p3.columns == ["k"] and p3.count() == 0


def test_decimal_stats_prune_numerically_not_lexicographically(spark, tmp_path):
    # ADVICE r11 #3: default=str made Decimal stats serialize as strings
    # and '9' > '10' lexicographic compares could wrongly prune dirs that
    # CONTAIN matching rows. Stats now normalize by type at commit.
    from decimal import Decimal

    path = str(tmp_path / "t_dec")
    for lo in (9, 100):
        snap.commit_snapshot(
            spark.range(lo, lo + 5).select(
                F.col("id").cast("decimal(18,2)").alias("amt")
            ),
            path, mode="append" if lo != 9 else "overwrite",
            stats_cols=["amt"],
        )
    # the dir holding amt in [9, 13]: a string compare of '9.00' vs '10'
    # would prune it ('9' > '1'); numeric stats must keep it
    pruned = snap.read_snapshot_pruned(
        spark, path, {"amt": (Decimal("10"), Decimal("12"))}
    )
    got = sorted(
        r.amt for r in pruned.filter(F.col("amt").between(10, 12)).collect()
    )
    assert got == [Decimal("10.00"), Decimal("11.00"), Decimal("12.00")]
    # and the non-matching dir is actually pruned from the scan
    full = snap.read_snapshot(spark, path)
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    # manifests stay pure-JSON: every stat is a number, never a string
    import json as _json
    import os as _os

    mdir = _os.path.join(path, "_manifests")
    for f in _os.listdir(mdir):
        if f.endswith(".json"):
            m = _json.load(open(_os.path.join(mdir, f)))
            for st in m.get("dir_stats", {}).values():
                for mn, mx in st.values():
                    assert isinstance(mn, (int, float)) and isinstance(
                        mx, (int, float)
                    )
    # unsupported stat types fail at commit time, not corrupt the manifest
    import pytest

    with pytest.raises(TypeError, match="unsupported stat type"):
        snap.commit_snapshot(
            spark.createDataFrame([([1, 2],)], "arr array<int>"),
            str(tmp_path / "t_bad"), mode="overwrite", stats_cols=["arr"],
        )


def test_streaming_histogram_partials_equivalence(spark, sf_dir, tmp_path):
    # histogram_partials is a plain algebraic aggregate (the stats/CMS
    # argument), so the PSI gate's input runs directly on the doc file
    # stream; complete-mode drain == batch bucket rows under any
    # micro-batching — drift monitoring needs no batch/stream fork
    from deva_spark.functions import text as T
    from deva_spark.session import read_table
    from deva_spark.streaming import twin

    grid = dict(lo=0.0, hi=500.0, n_buckets=20)
    chunks = twin.stage_doc_chunks(
        spark, sf_dir, chunks=4, where="TRUE", out_dir=str(tmp_path)
    )
    stream = twin.docs_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        stream.select("lang", T.token_count(F.col("text")).alias("v"))
        .transform(agg.histogram_partials("v", keys=["lang"], **grid)),
        "hist_twin_drain",
        output_mode="complete",
    )
    batch = (
        read_table(spark, sf_dir, "documents")
        .select("lang", T.token_count(F.col("text")).alias("v"))
        .transform(agg.histogram_partials("v", keys=["lang"], **grid))
    )
    assert _rows(
        drained.transform(agg.merge_histogram_partials(["lang"]))
    ) == _rows(batch.transform(agg.merge_histogram_partials(["lang"])))


def test_streaming_quantile_partials_equivalence(spark, sf_dir, tmp_path):
    # quantile_partials is algebraic too: the sliding-quantile tier's
    # input drains identically on the doc stream
    from deva_spark.functions import text as T
    from deva_spark.session import read_table
    from deva_spark.streaming import twin

    chunks = twin.stage_doc_chunks(
        spark, sf_dir, chunks=3, where="TRUE", out_dir=str(tmp_path)
    )
    stream = twin.docs_file_stream(spark, chunks, files_per_trigger=1)
    drained = twin.run_available_now(
        stream.select("lang", T.token_count(F.col("text")).alias("v"))
        .transform(agg.quantile_partials("v", keys=["lang"], width=10.0)),
        "quant_twin_drain",
        output_mode="complete",
    )
    batch = (
        read_table(spark, sf_dir, "documents")
        .select("lang", T.token_count(F.col("text")).alias("v"))
        .transform(agg.quantile_partials("v", keys=["lang"], width=10.0))
    )
    key = ["lang"]
    assert _rows(
        drained.transform(agg.merge_quantile_partials(keys=key, width=10.0))
    ) == _rows(batch.transform(agg.merge_quantile_partials(keys=key, width=10.0)))


def test_snapshot_commit_race_both_versions_land(spark, tmp_path):
    # ADVICE r8 #1: two committers racing for the same version number
    # must BOTH land (exclusive hard-link + retry), never silently
    # replace each other's manifest. Simulate the race deterministically:
    # claim the version a committer is about to take, then commit — the
    # loser must retry onto the next number with a re-resolved parent.
    path = str(tmp_path / "t")
    v1 = snap.commit_snapshot(
        spark.range(2).select(F.col("id").alias("k")), path, note="base"
    )
    assert v1 == 1
    # interloper claims v2 directly through the atomic primitive
    claimed = snap._commit_manifest(
        path,
        {
            "version": 2,
            "parent": 1,
            "mode": "append",
            "note": "interloper",
            "data_dirs": snap._read_manifest(path, 1)["data_dirs"],
            "dir_stats": {},
        },
        2,
    )
    assert claimed
    # this commit computed new_version=2 internally? No — it re-lists and
    # sees v2, so it lands on v3; but even a stale-parent race is safe:
    # _commit_manifest returns False on collision and the loop retries.
    v3 = snap.commit_snapshot(
        spark.range(3).select(F.col("id").alias("k")), path, note="racer"
    )
    assert v3 == 3
    hist = snap.snapshot_history(path)
    assert [m["version"] for m in hist] == [1, 2, 3]
    assert [m["note"] for m in hist] == ["base", "interloper", "racer"]
    # the racer's append sees the interloper's visible set as its parent
    assert snap.read_snapshot(spark, path, 3).count() == 5


def test_snapshot_commit_manifest_loses_race_returns_false(tmp_path):
    import os

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "_manifests"), exist_ok=True)
    m = {"version": 1, "parent": None, "mode": "append", "note": "",
         "data_dirs": [], "dir_stats": {}}
    assert snap._commit_manifest(path, m, 1) is True
    assert snap._commit_manifest(path, dict(m, note="loser"), 1) is False
    # winner's manifest untouched
    assert snap._read_manifest(path, 1)["note"] == ""


def test_rollback_carries_dir_stats(spark, tmp_path):
    # ADVICE r8 #2: rollback must not silently disable manifest-level
    # pruning — dir_stats from the rollback target survive into the new
    # manifest (restricted to its re-listed dirs)
    path = str(tmp_path / "t")
    d1 = spark.range(5).select(F.col("id").alias("k"))
    v1 = snap.commit_snapshot(d1, path, stats_cols=["k"])
    stats1 = snap._read_manifest(path, v1)["dir_stats"]
    assert stats1  # stats were recorded
    v2 = snap.commit_snapshot(
        spark.range(5, 9).select(F.col("id").alias("k")),
        path,
        stats_cols=["k"],
    )
    v3 = snap.rollback_snapshot(path, v1)
    m3 = snap._read_manifest(path, v3)
    assert m3["dir_stats"] == stats1
    # and a subsequent append seeds from the rollback's stats, not {}
    v4 = snap.commit_snapshot(
        spark.range(100, 102).select(F.col("id").alias("k")),
        path,
        stats_cols=["k"],
    )
    m4 = snap._read_manifest(path, v4)
    assert set(stats1) <= set(m4["dir_stats"])


def test_snapshot_evict_to_cap_lost_race_recomputes(spark, tmp_path, monkeypatch):
    # A racer's commit may append a directory between our manifest read
    # and our claim; eviction is RELATIVE to the latest visible set, so
    # the retry must recompute against the racer's commit instead of
    # shipping a stale dirs list that silently drops the new batch.
    path = str(tmp_path / "t")
    for i in range(3):
        snap.commit_snapshot(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")),
            path,
            mode="append" if i else "overwrite",
        )
    real_commit = snap._commit_manifest
    state = {"raced": False}

    def racing_commit(p, manifest, version):
        if not state["raced"]:
            state["raced"] = True
            # the racer lands a fourth batch and claims our version
            snap.commit_snapshot(
                spark.range(100, 110).select(F.col("id").alias("k")),
                p,
                mode="append",
            )
            return False  # our original claim lost
        return real_commit(p, manifest, version)

    monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
    v, dropped = snap.evict_to_cap(path, max_rows=25)
    # the racer committed v4 (40 rows incl. its batch); our retry must
    # see it: cap 25 over [b0,b1,b2,b100] -> drop the two oldest
    assert v == 5 and len(dropped) == 2
    kept = _rows(snap.read_snapshot(spark, path))
    assert kept == [(k,) for k in list(range(20, 30)) + list(range(100, 110))]


def test_snapshot_evict_to_cap_two_lost_races_no_recursion(
    spark, tmp_path, monkeypatch
):
    # ADVICE r10: the lost-race retry is now a bounded LOOP — two
    # consecutive racers must both be absorbed (recursion would also
    # pass here, but the 20-attempt cap below would not exist; the
    # sustained-contention test is the RuntimeError branch).
    path = str(tmp_path / "t")
    for i in range(3):
        snap.commit_snapshot(
            spark.range(i * 10, i * 10 + 10).select(F.col("id").alias("k")),
            path,
            mode="append" if i else "overwrite",
        )
    real_commit = snap._commit_manifest
    state = {"races": 0}

    def racing_commit(p, manifest, version):
        if state["races"] < 2:
            state["races"] += 1
            base = 100 * state["races"]
            snap.commit_snapshot(
                spark.range(base, base + 10).select(F.col("id").alias("k")),
                p,
                mode="append",
            )
            return False
        return real_commit(p, manifest, version)

    monkeypatch.setattr(snap, "_commit_manifest", racing_commit)
    v, dropped = snap.evict_to_cap(path, max_rows=25)
    # racers committed v4 (+100s) and v5 (+200s); the final recompute
    # sees 50 rows across 5 dirs and drops the three oldest
    assert v == 6 and len(dropped) == 3
    kept = _rows(snap.read_snapshot(spark, path))
    assert kept == [
        (k,) for k in list(range(100, 110)) + list(range(200, 210))
    ]
    assert state["races"] == 2


def test_snapshot_evict_to_cap_sustained_contention_raises(
    spark, tmp_path, monkeypatch
):
    path = str(tmp_path / "t")
    snap.commit_snapshot(
        spark.range(0, 10).select(F.col("id").alias("k")), path
    )
    snap.commit_snapshot(
        spark.range(10, 20).select(F.col("id").alias("k")),
        path,
        mode="append",
    )
    monkeypatch.setattr(snap, "_commit_manifest", lambda *a: False)
    with pytest.raises(RuntimeError, match="20 consecutive"):
        snap.evict_to_cap(path, max_rows=5)


def test_commit_snapshot_require_parent_conflict(spark, tmp_path):
    # The optimistic-concurrency guard behind index_retract (ADVICE
    # r10): a rewrite conditional on the version it read must abort —
    # and clean up its orphan data dir — when the latest moved.
    path = str(tmp_path / "t")
    v1 = snap.commit_snapshot(
        spark.range(0, 5).select(F.col("id").alias("k")), path
    )
    v2 = snap.commit_snapshot(
        spark.range(5, 10).select(F.col("id").alias("k")),
        path,
        mode="append",
    )
    with pytest.raises(snap.SnapshotConflictError):
        snap.commit_snapshot(
            spark.range(100, 101).select(F.col("id").alias("k")),
            path,
            mode="overwrite",
            require_parent=v1,
        )
    # lineage untouched, and the aborted commit's data dir is gone
    assert snap.snapshot_versions(path) == [v1, v2]
    data_dirs = set(os.listdir(os.path.join(path, "data")))
    manifest_dirs = set(snap._read_manifest(path, v2)["data_dirs"]) | set(
        snap._read_manifest(path, v1)["data_dirs"]
    )
    assert data_dirs == manifest_dirs
    # matching parent commits fine
    v3 = snap.commit_snapshot(
        spark.range(100, 101).select(F.col("id").alias("k")),
        path,
        mode="overwrite",
        require_parent=v2,
    )
    assert v3 == 3 and _rows(snap.read_snapshot(spark, path)) == [(100,)]


def test_commit_snapshot_stats_on_timestamp_column(spark, tmp_path):
    # r11 review: min/max stats over date/timestamp columns are not
    # JSON-native; the manifest dump raised AFTER the data dir was
    # written, orphaning it outside every manifest. default=str fixes
    # the dump, and ISO strings still prune lexicographically.
    import datetime as dt

    from deva_spark.sources import snapshots as snap

    path = str(tmp_path / "ts_snap")
    d = spark.createDataFrame(
        [(1, dt.datetime(2026, 1, 1)), (2, dt.datetime(2026, 6, 1))],
        "k long, ts timestamp",
    )
    v = snap.commit_snapshot(d, path, stats_cols=["ts"])
    assert v == 1
    hist = snap.snapshot_history(path)
    (dir_stats,) = hist[0]["dir_stats"].values()
    assert dir_stats["ts"][0].startswith("2026-01-01")
    # lexicographic ISO pruning: a band wholly after the data drops it
    pruned = snap.read_snapshot_pruned(
        spark, path, {"ts": ("2027-01-01", "2028-01-01")}
    )
    assert pruned.count() == 0
    kept = snap.read_snapshot_pruned(
        spark, path, {"ts": ("2026-01-01", "2026-12-31")}
    )
    assert kept.count() == 2
