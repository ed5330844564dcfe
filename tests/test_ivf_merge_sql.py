"""IVF ANN recall, keyed merge-upsert, and the SQL surface (temp views)."""

import os
import tempfile

from pyspark.sql import functions as F

from deva_spark.functions import vectors as V
from deva_spark.sources import writers


def test_ivf_recall_vs_brute_force(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 10)
    exact = {(r.qid, r.vec_id) for r in V.brute_force_topk(emb, qs, k=5).collect()}
    approx = {(r.qid, r.vec_id) for r in V.ivf_topk(emb, qs, k=5, n_probe=4).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_probes_fraction_of_corpus(spark, sf_dir):
    # with n_probe of n_cells, each query should score well under the
    # full corpus — the point of the inverted file
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") < 3)
    out = V.ivf_topk(emb, qs, k=5, n_cells=16, n_probe=2)
    assert out.count() == 15  # still returns full top-k per query


def test_merge_upsert_by_key(spark):
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t")
        v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        writers.merge_upsert_by_key(spark, v1, path, "k")
        v2 = spark.createDataFrame([(2, "B2"), (3, "c")], "k int, v string")
        writers.merge_upsert_by_key(spark, v2, path, "k")
        got = sorted(tuple(r) for r in spark.read.parquet(path).collect())
        assert got == [(1, "a"), (2, "B2"), (3, "c")]


def test_sql_surface_over_views(spark, sf_dir):
    # the engine's tables are first-class SQL citizens (register_views);
    # the declared group-agg runs verbatim as spark.sql
    from deva_spark.session import register_views

    register_views(spark, sf_dir)
    out = spark.sql(
        """SELECT l_returnflag, l_linestatus, COUNT(*) AS c
           FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""
    ).collect()
    assert len(out) >= 4 and all(r.c > 0 for r in out)
    joined = spark.sql(
        """SELECT r_name, COUNT(*) c FROM customer
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey GROUP BY 1"""
    )
    assert joined.count() == 5


def test_ivf_staged_matches_in_memory(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ivf")
    V.ivf_stage(emb, path, n_cells=8)
    staged = V.ivf_search_staged(spark, path, queries, k=5, n_probe=3)
    mem = V.ivf_topk(emb, queries, k=5, n_cells=8, n_probe=3)
    assert sorted(map(tuple, staged.collect())) == sorted(map(tuple, mem.collect()))


def test_ivf_staged_partition_pruning(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf")
    V.ivf_stage(emb, path, n_cells=8)
    one_query = emb.filter(F.col("vec_id") == 0)
    out = V.ivf_search_staged(spark, path, one_query, k=3, n_probe=1)
    # the scan must prune on the partition column, not read-and-filter
    plan = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin([0]))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters: [" in scan and "cell" in scan.split("PartitionFilters:")[1]
    assert out.count() == 3
    # full probe == exact: every cell scanned -> brute-force result set
    allq = emb.filter(F.col("vec_id") < 3)
    full = V.ivf_search_staged(spark, path, allq, k=4, n_probe=8)
    brute = V.brute_force_topk(emb, allq, k=4)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_x32_staged_route_matches_unstaged(spark, sf_dir, tmp_path, monkeypatch):
    # x32 searches the staged ivf16 layout; the in-query IVF build
    # (`ivf_topk`, same centers, same params) must produce identical rows
    from deva_spark import queries as Q

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    unstaged = (
        V.ivf_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
        .orderBy("qid", "rnk")
        .collect()
    )
    monkeypatch.setenv("DEVA_ARTIFACT_DIR", str(tmp_path))
    staged = (
        Q.SPARK_QUERIES["x32_ivf_topk"](spark, sf_dir)
        .orderBy("qid", "rnk")
        .collect()
    )
    assert Q.staged_artifact_path(sf_dir, "ivf16") is not None
    assert staged == unstaged


def test_ivf_append_serves_grown_corpus(spark, sf_dir, tmp_path):
    # append new vectors to a staged layout (old centers, no retrain):
    # (a) assignments of appended rows match the sidecar centers
    # exactly; (b) search == staging old+new against the SAME centers
    # in one shot; (c) append batching doesn't matter
    import json

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    queries = emb.filter(F.col("vec_id") < 5)

    p1 = str(tmp_path / "inc1")
    V.ivf_stage(old, p1, n_cells=8)
    V.ivf_append(spark, p1, new)

    # (c) two smaller appends -> identical search results
    p2 = str(tmp_path / "inc2")
    V.ivf_stage(old, p2, n_cells=8)
    V.ivf_append(spark, p2, new.filter(F.col("vec_id") < 450))
    V.ivf_append(spark, p2, new.filter(F.col("vec_id") >= 450))

    r1 = sorted(map(tuple, V.ivf_search_staged(spark, p1, queries, k=5, n_probe=3).collect()))
    r2 = sorted(map(tuple, V.ivf_search_staged(spark, p2, queries, k=5, n_probe=3).collect()))
    assert r1 == r2 and len(r1) == 25

    # (a) every appended row sits in the cell the sidecar centers assign
    import numpy as np

    with open(os.path.join(p1, "_ivf_centers.json")) as f:
        centers = np.array(json.load(f)["centers"])
    got = spark.read.parquet(p1).filter(F.col("vec_id") >= 400).collect()
    assert len(got) == new.count()
    for r in got:
        v = np.array(r.embedding, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        sims = v @ centers.T
        best = int(np.argmax(sims))  # stable: argmax takes lowest on ties
        assert int(r.cell) == best, r.vec_id

    # (b) appended vectors are reachable: search with full probe equals
    # brute force over the WHOLE grown corpus
    full = V.ivf_search_staged(spark, p1, queries, k=4, n_probe=8)
    brute = V.brute_force_topk(emb, queries, k=4)
    assert sorted(map(tuple, full.collect())) == sorted(map(tuple, brute.collect()))


def test_ivf_retract_rewrites_only_affected_cells(spark, sf_dir, tmp_path):
    # the deletion contract: search over the retracted layout == search
    # over a layout staged from the surviving corpus AGAINST THE SAME
    # CENTERS (centers are deliberately untouched, like append), and
    # unaffected cell partitions keep their exact files (mtime + size).
    import glob
    import json

    import numpy as np

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 5)
    path = str(tmp_path / "ret1")
    V.ivf_stage(emb, path, n_cells=8)

    # forget a slice concentrated in whatever cells it lands in
    fg_ids = [r.vec_id for r in emb.select("vec_id").limit(40).collect()][::2]
    fg = spark.createDataFrame([(i,) for i in fg_ids], "forget_id long")

    before = {
        f: (os.path.getmtime(f), os.path.getsize(f))
        for f in glob.glob(os.path.join(path, "cell=*", "*.parquet"))
    }
    tbl = spark.read.parquet(path)
    affected_cells = {
        r.cell for r in tbl.filter(F.col("vec_id").isin(fg_ids)).select("cell").distinct().collect()
    }
    assert affected_cells and len(affected_cells) < 8, "fixture should touch some, not all, cells"

    n = V.ivf_retract(spark, path, fg)
    assert n == len(affected_cells)

    # unaffected partitions: identical files
    for f, sig in before.items():
        cell = int(f.split("cell=")[1].split(os.sep)[0])
        if cell not in affected_cells:
            assert (os.path.getmtime(f), os.path.getsize(f)) == sig, f

    # no forgotten vector remains; survivors' assignments unchanged
    after = spark.read.parquet(path)
    assert after.filter(F.col("vec_id").isin(fg_ids)).count() == 0
    assert after.count() == emb.count() - len(fg_ids)
    with open(os.path.join(path, "_ivf_centers.json")) as f:
        centers = np.array(json.load(f)["centers"])
    for r in after.filter(F.col("cell").isin(list(affected_cells))).collect():
        v = np.array(r.embedding, dtype=np.float64)
        v = v / max(np.linalg.norm(v), 1e-12)
        assert int(r.cell) == int(np.argmax(v @ centers.T)), r.vec_id

    # search parity vs the surviving corpus at full probe
    surv = emb.filter(~F.col("vec_id").isin(fg_ids))
    got = sorted(
        map(tuple, V.ivf_search_staged(spark, path, queries, k=5, n_probe=8).collect())
    )
    want = sorted(
        map(tuple, V.brute_force_topk(surv, queries, k=5).collect())
    )
    assert got == want


def test_ivf_retract_empties_a_cell(spark, sf_dir, tmp_path):
    # forgetting EVERY vector of some cell must remove its partition dir
    # (dynamic overwrite alone would leave stale files behind)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ret2")
    V.ivf_stage(emb, path, n_cells=8)
    tbl = spark.read.parquet(path)
    some_cell = tbl.select("cell").first().cell
    cell_ids = [
        r.vec_id for r in tbl.filter(F.col("cell") == some_cell).collect()
    ]
    extra = [
        r.vec_id
        for r in tbl.filter(F.col("cell") != some_cell).limit(3).collect()
    ]
    fg = spark.createDataFrame(
        [(i,) for i in cell_ids + extra], "vec_id long"
    )
    V.ivf_retract(spark, path, fg)
    assert not os.path.exists(os.path.join(path, f"cell={some_cell}"))
    after = spark.read.parquet(path)
    assert after.filter(F.col("cell") == some_cell).count() == 0
    assert after.count() == emb.count() - len(cell_ids) - len(extra)


def test_ivf_retract_noop_forget(spark, sf_dir, tmp_path):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ret3")
    V.ivf_stage(emb, path, n_cells=8)
    fg = spark.createDataFrame([(999999,)], "vec_id long")
    assert V.ivf_retract(spark, path, fg) == 0
    assert spark.read.parquet(path).count() == emb.count()


def test_ivfpq_staged_partition_pruning_and_codes_only_scan(spark, sf_dir, tmp_path):
    # the compressed index keeps the IVF layout's two scale contracts:
    # (a) probes prune on the cell PARTITION column, (b) the scan reads
    # CODES only — embeddings never leave the stage boundary
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivfpq")
    V.ivfpq_stage(emb, path, n_cells=8, m=8, n_codes=16, iters=1)
    plan = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin([0, 3]))
        .select("vec_id", "codes")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters: [" in scan
    assert "cell" in scan.split("PartitionFilters:")[1]
    assert "embedding" not in scan  # codes-only payload
    # full-probe ADC ranking is self-consistent with the rerank route's
    # shortlist contract: rerank(k, factor) top ids come from ADC top k*f
    q = emb.filter(F.col("vec_id") < 3)
    adc = V.ivfpq_search(spark, path, q, k=12, n_probe=8).collect()
    rr = V.ivfpq_search(
        spark, path, q, k=3, n_probe=8, rerank_vectors=emb, rerank_factor=4
    ).collect()
    adc_by_q = {}
    for r in adc:
        adc_by_q.setdefault(r.qid, []).append(r.vec_id)
    for r in rr:
        assert r.vec_id in adc_by_q[r.qid][:12]  # shortlist = ADC top k*4


def test_merge_upsert_surfaces_read_errors(spark, tmp_path):
    # r11 review: a transient read failure on an EXISTING table must
    # surface, not silently overwrite the table with only the new rows.
    import pytest

    from deva_spark.sources import writers

    path = str(tmp_path / "corrupt_table")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.parquet"), "wb") as f:
        f.write(b"not parquet at all")
    new = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(Exception):  # noqa: B017 — any surfaced error; never overwrite
        writers.merge_upsert_by_key(spark, new, path, "k")
    with open(os.path.join(path, "part-0.parquet"), "rb") as f:
        assert f.read() == b"not parquet at all"  # table untouched


def test_rename_swap_writers_reject_remote_uris(spark):
    # ADVICE r11 #1: os.path.exists misreads a REMOTE table as absent
    # and mode('overwrite') silently replaces it with only the new rows.
    # The rename-swap writers are local-only by protocol — they must
    # reject remote schemes loudly, never probe them with os.path.
    import pytest

    from deva_spark.sources import writers

    df = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError, match="local rename-swap"):
        writers.merge_upsert_by_key(spark, df, "s3a://bucket/tbl", "k")
    with pytest.raises(ValueError, match="local rename-swap"):
        writers.compact_table(spark, "hdfs://nn/warehouse/tbl")
    with pytest.raises(ValueError, match="local rename-swap"):
        writers.evict_older_than(spark, "s3a://bucket/tbl", 7, "2026-01-01")


def test_merge_upsert_accepts_file_scheme(spark, tmp_path):
    # file:// is local — require_local strips the prefix so the swap
    # protocol and Spark reads address the same directory
    from deva_spark.sources import writers

    path = f"file://{tmp_path}/t_file_scheme"
    v1 = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    writers.merge_upsert_by_key(spark, v1, path, "k")
    v2 = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")
    writers.merge_upsert_by_key(spark, v2, path, "k")
    got = {
        (r.k, r.v)
        for r in spark.read.parquet(f"{tmp_path}/t_file_scheme").collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c")}


def test_hadoop_path_exists_sees_what_spark_sees(spark, tmp_path):
    from deva_spark.sources import fs

    assert not fs.path_exists(spark, str(tmp_path / "nope"))
    d = tmp_path / "yes"
    d.mkdir()
    assert fs.path_exists(spark, str(d))
    assert fs.path_exists(spark, f"file://{d}")
    # subdir listing + delete, the run-dir pruning primitives
    (d / "run_a").mkdir()
    (d / "run_b").mkdir()
    subs = fs.list_subdirs_by_mtime(spark, str(d))
    assert len(subs) == 2
    fs.delete_path(spark, subs[0])
    assert len(fs.list_subdirs_by_mtime(spark, str(d))) == 1
