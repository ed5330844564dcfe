"""The shared pair-forming primitives (`operators/neardup.py`) against
brute force: banded Hamming candidates on signed 64-bit and 48-bit
hashes with planted neighbours at the budget's edge, and the in-array
ordered-pair explode."""

import itertools
import random

import pytest
from pyspark.sql import functions as F

from deva_spark.operators import neardup as nd


def _spans(bits, n_bands):
    base, rem = divmod(bits, n_bands)
    out, start = [], 0
    for i in range(n_bands):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def _signed(v, bits):
    # a 64-bit pattern as the LongType value Spark stores
    return v - (1 << 64) if bits == 64 and v >= (1 << 63) else v


def _ham(a, b, bits):
    return bin((a ^ b) & ((1 << bits) - 1)).count("1")


def _rows(bits, k, seed):
    """(id, hash, tag) rows: random bases (at 64 bits half of them with
    the top bit set) plus, per base, a neighbour at exactly k bits (one
    bit in each of k bands), one at k+1 bits spread one per band (no
    band in common) and one at k+1 bits inside a single band (a
    candidate the verify must reject)."""
    rng = random.Random(seed)
    spans = _spans(bits, k + 1)
    rows, nid = [], 0
    for j in range(5):
        base = rng.getrandbits(bits)
        if bits == 64 and j % 2 == 0:
            base |= 1 << 63
        near = base
        for start, w in spans[:k]:
            near ^= 1 << (start + rng.randrange(w))
        spread = base
        for start, w in spans:
            spread ^= 1 << (start + rng.randrange(w))
        start, w = max(spans, key=lambda s: s[1])
        one_band = base
        for b in rng.sample(range(start, start + w), min(k + 1, w)):
            one_band ^= 1 << b
        for v in (base, near, spread, one_band):
            rows.append((nid, _signed(v, bits), nid * 7))
            nid += 1
    return rows


def _brute(left, right, bits, k, cross):
    out = set()
    for (ia, ha, ta), (ib, hb, tb) in itertools.product(left, right):
        if (ia != ib if cross else ia < ib) and _ham(ha, hb, bits) <= k:
            out.add((ia, ib, ta, tb, _ham(ha, hb, bits)))
    return out


def _got(df):
    # band copies of a pair are identical rows; compare the row sets
    return {tuple(r) for r in df.collect()}


_CASES = [(64, k) for k in range(4)] + [(48, k) for k in range(6)]


@pytest.mark.parametrize("bits,k", _CASES)
def test_hamming_candidates_equal_brute_force(spark, bits, k):
    rows = _rows(bits, k, seed=bits * 10 + k)
    schema = "id long, h long, tag long"
    df = spark.createDataFrame(rows, schema)
    kw = dict(id_col="id", hash_col="h", bits=bits, max_distance=k, carry=["tag"])
    got = _got(nd.hamming_candidates(df, **kw))
    assert got == _brute(rows, rows, bits, k, cross=False)
    # every planted k-bit neighbour is found
    assert {(r[0], r[0] + 1) for r in rows[::4]} <= {g[:2] for g in got}
    # cross form: the right table repeats two ids of the left one, and
    # arrives pre-banded (the staged chunk-index route)
    left = rows[::2]
    right = rows[1::2] + rows[:2]
    got = _got(
        nd.hamming_candidates(
            spark.createDataFrame(left, schema),
            nd.band(spark.createDataFrame(right, schema), "h", bits, k + 1, ["id", "tag"]),
            **kw,
        )
    )
    assert got == _brute(left, right, bits, k, cross=True)


def test_cross_form_same_id_in_both_tables(spark):
    # an id present in both tables never pairs with itself, but still
    # pairs with its neighbours on the other side
    schema = "id long, h long"
    corpus = spark.createDataFrame([(1, -5), (2, 1 << 40)], schema)
    batch = spark.createDataFrame([(1, -5), (3, -5 ^ 1)], schema)
    got = nd.hamming_candidates(
        corpus, batch, id_col="id", hash_col="h", bits=64, max_distance=3
    ).distinct()
    assert sorted(map(tuple, got.collect())) == [(1, 3, 1)]


def test_band_spans_and_unsigned_top_bit(spark):
    fp = 0x123456789ABC
    df = spark.createDataFrame([(1, fp), (2, -1)], "id long, h long")
    got = {
        (r.id, r.ci): r.cv
        for r in nd.band(df, "h", 48, 4, ["id"]).collect()
    }
    # 48 bits in 4 bands: four 12-bit spans from bit 0 up
    assert [got[(1, i)] for i in range(4)] == [(fp >> (12 * i)) & 0xFFF for i in range(4)]
    assert [got[(2, i)] for i in range(4)] == [0xFFF] * 4
    # 64 bits: the top bit of a negative hash lands in the last band
    top = {r.ci: r.cv for r in nd.band(df.filter("id = 2"), "h", 64, 3).collect()}
    assert top == {0: (1 << 22) - 1, 1: (1 << 21) - 1, 2: (1 << 21) - 1}
    # one 64-bit band (k = 0) is the hash itself
    one = nd.band(df, "h", 64, 1, ["id"]).select("id", "h", "cv").collect()
    assert all(r.h == r.cv for r in one)
    assert nd.band(df, "h", 48, 4, ["id"]).columns == ["id", "h", "ci", "cv"]


def test_check_banding_rejects_uncovered_budgets():
    nd.check_banding(48, 4, 3)
    for bits, n_bands, k in ((48, 48, 48), (64, 4, 4), (48, 49, 3), (64, 1, -1), (64, 0, 0)):
        with pytest.raises(ValueError, match="max_distance"):
            nd.check_banding(bits, n_bands, k)


def test_ordered_pairs_equal_combinations(spark):
    rng = random.Random(5)
    arrays = [sorted(rng.sample(range(100), n)) for n in (0, 1, 2, 3, 6)]
    df = spark.createDataFrame([(i, a) for i, a in enumerate(arrays)], "i int, ids array<long>")
    got = {
        r.i: [tuple(p) for p in r.p]
        for r in df.select(
            "i",
            nd.ordered_pairs(
                F.col("ids"), lambda a, b: F.struct(a.alias("a"), b.alias("b"))
            ).alias("p"),
        ).collect()
    }
    assert got == {i: list(itertools.combinations(a, 2)) for i, a in enumerate(arrays)}
