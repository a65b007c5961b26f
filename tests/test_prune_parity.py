"""Part pruning on the driver: pinned kept-part sets and a property test.

The kept-part sets below were recorded from the Catalyst pruner that the
driver-side one-metadata-pass pruner replaced (same fixtures as
``test_bloom`` / ``test_pipeline``: Bloom on ``doc_store``, numeric and
timestamp stats, NaN stats, truncated long strings, a store without the
``bloom`` column).  The property test checks the two guarantees pruning
must keep on random DNF filters over int, float, string, timestamp and
date columns: no part holding a matching row is pruned, and a filtered
decode equals the unpruned decode followed by the same ``where``."""
import datetime as dt
import hashlib
import math

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from parquet_python_spark.operators import pipeline as pl
from parquet_python_spark.plans import filters as filt

pytestmark = pytest.mark.spark

UTC = dt.timezone.utc


def _doc_text(i: int) -> str:
    return f"body of document {i} " + "x" * (i % 17)


def doc_blocks(spark, root):
    """``test_bloom.doc_store``: high-cardinality columns scattered over
    parts, so only Bloom filters can prune equality lookups."""
    rows = [(i, _doc_text(i), f"repo{i % 8}") for i in range(2000)]
    src = (spark.createDataFrame(rows, "doc_id long, text string, repo string")
           .withColumn("path", F.concat(F.lit("p"), F.col("doc_id")))
           .withColumn("commit", F.md5(F.col("text"))))
    blocks = pl.encode_table(src, columns=["doc_id", "text", "commit"],
                             target_rows=256).persist()
    blocks.count()
    return blocks


def num_blocks(spark, root):
    """``test_numeric_stats_pruning_drops_blocks``: range-laid-out int and
    timestamp columns."""
    pdf = pd.DataFrame({
        "repo": [f"r{i // 100}" for i in range(1000)],
        "path": [str(i) for i in range(1000)],
        "commit": ["0"] * 1000,
        "val": np.arange(1000, dtype=np.int64),
        "when": pd.to_datetime("1995-01-01")
                + pd.to_timedelta(np.arange(1000), unit="D"),
    })
    store = str(root / "numstats")
    pl.run_encode(spark.createDataFrame(pdf), store, columns=["val", "when"],
                  target_rows=100, resume=False)
    return pl.read_blocks(spark, store)


def nan_blocks(spark, root):
    """``test_nan_float_stats_do_not_misprune``: a finite part, a part
    with NaNs (max widened to +inf) and an all-NaN part (no stats)."""
    repos = (["lowfinite"] * 100) + (["mixed"] * 100) + (["allnan"] * 50)
    xs = ([float(i) for i in range(100)]
          + [1000.0 + i for i in range(90)] + [math.nan] * 10
          + [math.nan] * 50)
    rows = [(repos[i], str(i), "0", xs[i]) for i in range(250)]
    df = spark.createDataFrame(
        rows, "repo string, path string, commit string, x double")
    store = str(root / "nanstats")
    pl.run_encode(df, store, columns=["x"], target_rows=60, resume=False)
    return pl.read_blocks(spark, store)


LONG = "z" * 80


def longstr_blocks(spark, root):
    """``test_long_string_stats_do_not_misprune`` spread over three repos:
    > 64-char values whose max stat is stored truncated-and-incremented."""
    pdf = pd.DataFrame({
        "repo": [f"r{i % 3}" for i in range(300)],
        "path": [str(i) for i in range(300)],
        "commit": ["0"] * 300,
        "name": [LONG if i % 7 == 0 else f"short_{i:03d}"
                 for i in range(300)],
    })
    store = str(root / "longstr")
    pl.run_encode(spark.createDataFrame(pdf), store, target_rows=50,
                  resume=False)
    return pl.read_blocks(spark, store)


_COMMIT_777 = hashlib.md5(_doc_text(777).encode()).hexdigest()

# (store, filters) -> part_keys the Catalyst pruner kept
CASES = {
    "bloom_text_eq": ("doc", [("text", "==", _doc_text(777))]),
    "bloom_int_eq": ("doc", [("doc_id", "==", 1234)]),
    "bloom_absent": ("doc", [("text", "==", "no such document body")]),
    "bloom_text_in": ("doc", [("text", "in", [_doc_text(5),
                                              _doc_text(1999)])]),
    "bloom_int_in": ("doc", [("doc_id", "in", [3, 1500, 1999])]),
    "bloom_commit_eq": ("doc", [("commit", "==", _COMMIT_777)]),
    "bloom_range": ("doc", [("doc_id", "<", 5)]),
    "bloom_ne": ("doc", [("doc_id", "!=", 5)]),
    "bloom_and": ("doc", [("doc_id", "==", 7), ("text", "==", _doc_text(7))]),
    "bloom_dnf": ("doc", [[("doc_id", "==", 7)],
                          [("text", "==", _doc_text(1999))]]),
    "legacy_text_eq": ("legacy", [("text", "==", _doc_text(777))]),
    "legacy_int_eq": ("legacy", [("doc_id", "==", 777)]),
    "legacy_range": ("legacy", [("doc_id", "<", 5)]),
    "num_lt": ("num", [("val", "<", 150)]),
    "num_ge": ("num", [("val", ">=", 900)]),
    "num_eq": ("num", [("val", "==", 500)]),
    "num_eq_float": ("num", [("val", "==", 500.5)]),
    "num_in": ("num", [("val", "in", [5, 950])]),
    "num_not_in": ("num", [("val", "not in", [5, 950])]),
    "num_dnf": ("num", [[("val", "<", 100)], [("val", ">", 950)]]),
    "num_le_min": ("num", [("val", "<=", 0)]),
    "num_lt_min": ("num", [("val", "<", 0)]),
    "num_ge_max": ("num", [("val", ">=", 999)]),
    "num_gt_max": ("num", [("val", ">", 999)]),
    "num_eq_edges": ("num", [("val", "in", [0, 999])]),
    "ts_le_min": ("num", [("when", "<=", dt.datetime(1995, 1, 1))]),
    "ts_lt_min": ("num", [("when", "<", dt.datetime(1995, 1, 1))]),
    "ts_str_le": ("num", [("when", "<=", "1995-03-01")]),
    "ts_datetime_gt": ("num", [("when", ">", dt.datetime(1997, 1, 1))]),
    "ts_date_eq": ("num", [("when", "==", dt.date(1995, 1, 5))]),
    "ts_and_val": ("num", [("when", ">=", "1996-01-01"), ("val", "<", 400)]),
    "nan_gt": ("nan", [("x", ">", 500.0)]),
    "nan_gt_high": ("nan", [("x", ">", 2000.0)]),
    "nan_literal": ("nan", [("x", "==", math.nan)]),
    "nan_lt": ("nan", [("x", "<", 50.0)]),
    "nan_in": ("nan", [("x", "in", [5.0, 1050.0])]),
    "nan_inf": ("nan", [("x", ">=", math.inf)]),
    "nan_le_min": ("nan", [("x", "<=", 0.0)]),
    "long_eq": ("long", [("name", "==", LONG)]),
    "long_gt": ("long", [("name", ">", "z" * 70)]),
    "long_short_eq": ("long", [("name", "==", "short_004")]),
    "long_lt": ("long", [("name", "<", "short_010")]),
    "long_le_min": ("long", [("name", "<=", "short_001")]),
}

PINNED = {
    "bloom_absent": set(),
    "bloom_and": {-6114298390504788549},
    "bloom_commit_eq": {3551924483064519999},
    "bloom_dnf": {-6114298390504788549},
    "bloom_int_eq": {6329522688274535434},
    "bloom_int_in": {
        -6504201525053538181, -6114298390504788549, 6329522688274535434},
    "bloom_ne": {
        -6504201525053538181, -6114298390504788549, 3551924483064519999,
        6329522688274535434},
    "bloom_range": {
        -6504201525053538181, -6114298390504788549, 3551924483064519999,
        6329522688274535434},
    "bloom_text_eq": {3551924483064519999},
    "bloom_text_in": {-6114298390504788549, 3551924483064519999},
    "legacy_int_eq": {
        -6504201525053538181, -6114298390504788549, 3551924483064519999,
        6329522688274535434},
    "legacy_range": {
        -6504201525053538181, -6114298390504788549, 3551924483064519999,
        6329522688274535434},
    "legacy_text_eq": {
        -6504201525053538181, -6114298390504788549, 3551924483064519999,
        6329522688274535434},
    "long_eq": {
        -5413862977819323821, -3342641820368833734, -1177632554435248207,
        1356427393095080892, 6813817045809213622, 7655274234264029275},
    "long_gt": {
        -5413862977819323821, -3342641820368833734, -1177632554435248207,
        1356427393095080892, 6813817045809213622, 7655274234264029275},
    "long_le_min": {1356427393095080892},
    "long_lt": {
        -5413862977819323821, -3342641820368833734, 1356427393095080892,
        6813817045809213622, 7655274234264029275},
    "long_short_eq": {1356427393095080892},
    "nan_gt": {-7498505107236921446, -845986979675818697, 6329522688274535434},
    "nan_gt_high": {
        -7498505107236921446, -845986979675818697, 6329522688274535434},
    "nan_in": {
        -7498505107236921446, -6588366775631028834, -845986979675818697,
        3556337647019506520, 6329522688274535434},
    "nan_inf": {
        -7498505107236921446, -845986979675818697, 6329522688274535434},
    "nan_le_min": {-6588366775631028834, 6329522688274535434},
    "nan_literal": {
        -7498505107236921446, -6588366775631028834, -845986979675818697,
        3556337647019506520, 6329522688274535434},
    "nan_lt": {-6588366775631028834, 3556337647019506520, 6329522688274535434},
    "num_dnf": {-474027751100819540, 2301704897423075650},
    "num_eq": {6329522688274535434},
    "num_eq_edges": {-474027751100819540, 2301704897423075650},
    "num_eq_float": {6329522688274535434},
    "num_ge": {-474027751100819540},
    "num_ge_max": {-474027751100819540},
    "num_gt_max": set(),
    "num_in": {-474027751100819540, 2301704897423075650},
    "num_le_min": {2301704897423075650},
    "num_lt": {-474027751100819540, 2301704897423075650},
    "num_lt_min": set(),
    "num_not_in": {
        -8155440112983089247, -474027751100819540, 2301704897423075650,
        3551924483064519999, 6329522688274535434},
    "ts_and_val": {
        -8155440112983089247, -474027751100819540, 6329522688274535434},
    "ts_date_eq": {2301704897423075650},
    "ts_datetime_gt": {-8155440112983089247, -474027751100819540},
    "ts_le_min": {2301704897423075650},
    "ts_lt_min": set(),
    "ts_str_le": {2301704897423075650},
}


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("prune_parity")
    doc = doc_blocks(spark, root)
    return {"doc": doc, "legacy": doc.drop("bloom"),
            "num": num_blocks(spark, root), "nan": nan_blocks(spark, root),
            "long": longstr_blocks(spark, root)}


def _parts(blocks) -> set[int]:
    return {r[0] for r in blocks.select("part_key").distinct().collect()}


@pytest.mark.parametrize("case", sorted(CASES))
def test_kept_parts_match_catalyst_pruner(stores, case):
    store, filters = CASES[case]
    assert _parts(pl.prune_blocks(stores[store], filters)) == PINNED[case]


# ------------------------------------------------------------ property test

_S_POOL = ["é" * 70 + "29", "z" * 66 + "中", "k2-5-ü", "k0-0-ü", "é" * 70,
           "z" * 66, "k5-12-ü", ""]


def _mixed_rows():
    """Six range-laid-out repos: stats prune across them, Bloom filters
    within; floats carry NaN, +-inf and -0.0, strings non-ASCII and
    > 64-char values, every column a few nulls."""
    special = [math.nan, math.inf, -math.inf, -0.0]
    rows = []
    for i in range(480):
        g = i // 80
        f = special[i % 4] if i % 19 == 0 else g * 10.0 + (i % 9) * 0.5
        s = ("é" * 70 + str(i) if i % 29 == 0
             else "z" * 66 + "中" if i % 37 == 0 else f"k{g}-{i % 13}-ü")
        rows.append((
            f"r{g}", str(i), "0",
            None if i % 41 == 0 else i,
            None if i % 43 == 0 else f,
            None if i % 47 == 0 else s,
            dt.datetime(1995, 1, 1, tzinfo=UTC) + dt.timedelta(hours=7 * i),
            None if i % 53 == 0 else dt.date(1995, 1, 1) + dt.timedelta(i)))
    return rows


@pytest.fixture(scope="module")
def mixed(spark, tmp_path_factory):
    df = spark.createDataFrame(
        _mixed_rows(), "repo string, path string, commit string, i long, "
        "f double, s string, ts timestamp, d date")
    store = str(tmp_path_factory.mktemp("mixed") / "s")
    pl.run_encode(df, store, columns=["i", "f", "s", "ts", "d"],
                  target_rows=40, resume=False)
    blocks = pl.read_blocks(spark, store)
    assert len(_parts(blocks)) > 6
    # not cached: Spark's cached-batch min/max pruning drops NaN rows
    # under `f == NaN`, which would make the oracle itself wrong
    return blocks, pl.decode_blocks(blocks, keep_part_key=True)


# row i sits in repo i // 80, so part stats start and end near multiples
# of 80: literals on those edges exercise the strict / non-strict bounds
_EDGES = [80 * g + k for g in range(7) for k in (-1, 0, 1)]
_VALUES = {
    "i": st.one_of(st.integers(-20, 520), st.sampled_from(_EDGES)),
    "f": st.one_of(st.floats(), st.sampled_from(
        [math.nan, math.inf, -math.inf, -0.0, 25.0, 50.5]
        + [g * 10.0 + k for g in range(6) for k in (0.0, 4.0)])),
    "s": st.one_of(st.sampled_from(_S_POOL), st.text(
        st.characters(blacklist_categories=("Cs", "Cc")), max_size=80)),
    "ts": st.one_of(
        st.datetimes(dt.datetime(1994, 12, 1), dt.datetime(1995, 6, 1),
                     timezones=st.just(UTC)),
        st.sampled_from([dt.datetime(1995, 1, 1, tzinfo=UTC)
                         + dt.timedelta(hours=7 * e) for e in _EDGES])),
    "d": st.one_of(st.dates(dt.date(1994, 12, 1), dt.date(1996, 6, 1)),
                   st.sampled_from([dt.date(1995, 1, 1) + dt.timedelta(e)
                                    for e in _EDGES])),
}


@st.composite
def _triple(draw):
    c = draw(st.sampled_from(sorted(_VALUES)))
    op = draw(st.sampled_from(
        ["==", "!=", "<", "<=", ">", ">=", "in", "not in"]))
    if op in ("in", "not in"):
        return c, op, draw(st.lists(_VALUES[c], max_size=3))
    return c, op, draw(_VALUES[c])


def _rows(df) -> list[str]:
    return sorted(repr(tuple(r)) for r in df.collect())


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(filters=st.lists(st.lists(_triple(), min_size=1, max_size=2),
                        min_size=1, max_size=2))
def test_pruning_keeps_every_matching_part(mixed, filters):
    blocks, full = mixed
    want = full.where(filt.filters_to_column(filters))
    matching = {r[0] for r in want.select("part_key").distinct().collect()}
    assert matching <= _parts(pl.prune_blocks(blocks, filters))
    got = pl.decode_blocks(blocks, filters=filters)
    assert _rows(got) == _rows(want.drop("part_key"))
