"""Seeded inputs for the benchmark workloads and their expected outputs.

Every input is a pure function of ``--seed``: the code table comes from the
package's own ``sources.codegen`` generator, and the lineitem table from a
TPC-H-shaped generator below (same columns, types and value domains as the
``lineitem`` fixture, which lives outside the checkout the benchmark may
read).  The sources are written as plain parquet files that Spark then
reads, so the program under test only ever sees generated rows.
"""
from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CODE_ROWS = 32_000          # ~38 MB raw: content dominates
LINEITEM_ROWS = 150_000     # ~12 MB raw over the 11 encoded columns
SOURCE_FILES = 16           # several read splits per core, as run_encode asks

CODE_COLS = ["repo", "path", "commit", "lang", "content"]
LINEITEM_COLS = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
                 "l_quantity", "l_extendedprice", "l_discount", "l_tax",
                 "l_returnflag", "l_linestatus", "l_shipdate"]

# q1-shaped query per source: projected, stats-filtered decode + aggregate
Q1_SHIPDATE_MAX = "1997-06-30"
Q1_LINEITEM_COLS = ["l_returnflag", "l_linestatus", "l_quantity",
                    "l_extendedprice", "l_discount", "l_shipdate"]


def code_table(seed: int) -> pa.Table:
    """Repo-clustered code table (the layout the local encode strategy is
    designed for), sorted so the file splits follow (repo, path).

    Repo names keep only their seed-independent ``repoN`` part: part keys
    hash repo names, so with the seeded ``org/`` prefix the seed decided
    which parts shared a compaction or decode task, and ``compact_s``
    moved 1.5x between seeds.  Repo sizes, paths, commits and content
    still come from the seed."""
    from parquet_python_spark.sources import codegen

    t = codegen.generate_arrow(0, CODE_ROWS, seed=seed)
    repo = pc.replace_substring_regex(t["repo"], "^[^/]*/", "")
    t = t.set_column(t.schema.get_field_index("repo"), "repo", repo)
    return t.sort_by([("repo", "ascending"), ("path", "ascending")])


def lineitem_table(seed: int) -> pa.Table:
    """TPC-H lineitem shape: 4 int keys, 4 two-decimal floats, 2 one-letter
    flags and a day-resolution ship timestamp, plus the ship-year ``repo``
    that partitions the store by year (``_lineitem_source`` layout)."""
    rng = np.random.default_rng(seed)
    n = LINEITEM_ROWS
    orderkey = rng.integers(0, n // 4, n, dtype=np.int64)
    linenumber = rng.integers(1, 8, n).astype(np.int32)
    partkey = rng.integers(0, 20_000, n, dtype=np.int64)
    quantity = rng.integers(1, 51, n).astype(np.float64)
    retail = 900.0 + (partkey % 20_000) / 10.0 + rng.integers(0, 100, n) / 100.0
    days = rng.integers(0, 2499, n)
    ship = (np.datetime64("1995-01-02", "D") + days).astype("datetime64[us]")
    year = (np.datetime64("1995-01-02", "D") + days).astype("datetime64[Y]")
    t = pa.table({
        "l_orderkey": orderkey,
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, 1_000, n, dtype=np.int64),
        "l_linenumber": linenumber,
        "l_quantity": quantity,
        "l_extendedprice": np.round(quantity * retail, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": pa.array(ship, type=pa.timestamp("us")),
    })
    years = pa.array(year.astype(str).astype(object), type=pa.string())
    key = pc.binary_join_element_wise(
        pc.cast(t["l_orderkey"], pa.string()),
        pc.cast(t["l_linenumber"], pa.string()), "_")
    t = (t.append_column("repo", pc.binary_join_element_wise("y", years, ""))
         .append_column("path", key)
         .append_column("commit", pa.array(["0"] * n, type=pa.string())))
    return t.sort_by([("repo", "ascending")])


def write_source(table: pa.Table, directory: str,
                 files: int = SOURCE_FILES) -> None:
    """Write ``table`` as ``files`` uncompressed parquet files."""
    os.makedirs(directory, exist_ok=True)
    step = -(-table.num_rows // files)
    for i, lo in enumerate(range(0, table.num_rows, step)):
        pq.write_table(table.slice(lo, step),
                       os.path.join(directory, f"part-{i:03d}.parquet"),
                       compression="none")


def lookup_keys(table: pa.Table, kind: str, seed: int, n: int) -> list:
    """``n`` closed-loop lookup filters drawn from the source with the seed.

    code: two in three are ``commit ==`` (unique per row, so only Bloom
    filters can prune), every third ``repo ==`` on a tail repo (stats
    prune).  lineitem: ``l_orderkey ==`` (a few rows per key, Bloom on
    ints)."""
    rng = np.random.default_rng(seed + 7919)
    rows = rng.integers(0, table.num_rows, n)
    if kind == "lineitem":
        keys = table["l_orderkey"].take(pa.array(rows)).to_pylist()
        return [("l_orderkey", int(k)) for k in keys]
    commits = table["commit"].take(pa.array(rows)).to_pylist()
    counts = pc.value_counts(table["repo"]).to_pylist()
    counts.sort(key=lambda d: (d["counts"], d["values"]))
    tail = [d["values"] for d in counts[:max(len(counts) // 2, 1)]]
    return [("repo", tail[int(rng.integers(0, len(tail)))]) if i % 3 == 2
            else ("commit", commits[i]) for i in range(n)]


def expected_lookup(table: pa.Table, key: tuple) -> list:
    col, val = key
    return normalize_rows(table.filter(pc.equal(table[col], val)))


def normalize_rows(table: pa.Table) -> list:
    """Sorted row tuples with timestamps as int64 microseconds, so a decoded
    Arrow result and the source compare without time-zone conversion."""
    cols = []
    for name in table.column_names:
        col = table[name]
        if pa.types.is_timestamp(col.type):
            col = pc.cast(pc.cast(col, pa.timestamp("us")), pa.int64())
        cols.append(col.to_pylist())
    return sorted(zip(*cols), key=repr)
