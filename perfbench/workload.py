"""The seeded workload: its source, expected outputs and timed operations.

One round is the store's whole life cycle on a fresh directory:
``run_encode`` from an empty store (planning included) and
``compact_store``, then a full decode, the q1-shaped filtered aggregate
and ``LOOKUPS_PER_ROUND`` closed-loop point lookups.  Each timed
operation runs under an ``op.<name>`` span and has its output checked; an
operation that raises or returns a wrong result counts as failed.
"""
from __future__ import annotations

import math
import os
import shutil
import time

LOOKUPS_PER_ROUND = 2
KEY_ROUNDS = 8   # lookup keys are drawn for this many rounds, then repeat

WORKLOADS = {
    # string-only code table, uncompressed blocks: linedict / FSST / hexpack /
    # dict kernels, Bloom filters on unique commit ids
    "code_rw": {"source": "code", "compression": "UNCOMPRESSED",
                "target_rows": 5_000},
    # numeric TPC-H lineitem, GZIP blocks, year-partitioned parts: int /
    # float / timestamp selector branches, bitpack + decfloat, numeric
    # stats pruning and the block-compression layer
    "lineitem_rw": {"source": "lineitem", "compression": "GZIP",
                    "target_rows": 15_000},
}


class Workload:
    """One seeded source, its expected outputs, and the timed operations."""

    def __init__(self, spark, name: str, seed: int, work: str, tracer):
        from perfbench import sources

        self.spark, self.seed, self.work = spark, seed, work
        self.cfg = WORKLOADS[name]
        self.kind = self.cfg["source"]
        self.tracer = tracer
        self.cols = (sources.CODE_COLS if self.kind == "code"
                     else sources.LINEITEM_COLS)
        self.cpus = spark.sparkContext.defaultParallelism
        self.reset()
        self.store = None
        self.n_store = 0
        self.last_summary: dict = {}

    # ---- set-up

    def prepare(self, rep: int) -> float:
        """Generate the seeded source, write it, and read it back once."""
        from perfbench import sources

        t0 = time.perf_counter()
        table = (sources.code_table(self.seed) if self.kind == "code"
                 else sources.lineitem_table(self.seed))
        path = os.path.join(self.work, f"source-{rep}")
        sources.write_source(table, path)
        df = self.spark.read.parquet(path)
        df.count()
        took = time.perf_counter() - t0
        self.table, self.df = table, df
        return took

    def expectations(self) -> None:
        """Expected outputs, computed from the source by Spark and Arrow."""
        import pyarrow.compute as pc

        from perfbench import sources

        counts = pc.value_counts(self.table["repo"]).to_pylist()
        self.q1_key = max(counts, key=lambda d: (d["counts"], d["values"]))[
            "values"]
        self.digest = self.digest_of(self.df)
        self.q1_expected = self._q1_rows(self.q1_frame(self.df))
        # one key more than the timed rounds use, for the warm-up's lookup
        n = KEY_ROUNDS * LOOKUPS_PER_ROUND + 1
        *self.keys, self.warm_key = sources.lookup_keys(
            self.table, self.kind, self.seed, n)
        src = self.table.select(self.cols)
        self.lookup_expected = {k: sources.expected_lookup(src, k)
                                for k in self.keys + [self.warm_key]}

    def digest_of(self, df) -> tuple[int, int]:
        """(rows, XOR of xxhash64 over the encoded columns) — the same row
        hash the encoder stores in lineage ``row_hash``."""
        from pyspark.sql import functions as F

        row = (df.select(F.xxhash64(*[F.col(c) for c in self.cols]).alias("h"))
               .agg(F.count(F.lit(1)).alias("n"),
                    F.expr("bit_xor(h)").alias("x")).collect()[0])
        return int(row["n"]), int(row["x"] or 0)

    def q1_frame(self, df):
        from perfbench import sources
        from pyspark.sql import functions as F

        if self.kind == "lineitem":
            return (df.where(F.col("l_shipdate") <= F.lit(
                sources.Q1_SHIPDATE_MAX).cast("timestamp"))
                .groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                     F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
                     F.round(F.sum(F.col("l_extendedprice")
                                   * (F.lit(1.0) - F.col("l_discount"))), 2)
                     .alias("sum_disc"),
                     F.count(F.lit(1)).alias("count_order")))
        return (df.where(F.col("repo") == self.q1_key)
                .groupBy("lang")
                .agg(F.count(F.lit(1)).alias("files"),
                     F.sum(F.length("content")).alias("chars")))

    @staticmethod
    def _q1_rows(df) -> list[tuple]:
        return sorted(tuple(r) for r in df.collect())

    # ---- checks

    def _check(self, ok: bool, what: str) -> None:
        if not ok:
            self.failed += 1
            self.failures.append(what)

    @staticmethod
    def same_q1(got: list[tuple], want: list[tuple]) -> bool:
        """Group keys and counts exactly; float sums within 1e-9 relative
        (decoded rows are summed in another order than the source, which
        can flip the last rounded cent of a sum of ~1e8)."""
        if len(got) != len(want):
            return False
        for g, w in zip(got, want):
            for a, b in zip(g, w):
                if isinstance(a, float) or isinstance(b, float):
                    if not math.isclose(a, b, rel_tol=1e-9):
                        return False
                elif a != b:
                    return False
        return True

    # ---- timed operations

    def _timed(self, op: str, fn):
        """Run one operation under an op span; a raised error is a failed
        operation.  Returns (seconds, result) or (None, None)."""
        self.attempted += 1
        try:
            with self.tracer.span("op." + op):
                t0 = time.perf_counter()
                out = fn()
                took = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 - counted, run continues
            self.failed += 1
            self.failures.append(f"{op}: {type(e).__name__}: {e}"[:300])
            return None, None
        self.samples.setdefault(op + "_s", []).append(took)
        return took, out

    def write_cycle(self) -> None:
        """``run_encode`` into a fresh store directory, then compaction."""
        from parquet_python_spark.operators import pipeline as pl

        old = self.store
        self.n_store += 1
        self.store = os.path.join(self.work, f"store-{self.n_store}")
        took, summary = self._timed("encode", lambda: pl.run_encode(
            self.df, self.store, columns=self.cols,
            target_rows=self.cfg["target_rows"],
            compression=self.cfg["compression"], resume=False,
            encode_tasks=self.cpus))
        if took is not None:
            self.samples.setdefault("ingest_mbps", []).append(
                summary["raw_bytes"] / 1e6 / took)
            self.on_encoded()
        # with no page allowed, every part is recoded on every seed; with
        # one or two, a part whose rows all sat in one input split was left
        # alone, so the seed decided whether 5 or all 7 code parts were
        # recoded (through different swap paths), and compact_s moved
        # 1.4-1.6x between seeds
        self._timed("compact", lambda: pl.compact_store(
            self.spark, self.store, max_pages_per_column=0,
            concurrency=self.cpus))
        self.check_store()
        if old:
            shutil.rmtree(old, ignore_errors=True)

    def on_encoded(self) -> None:
        """Hook for the traced run (file counts right after ingest)."""

    def check_store(self) -> None:
        from parquet_python_spark.operators import pipeline as pl
        from pyspark.sql import functions as F

        try:
            row = pl.read_lineage(self.spark, self.store).agg(
                F.sum("n_rows").alias("rows"),
                F.expr("bit_xor(row_hash)").alias("x"),
                F.sum("raw_bytes").alias("raw"),
                F.sum("enc_bytes").alias("enc")).collect()[0]
        except Exception as e:  # noqa: BLE001 - a broken store is a failure
            self._check(False, f"lineage unreadable: {e}"[:300])
            return
        self.last_summary = {"rows": int(row["rows"] or 0),
                             "raw_bytes": int(row["raw"] or 0),
                             "enc_bytes": int(row["enc"] or 0)}
        got = (int(row["rows"] or 0), int(row["x"] or 0))
        self._check(got == self.digest,
                    f"lineage rows/hash {got} != source {self.digest}")

    def scan(self) -> None:
        from parquet_python_spark.operators import pipeline as pl

        took, got = self._timed("scan", lambda: self.digest_of(
            pl.decode_blocks(pl.read_blocks(self.spark, self.store))))
        if took is None:
            return
        self._check(got == self.digest,
                    f"decoded rows/hash {got} != source {self.digest}")
        raw = self.last_summary.get("raw_bytes", 0)
        self.samples.setdefault("scan_mbps", []).append(raw / 1e6 / took)

    def q1(self) -> None:
        from perfbench import sources
        from parquet_python_spark.operators import pipeline as pl

        if self.kind == "lineitem":
            cols = sources.Q1_LINEITEM_COLS
            filters = [("l_shipdate", "<=", sources.Q1_SHIPDATE_MAX)]
        else:
            cols = ["repo", "lang", "content"]
            filters = [("repo", "==", self.q1_key)]
        took, got = self._timed("q1", lambda: self._q1_rows(self.q1_frame(
            pl.decode_blocks(pl.read_blocks(self.spark, self.store),
                             columns=cols, filters=filters))))
        if took is not None:
            self._check(self.same_q1(got, self.q1_expected),
                        f"q1 {got} != {self.q1_expected}")

    def lookup(self, key: tuple):
        """One point lookup; returns (seconds, Arrow result) or (None, None)."""
        from perfbench import sources
        from parquet_python_spark.operators import pipeline as pl

        took, got = self._timed("lookup", lambda: pl.decode_blocks(
            pl.read_blocks(self.spark, self.store),
            filters=[(key[0], "==", key[1])]).toArrow())
        if took is not None:
            rows = sources.normalize_rows(got.select(self.cols))
            self._check(rows == self.lookup_expected[key],
                        f"lookup {key}: {len(rows)} rows != "
                        f"{len(self.lookup_expected[key])} expected")
        return took, got

    def warm_up(self) -> None:
        """One untimed round on the full source, with its own lookup key:
        every Python worker starts and imports the package, and the JVM
        compiles the hot paths of every operation before timing.  A slice
        of the source is not enough: after one, the first two or three
        measured rounds ran 1.3-1.6x slower than the later ones.  Results
        and checks are discarded."""
        self.write_cycle()
        self.scan()
        self.q1()
        self.lookup(self.warm_key)
        self.reset()

    def reset(self) -> None:
        """Drop samples and counts taken so far."""
        self.samples, self.attempted, self.failed, self.failures = {}, 0, 0, []

    def round(self, i: int) -> None:
        """One write cycle, then the reads on its store."""
        self.write_cycle()
        self.scan()
        self.q1()
        for k in range(LOOKUPS_PER_ROUND):
            n = i * LOOKUPS_PER_ROUND + k
            self.lookup(self.keys[n % len(self.keys)])
