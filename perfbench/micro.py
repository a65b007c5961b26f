"""Single-thread replay of the selector, codec kernels, Bloom builds and
block compression over the pages of both generated sources.

Pages are cut per column the way the encode UDF cuts them (``page_bytes``
of raw values per page, at least 1024 rows).  Every codec the selector
picks on either source gets an encode / decode MB/s and a ratio, so the
same metric names exist on every workload.
"""
from __future__ import annotations

import time

import pyarrow as pa

REPS = 3
# the codecs the selector chooses on the two sources today; a codec outside
# this set (delta, rle, bss, plain, ...) has no end-to-end signal yet
CODECS = ("linedict", "fsst", "hexpack", "dict", "bitpack", "decfloat")


def pages(table: pa.Table, columns: list[str], page_bytes: int):
    for c in columns:
        col = table[c].combine_chunks()
        per_row = max(col.nbytes / max(len(col), 1), 1e-9)
        step = max(int(page_bytes / per_row), 1024)
        for lo in range(0, len(col), step):
            yield c, col.slice(lo, step)


def _median_time(fn, reps: int = REPS) -> tuple[float, object]:
    """Median of ``reps`` timed calls (odd ``reps``)."""
    times, out = [], None
    for _ in range(reps):
        t0 = time.perf_counter()
        out = fn()
        times.append(time.perf_counter() - t0)
    return sorted(times)[len(times) // 2], out


def run(tables: list[tuple[pa.Table, list[str], bool]]) -> dict:
    """``tables``: (source, encoded columns, whether blocks are compressed
    downstream, as the workload's ``compression`` makes them)."""
    from parquet_python_spark.kernels import bloom
    from parquet_python_spark.kernels import compression as comp
    from parquet_python_spark.operators import encoder as enc
    from parquet_python_spark.operators import pipeline as pl
    from parquet_python_spark.operators import selector

    per = {c: {"raw": 0, "enc": 0, "enc_s": 0.0, "dec_s": 0.0}
           for c in CODECS}
    choose_s, calls, bloom_s, blooms = 0.0, 0, 0.0, 0
    gz = {"raw": 0, "enc": 0, "c_s": 0.0, "d_s": 0.0}
    for table, columns, compressed in tables:
        hints: dict = {}  # per column, as one encode worker shares them
        for col, arr in pages(table, columns, pl.DEFAULT_PAGE_BYTES):
            t0 = time.perf_counter()
            choice = selector.choose(arr, compressed=compressed,
                                     hints=hints.setdefault(col, {}))
            choose_s += time.perf_counter() - t0
            calls += 1
            name = choice.codec_name
            enc_s, blk = _median_time(lambda: enc.encode_block(arr, choice.codec))
            dec_s, out = _median_time(lambda: enc.decode_block(blk))
            if not out.equals(arr) and not out.equals(arr.cast(out.type)):
                raise AssertionError(f"kernel roundtrip differs: {col}/{name}")
            if name in per:
                p = per[name]
                p["raw"] += arr.nbytes
                p["enc"] += len(blk)
                p["enc_s"] += enc_s
                p["dec_s"] += dec_s
            is_str = pa.types.is_string(arr.type)
            t0 = time.perf_counter()
            bloom.build(arr, is_str)
            bloom_s += time.perf_counter() - t0
            blooms += 1
            c_s, packed = _median_time(lambda: comp.compress(blk, comp.GZIP))
            d_s, _ = _median_time(lambda: comp.decompress(packed, comp.GZIP))
            gz["raw"] += len(blk)
            gz["enc"] += len(packed)
            gz["c_s"] += c_s
            gz["d_s"] += d_s
    out = {"selector.choose_s": choose_s, "selector.calls": calls,
           "kernels.bloom.build_ms": 1000.0 * bloom_s / max(blooms, 1),
           "compression.gzip.compress_mbps": gz["raw"] / 1e6 / gz["c_s"],
           "compression.gzip.decompress_mbps": gz["raw"] / 1e6 / gz["d_s"],
           "compression.gzip.ratio": gz["enc"] / gz["raw"]}
    for name, p in per.items():
        if not p["raw"]:
            raise AssertionError(f"selector no longer picks {name} on the "
                                 "benchmark sources; update CODECS")
        out[f"kernels.{name}.encode_mbps"] = p["raw"] / 1e6 / p["enc_s"]
        out[f"kernels.{name}.decode_mbps"] = p["raw"] / 1e6 / p["dec_s"]
        out[f"kernels.{name}.ratio"] = p["enc"] / p["raw"]
    return out
