"""The traced run: the same rounds as the timed run, plus per-layer metrics.

Module functions of the package are wrapped in spans for the window (see
``trace.Tracer.install``); afterwards the SQL status store's executions
are attached to those spans and their plan-node metrics summed per
operation type.  Probes that need extra Spark jobs (file counts, part
sizes, pruning) run between operations, outside every op span, so they
never count as an operation's time.
"""
from __future__ import annotations

import json
import os
import statistics

from perfbench import micro, sources, trace
from perfbench.workload import Workload

PRUNE_PROBES = 4  # lookups per run whose pruning is measured


class TracedWorkload(Workload):

    def reset(self) -> None:
        super().reset()
        self.files_per_ingest: list[int] = []
        self.part_rows: list[list[int]] = []
        self.kept: list[float] = []
        self.rows_returned = 0

    def on_encoded(self) -> None:
        from parquet_python_spark.operators import pipeline as pl

        self.files_per_ingest.append(sum(
            len(fs) for _, _, fs in os.walk(self.store)))
        self.part_rows.append([int(r[0]) for r in pl.read_lineage(
            self.spark, self.store).select("n_rows").collect()])

    def lookup(self, key: tuple):
        from parquet_python_spark.operators import pipeline as pl

        n_failed = self.failed
        took, got = super().lookup(key)
        if took is None or self.failed > n_failed:
            return took, got
        self.rows_returned += got.num_rows
        if len(self.kept) < PRUNE_PROBES:
            blocks = pl.read_blocks(self.spark, self.store)
            kept = pl.prune_blocks(blocks, [(key[0], "==", key[1])]).count()
            self.kept.append(kept / max(blocks.count(), 1))
        return took, got

    # ---- metrics

    def pred_err(self) -> float:
        """Median |predicted - actual| / actual size of the chosen codec,
        read back from the final store's per-block selector metrics."""
        from parquet_python_spark.operators import pipeline as pl

        errs = []
        for codec, size, metrics in pl.read_blocks(self.spark, self.store) \
                .select("codec", "encoded_size", "metrics").collect():
            pred = (json.loads(metrics or "{}").get("predicted_sizes") or {}
                    ).get(codec)
            if pred is not None and size:
                errs.append(abs(pred - size) / size)
        return statistics.median(errs) if errs else 0.0

    def layer_metrics(self, first_exec: int, gc_s: float, window_s: float):
        tr = self.tracer
        execs = trace.executions(self.spark, first_exec)
        trace.attach_executions(tr, execs)
        led = trace.ledger(tr)
        n = {op: max(led.get(op, {}).get("ops", 0), 1)
             for op in ("encode", "compact", "scan", "q1", "lookup")}

        def ex(op):
            return led.get(op, {}).get("execs", [])

        def span_total(name):
            return sum(s["end"] - s["start"] for s in tr.spans
                       if s["name"] == name)

        def exec_total(op, where):
            return sum(e["done"] - e["submit"] for e in ex(op)
                       if any(where in nd["tooltip"] for nd in e["nodes"]
                              if "InsertInto" in nd["name"]))

        def arrow(op, metric):
            return trace.node_sum(ex(op), trace.is_arrow, metric)

        def boot(op):
            return (arrow(op, "time to start Python workers")
                    + arrow(op, "time to initialize Python workers"))

        def exchange_mb(op):
            return trace.node_sum(ex(op), lambda nm: nm == "Exchange",
                                  "data size") / 1e6

        # the decode metadata job is the execution decode_blocks itself runs
        # (schema and coverage collect) before the caller's action
        meta = sum(s["end"] - s["start"] for s in tr.spans
                   if "exec" in s and tr.spans[s["parent"]]["name"]
                   == "pipeline.decode_plan"
                   and self._op_of(s) == "scan")
        udf_rows = trace.node_sum(ex("lookup"), trace.is_arrow,
                                  "number of output rows")
        mom = statistics.median(max(p) / (sum(p) / len(p))
                                for p in self.part_rows if p)
        store_bytes = sum(os.path.getsize(os.path.join(d, f))
                          for d, _, fs in os.walk(self.store) for f in fs)
        raw = max(self.last_summary.get("raw_bytes", 0), 1)
        mb = micro.run([
            (sources.code_table(self.seed), sources.CODE_COLS, False),
            (sources.lineitem_table(self.seed), sources.LINEITEM_COLS, True)])

        m = {
            "partitioning.plan_s": (span_total("partitioning.plan")
                                    / n["encode"], "s"),
            "partitioning.parts": (statistics.median(
                len(p) for p in self.part_rows), "count"),
            "partitioning.max_over_mean_rows": (mom, "ratio"),
            "selector.choose_s": (mb.pop("selector.choose_s"), "s"),
            "selector.calls": (mb.pop("selector.calls"), "count"),
            "selector.pred_err": (self.pred_err(), "ratio"),
        }
        for k, v in mb.items():
            m[k] = (v, "ms" if k.endswith("_ms") else "MB/s"
                    if k.endswith("_mbps") else "ratio")
        m.update({
            "pipeline.encode.python_run_s": (
                arrow("encode", "time to run Python workers") / n["encode"],
                "s"),
            "pipeline.encode.python_boot_s": (boot("encode") / n["encode"],
                                              "s"),
            "pipeline.encode.to_python_mb": (
                arrow("encode", "data sent to Python workers") / 1e6
                / n["encode"], "MB"),
            "pipeline.encode.from_python_mb": (
                arrow("encode", "data returned from Python workers") / 1e6
                / n["encode"], "MB"),
            "pipeline.write.written_mb": (trace.node_sum(
                ex("encode"), lambda nm: "InsertInto" in nm,
                "written output", "/blocks") / 1e6 / n["encode"], "MB"),
            "pipeline.write.commit_s": ((trace.node_sum(
                ex("encode"), lambda nm: "InsertInto" in nm,
                "task commit time", "/blocks") + trace.node_sum(
                ex("encode"), lambda nm: "InsertInto" in nm,
                "job commit time", "/blocks")) / n["encode"], "s"),
            "pipeline.lineage_s": ((exec_total("encode", "/lineage")
                                    + exec_total("encode", "/manifests"))
                                   / n["encode"], "s"),
            "pipeline.compact.python_run_s": (
                arrow("compact", "time to run Python workers")
                / n["compact"], "s"),
            "pipeline.compact.shuffle_mb": (exchange_mb("compact")
                                            / n["compact"], "MB"),
            "pipeline.decode.metadata_s": (meta / n["scan"], "s"),
            "pipeline.decode.shuffle_mb": (exchange_mb("scan") / n["scan"],
                                           "MB"),
            "pipeline.decode.python_run_s": (
                arrow("scan", "time to run Python workers") / n["scan"], "s"),
            "pipeline.decode.python_boot_s": (boot("scan") / n["scan"], "s"),
            "pipeline.decode.from_python_mb": (
                arrow("scan", "data returned from Python workers") / 1e6
                / n["scan"], "MB"),
            "pipeline.prune.blocks_kept_frac": (
                statistics.median(self.kept) if self.kept else 0.0, "ratio"),
            "pipeline.prune.rows_decoded_per_row_returned": (
                udf_rows / max(self.rows_returned, 1), "ratio"),
            "pipeline.executions_per_op": (
                len(ex("lookup")) / n["lookup"], "count"),
            "fs.store_bytes_per_raw_byte": (store_bytes / raw, "ratio"),
            "fs.files_per_ingest": (statistics.median(
                self.files_per_ingest), "count"),
            "jvm.gc_s": (gc_s, "s"),
            "trace.overhead_frac": (tr.cost_s / window_s, "ratio"),
        })
        for op in ("encode", "compact", "scan", "q1", "lookup"):
            o = led.get(op)
            m[f"trace.{op}.attributed_frac"] = (
                1.0 - o["unattributed_s"] / o["wall_s"] if o else 0.0,
                "ratio")
        detail = {
            "ledger": {op: {k: v for k, v in o.items() if k != "execs"}
                       for op, o in led.items()},
            "executions": len(execs), "unpatched": tr.missing,
            "tracing_cost_s": tr.cost_s,
        }
        return m, detail

    def _op_of(self, span: dict) -> str | None:
        spans = self.tracer.spans
        while span["parent"] is not None:
            span = spans[span["parent"]]
        return span["name"][3:] if span["name"].startswith("op.") else None
