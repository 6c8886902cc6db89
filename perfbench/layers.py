"""Per-layer metrics of the traced run.

`LayerTrace.install` puts spans around the public entry points of each
layer of a built `CdcPipeline`; `LayerTrace.metrics` folds them, the
Spark event log and the pipeline's listener file into the `per_layer`
metrics of BENCHMARK.json. Every metric is reported on every workload;
a layer the workload does not run reads 0.

Plans are lazy, so an entry point's span holds the Spark jobs its call
submits, not the work of DataFrames it returns. The decode cost is
therefore taken by a probe span that materializes the upsert route of
the same batch, and the batch's winners are counted by the benchmark
(`merge_into` reports the pre-dedup row bound when the pipeline passes
its precomputed stats).
"""

from __future__ import annotations

import os
import statistics

from pyspark.sql import functions as F

from spans import Tracer, fold, read_event_log

SPAN_NAMES = (
    "batch", "decode_probe", "winners_probe", "apply", "control", "rename",
    "skew", "merge", "write", "commit", "silver", "gold", "feed",
    "feed_filter", "feed_merge", "gate_commit",
)

# name -> (unit, how the per-batch values are combined over a run)
METRICS: dict[str, tuple[str, str]] = {
    "stream.plan_ms": ("ms", "median"),
    "checkpoint.ms": ("ms", "median"),
    "stream.outside_apply_ms": ("ms", "median"),
    "control.ms": ("ms", "median"),
    "control.cpu_ms": ("ms", "median"),
    "rename.ms": ("ms", "median"),
    "rename.count": ("count", "sum"),
    "skew.ms": ("ms", "median"),
    "skew.salted_batches": ("count", "sum"),
    "decode.rows": ("rows", "median"),
    "decode.useful_ratio": ("ratio", "pooled"),
    "decode.task_ms": ("ms", "median"),
    "decode.malformed_rows": ("rows", "median"),
    "dedup.rows_out": ("rows", "median"),
    "dedup.shuffle_write_bytes": ("B", "median"),
    "merge.ms": ("ms", "median"),
    "merge.broadcast_share": ("ratio", "mean"),
    "merge.rewrite_amplification": ("ratio", "pooled"),
    "merge.shuffle_read_bytes": ("B", "median"),
    "merge.spill_bytes": ("B", "median"),
    "write.ms": ("ms", "median"),
    "write.bytes": ("B", "median"),
    "write.files": ("count", "median"),
    "commit.ms": ("ms", "median"),
    "manifest.bytes": ("B", "median"),
    "silver.ms": ("ms", "median"),
    "silver.rows": ("rows", "median"),
    "gold.ms": ("ms", "median"),
    "feed.ms": ("ms", "median"),
    "feed.novel_ratio": ("ratio", "pooled"),
    "gate.commit_ms": ("ms", "median"),
    "gate.pending_rows": ("rows", "median"),
    "blacklist.skipped_events": ("count", "sum"),
    "tasks.cpu_ms": ("ms", "median"),
    "jvm.gc_ms": ("ms", "median"),
    "cpu_busy_ratio": ("ratio", "pooled"),
    **{f"self.{n}.ms": ("ms", "median") for n in SPAN_NAMES},
    "batch.count": ("count", "sum"),
    "batch.s_max": ("s", "max"),
    "trace.events_per_s": ("1/s", "pooled"),
    "trace.overhead_ratio": ("ratio", "overhead"),
    "mem.peak_rss_mb": ("MB", "given"),
    "events_per_cpu_s": ("1/s", "given"),
    "host.steal_ratio": ("ratio", "given"),
}

# pooled ratios: metric -> (numerator key, denominator key)
POOLED = {
    "decode.useful_ratio": ("dedup.rows_out", "decode.rows"),
    "merge.rewrite_amplification": ("_rows_rewritten", "dedup.rows_out"),
    "feed.novel_ratio": ("_novel_rows", "_rows_rewritten"),
    "cpu_busy_ratio": ("tasks.cpu_ms", "_core_ms"),
    "trace.events_per_s": ("_events", "_trigger_s"),
}

CORES = 4


class LayerTrace:
    def __init__(self, spark, pipe):
        self.tracer = Tracer(spark)
        self.pipe = pipe
        self.main_root = pipe.table.root

    def install(self) -> None:
        import ton_etl_spark.cdc.curation as curation
        import ton_etl_spark.cdc.pipeline as pipeline
        import ton_etl_spark.cdc.silver as silver
        import ton_etl_spark.gold as gold
        from ton_etl_spark.cdc.skew import HotKeyMonitor
        from ton_etl_spark.lake.dedup_index import DedupIndex
        from ton_etl_spark.lake.table import LakeTable

        t, pipe = self.tracer, self.pipe
        handle = pipe._handle

        def batch(batch_df, batch_id):
            t.trace_id = batch_id
            with t.span("batch"):
                handle(batch_df, batch_id)

        t.replace(pipe, "_handle", batch)

        apply_batch = pipeline.apply_batch

        def apply(spark, table, events, *a, **kw):
            self._probe(events, kw)
            with t.span("apply") as s:
                res = apply_batch(spark, table, events, *a, **kw)
            tm = res.get("timings", {})
            t0 = res["t_wall"][0] if "t_wall" in res else s.t0
            t1 = t0 + tm.get("control_ms", 0) / 1000.0
            t.add("control", s, t0, t1)
            t.add("rename", s, t1, t1 + tm.get("rename_ms", 0) / 1000.0)
            s.attrs.update(
                renames=res.get("n_renames", 0),
                salted=res.get("salt") is not None,
                broadcast=res.get("strategy") == "broadcast",
                rows_rewritten=res.get("rows_in_affected_buckets_after", 0),
            )
            return res

        t.replace(pipeline, "apply_batch", apply)
        t.wrap(pipeline, "merge_into", "merge")
        t.wrap(HotKeyMonitor, "salt_for", "skew")

        def on_write(s, args, kwargs, res):
            tbl, (file_map, _, _) = args[0], res
            s.attrs["main"] = tbl.root == self.main_root
            paths = [p for fl in file_map.values() for p in fl]
            s.attrs["files"] = len(paths)
            s.attrs["bytes"] = sum(
                os.path.getsize(os.path.join(tbl.root, p)) for p in paths
            )

        def on_commit(s, args, kwargs, res):
            tbl, manifest = args[0], args[1]
            s.attrs["main"] = tbl.root == self.main_root
            s.attrs["bytes"] = os.path.getsize(os.path.join(
                tbl.root, "_versions", f"v{manifest['version']}.json"
            ))

        t.wrap(LakeTable, "write_buckets", "write", on_write)
        t.wrap(LakeTable, "commit", "commit", on_commit)
        if pipe.fanout is not None:
            def on_silver(s, args, kwargs, res):
                s.attrs["rows"] = sum(
                    r.get("updated_keys", 0) for r in res.values()
                )

            t.wrap(silver.SilverFanout, "apply", "silver", on_silver)
        if pipe.gold is not None:
            t.wrap(gold.GoldDecayedPrice, "update", "gold")
        if pipe.novel_feed is not None:
            def on_sink(s, args, kwargs, res):
                s.attrs["novel"] = res.get("updated_keys", 0)

            t.wrap(curation.NovelContentFeed, "run", "feed")
            t.wrap(DedupIndex, "filter_novel", "feed_filter")
            t.wrap(curation, "merge_into", "feed_merge", on_sink)
        if pipe.gate is not None:
            def on_gate(s, args, kwargs, res):
                s.attrs["pending"] = args[3]

            t.wrap(pipe.gate, "commit", "gate_commit", on_gate)

    def _probe(self, events, kw) -> None:
        """Materialize the upsert decode of the batch `apply_batch` is
        about to apply, and count its winners (distinct keys of its
        main-table events)."""
        from ton_etl_spark.cdc.dispatch import default_registry
        from ton_etl_spark.cdc.pipeline import REPO_EVENT_TYPES

        t = self.tracer
        ev = events
        if kw.get("gated"):
            ml = kw.get("mature_lsn")
            ev = ev.filter(F.lit(False) if ml is None else F.col("lsn") <= ml)
        cols = self.pipe.table.schema().fieldNames()
        reg = default_registry("language" if "language" in cols else "lang")
        bl = self.pipe.blacklist
        active = sorted(bl.active) if bl is not None else []
        in_active = F.col("repo").isin(active) if active else F.lit(False)
        with t.span("decode_probe") as s:
            r = reg.route(ev, reg.get("file_upsert")).agg(
                F.count(F.lit(1)).alias("rows"),
                F.count(F.when(F.col("_malformed"), 1)).alias("bad"),
                F.count(F.when(F.col("_malformed") & in_active, 1)).alias("skip"),
                # consuming both UDF outputs keeps column pruning from
                # skipping the decode
                F.sum(F.length("content")).alias("chars"),
                F.sum("size_bytes").alias("size"),
            ).collect()[0]
            s.attrs.update(rows=r["rows"], bad=r["bad"], skip=r["skip"])
        with t.span("winners_probe") as s:
            s.attrs["winners"] = (
                ev.filter(F.col("event_type").isin(*REPO_EVENT_TYPES))
                .select("repo", "path").distinct().count()
            )

    def metrics(self, event_log_dir: str, progress: dict, batches: list[int],
                rows: list[int], untraced_eps: float | None,
                given: dict) -> dict:
        """Per-layer metrics over the measured `batches` (rows[b] events
        each); `untraced_eps` is the untraced events_per_s on the same
        inputs, when a record of one exists; `given` holds the metrics
        the caller measured itself."""
        t = self.tracer
        jobs, per_job = read_event_log(event_log_dir)
        incl = fold(t, jobs, per_job)
        kids = t.children()
        per_batch = []
        for b in batches:
            spans = [s for s in t.spans if s.trace == b]
            per_batch.append(self._batch(b, spans, incl, kids, progress.get(b, {}), rows[b]))
        out = {}
        for name, (unit, how) in METRICS.items():
            vals = [d.get(name, 0.0) for d in per_batch]
            if how == "median":
                v = statistics.median(vals) if vals else 0.0
            elif how == "sum":
                v = sum(vals)
            elif how == "max":
                v = max(vals, default=0.0)
            elif how == "mean":
                v = sum(vals) / len(vals) if vals else 0.0
            elif how == "given":
                v = given[name]
            elif how == "pooled":
                num, den = POOLED[name]
                d = sum(x.get(den, 0.0) for x in per_batch)
                v = sum(x.get(num, 0.0) for x in per_batch) / d if d else 0.0
            else:  # "overhead": untraced / traced events_per_s
                trig = sum(x["_trigger_s"] for x in per_batch)
                ev = sum(x["_events"] for x in per_batch)
                v = untraced_eps / (ev / trig) if untraced_eps and ev and trig else 0.0
            out[name] = {"value": v, "unit": unit}
        return out

    def _batch(self, b, spans, incl, kids, prog, n_events) -> dict:
        def named(n, main=None):
            return [s for s in spans if s.name == n
                    and (main is None or s.attrs.get("main") == main)]

        def ms(n, main=None):
            return sum((s.t1 - s.t0) * 1000.0 for s in named(n, main))

        def task(n, key, main=None):
            return sum(incl.get(s.id, {}).get(key, 0.0) for s in named(n, main))

        def attr(n, key, main=None):
            return sum(s.attrs.get(key, 0) for s in named(n, main))

        probes = ("decode_probe", "winners_probe")
        apply = named("apply")
        d = {
            "stream.plan_ms": prog.get("queryPlanning", 0),
            "checkpoint.ms": prog.get("walCommit", 0) + prog.get("commitOffsets", 0),
            "stream.outside_apply_ms": prog.get("addBatch", 0)
            - ms("apply") - sum(ms(p) for p in probes),
            "control.ms": ms("control"),
            "control.cpu_ms": task("control", "cpu_ms"),
            "rename.ms": ms("rename"),
            "rename.count": attr("apply", "renames"),
            "skew.ms": ms("skew"),
            "skew.salted_batches": attr("apply", "salted"),
            "decode.rows": attr("decode_probe", "rows"),
            "decode.task_ms": task("decode_probe", "run_ms"),
            "decode.malformed_rows": attr("decode_probe", "bad"),
            "dedup.rows_out": attr("winners_probe", "winners"),
            "dedup.shuffle_write_bytes": task("merge", "shuffle_write_bytes"),
            "merge.ms": ms("merge"),
            "merge.broadcast_share": attr("apply", "broadcast") / max(len(apply), 1),
            "merge.shuffle_read_bytes": task("merge", "shuffle_read_bytes"),
            "merge.spill_bytes": task("merge", "spill_bytes"),
            "write.ms": ms("write", main=True),
            "write.bytes": attr("write", "bytes", main=True),
            "write.files": attr("write", "files", main=True),
            "commit.ms": ms("commit", main=True),
            "manifest.bytes": attr("commit", "bytes", main=True),
            "silver.ms": ms("silver"),
            "silver.rows": attr("silver", "rows"),
            "gold.ms": ms("gold"),
            "feed.ms": ms("feed"),
            "gate.commit_ms": ms("gate_commit"),
            "gate.pending_rows": attr("gate_commit", "pending"),
            "blacklist.skipped_events": attr("decode_probe", "skip"),
            "tasks.cpu_ms": task("batch", "cpu_ms") - sum(task(p, "cpu_ms") for p in probes),
            "jvm.gc_ms": task("batch", "gc_ms") - sum(task(p, "gc_ms") for p in probes),
            "batch.count": 1,
            "batch.s_max": prog.get("triggerExecution", 0) / 1000.0,
            "_rows_rewritten": attr("apply", "rows_rewritten"),
            "_novel_rows": attr("feed_merge", "novel"),
            "_core_ms": (ms("batch") - sum(ms(p) for p in probes)) * CORES,
            "_events": n_events,
            "_trigger_s": prog.get("triggerExecution", 0) / 1000.0,
        }
        for n in SPAN_NAMES:
            d[f"self.{n}.ms"] = sum(t_self for t_self in
                                    (self.tracer.self_ms(s, kids) for s in named(n)))
        return d
