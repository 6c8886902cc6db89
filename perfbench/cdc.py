"""The CDC workloads: a closed-loop streaming replay through `CdcPipeline`
with the shipped Spark configuration, and the correctness gate.

Closed loop, one client: each log file is one micro-batch, and the next
file is placed in the source directory only after the previous batch
committed, until `--seconds` have passed. The first file(s) are set-up
batches (warmup, or the initial snapshot on `tail_fanout`), not measured.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import threading
import time

from pyspark.sql import functions as F

from ton_etl_spark.cdc.pipeline import CdcPipeline
from ton_etl_spark.datagen import content_for
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.oracle import reduce_events
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

from inputs import MATURITY, EventLog

MTIME0 = 1_700_000_000


def build(spark, workload: str, root: str, event_dir: str) -> CdcPipeline:
    """Create the workload's tables and pipeline under `root`."""
    table = LakeTable.create(
        spark, f"{root}/lake", REPOS_SCHEMA, REPOS_KEY_FIELDS, "lsn",
        bucket_count=16,
    )
    kw = {}
    if workload == "tail_fanout":
        from ton_etl_spark.cdc.blacklist import LearnedBlacklist
        from ton_etl_spark.cdc.curation import NovelContentFeed
        from ton_etl_spark.cdc.silver import SilverFanout
        from ton_etl_spark.gold import GoldDecayedPrice

        fanout = SilverFanout(spark, f"{root}/silver")
        kw = dict(
            maturity=MATURITY,
            fanout=fanout,
            gold=GoldDecayedPrice(
                spark, f"{root}/gold", fanout.tables["trades"], window_s=600
            ),
            blacklist=LearnedBlacklist(min_batches=2),
            novel_feed=NovelContentFeed(spark, table, f"{root}/feed"),
        )
    return CdcPipeline(
        spark, table, event_dir, f"{root}/cp", max_files_per_trigger=1, **kw
    )


def read_progress(path: str) -> dict[int, dict]:
    """batch id -> durationMs from the pipeline's listener file."""
    out = {}
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                d = json.loads(line)
                if d.get("event") == "progress":
                    out[d["batch_id"]] = d["duration_ms"]
    return out


class ClosedLoop:
    """Drives one streaming query of `pipe` over `log`, one file per
    micro-batch, and records each committed batch."""

    def __init__(self, pipe: CdcPipeline, log: EventLog, event_dir: str,
                 metrics_path: str, record):
        self.pipe, self.log, self.event_dir = pipe, log, event_dir
        self.metrics_path = metrics_path
        self.record = record
        self.fed = 0
        self.completed: list[int] = []
        self.errors: list[str] = []
        self.deadline = float("inf")
        self.warm = threading.Event()
        self.done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        os.makedirs(event_dir, exist_ok=True)
        inner = pipe._handle

        def handle(batch_df, batch_id):
            try:
                inner(batch_df, batch_id)
            except BaseException as e:
                self.errors.append(f"batch {batch_id}: {e!r}"[:2000])
                self.warm.set()
                self.done.set()
                raise
            self.completed.append(batch_id)
            self.record({"event": "batch", "batch_id": batch_id,
                         "events": log.rows[batch_id], "t": time.time()})
            if batch_id < log.shape.setup_files - 1:
                self.feed()
            elif batch_id == log.shape.setup_files - 1:
                self.warm.set()
            elif time.time() < self.deadline and self.fed < len(log.files):
                self.feed()
            else:
                self.done.set()

        pipe._handle = handle

    def feed(self) -> None:
        i = self.fed
        tmp = os.path.join(self.event_dir, f".f-{i:05d}.tmp")
        shutil.copyfile(self.log.files[i], tmp)
        os.utime(tmp, (MTIME0 + i, MTIME0 + i))
        os.replace(tmp, os.path.join(self.event_dir, f"f-{i:05d}.parquet"))
        self.fed += 1
        self.record({"event": "fed", "batch_id": i, "t": time.time()})

    def _run(self) -> None:
        try:
            self.pipe.run_streaming(
                available_now=False, metrics_path=self.metrics_path
            )
        except BaseException as e:
            self.errors.append(f"stream: {e!r}"[:2000])
        finally:
            self.warm.set()
            self.done.set()

    def _await_progress(self, batch_id: int, until: float) -> None:
        while time.time() < until and batch_id not in read_progress(self.metrics_path):
            if not self._thread.is_alive():
                return
            time.sleep(0.05)

    def warmup(self, until: float) -> None:
        """Apply the set-up batches."""
        self.feed()
        self._thread.start()
        self.warm.wait(max(0.0, until - time.time()))
        self._await_progress(self.log.shape.setup_files - 1, until)

    def measure(self, seconds: float, until: float) -> None:
        self.deadline = time.time() + seconds
        if self.fed < len(self.log.files):
            self.feed()
        else:
            self.done.set()
        self.done.wait(max(0.0, until - time.time()))
        if self.completed:
            self._await_progress(self.completed[-1], until)

    def stop(self) -> None:
        for q in self.pipe.spark.streams.active:
            q.stop()
        self._thread.join(60)

    def set_up(self) -> bool:
        return self.log.shape.setup_files - 1 in self.completed

    def measured(self) -> list[int]:
        return [b for b in self.completed if b >= self.log.shape.setup_files]


# -- correctness ---------------------------------------------------------------


def _digest(lines: list[str]) -> str:
    return hashlib.sha256("\n".join(sorted(lines)).encode()).hexdigest()


def oracle_main(events: list[dict]) -> dict:
    """Digest of `oracle.reduce_events` over `events`, in the row form of
    `table_main`."""
    state, cols = reduce_events(events)
    data_cols = [c for c in cols if c not in ("repo", "path", "content")]
    lines = []
    for (repo, path), row in state.items():
        c = row.get("content")
        sha = hashlib.sha256(c.encode()).hexdigest() if c is not None else None
        lines.append(json.dumps([repo, path, sha, *[row.get(k) for k in data_cols]]))
    return {"sha": _digest(lines), "rows": len(lines)}


def table_main(table: LakeTable) -> tuple[dict, set]:
    """(digest of the live rows, set of their content shas)."""
    df = table.read()
    cols = [c for c in df.columns if c not in ("repo", "path", "content")]
    rows = df.select(
        "repo", "path", F.sha2("content", 256).alias("sha"), *cols
    ).collect()
    lines = [json.dumps([r["repo"], r["path"], r["sha"], *[r[c] for c in cols]])
             for r in rows]
    return {"sha": _digest(lines), "rows": len(lines)}, {r["sha"] for r in rows}


def stored_bytes(table: LakeTable) -> int:
    m = table.manifest()
    return sum(
        os.path.getsize(os.path.join(table.root, p))
        for files in m["buckets"].values()
        for p in files
    )


def _fact_reference(events: list[dict]) -> tuple[dict, dict, int]:
    """Sequential decode of fact events (dedup by lsn), as the silver
    tests' reference: trades by lsn, metadata LWW per repo, comments."""
    import base64

    seen: dict[int, dict] = {}
    for e in events:
        seen.setdefault(e["lsn"], e)
    trades, meta, n_comments = {}, {}, 0
    for lsn in sorted(seen):
        e = seen[lsn]
        if e["event_type"] == "trade_event":
            o = json.loads(e["payload"])
            amount = int.from_bytes(
                base64.b64decode(o["amount_value"]), "big", signed=True
            ) // (10 ** o["amount_scale"])
            trades[lsn] = (o["asset"], o["side"], amount)
        elif e["event_type"] == "metadata_event":
            meta[e["repo"]] = lsn
        elif e["event_type"] == "comment_event":
            n_comments += 1
    return trades, meta, n_comments


def check_fanout(pipe: CdcPipeline, events: list[dict], main_shas: set) -> dict:
    """Silver, gold and novel-feed checks of `tail_fanout`; name -> ok."""
    tables = pipe.fanout.tables
    trades, meta, n_comments = _fact_reference(events)
    got_trades = {
        r["trade_id"]: (r["asset"], r["side"], int(r["amount"]))
        for r in tables["trades"].read().collect()
    }
    got_meta = {r["repo"]: r["lsn"] for r in tables["metadata"].read().collect()}
    gold = pipe.gold
    inc = {(r["asset"], r["window_start"]): round(r["decayed_avg"], 6)
           for r in gold.table.read().collect()}
    full = {(r["asset"], r["window_start"]): round(r["decayed_avg"], 6)
            for r in gold.full_recompute().collect()}
    # the feed holds the first occurrence of every content sha ever
    # committed: each live content is in it, and it holds nothing that
    # no upsert carried
    sink = [r["content_sha"] for r in pipe.novel_feed.sink.read().collect()]
    carried = {
        hashlib.sha256(content_for(e["repo"], e["path"], e["lsn"]).encode()).hexdigest()
        for e in events if e["event_type"] == "file_upsert"
    }
    return {
        "silver_trades": got_trades == trades,
        "silver_metadata": got_meta == meta,
        "silver_comments": tables["comments"].read().count() == n_comments,
        "gold_decayed_price": inc == full,
        "feed_covers_table": main_shas <= set(sink),
        "feed_only_carried": set(sink) <= carried and len(sink) == len(set(sink)),
    }


def verify(pipe: CdcPipeline, log: EventLog, workload: str, n_files: int) -> dict:
    """Run the correctness gate on a finished run; returns the checks
    (name -> ok) plus the live row count and the expected digest."""
    events = log.events(n_files)
    key = f"main-{n_files}"
    if workload == "tail_fanout":
        # the maturity gate holds back events above its last cutoff
        cutoff = pipe.gate.cutoff_for_batch(n_files - 1)
        events = [e for e in events if cutoff is not None and e["lsn"] <= cutoff]
        key += f"-{cutoff}"
    want = log.cached(key, lambda: oracle_main(events))
    got, shas = table_main(pipe.table)
    checks = {"main_table": got == want}
    if workload == "tail_fanout":
        checks.update(check_fanout(pipe, events, shas))
    return {"checks": checks, "rows": got["rows"], "expected": want}
