"""Everything-on end-to-end: maturity gate + silver fan-out + gold +
novel-content feed + learned blacklist + bot repos + disordered
renames + kill/resume, all in one streaming run — the closest
in-sandbox analogue of the production topology (reference: all parsers
+ exporter + datamart running against one Debezium stream)."""

import os
import sys
import threading
import time

import pytest
from pyspark.sql import functions as F

import ton_etl_spark.cdc.silver as silver_mod
from ton_etl_spark.cdc.blacklist import LearnedBlacklist
from ton_etl_spark.cdc.curation import NovelContentFeed
from ton_etl_spark.cdc.pipeline import CdcPipeline, run_sink_chains
from ton_etl_spark.cdc.silver import SilverFanout
from ton_etl_spark.datagen import (
    ARRIVAL_JITTER,
    GenParams,
    generate_events,
    write_event_log,
)
from ton_etl_spark.gold import GoldDecayedPrice
from ton_etl_spark.lake.table import LakeTable
from ton_etl_spark.schemas import REPOS_KEY_FIELDS, REPOS_SCHEMA

from test_cdc_e2e import oracle_state, table_state
from test_silver_gold import fact_oracle


@pytest.mark.parametrize("crash", ["after_commit", "silver_metadata"])
def test_everything_on_with_kill_resume(spark, tmp_path, monkeypatch, crash):
    """`after_commit` kills the epoch after every sink committed, before
    the checkpoint. `silver_metadata` makes the metadata chain's merge
    raise while the main/feed, trades/gold and comments chains of the
    same epoch are still running: the epoch must raise only once they
    have finished, and the checkpoint must not record it."""
    p = GenParams(
        n_events=5000,
        n_repos=20,
        paths_per_repo=10,
        n_files=10,
        p_facts=0.25,
        p_bot_repos=0.15,
        p_rename=0.05,
        rename_barrier=False,
    )
    events = generate_events(p)
    log_dir = str(tmp_path / "events")
    write_event_log(events, log_dir, p.n_files)

    def build():
        try:
            table = LakeTable.create(
                spark, str(tmp_path / "lake"), REPOS_SCHEMA, REPOS_KEY_FIELDS,
                "lsn", bucket_count=16,
            )
        except FileExistsError:
            table = LakeTable(spark, str(tmp_path / "lake"))
        fanout = SilverFanout(spark, str(tmp_path / "silver"))
        gold = GoldDecayedPrice(
            spark, str(tmp_path / "gold"), fanout.tables["trades"], window_s=600
        )
        feed = NovelContentFeed(spark, table, str(tmp_path / "feed"))
        return table, CdcPipeline(
            spark, table, log_dir, str(tmp_path / "cp"),
            max_files_per_trigger=2,
            maturity=int(ARRIVAL_JITTER) + 50,
            fanout=fanout,
            gold=gold,
            blacklist=LearnedBlacklist(min_batches=2),
            novel_feed=feed,
        ), fanout, gold, feed

    table, pipe, fanout, _, _ = build()
    if crash == "after_commit":
        pipe.fail_after = 2
        with pytest.raises(Exception):
            pipe.run_streaming()
    else:
        lock = threading.Lock()
        seen = {"meta_merges": 0, "t_fail": None, "ends": [],
                "t_raised": None, "batch": None}
        real_merge = silver_mod.merge_into

        def merge_or_fail(tbl, updates, **kw):
            if tbl.root == fanout.tables["metadata"].root:
                with lock:
                    seen["meta_merges"] += 1
                    fail = seen["meta_merges"] == 2
                if fail:
                    seen["t_fail"] = time.time()
                    raise RuntimeError("metadata merge failed")
            return real_merge(tbl, updates, **kw)

        real_commit = LakeTable.commit

        def commit(self, manifest, metrics=None):
            real_commit(self, manifest, metrics)
            with lock:
                seen["ends"].append(time.time())

        real_feed_run = NovelContentFeed.run

        def feed_run(self, *a, **kw):
            try:
                return real_feed_run(self, *a, **kw)
            finally:
                with lock:
                    seen["ends"].append(time.time())

        monkeypatch.setattr(silver_mod, "merge_into", merge_or_fail)
        monkeypatch.setattr(LakeTable, "commit", commit)
        monkeypatch.setattr(NovelContentFeed, "run", feed_run)
        handle = pipe._handle

        def traced_handle(batch_df, batch_id):
            try:
                handle(batch_df, batch_id)
            except BaseException:
                seen["t_raised"] = time.time()
                seen["batch"] = batch_id
                raise

        pipe._handle = traced_handle
        with pytest.raises(Exception, match="metadata merge failed"):
            pipe.run_streaming()
        monkeypatch.undo()
        assert seen["t_fail"] is not None and seen["t_raised"] is not None
        # the other chains were still committing when the metadata merge
        # failed, and every one of them finished before the epoch raised
        assert max(seen["ends"]) > seen["t_fail"]
        assert max(seen["ends"]) <= seen["t_raised"]
        # the checkpoint never recorded the failed epoch
        done = [int(n) for n in os.listdir(tmp_path / "cp" / "commits")
                if n.isdigit()]
        assert seen["batch"] not in done
        assert max(done, default=-1) == seen["batch"] - 1

    table, pipe2, fanout, gold, feed = build()
    pipe2.run_streaming()

    # main table: oracle-exact despite gate + blacklist + disordered renames
    expected, _ = oracle_state(events)
    assert table_state(table) == expected

    # silver: trades/comments exact, metadata LWW exact
    trades, meta, comments = fact_oracle(events)
    got_trades = {
        r["trade_id"]: (r["asset"], r["side"], int(r["amount"]))
        for r in fanout.tables["trades"].read().collect()
    }
    assert got_trades == {k: (a, s, am) for k, (a, s, am, _) in trades.items()}
    got_meta = {r["repo"]: r["lsn"] for r in fanout.tables["metadata"].read().collect()}
    assert got_meta == {k: v[0] for k, v in meta.items()}
    assert fanout.tables["comments"].read().count() == len(comments)

    # gold: incremental == batch recompute
    inc = {
        (r["asset"], r["window_start"]): round(r["decayed_avg"], 6)
        for r in gold.table.read().collect()
    }
    full = {
        (r["asset"], r["window_start"]): round(r["decayed_avg"], 6)
        for r in gold.full_recompute().collect()
    }
    assert inc == full

    # novel feed: drained to the table head, and holding exactly one row
    # per distinct content ever committed to the main table
    assert feed.consumer.cursor() == table.current_version()
    committed = {
        r["s"] for r in table.read_version_changes(0, include_deleted=False)
        .filter(F.col("content").isNotNull())
        .select(F.sha2("content", 256).alias("s")).collect()
    }
    sink = [r["content_sha"] for r in feed.sink.read().collect()]
    assert len(sink) == len(set(sink))
    assert set(sink) == committed


def test_run_sink_chains_waits_for_every_chain(spark):
    """More chains than cores under a short switch interval: every chain
    runs to completion on its own thread with the caller's Spark local
    properties, and a failing chain's error surfaces only after all the
    others have finished."""
    sc = spark.sparkContext
    lock = threading.Lock()
    ends: dict[int, float] = {}

    def chain(i, fail=None):
        def run():
            time.sleep(0.05 * (i % 4))
            if i == fail:
                raise ValueError(f"chain {i} failed")
            with lock:
                ends[i] = time.time()
            return sc.getLocalProperty("sink.test")
        return run

    old = sys.getswitchinterval()
    sc.setLocalProperty("sink.test", "epoch-7")
    sys.setswitchinterval(1e-5)
    try:
        out, ms = run_sink_chains(spark, {f"c{i}": chain(i) for i in range(16)})
        assert out == {f"c{i}": "epoch-7" for i in range(16)}
        assert set(ms) == set(out)
        ends.clear()
        with pytest.raises(ValueError, match="chain 0 failed"):
            run_sink_chains(
                spark, {f"c{i}": chain(i, fail=0) for i in range(16)}
            )
        # every other chain had finished by the time the error surfaced
        assert sorted(ends) == list(range(1, 16))
        assert not [t for t in threading.enumerate()
                    if t.name.startswith("sink-")]
    finally:
        sys.setswitchinterval(old)
        sc.setLocalProperty("sink.test", None)
