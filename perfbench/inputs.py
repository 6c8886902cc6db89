"""Seeded, fingerprinted, cached benchmark inputs and oracle digests.

A workload's event log is a pure function of (workload params, seed,
sha256 of `ton_etl_spark/datagen.py`). The fingerprint of that triple
names the cache directory, and every run record carries it, so runs on
different inputs are never compared. Oracle digests are cached beside
the log, keyed by how much of the log a run applied.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
import shutil

import pyarrow.parquet as pq

from ton_etl_spark.datagen import (
    ARRIVAL_JITTER,
    DDL_SCRIPT,
    GenParams,
    generate_events,
    write_event_log,
)


@dataclasses.dataclass(frozen=True)
class LogShape:
    """First file: the set-up batch (warmup or initial snapshot). Then
    `n_files` files of `batch` events, one per micro-batch; the first
    `setup_files - 1` of them are set-up batches too."""

    first: int
    batch: int
    n_files: int
    params: dict  # GenParams fields other than n_events / seed / n_files
    setup_files: int = 1


def _ddl_at(frac_scale: float) -> list:
    return [(f * frac_scale, ddl) for f, ddl in DDL_SCRIPT]


def shape_for(workload: str, toy: bool = False) -> LogShape:
    if workload == "bulk_replay":
        # r5 bench shape scaled down: ~18 events per key per batch
        # (n_repos = 3 * batch / 4000 over 60 paths, zipf repos, 30% of
        # events on 2 hot keys), deletes / renames / duplicates /
        # malformed rows at the datagen defaults, and the three DDL
        # events at 40-70% of the log, inside the first two measured
        # batches, as the r5 log had them inside its batches.
        batch = 3000 if toy else 30000
        n_files = 3
        total = batch * (n_files + 1)
        return LogShape(
            first=batch, batch=batch, n_files=n_files,
            params=dict(
                n_repos=max(3 * batch // 4000, 20), paths_per_repo=60,
                hot_share=0.3, ddl_script=_ddl_at((batch + 3 * batch) / total),
            ),
        )
    if workload == "tail_fanout":
        # wide, uniform key space (~1 event per key per batch), 25% fact
        # events for the silver tables, 10% bot repos for the learned
        # blacklist, renames without the arrival barrier (the maturity
        # gate must cope). The first file is an initial snapshot 6x a
        # batch so the measured merges run against a table that already
        # outgrew the batch; the three DDL events land inside it. The
        # gate defers all of batch 0 (no cutoff is certified before it),
        # so set-up runs two batches: the snapshot lands in the second.
        batch = 500 if toy else 2500
        first = 6 * batch
        n_files = 4
        total = first + batch * n_files
        return LogShape(
            first=first, batch=batch, n_files=n_files, setup_files=2,
            params=dict(
                n_repos=max(batch // 3, 50), paths_per_repo=60, zipf_a=0.0,
                hot_share=0.0, n_hot_keys=0, p_facts=0.25, p_bot_repos=0.1,
                rename_barrier=False, ddl_script=_ddl_at(0.8 * first / total),
            ),
        )
    raise ValueError(f"unknown workload {workload!r}")


MATURITY = int(ARRIVAL_JITTER) + 50  # tail_fanout gate, as the full-stack test


def _datagen_sha() -> str:
    import ton_etl_spark.datagen as dg

    with open(dg.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


class EventLog:
    """A cached event log: `files[i]` is the parquet file of micro-batch i
    (file 0 is the set-up batch) and `rows[i]` its event count."""

    def __init__(self, cache_root: str, workload: str, seed: int, toy: bool):
        self.shape = shape_for(workload, toy)
        s = self.shape
        self.params = GenParams(
            n_events=s.first + s.batch * s.n_files, seed=seed,
            n_files=1 + s.n_files, **s.params,
        )
        spec = {
            "workload": workload,
            "first": s.first,
            "batch": s.batch,
            "params": dataclasses.asdict(self.params),
            "datagen_sha256": _datagen_sha(),
        }
        self.fingerprint = hashlib.sha256(
            json.dumps(spec, sort_keys=True).encode()
        ).hexdigest()[:16]
        self.dir = os.path.join(cache_root, f"{workload}-{self.fingerprint}")
        meta = os.path.join(self.dir, "meta.json")
        if not os.path.exists(meta):
            self._generate(spec)
        with open(meta) as f:
            self.rows = json.load(f)["rows"]
        self.files = [
            os.path.join(self.dir, "log", f"f-{i:05d}.parquet")
            for i in range(len(self.rows))
        ]

    def _generate(self, spec: dict) -> None:
        s = self.shape
        tmp = self.dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        events = generate_events(self.params)
        # the set-up file and the measured files are split separately so
        # the first file holds exactly `first` events
        write_event_log(events[: s.first], os.path.join(tmp, "a"), 1)
        write_event_log(events[s.first:], os.path.join(tmp, "b"), s.n_files)
        parts = sorted(
            os.path.join(tmp, d, n)
            for d in ("a", "b")
            for n in os.listdir(os.path.join(tmp, d))
        )
        os.makedirs(os.path.join(tmp, "log"))
        rows = []
        for i, p in enumerate(parts):
            rows.append(pq.ParquetFile(p).metadata.num_rows)
            os.replace(p, os.path.join(tmp, "log", f"f-{i:05d}.parquet"))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump({"spec": spec, "rows": rows}, f)
        shutil.rmtree(self.dir, ignore_errors=True)
        os.replace(tmp, self.dir)

    def events(self, n_files: int) -> list[dict]:
        """The first `n_files` files' events as dicts (arrival order)."""
        out: list[dict] = []
        for p in self.files[:n_files]:
            out.extend(pq.read_table(p).to_pylist())
        return out

    def cached(self, key: str, compute):
        """JSON value cached beside the log under `key`."""
        path = os.path.join(self.dir, "oracle", f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        val = compute()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(val, f)
        os.replace(tmp, path)
        return val
