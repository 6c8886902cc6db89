#!/usr/bin/env python3
"""Toy-size self-test of the benchmark (about five minutes).

    python3 perfbench/selftest.py

1. Runs each workload once at toy size with --trace 0 and --trace 1 and
   checks the result line: correct, and every metric BENCHMARK.json
   names for that mode present with its unit.
2. Copies the finished bulk_replay lake, drops one row from one of its
   data files, and checks that the correctness gate rejects the copy
   while it accepts the original.
3. Kills a run after its first measured batch committed and checks that
   its record still reads back, with the unfinished batches failed.
"""

from __future__ import annotations

import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN = [sys.executable, os.path.join(HERE, "run.py")]


def run_toy(workload: str, trace: int) -> dict:
    cmd = RUN + ["--workload", workload, "--seed", "7", "--seconds", "3",
                 "--trace", str(trace), "--toy"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    if p.returncode != 0:
        sys.stderr.write(p.stderr[-4000:])
        raise AssertionError(f"{workload} trace={trace}: exit {p.returncode}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def check_metrics(res: dict, spec: list[dict], what: str) -> None:
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, (what, res)
    got = res["metrics"]
    for m in spec:
        assert m["name"] in got, f"{what}: {m['name']} missing"
        assert got[m["name"]]["unit"] == m["unit"], f"{what}: {m['name']} unit"
        assert isinstance(got[m["name"]]["value"], (int, float)), m["name"]
    assert set(got) == {m["name"] for m in spec}, f"{what}: extra metrics"


def check_corruption() -> None:
    sys.path[:0] = [HERE, ROOT]
    import run

    run.prepare_env()
    import pyarrow.parquet as pq

    import cdc
    from ton_etl_spark.lake.table import LakeTable
    from ton_etl_spark.session import get_spark

    with open(os.path.join(run.STATE, "work", "bulk_replay", "verify.json")) as f:
        v = json.load(f)
    bad = os.path.join(run.STATE, "work", "selftest-corrupt")
    shutil.rmtree(bad, ignore_errors=True)
    shutil.copytree(v["lake"], bad)
    with open(os.path.join(bad, "_current")) as f:
        version = f.read().strip()
    with open(os.path.join(bad, "_versions", f"v{version}.json")) as f:
        m = json.load(f)
    victim = next(os.path.join(bad, p) for fl in m["buckets"].values() for p in fl)
    pq.write_table(pq.read_table(victim).slice(1), victim)
    # drop the checksum sidecar: the digest, not the file system, must
    # catch the change
    d, name = os.path.split(victim)
    os.remove(os.path.join(d, f".{name}.crc"))
    spark = get_spark("perfbench-selftest", cores=run.CORES)
    try:
        good, _ = cdc.table_main(LakeTable(spark, v["lake"]))
        broken, _ = cdc.table_main(LakeTable(spark, bad))
    finally:
        run.stop_spark(spark)
    assert good == v["expected"], "gate rejects the finished lake"
    assert broken != v["expected"], "gate accepts a corrupted lake"


def check_killed_run() -> None:
    sys.path[:0] = [HERE, ROOT]
    import run

    before = set(os.listdir(os.path.join(run.STATE, "records")))
    cmd = RUN + ["--workload", "bulk_replay", "--seed", "8", "--seconds", "30",
                 "--trace", "0", "--toy"]
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.DEVNULL,
                         stderr=subprocess.DEVNULL, start_new_session=True)
    try:
        deadline = time.time() + 240
        path = None
        while time.time() < deadline:
            new = set(os.listdir(os.path.join(run.STATE, "records"))) - before
            if new:
                path = os.path.join(run.STATE, "records", new.pop())
                with open(path) as f:
                    batches = [l for l in f if '"event": "batch"' in l]
                if len(batches) >= 2:  # set-up batch + one measured batch
                    break
            time.sleep(0.2)
        assert path is not None, "killed run wrote no record"
    finally:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait(30)
    row = next(r for r in run.summarize()
               if r["seed"] == 8 and not r["finished"])
    assert row["failed"] >= 1 and row["attempted"] >= row["failed"], row


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in (x["name"] for x in spec["workloads"]):
        check_metrics(run_toy(w, 0), spec["end_to_end"], f"{w} trace=0")
        check_metrics(run_toy(w, 1), spec["per_layer"], f"{w} trace=1")
        print(f"ok: {w} metrics", flush=True)
    check_corruption()
    print("ok: corrupted lake fails the gate", flush=True)
    check_killed_run()
    print("ok: killed run leaves its record, unfinished batches failed", flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
