#!/usr/bin/env python3
"""ton_etl_spark benchmark.

    python3 perfbench/run.py --workload bulk_replay|tail_fanout \\
        --seed N --seconds S --trace 0|1 [--toy]

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object {"correct", "attempted", "failed",
"metrics"}: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1 (see BENCHMARK.json and perfbench/README.md).
Exits 1 when the correctness gate fails, 2 when the program is missing.

`python3 perfbench/run.py --summary` prints one line per recorded run,
counting the unfinished batches of a killed run as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
WORKLOADS = ("bulk_replay", "tail_fanout")
CORES = 4
# driver heap of every run, through the engine's own setting (its 48g
# default is more than a 15 GB machine holds)
DRIVER_MEM = "3g"
TIME_LIMIT_S = 170  # a run must end within 180 s; stop cleanly before
SETTLE_S = 3.0


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def process_start() -> float:
    """Wall-clock start time of this process."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


class Records:
    """One JSONL file per run, appended and flushed as the run goes, so a
    killed run leaves every earlier record readable."""

    def __init__(self, name: str):
        d = os.path.join(STATE, "records")
        os.makedirs(d, exist_ok=True)
        self.path = os.path.join(d, f"{time.time_ns()}-{name}.jsonl")
        self._lock = threading.Lock()

    def __call__(self, obj: dict) -> None:
        with self._lock, open(self.path, "a") as f:
            f.write(json.dumps(obj) + "\n")
            f.flush()
            os.fsync(f.fileno())


def summarize() -> list[dict]:
    d = os.path.join(STATE, "records")
    out = []
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        with open(os.path.join(d, name)) as f:
            recs = [json.loads(l) for l in f if l.strip()]
        start = next((r for r in recs if r["event"] == "start"), {})
        res = next((r for r in recs if r["event"] == "result"), None)
        fed = sum(1 for r in recs if r["event"] == "fed")
        done = sum(1 for r in recs if r["event"] == "batch")
        row = {k: start.get(k) for k in ("workload", "seed", "trace", "fingerprint")}
        if res is None:
            row.update(finished=False, attempted=max(fed, 1), failed=max(fed - done, 1))
        else:
            row.update(finished=True, correct=res["correct"],
                       attempted=res["attempted"], failed=res["failed"],
                       metrics={k: v["value"] for k, v in res["metrics"].items()})
        out.append(row)
    return out


def proc_tree(pid: int) -> list[int]:
    """`pid` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except FileNotFoundError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
            except FileNotFoundError:  # the thread or process ended
                continue
    return out


def _read_proc(path: str) -> str:
    try:
        with open(path) as f:
            return f.read()
    except (FileNotFoundError, ProcessLookupError):
        return ""


def tree_cpu_s() -> float:
    """User + system CPU seconds of this process tree's live processes and
    of the children they reaped (Python workers that exited)."""
    total = 0
    for p in proc_tree(os.getpid()):
        fields = _read_proc(f"/proc/{p}/stat").rsplit(")", 1)[-1].split()
        if len(fields) > 14:
            total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def host_cpu() -> list[int]:
    """Jiffies of the host's first /proc/stat line (steal is index 7)."""
    return [int(x) for x in _read_proc("/proc/stat").split("\n")[0].split()[1:9]]


class MemSampler:
    """Peak memory of this process tree (driver JVM, Python driver and
    workers), as proportional set size so the pages forked Python
    workers share with their daemon count once."""

    def __init__(self, period: float = 0.2):
        self.period, self.peak = period, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _tree_pss() -> int:
        total = 0
        for p in proc_tree(os.getpid()):
            for line in _read_proc(f"/proc/{p}/smaps_rollup").splitlines():
                if line.startswith("Pss:"):
                    total += int(line.split()[1]) * 1024
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._tree_pss())
            self._stop.wait(self.period)

    def start(self) -> "MemSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


def prepare_env() -> None:
    """Keep every file the run writes inside the checkout, and let the
    Python workers import the program."""
    tmp = os.path.join(STATE, "tmp")
    local = os.path.join(STATE, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["TON_ETL_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path[:0] = [HERE, ROOT]


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait(10)


def untraced_eps(workload: str, fingerprint: str) -> float | None:
    vals = [
        r["metrics"]["events_per_s"] for r in summarize()
        if r.get("finished") and r["workload"] == workload
        and r["fingerprint"] == fingerprint and r["trace"] == 0
        and "events_per_s" in r.get("metrics", {})
    ]
    return statistics.median(vals) if vals else None


def run(args, t_proc0: float, rec: Records, state: dict) -> dict:
    import shutil

    from inputs import EventLog

    import cdc
    from ton_etl_spark.session import get_spark

    # inputs are generated (or loaded) while the JVM starts; a cache miss
    # then costs the session start only the contention of one core
    made: dict = {}

    def make_inputs():
        try:
            made["log"] = EventLog(
                os.path.join(STATE, "cache"), args.workload, args.seed, args.toy
            )
        except BaseException as e:  # re-raised in the main thread
            made["error"] = e

    gen = threading.Thread(target=make_inputs)
    gen.start()
    until = t_proc0 + TIME_LIMIT_S - 25  # leave time for the gate
    work = os.path.join(STATE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    extra = {}
    if args.trace:
        evdir = os.path.join(work, "eventlog")
        os.makedirs(evdir)
        extra = {"spark.eventLog.enabled": "true",
                 "spark.eventLog.dir": "file://" + evdir,
                 # one plain JSON-lines file, readable with the stdlib
                 "spark.eventLog.rolling.enabled": "false",
                 "spark.eventLog.compress": "false"}
    mem = MemSampler().start() if args.trace else None
    spark = get_spark(f"perfbench-{args.workload}", cores=CORES, extra_conf=extra)
    state["spark"] = spark
    session_s = time.time() - t_proc0
    t = time.time()
    gen.join()
    if "error" in made:
        raise made["error"]
    evlog = made["log"]
    log(f"inputs {evlog.fingerprint}: {sum(evlog.rows)} events in "
        f"{len(evlog.files)} files (waited {time.time() - t:.1f}s after session start)")
    rec({"event": "start", "workload": args.workload, "seed": args.seed,
         "trace": args.trace, "seconds": args.seconds, "toy": args.toy,
         "fingerprint": evlog.fingerprint, "t": time.time()})

    creates = []
    for rep in range(3):  # set-up repeated; the last one is used
        root = os.path.join(work, "run" if rep == 2 else f"setup{rep}")
        t = time.time()
        pipe = cdc.build(spark, args.workload, root, os.path.join(root, "events"))
        creates.append(time.time() - t)
    tracer = None
    if args.trace:
        from layers import LayerTrace

        tracer = LayerTrace(spark, pipe)
        tracer.install()
    loop = cdc.ClosedLoop(pipe, evlog, os.path.join(root, "events"),
                          os.path.join(root, "progress.jsonl"), rec)
    state["loop"] = loop
    t = time.time()
    loop.warmup(until)
    warm_s = time.time() - t
    setup_s = session_s + statistics.median(creates) + warm_s
    log(f"setup {setup_s:.2f}s (session {session_s:.2f}, create "
        f"{statistics.median(creates):.3f}, warmup batch {warm_s:.2f})")
    cpu_s = steal = 0.0
    if loop.set_up():
        # let background JIT compilation of the set-up batches drain
        # (measured: the first measured batch then varies far less)
        time.sleep(SETTLE_S)
        cpu0, host0 = tree_cpu_s(), host_cpu()
        loop.measure(args.seconds, until)
        cpu_s = tree_cpu_s() - cpu0
        host = [b - a for a, b in zip(host0, host_cpu())]
        steal = host[7] / max(sum(host), 1)
    if mem is not None:
        mem.stop()
    loop.stop()
    if tracer is not None:
        tracer.tracer.unpatch()

    batches = loop.measured()
    progress = cdc.read_progress(loop.metrics_path)
    trig = [progress[b]["triggerExecution"] / 1000.0 for b in batches if b in progress]
    events = sum(evlog.rows[b] for b in batches)
    unfinished = loop.fed - len(loop.completed)
    checks = {}
    rows = 0
    if not loop.errors and loop.set_up():
        try:
            v = cdc.verify(pipe, evlog, args.workload, len(loop.completed))
        except Exception:  # an unreadable result fails the gate
            log(traceback.format_exc())
            checks = {"gate_ran": False}
        else:
            checks, rows = v["checks"], v["rows"]
            with open(os.path.join(work, "verify.json"), "w") as f:
                json.dump({"lake": pipe.table.root, "expected": v["expected"]}, f)
    for e in loop.errors:
        log("ERROR", e)
    failed_checks = [k for k, ok in checks.items() if not ok]
    if failed_checks:
        log("correctness gate FAILED:", ", ".join(failed_checks))
    log(f"measured {len(batches)} batches, {events} events, "
        f"batch s {[round(x, 2) for x in trig]}, cpu {cpu_s:.1f}s, "
        f"host steal {steal:.3f}; checks {checks}")

    correct = (bool(batches) and not loop.errors and unfinished == 0
               and bool(checks) and not failed_checks
               and len(trig) == len(batches))
    attempted = max(loop.fed - evlog.shape.setup_files, 1) + len(checks)
    failed = unfinished + len(loop.errors) + len(failed_checks)
    if args.trace:
        stop_spark(spark)  # closes the event log
        state.pop("spark")
        metrics = tracer.metrics(
            os.path.join(work, "eventlog"), progress, batches, evlog.rows,
            untraced_eps(args.workload, evlog.fingerprint),
            {"mem.peak_rss_mb": mem.peak / 2**20, "host.steal_ratio": steal,
             "events_per_cpu_s": events / cpu_s if cpu_s else 0.0},
        )
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "events_per_s": (events / sum(trig) if trig else 0.0, "1/s"),
            "batch_s_p50": (statistics.median(trig) if trig else 0.0, "s"),
            "stored_bytes_per_row": (
                cdc.stored_bytes(pipe.table) / rows if rows else 0.0, "B/row"
            ),
        }
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
        stop_spark(spark)
        state.pop("spark")
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics, "checks": checks}


def main() -> int:
    t_proc0 = process_start()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--toy", action="store_true",
                    help="tiny inputs, for the self-test")
    ap.add_argument("--summary", action="store_true")
    args = ap.parse_args()
    if args.summary:
        for r in summarize():
            print(json.dumps(r))
        return 0
    if args.workload is None:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(ROOT, "ton_etl_spark", "cdc", "pipeline.py")):
        log(f"ton_etl_spark not found beside {HERE}: run from a checkout")
        return 2
    prepare_env()
    rec = Records(f"{args.workload}-s{args.seed}-t{args.trace}")
    state: dict = {}

    def failure() -> dict:
        """Result of a run that did not finish: every fed batch that did
        not commit counts as failed."""
        loop = state.get("loop")
        fed = loop.fed if loop else 0
        done = len(loop.completed) if loop else 0
        return {"correct": False, "attempted": max(fed - 1, 1),
                "failed": max(fed - done, 1), "metrics": {}}

    def emit(res: dict, event: str) -> None:
        rec({"event": event, **res, "t": time.time()})
        out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
        print(json.dumps(out), flush=True)

    def watchdog():
        log(f"time limit {TIME_LIMIT_S}s reached")
        emit(failure(), "timeout")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait(10)
        os._exit(3)

    from pyspark import SparkContext

    timer = threading.Timer(max(1.0, t_proc0 + TIME_LIMIT_S - time.time()), watchdog)
    timer.daemon = True
    timer.start()
    try:
        res = run(args, t_proc0, rec, state)
    except Exception:  # report the failed run, then stop its JVM
        log(traceback.format_exc())
        res = failure()
        if "spark" in state:
            stop_spark(state["spark"])
    timer.cancel()
    emit(res, "result")
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
