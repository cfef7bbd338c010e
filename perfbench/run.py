#!/usr/bin/env python3
"""CDC ingest benchmark.

    python3 perfbench/run.py --workload tail_serve --seed 1 --seconds 25 --trace 0

Runs one workload (see ``workloads.py``) on ``local[<cores>]`` from a single
driver thread, checks every operation's output and the final table state,
and prints one JSON object as the last line of stdout::

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` wraps the
engine's public calls in spans, reads Spark's job/stage/UDF-profiler numbers
after the window, reports the per-layer metrics and writes every span to
``perfbench/_out/trace-<workload>-s<seed>.json``. Diagnostics go to stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "_out")

#: bounded wait before each timed window for the host's busy CPU share
#: (sampled over SETTLE_SAMPLE_S) to drop to SETTLE_BUSY — a just-finished
#: Spark run keeps cores busy for a while after it returns
SETTLE_MAX_S = 5.0
SETTLE_SAMPLE_S = 0.5
SETTLE_BUSY = 0.25
#: maximum JVM heap of the driver (and, in local mode, the executor)
HEAP = "2g"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def loadavg() -> dict:
    with open("/proc/loadavg") as f:
        p = f.read().split()
    return {"load1": float(p[0]), "load5": float(p[1]), "load15": float(p[2]), "tasks": p[3]}


def _cpu_times() -> tuple[int, int, int]:
    """(busy, steal, total) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    idle = vals[3] + vals[4]
    return sum(vals) - idle, vals[7], sum(vals)


def cpu_share(before: tuple[int, int, int]) -> dict:
    """Busy and steal share of the host's CPU since ``before``."""
    now = _cpu_times()
    total = max(1, now[2] - before[2])
    return {"busy": round((now[0] - before[0]) / total, 3),
            "steal": round((now[1] - before[1]) / total, 3)}


def settle() -> dict:
    """Wait (at most SETTLE_MAX_S) until the host is mostly idle."""
    t0 = time.time()
    while True:
        before = _cpu_times()
        time.sleep(SETTLE_SAMPLE_S)
        busy = cpu_share(before)["busy"]
        waited = time.time() - t0
        if busy <= SETTLE_BUSY or waited >= SETTLE_MAX_S:
            return {"waited_s": round(waited, 3), "busy_share": busy, "load": loadavg()}


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _memory(pids: list[int]) -> dict[int, tuple[str, int, int]]:
    """pid -> (command, RSS bytes, PSS bytes). PSS splits pages shared by
    the forked Python workers and their daemon instead of counting them once
    per process, as summed RSS does."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            rss = pss = 0
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Rss:"):
                        rss = int(line.split()[1]) * 1024
                    elif line.startswith("Pss:"):
                        pss = int(line.split()[1]) * 1024
            out[pid] = (comm, rss, pss)
        except (OSError, IndexError, ValueError):
            pass
    return out


class MemorySampler(threading.Thread):
    """Peak summed PSS of this process, the JVM and the Python workers."""

    def __init__(self, every: float = 0.25):
        super().__init__(daemon=True)
        self.every = every
        self.peak = 0
        self.at_peak: dict = {}
        self._stop_evt = threading.Event()

    def sample(self) -> None:
        mem = _memory(_descendants())
        total = sum(p for _, _, p in mem.values())
        if total > self.peak:
            self.peak, self.at_peak = total, mem

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(self.every)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        self.sample()
        return self.peak


def start_spark(cores: int, work: str, traced: bool):
    from data_pipelines_spark.session import get_spark

    local = os.path.join(work, "spark-local")
    os.makedirs(local, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file is written outside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={local} -XX:-UsePerfData",
        # the status store must still hold the window's jobs when a traced
        # run reads it; identical in both modes so the trace is the only
        # difference between them
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if traced:
        conf["spark.sql.pyspark.udf.profiler"] = "perf"
    return get_spark(
        "perfbench", master=f"local[{cores}]", shuffle_partitions=cores, extra_conf=conf
    )


def jvm_busy_ms(spark) -> dict:
    """Cumulative JIT compilation and GC milliseconds of the JVM."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gcs = mf.getGarbageCollectorMXBeans()
    return {
        "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
        "gc_ms": sum(gcs.get(i).getCollectionTime() for i in range(gcs.size())),
    }


def heap_pools(spark) -> list:
    """The JVM's heap memory pools (eden, survivor, old generation)."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = mf.getMemoryPoolMXBeans()
    return [p for p in (pools.get(i) for i in range(pools.size()))
            if p.getType().name() == "HEAP"]


def heap_peak(pools: list) -> int:
    """Sum of the heap pools' peak use (bytes) since their last reset; the
    JVM records a pool's peak at every collection, so a young-generation
    peak just before a collection is counted."""
    return sum(p.getPeakUsage().getUsed() for p in pools)


def stop_spark(spark) -> None:
    """Stop the session and the JVM, and wait until every process they
    started (the JVM, the Python worker daemon and its workers) has ended."""
    started = [p for p in _descendants() if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait(timeout=30)
    deadline = time.time() + 30
    while started and time.time() < deadline:
        time.sleep(0.2)
        started = [p for p in started if os.path.exists(f"/proc/{p}")]
    for pid in started:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def ingest(wl, window: dict) -> tuple[float, float]:
    """(ingest rate, median batch wall) over the window's whole cycles of
    the op pattern, or its first ``FIXED_CYCLES`` when the workload sets
    them (tail_serve: the four rounds that compact). A cut at the deadline
    would hold a varying whole number of batches (12k events each on
    bulk_backfill) and make the rate jump with it."""
    k = wl.FIXED_CYCLES
    marks = wl.marks if k is None else wl.marks[: k + 1]
    walls = [w for end, w in wl.batch_lat
             if k is None or len(marks) <= k or end <= marks[-1][0]]
    if len(marks) < 2:
        rate = wl.events / (window["end"] - window["start"])
    else:
        (t0, e0), (t1, e1) = marks[0], marks[-1]
        rate = (e1 - e0) / (t1 - t0)
    return rate, statistics.median(walls)


def end_to_end(wl, window: dict, setup_s: float, peak_pss: int) -> dict:
    lake, logb = wl.lake_bytes()
    rate, batch_p50 = ingest(wl, window)
    return {
        "setup_s": (setup_s, "s"),
        "ingest_events_per_s": (rate, "events/s"),
        "batch_latency_p50_s": (batch_p50, "s"),
        "lookup_latency_p50_s": (statistics.median(wl.lookup_lat), "s"),
        "cdc_out_latency_p50_s": (statistics.median(wl.cdc_lat), "s"),
        "peak_pss_mb": (peak_pss / 2**20, "MB"),
        "lake_bytes_per_log_byte": (lake / logb, "ratio"),
    }


def declared_metrics(group: str) -> dict:
    """name -> unit of a metric group in BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[group]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int, default=os.cpu_count() or 4,
                    help="local[N] parallelism (default: all cores)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "data_pipelines_spark")):
        log(f"the engine package is missing under {ROOT}; run from a full checkout")
        return 2
    # the Python workers import the engine too, from any cwd
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # the launcher JVM that spark-submit starts first: no hsperfdata file
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    from spans import Attribution, Tracer, layer_metrics, read_spark
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    cls = WORKLOADS[args.workload]
    protocol = {"load_start": loadavg(), "settle_start": settle(), "cores": args.cores}
    tracer = Tracer(traced=bool(args.trace))
    spark = None
    try:
        t0 = time.time()
        spark = start_spark(args.cores, work, tracer.traced)
        session_s = time.time() - t0
        wl = cls(spark, tracer, args.seed, work, dict(cls.SIZES))
        wl.setup()
        setup_s = time.time() - t0
        protocol["setup_phases_s"] = {
            k: round(v, 3) for k, v in {"session": session_s, **wl.phases}.items()
        }
        protocol["settle_window"] = settle()
        protocol["load_window_start"] = loadavg()
        pools = heap_pools(spark)
        for p in pools:
            p.resetPeakUsage()
        sampler = MemorySampler()
        sampler.start()
        cpu0, jvm0 = _cpu_times(), jvm_busy_ms(spark)
        wl.in_window = True
        deadline = time.time() + args.seconds
        with tracer.span("run", workload=wl.name, seed=args.seed) as window:
            steps = wl.steps()
            while time.time() < deadline and next(steps, StopIteration) is not StopIteration:
                pass
        wl.in_window = False
        peak = sampler.stop()
        peak_heap = heap_peak(pools)
        protocol["heap_peak_mb"] = round(peak_heap / 2**20)
        protocol["window_cpu"] = cpu_share(cpu0)
        protocol["window_jvm_ms"] = {k: v - jvm0[k] for k, v in jvm_busy_ms(spark).items()}
        protocol["load_window_end"] = loadavg()
        protocol["memory_at_peak_mb"] = sorted(
            ((c, round(r / 2**20), round(p / 2**20)) for c, r, p in sampler.at_peak.values()),
            key=lambda x: -x[2],
        )
        protocol["window_s"] = window["end"] - window["start"]
        wl.check_state()
        e2e = end_to_end(wl, window, setup_s, peak)
        result = {
            "correct": wl.failed == 0,
            "attempted": wl.attempted,
            "failed": wl.failed,
        }
        if tracer.traced:
            jobs, stages = read_spark(spark, window["start"])
            tracer.assign_ops()
            att = Attribution(tracer.spans, jobs, stages)
            snap_b, meta_b = wl.metadata_bytes()
            metrics = layer_metrics(att, window, {
                "snapshot_bytes": snap_b, "metadata_bytes": meta_b,
                "cdc_rows": wl.cdc_rows, "cdc_bumps": wl.cdc_bumps, "events": wl.events,
                "triggers": wl.triggers,
            })
            metrics["jvm.heap_peak_mb"] = (peak_heap / 2**20, "MB")
            os.makedirs(OUT, exist_ok=True)
            path = os.path.join(OUT, f"trace-{wl.name}-s{args.seed}.json")
            with open(path, "w") as f:
                json.dump({
                    "workload": wl.name, "seed": args.seed, "sizes": wl.sizes,
                    "window": window["id"], "spans": tracer.spans, "jobs": jobs,
                    "stages": list(stages.values()),
                    "end_to_end": e2e, "per_layer": metrics, "protocol": protocol,
                }, f)
            log(f"trace written to {os.path.relpath(path, ROOT)}")
        else:
            metrics = e2e
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    protocol["load_end"] = loadavg()
    log("protocol " + json.dumps(protocol))
    log(f"samples: events={wl.events} " + " ".join(
        f"{k}={[round(x, 3) for x in v]}"
        for k, v in (("batch_s", [w for _, w in wl.batch_lat]), ("lookup_s", wl.lookup_lat), ("cdc_out_s", wl.cdc_lat))
    ))
    for e in wl.errors[:20]:
        log("FAILED " + e)
    result["metrics"] = {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
    declared = declared_metrics("per_layer" if tracer.traced else "end_to_end")
    got = {k: u for k, (_, u) in metrics.items()}
    if got != declared:
        log(f"metrics differ from BENCHMARK.json: printed {got}, declared {declared}")
        return 3
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
