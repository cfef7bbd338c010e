"""Spans around the engine's public calls, and Spark's own job, stage and
UDF-profiler numbers folded into per-layer metrics.

The engine is never changed. The benchmark replaces bound methods on the
objects it drives (one ``CdcPipeline``, its ``LakeTable``) with wrappers that
open a span, keeps every span in memory, and reads Spark's status store and
the Python UDF profiler once, after the timed window. Each Spark job is then
attributed to the innermost span open at its submission time; that is sound
because the benchmark has a single client thread (the streaming foreachBatch
body runs while that thread waits in ``awaitTermination``).
"""

from __future__ import annotations

import statistics
import time
from contextlib import contextmanager

#: span name of each engine call the traced run wraps
LAYER = {
    "process_batch": "streaming.pipeline.process_batch",
    "change_filtered": "streaming.pipeline.change_filtered",
    "merge": "lake.table.merge",
    "compact": "lake.table.compact",
    "read_keys": "lake.table.read_keys",
    "change_log": "lake.table.change_log",
}


class Tracer:
    """In-memory span recorder. Op spans are recorded in every run (they
    give the end-to-end latencies); wrapper spans only when ``traced``."""

    def __init__(self, traced: bool):
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": None,
            "start": time.time(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, start: float, end: float, parent: dict, **attrs) -> dict:
        """Record a span measured elsewhere (a streaming trigger)."""
        rec = {
            "id": len(self.spans), "name": name, "parent": parent["id"],
            "op": None, "start": start, "end": end, "attrs": attrs,
        }
        self.spans.append(rec)
        return rec

    def assign_ops(self) -> None:
        """Stamp every span with the id of the op (``op.*`` span) above it."""
        for rec in self.spans:
            cur = rec
            while cur is not None and not cur["name"].startswith("op."):
                cur = self.spans[cur["parent"]] if cur["parent"] is not None else None
            rec["op"] = cur["id"] if cur is not None else None

    def wrap(self, obj, method: str, on_start=None, on_result=None) -> None:
        """Replace ``obj.method`` (on the instance only) with a spanned call;
        ``on_start(rec)`` runs as the span opens, ``on_result(rec, out)``
        after the call returns."""
        inner = getattr(obj, method)
        name = LAYER[method]

        def wrapped(*args, **kwargs):
            with self.span(name) as rec:
                if on_start is not None:
                    on_start(rec)
                out = inner(*args, **kwargs)
                if on_result is not None:
                    on_result(rec, out)
                return out

        setattr(obj, method, wrapped)


def stats_attrs(rec: dict, stats) -> None:
    """Keep the MergeStats counters a layer metric needs on its span."""
    for k in ("rows_in", "files_written", "bytes_written"):
        rec["attrs"][k] = getattr(stats, k)


# ---------------------------------------------------------------- Spark side


def _seq(seq) -> list:
    return [seq.apply(i) for i in range(seq.length())]


def _ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def read_spark(spark, since: float) -> tuple[list[dict], dict[int, dict]]:
    """Jobs submitted at or after ``since`` and their executed stages, from
    the driver's status store (no Spark job, no UI needed)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jobs = []
    for j in _seq(store.jobsList(None)):
        start = _ms(j.submissionTime())
        if start is None or start < since - 0.001:
            continue
        jobs.append({
            "id": j.jobId(), "start": start, "end": _ms(j.completionTime()),
            "stages": _seq(j.stageIds()), "status": j.status().toString(),
        })
    wanted = {s for j in jobs for s in j["stages"]}
    empty = sc._gateway.new_array(sc._jvm.double, 0)
    stages = {}
    for s in _seq(store.stageList(None, False, False, empty, sc._jvm.java.util.ArrayList())):
        sid = s.stageId()
        start = _ms(s.submissionTime())
        if sid not in wanted or start is None:
            continue
        stages[sid] = {
            "id": sid, "start": start, "end": _ms(s.completionTime()),
            "tasks": s.numTasks(), "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9, "gc_s": s.jvmGcTime() / 1e3,
            "input_records": s.inputRecords(),
            "shuffle_read": s.shuffleReadBytes(), "shuffle_write": s.shuffleWriteBytes(),
        }
    jobs.sort(key=lambda j: (j["start"], j["id"]))
    return jobs, stages


def udf_profile(spark) -> tuple[float, int]:
    """Cumulative ``html_to_text`` seconds and rows (calls of its per-row
    body) from Spark's ``perf`` UDF profiler, summed over every UDF id."""
    secs, rows = 0.0, 0
    for st in spark._profiler_collector._perf_profile_results.values():
        for (fname, _, func), (_, nc, _, ct, _) in st.stats.items():
            if fname.endswith("html.py") and func == "html_to_text":
                secs += ct
            elif fname.endswith("html.py") and func == "_to_text_one":
                rows += nc
    return secs, rows


# ------------------------------------------------------------ attribution


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Attribution:
    """Spans + jobs + stages joined: each job hangs under the innermost span
    open at its submission, each span gets its self time."""

    def __init__(self, spans: list[dict], jobs: list[dict], stages: dict[int, dict]):
        self.spans = {s["id"]: s for s in spans}
        self.stages = stages
        self.children: dict[int, list[int]] = {s["id"]: [] for s in spans}
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s["id"])
        self.jobs_of: dict[int, list[dict]] = {s["id"]: [] for s in spans}
        for j in jobs:
            if j["end"] is None:
                continue
            owner = max(
                (s for s in spans if s["start"] <= j["start"] <= s["end"]),
                key=lambda s: (s["start"], s["id"]),
                default=None,
            )
            if owner is not None:
                j["span"] = owner["id"]
                self.jobs_of[owner["id"]].append(j)

    def dur(self, sid: int) -> float:
        s = self.spans[sid]
        return s["end"] - s["start"]

    def self_time(self, sid: int) -> float:
        s = self.spans[sid]
        kids = [(self.spans[c]["start"], self.spans[c]["end"]) for c in self.children[sid]]
        kids += [(j["start"], j["end"]) for j in self.jobs_of[sid]]
        return (s["end"] - s["start"]) - _union(kids, s["start"], s["end"])

    def subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(self.children[cur])
        return out

    def subtree_jobs(self, sid: int) -> list[dict]:
        return [j for s in self.subtree(sid) for j in self.jobs_of[s]]

    def job_stages(self, jobs: list[dict]) -> list[dict]:
        return [self.stages[s] for j in jobs for s in j["stages"] if s in self.stages]

    def named(self, name: str) -> list[int]:
        return [sid for sid, s in self.spans.items() if s["name"] == name]

    def accounted(self, sid: int) -> float:
        """(Spark job walls + driver self time of every span below ``sid``)
        over the op's wall: 1.0 when the children tile the op exactly."""
        tree = self.subtree(sid)
        covered = sum(self.self_time(s) for s in tree)
        covered += sum(j["end"] - j["start"] for s in tree for j in self.jobs_of[s])
        return covered / self.dur(sid) if self.dur(sid) > 0 else 1.0


# ----------------------------------------------------------- layer metrics


def _med(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(att: Attribution, window: dict, extra: dict) -> dict[str, tuple[float, str]]:
    """Per-layer numbers of one traced window. ``window`` is the run span;
    ``extra`` carries what the workload measured itself (table metadata
    sizes, trigger durations, CDC-out counts)."""
    in_window = set(att.subtree(window["id"]))
    named = lambda n: [s for s in att.named(n) if s in in_window]  # noqa: E731
    attrs = lambda sid: att.spans[sid]["attrs"]  # noqa: E731
    m: dict[str, tuple[float, str]] = {}

    batches = named("streaming.pipeline.process_batch")
    m["extract.html.udf_s"] = (_med(attrs(b)["udf_s"] for b in batches), "s/batch")
    m["extract.html.rows"] = (_med(attrs(b)["udf_rows"] for b in batches), "rows/batch")

    merges = named("lake.table.merge")
    map_s, red_s, red_run, red_cpu, shuffle, jobs_n, tasks_n, driver = ([] for _ in range(8))
    for sid in merges:
        jobs = att.jobs_of[sid]
        stages = att.job_stages(jobs)
        reduce = [st for st in stages if st["shuffle_write"] == 0]
        map_s.append(sum(st["end"] - st["start"] for st in stages if st["shuffle_write"] > 0))
        red_s.append(sum(st["end"] - st["start"] for st in reduce))
        red_run.append(sum(st["run_s"] for st in reduce))
        red_cpu.append(sum(st["cpu_s"] for st in reduce))
        shuffle.append(sum(st["shuffle_write"] for st in stages))
        jobs_n.append(len(jobs))
        tasks_n.append(sum(st["tasks"] for st in stages))
        driver.append(att.self_time(sid))
    m["extract.html.python_gap_s"] = (_med(r - c for r, c in zip(red_run, red_cpu)), "s/merge")
    m["lake.table.merge.s"] = (_med(att.dur(s) for s in merges), "s")
    m["lake.table.merge.driver_s"] = (_med(driver), "s")
    m["lake.table.merge.map_stage_s"] = (_med(map_s), "s")
    m["lake.table.merge.reduce_stage_s"] = (_med(red_s), "s")
    m["lake.table.merge.reduce_run_s"] = (_med(red_run), "s")
    m["lake.table.merge.reduce_cpu_s"] = (_med(red_cpu), "s")
    m["lake.table.merge.shuffle_bytes"] = (_med(shuffle), "bytes")
    m["lake.table.merge.rows_in"] = (_med(attrs(s)["rows_in"] for s in merges), "rows")
    m["lake.table.merge.winners_per_event"] = (
        _ratio(sum(attrs(s)["rows_in"] for s in merges), extra["events"]), "ratio")
    m["lake.table.merge.files_written"] = (_med(attrs(s)["files_written"] for s in merges), "files")
    m["lake.table.merge.bytes_written"] = (_med(attrs(s)["bytes_written"] for s in merges), "bytes")
    m["lake.table.merge.jobs"] = (_mean(jobs_n), "jobs/merge")
    m["lake.table.merge.tasks"] = (_mean(tasks_n), "tasks/merge")

    compacts = named("lake.table.compact")
    m["lake.table.compact.s"] = (_med(att.dur(s) for s in compacts), "s")
    m["lake.table.compact.count"] = (_ratio(len(compacts), len(merges)), "per_merge")
    m["lake.table.compact.bytes_written"] = (
        _med(attrs(s)["bytes_written"] for s in compacts), "bytes")
    m["lake.table.snapshot_bytes"] = (extra["snapshot_bytes"], "bytes")
    m["lake.table.metadata_bytes"] = (extra["metadata_bytes"], "bytes")

    lookups = named("op.lookup")
    plan, execs, scanned, ljobs = [], [], [], []
    returned = 0
    for sid in lookups:
        rk = [c for c in att.children[sid] if att.spans[c]["name"] == "lake.table.read_keys"]
        p = sum(att.dur(c) for c in rk)
        plan.append(p)
        execs.append(att.dur(sid) - p)
        jobs = att.subtree_jobs(sid)
        scanned.append(sum(st["input_records"] for st in att.job_stages(jobs)))
        ljobs.append(len(jobs))
        returned += attrs(sid).get("rows", 0)
    m["lake.table.read_keys.plan_s"] = (_med(plan), "s")
    m["lake.table.read_keys.exec_s"] = (_med(execs), "s")
    m["lake.table.read_keys.rows_scanned"] = (_med(scanned), "rows")
    m["lake.table.read_keys.hit_ratio"] = (_ratio(returned, sum(scanned)), "ratio")
    m["lake.table.read_keys.jobs"] = (_mean(ljobs), "jobs/lookup")
    logs = named("lake.table.change_log")
    m["lake.table.change_log.s"] = (_med(att.dur(s) for s in logs), "s")
    m["lake.table.change_log.rows"] = (_med(attrs(s)["rows"] for s in named("op.cdc_out")), "rows")

    m["streaming.pipeline.process_batch.self_s"] = (_med(att.self_time(b) for b in batches), "s")
    m["streaming.pipeline.change_filtered.s"] = (
        _med(att.dur(s) for s in named("streaming.pipeline.change_filtered")), "s")
    m["streaming.pipeline.change_filtered.bump_share"] = (
        _ratio(extra["cdc_bumps"], extra["cdc_rows"]), "ratio")
    triggers = extra["triggers"]
    m["streaming.pipeline.run_stream.trigger_overhead_s"] = (
        _med(t["trigger_s"] - t["add_batch_s"] for t in triggers), "s")
    m["streaming.pipeline.run_stream.wal_commit_s"] = (_med(t["wal_s"] for t in triggers), "s")

    ops = [s for s in in_window if att.spans[s]["name"].startswith("op.")]
    jobs = [j for s in in_window for j in att.jobs_of[s]]
    stages = att.job_stages(jobs)
    n_ops = max(1, len(ops))
    m["spark.jobs"] = (len(jobs) / n_ops, "jobs/op")
    m["spark.stages"] = (len(stages) / n_ops, "stages/op")
    m["spark.tasks"] = (sum(st["tasks"] for st in stages) / n_ops, "tasks/op")
    m["spark.gc_s"] = (sum(st["gc_s"] for st in stages) / n_ops, "s/op")
    m["spark.shuffle_write_bytes"] = (sum(st["shuffle_write"] for st in stages) / n_ops, "bytes/op")
    return m
