"""The benchmark's workloads: closed loops with one client.

Each workload writes a deterministic ``change_stream(seed)`` log as parquet
segments during set-up, then cycles a fixed pattern of operations until the
window closes: ingest microbatches, point lookups (``read_keys``) and CDC-out
reads (``change_log``). Every operation's result is checked as it completes,
and the final table state is checked against the batch oracle
``expected_final_state`` after the window.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import shutil
import time

import pyarrow.parquet as pq
from pyspark.sql import Observation
from pyspark.sql import functions as F

from data_pipelines_spark.gen.changegen import (
    change_stream,
    expected_final_state,
    write_change_log,
)
from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

from spans import stats_attrs, udf_profile

N_BUCKETS = 16
LOOKUP_KEYS = 4


class Workload:
    """Shared machinery: op accounting, checked ops, key picking."""

    name = ""
    #: when set, the ingest rate and the batch latency cover only the
    #: window's first FIXED_CYCLES cycles, so every run measures the same
    #: mix of work however many cycles fit
    FIXED_CYCLES: int | None = None

    def __init__(self, spark, tracer, seed: int, work: str, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.work = work
        self.sizes = sizes
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        #: (end time, wall) per microbatch
        self.batch_lat: list[tuple[float, float]] = []
        self.lookup_lat: list[float] = []
        self.cdc_lat: list[float] = []
        self.events = 0
        #: (time, events ingested so far) at the start of each window cycle
        self.marks: list[tuple[float, int]] = []
        self.cdc_rows = 0
        self.cdc_bumps = 0
        self.triggers: list[dict] = []
        #: (table, from version, to version, rows_in) per commit not yet read
        self.pending_cdc: list[tuple] = []
        #: set-up phase -> seconds, for the protocol
        self.phases: dict[str, float] = {}
        self._phase_t = time.time()
        self.in_window = False
        self._keys: dict[str, list[str]] = {}
        #: (table, log segments ingested into it) for the end-of-run check
        self.tables: list[tuple[object, list[str]]] = []

    # ------------------------------------------------------------ set-up

    def phase(self, name: str) -> None:
        """Mark the end of a set-up phase (its duration goes to the protocol)."""
        now = time.time()
        self.phases[name] = now - self._phase_t
        self._phase_t = now

    def write_log(self, df, name: str, n_segments: int) -> list[str]:
        return write_change_log(df, os.path.join(self.work, name), n_segments=n_segments)

    def pipeline(self, name: str, **cfg) -> CdcPipeline:
        pipe = CdcPipeline(
            self.spark,
            PipelineConfig(table_root=os.path.join(self.work, name), n_buckets=N_BUCKETS, **cfg),
        )
        if self.tracer.traced:
            def udf_start(rec):
                rec["attrs"]["udf0"] = udf_profile(self.spark)

            def udf_delta(rec, stats):
                (s0, r0), (s1, r1) = rec["attrs"].pop("udf0"), udf_profile(self.spark)
                rec["attrs"].update(udf_s=s1 - s0, udf_rows=r1 - r0)
                stats_attrs(rec, stats)

            self.tracer.wrap(pipe, "process_batch", on_start=udf_start, on_result=udf_delta)
            self.tracer.wrap(pipe, "change_filtered")
            self.tracer.wrap(pipe.table, "merge", on_result=stats_attrs)
            self.tracer.wrap(pipe.table, "compact", on_result=stats_attrs)
            self.tracer.wrap(pipe.table, "read_keys")
            self.tracer.wrap(pipe.table, "change_log")
        pipe.batch_stats = []
        version = [pipe.table.current_version()]
        inner = pipe.process_batch

        def process_batch(df, batch_id):
            stats = inner(df, batch_id)
            pipe.batch_stats.append(stats)
            # each commit is read back once by a CDC-out consumer
            self.pending_cdc.append(
                (pipe.table, version[0], stats.committed_version, stats.rows_in)
            )
            version[0] = stats.committed_version
            return stats

        # instance attribute: run_stream's foreachBatch lambda resolves
        # self.process_batch at call time, so it picks this up too
        pipe.process_batch = process_batch
        return pipe

    @staticmethod
    def rows(paths: list[str]) -> int:
        return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)

    def keys(self, paths: list[str]) -> list[str]:
        out = set()
        for p in paths:
            if p not in self._keys:
                col = pq.read_table(p, columns=["url"]).column(0).to_pylist()
                self._keys[p] = sorted(set(col))
            out.update(self._keys[p])
        return sorted(out)

    def mark(self) -> None:
        """Start of a cycle of the workload's op pattern."""
        if self.in_window:
            self.marks.append((time.time(), self.events))

    def pick(self, recent: list[str], everyone: list[str]) -> list[str]:
        """Half the keys from the latest batch, half uniform over the rest."""
        half = LOOKUP_KEYS // 2
        return self.rng.sample(recent, half) + self.rng.sample(everyone, LOOKUP_KEYS - half)

    # ---------------------------------------------------------------- ops

    def _op(self, kind: str, fn, **attrs):
        """Run one checked op; an exception or a wrong result counts failed."""
        self.attempted += 1
        error = None
        with self.tracer.span("op." + kind, **attrs) as rec:
            try:
                if not fn(rec):
                    error = f"wrong result {rec['attrs']}"
            except Exception as e:  # noqa: BLE001 — every op failure is counted, not fatal
                error = f"{type(e).__name__}: {str(e)[:300]}"
        if error is not None:
            self.failed += 1
            self.errors.append(f"{kind}: {error}")
        return rec

    def batch(self, pipe, segments: list[str], batch_id: int):
        def run(rec):
            stats = pipe.process_batch(self.spark.read.parquet(*segments), batch_id=batch_id)
            rec["attrs"]["rows_in"] = stats.rows_in
            return not stats.skipped_duplicate_batch

        events = self.rows(segments)
        rec = self._op("batch", run, events=events)
        if self.in_window:
            self.batch_lat.append((rec["end"], rec["end"] - rec["start"]))
            self.events += events
        return rec

    def stream_round(self, pipe, segment: str, src: str, ckpt: str, schema) -> None:
        """Stage ``segment`` into the tailed directory and drain it with
        ``run_stream`` (availableNow, one file per trigger): one microbatch."""
        shutil.copy(segment, src)
        done = len(pipe.batch_stats)
        with self.tracer.span("stream.round") as rnd:
            query = None
            try:
                query = pipe.run_stream(src, ckpt, schema, max_files_per_trigger=1)
                query.awaitTermination()
                error = None
            except Exception as e:  # noqa: BLE001 — a failed round fails its batches
                error = f"stream: {type(e).__name__}: {str(e)[:300]}"
        progress = [p for p in (query.recentProgress if query else []) if p["numInputRows"] > 0]
        ran = len(pipe.batch_stats) - done
        self.attempted += 1
        if error or ran != 1:
            self.failed += 1
            self.errors.append(error or f"stream: {ran} batches ran, expected 1")
        pbs = [s for s in self.tracer.spans if s["name"] == "streaming.pipeline.process_batch"
               and s["start"] >= rnd["start"] and s["end"] <= rnd["end"]]
        for p in progress:
            d = p["durationMs"]
            start = _iso(p["timestamp"])
            trig = {
                "batch_id": p["batchId"],
                "trigger_s": d.get("triggerExecution", 0) / 1e3,
                "add_batch_s": d.get("addBatch", 0) / 1e3,
                "wal_s": (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3,
            }
            span = self.tracer.add("op.batch", start, start + trig["trigger_s"], rnd, **trig)
            for pb in pbs:  # the foreachBatch body ran inside this trigger
                if start <= pb["start"] <= span["end"]:
                    pb["parent"] = span["id"]
            if self.in_window:
                self.triggers.append(trig)
                self.batch_lat.append((span["end"], trig["trigger_s"]))
        if self.in_window:
            # events from the files: the source's numInputRows counts every
            # scan of the microbatch, and process_batch scans it more than once
            self.events += self.rows([segment])

    def lookup(self, table, keys: list[str]) -> None:
        def run(rec):
            rows = table.read_keys(keys).collect()
            got = [r[table.key] for r in rows]
            rec["attrs"]["rows"] = len(rows)
            # at most one row per key, and only keys that were asked for
            return len(got) == len(set(got)) and set(got) <= set(keys)

        rec = self._op("lookup", run)
        if self.in_window:
            self.lookup_lat.append(rec["end"] - rec["start"])

    def cdc_out(self) -> None:
        """What a downstream consumer tailing the table pays: the change log
        of the oldest commit not yet read, materialised with the noop sink;
        its row count must equal that batch's ``MergeStats.rows_in``."""
        table, since, until, expected_rows = self.pending_cdc.pop(0)

        def run(rec):
            obs = Observation("cdc_out")
            df = table.change_log(since, until).observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(F.sum((F.col("op") == "B").cast("long")), F.lit(0)).alias("bumps"),
            )
            df.write.format("noop").mode("overwrite").save()
            got = obs.get
            rec["attrs"].update(rows=got["rows"], bumps=got["bumps"], expected=expected_rows)
            return got["rows"] == expected_rows

        rec = self._op("cdc_out", run)
        if self.in_window:
            self.cdc_lat.append(rec["end"] - rec["start"])
            self.cdc_rows += rec["attrs"].get("rows", 0)
            self.cdc_bumps += rec["attrs"].get("bumps", 0)

    def check_state(self) -> None:
        """Final table state == full-stream LWW over the events ingested,
        as a (row count, sum of row hashes) checksum over key + seq cols +
        content hash."""
        for table, segments in self.tables:
            def run(rec, table=table, segments=segments):
                got = _checksum(table.read(columns=["content_hash"]))
                want = _checksum(
                    expected_final_state(self.spark.read.parquet(*segments))
                    .withColumn("content_hash", F.sha2(F.col("html"), 256))
                )
                rec["attrs"].update(got=str(got), want=str(want))
                return got == want

            self._op("state_check", run)

    # ------------------------------------------------------------ results

    def lake_bytes(self) -> tuple[int, int]:
        """(bytes under the last table's root, change-log bytes ingested)."""
        table, segments = self.tables[-1]
        return _du(table.root), sum(os.path.getsize(p) for p in segments)

    def metadata_bytes(self) -> tuple[int, int]:
        meta = os.path.join(self.tables[-1][0].root, "metadata")
        snaps = [f for f in os.listdir(meta) if f.startswith("v") and f.endswith(".json")]
        newest = max(snaps, key=lambda f: int(f[1:-5]))
        return os.path.getsize(os.path.join(meta, newest)), _du(meta)


def _iso(ts: str) -> float:
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc
    ).timestamp()


def _checksum(df) -> tuple[int, int]:
    row = df.select(
        F.count(F.lit(1)),
        F.sum(
            F.xxhash64("url", "warc_ts", "offset", "content_hash").cast("decimal(38,0)")
        ),
    ).first()
    return int(row[0]), int(row[1] or 0)


def _du(root: str) -> int:
    total = 0
    for d, _, files in os.walk(root):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# ----------------------------------------------------------------- workloads


class BulkBackfill(Workload):
    """A fresh table per cycle; the same log ingested in 2 microbatches of 8
    segments through ``process_batch``; then lookups and a CDC-out read of
    each commit."""

    name = "bulk_backfill"
    SIZES = {"events": 24_000, "html_repeat": 80, "segments": 16, "lookups": 4}

    def setup(self) -> None:
        s = self.sizes
        log = change_stream(
            self.spark, n_events=s["events"], n_keys=s["events"] // 8,
            seed=self.seed, html_repeat=s["html_repeat"],
        )
        self.segments = self.write_log(log, "log", s["segments"])
        self.phase("log")
        half = len(self.segments) // 2
        self.groups = [self.segments[:half], self.segments[half:]]
        self.all_keys = self.keys(self.segments)
        warm = self.pipeline("warmup")
        self.batch(warm, self.groups[0], 0)
        self.lookup(warm.table, self.pick(self.keys(self.groups[0]), self.all_keys))
        self.cdc_out()
        self.phase("warm_up")
        self.cycle = 0

    def steps(self):
        while True:
            self.mark()
            pipe = self.pipeline(f"t{self.cycle}")
            ingested: list[str] = []
            self.tables.append((pipe.table, ingested))
            for i, group in enumerate(self.groups):
                self.batch(pipe, group, i)
                ingested.extend(group)
                yield
            recent = self.keys(self.groups[-1])
            for _ in range(self.sizes["lookups"]):
                self.lookup(pipe.table, self.pick(recent, self.all_keys))
                yield
            while self.pending_cdc:
                self.cdc_out()
                yield
            self.cycle += 1


class TailServe(Workload):
    """A table preloaded in 6 batches (ids -6..-1, integers the stream never
    issues); then each round copies the next 1k-event segment into the
    tailed directory and ``run_stream`` (availableNow, one file per trigger,
    change filter on) drains it, the way a periodic ``scripts/run_ingest.py``
    tails the log; lookups and a CDC-out read of the commit follow.

    Every batch adds one delta file per bucket, and bucket ``b`` compacts at
    ``8 + b % 4`` of them. After the 6 preload batches and the warm-up
    round, window rounds 1-4 each compact a quarter of the buckets, and no
    bucket compacts again before round 9. A window of 4-8 rounds therefore
    holds the same four compactions, and its first four batches compact."""

    name = "tail_serve"
    SIZES = {
        "preload": 12_000, "preload_batches": 6, "segment_events": 1_000,
        "tail_segments": 10, "lookups": 2,
    }
    #: page content changes every 4000 * (events per key) offsets, so a
    #: re-scrape of a recently seen key usually carries the stored bytes
    RESCRAPE_EPOCH = 4_000
    #: the four rounds that compact
    FIXED_CYCLES = 4

    def setup(self) -> None:
        s = self.sizes
        n_pre = s["preload"] // s["segment_events"]
        total = (n_pre + s["tail_segments"]) * s["segment_events"]
        log = change_stream(
            self.spark, n_events=total, n_keys=total // 4, seed=self.seed,
            rescrape_epoch=self.RESCRAPE_EPOCH,
        )
        segments = self.write_log(log, "log", n_pre + s["tail_segments"])
        preload, self.tail = segments[:n_pre], segments[n_pre:]
        self.phase("log")
        # the preload is a backfill of an empty table: one large batch, then
        # one segment per batch, with no change filter and no CDC-out reads
        loader = self.pipeline("table")
        first = n_pre - s["preload_batches"] + 1
        groups = [preload[:first]] + [[p] for p in preload[first:]]
        for i, group in enumerate(groups):
            self.batch(loader, group, i - len(groups))
        self.pending_cdc.clear()
        self.pipe = self.pipeline("table", change_filter=True)
        self.ingested = list(preload)
        self.tables.append((self.pipe.table, self.ingested))
        self.preload_keys = self.keys(preload)
        self.schema = self.spark.read.parquet(preload[0]).schema
        self.src = os.path.join(self.work, "src")
        self.ckpt = os.path.join(self.work, "ckpt")
        os.makedirs(self.src)
        self.phase("preload")
        for _ in self.round():
            pass
        self.phase("warm_up")

    def round(self):
        segment = self.tail.pop(0)
        self.ingested.append(segment)
        self.stream_round(self.pipe, segment, self.src, self.ckpt, self.schema)
        yield
        recent = self.keys([segment])
        for _ in range(self.sizes["lookups"]):
            self.lookup(self.pipe.table, self.pick(recent, self.preload_keys))
            yield
        while self.pending_cdc:
            self.cdc_out()
            yield

    def steps(self):
        while self.tail:
            self.mark()
            yield from self.round()


WORKLOADS = {w.name: w for w in (BulkBackfill, TailServe)}
