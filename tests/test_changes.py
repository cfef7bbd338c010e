"""Change feed (CDC-out): snapshot-diff changes(), delta change_log(),
zone-map pruned read(min_seq_ts=...) — the surfaces a downstream consumer of
the lake uses to tail what the ingest applied."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import LakeTable
from data_pipelines_spark.lake.table import ChangeLogUnavailableError

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("lang", T.StringType()),
    ]
)


def ts(day: int) -> dt.datetime:
    return dt.datetime(2025, 1, day)


@pytest.fixture()
def table(spark, tmp_root):
    return LakeTable.create(
        spark, os.path.join(tmp_root, "t"), key="url", n_buckets=4, overwrite=True
    )


def _merge(spark, table, rows, batch_id, schema=SCHEMA):
    return table.merge(spark.createDataFrame(rows, schema), batch_id=batch_id)


def _seed(spark, table):
    """v1: a,b,c live; v2: a updated, b deleted, d inserted."""
    s1 = _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, "en"),
            ("I", "b", ts(1), 2, "de"),
            ("I", "c", ts(1), 3, "fr"),
        ],
        1,
    )
    s2 = _merge(
        spark,
        table,
        [
            ("U", "a", ts(2), 10, "en"),
            ("D", "b", ts(2), 11, None),
            ("I", "d", ts(2), 12, "es"),
        ],
        2,
    )
    return s1.committed_version, s2.committed_version


# ------------------------------------------------------------------ changes()


def test_changes_classifies_iud(spark, table):
    v1, v2 = _seed(spark, table)
    got = {r.url: r._change_type for r in table.changes(v1, v2).collect()}
    assert got == {"a": "U", "d": "I", "b": "D"}  # c unchanged → absent


def test_changes_emits_post_image_for_upsert_pre_image_for_delete(spark, table):
    v1, v2 = _seed(spark, table)
    rows = {r.url: r for r in table.changes(v1, v2).collect()}
    assert rows["a"].offset == 10 and rows["a"].warc_ts == ts(2)  # post-image
    assert rows["d"].offset == 12
    assert rows["b"].offset == 2 and rows["b"].lang == "de"  # pre-image

def test_changes_from_empty_table_is_all_inserts(spark, table):
    _, v2 = _seed(spark, table)
    got = {r.url: r._change_type for r in table.changes(0, v2).collect()}
    assert got == {"a": "I", "c": "I", "d": "I"}  # b net inserted+deleted → nothing


def test_changes_same_version_is_empty(spark, table):
    v1, _ = _seed(spark, table)
    assert table.changes(v1, v1).count() == 0


def test_changes_delete_then_reinsert_nets_to_update(spark, table):
    v1, _ = _seed(spark, table)
    _merge(spark, table, [("I", "b", ts(3), 20, "pt")], 3)
    got = {r.url: (r._change_type, r.lang) for r in table.changes(v1).collect()}
    assert got["b"] == ("U", "pt")


def test_changes_across_schema_evolution_null_backfills_pre_side(spark, table):
    v1, _ = _seed(spark, table)
    wider = T.StructType(
        SCHEMA.fields + [T.StructField("mime", T.StringType())]
    )
    table.merge(
        spark.createDataFrame([("U", "c", ts(3), 30, "fr", "text/html")], wider),
        batch_id=3,
    )
    rows = {r.url: r for r in table.changes(v1).collect()}
    assert "mime" in table.changes(v1).columns
    assert rows["c"]._change_type == "U" and rows["c"].mime == "text/html"
    # pre-image delete row predates the column → NULL
    assert rows["b"]._change_type == "D" and rows["b"].mime is None


def test_changes_spans_compaction_and_overwrite(spark, table):
    v1, _ = _seed(spark, table)
    table.compact()
    _merge(spark, table, [("U", "a", ts(4), 40, "it")], 4)
    table.overwrite(
        spark.createDataFrame(
            [
                ("U", "a", ts(4), 40, "it"),
                ("U", "c", ts(1), 3, "fr"),
                ("U", "d", ts(5), 50, "nl"),
            ],
            SCHEMA,
        ),
        batch_id=5,
    )
    got = {r.url: r._change_type for r in table.changes(v1).collect()}
    # d didn't exist at v1 → its insert+overwrite nets to I; c kept its
    # sequence through the overwrite, so it is unchanged
    assert got == {"a": "U", "b": "D", "d": "I"}


# --------------------------------------------------------------- change_log()


def test_change_log_replays_per_batch_winners(spark, table):
    v1, v2 = _seed(spark, table)
    log = table.change_log(0, v2).collect()
    by_ver = {}
    for r in log:
        by_ver.setdefault(r._commit_version, set()).add((r.op, r.url, r.offset))
    assert by_ver[v1] == {("I", "a", 1), ("I", "b", 2), ("I", "c", 3)}
    assert by_ver[v2] == {("U", "a", 10), ("D", "b", 11), ("I", "d", 12)}


def test_change_log_within_batch_lww_dedups_before_logging(spark, table):
    _merge(
        spark,
        table,
        [("I", "a", ts(1), 1, "en"), ("U", "a", ts(2), 2, "de")],
        1,
    )
    log = table.change_log(0).collect()
    assert len(log) == 1 and log[0].offset == 2  # only the batch winner


def test_change_log_skips_compaction_commits(spark, table):
    v1, v2 = _seed(spark, table)
    table.compact()  # physical reorganization: no logical rows
    s4 = _merge(spark, table, [("U", "c", ts(4), 40, "fr")], 4)
    log = table.change_log(0).collect()
    vers = {r._commit_version for r in log}
    assert vers == {v1, v2, s4.committed_version}
    assert len(log) == 7


def test_change_log_range_slices(spark, table):
    v1, v2 = _seed(spark, table)
    log = table.change_log(v1, v2).collect()
    assert {r.url for r in log} == {"a", "b", "d"}
    assert all(r._commit_version == v2 for r in log)


def test_change_log_refuses_backfill_range_but_changes_works(spark, table):
    v1, _ = _seed(spark, table)
    _merge(spark, table, [("U", "e", ts(5), 50, None)], 5)
    table.backfill("lang", F.lit("nl"), batch_id=6)
    with pytest.raises(ChangeLogUnavailableError):
        table.change_log(v1)
    assert table.changes(v1).count() > 0  # snapshot diff always available


def test_change_log_empty_range_empty_frame_with_schema(spark, table):
    v1, _ = _seed(spark, table)
    df = table.change_log(v1, v1)
    assert df.count() == 0
    assert df.columns[:2] == ["_commit_version", "op"]


def test_history_records_operation_kinds(spark, table):
    _seed(spark, table)
    table.compact()
    ops = [h["operation"] for h in table.history()]
    assert ops == [None, "merge", "merge", "compact"]


# ------------------------------------------------- zone maps + min_seq_ts read


def _zone_mapped_files(table):
    snap = table._snapshot(table.current_version())
    return [fe for fl in table._resolve_files(snap).values() for fe in fl]


def test_merge_writes_ts_zone_maps(spark, table):
    _seed(spark, table)
    fes = _zone_mapped_files(table)
    assert fes and all("ts_min" in fe and "ts_max" in fe for fe in fes)
    assert all(fe["ts_min"] <= fe["ts_max"] for fe in fes)


def test_compaction_preserves_ts_zone_maps(spark, table):
    _seed(spark, table)
    table.compact()
    fes = _zone_mapped_files(table)
    assert fes and all("ts_min" in fe for fe in fes)


def test_min_seq_ts_filters_to_fresh_winners(spark, table):
    _seed(spark, table)
    got = {r.url for r in table.read(min_seq_ts="2025-01-02 00:00:00").collect()}
    assert got == {"a", "d"}  # c's winner is ts(1); b is deleted
    assert table.read(min_seq_ts="2025-01-03 00:00:00").count() == 0


def test_min_seq_ts_skips_cold_files(spark, table):
    # two merges with disjoint time ranges → the old batch's files are
    # provably cold and must not be scanned
    _merge(spark, table, [("I", "a", ts(1), 1, "en"), ("I", "b", ts(1), 2, "de")], 1)
    _merge(spark, table, [("I", "c", ts(9), 3, "fr"), ("I", "d", ts(9), 4, "es")], 2)
    fresh = table.read(min_seq_ts="2025-01-05 00:00:00")
    assert {r.url for r in fresh.collect()} == {"c", "d"}
    assert len(fresh.inputFiles()) < len(table.read().inputFiles())


def test_min_seq_ts_correct_with_bump_deltas_present(spark, tmp_root):
    """Un-compacted seq-bump files disable file skipping but the freshness
    predicate must still return exactly the fresh winners with their
    original (bump-materialized) payload."""
    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=800, n_keys=60, seed=11)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(tmp_root, "t"),
            n_buckets=4,
            change_filter=True,
        ),
    )
    pipe.table.compact_threshold = 100  # keep bump files un-compacted
    pipe.run_batches(changes, n_batches=3)
    t = pipe.table
    full = t.read()
    bound = "2025-01-01 00:05:00"
    expect = full.where(F.col("warc_ts") >= F.lit(bound).cast("timestamp"))
    got = t.read(min_seq_ts=bound)
    a = {(r.url, r.warc_ts, r.offset) for r in expect.collect()}
    b = {(r.url, r.warc_ts, r.offset) for r in got.collect()}
    assert a == b and len(a) > 0


def test_sorted_compaction_splits_buckets_into_zone_mapped_files(spark, table):
    """compact(sort_by_seq=True, target_file_rows=N): each bucket's rewrite
    is seq-clustered and split into fixed-size files with contiguous,
    non-overlapping ts ranges — so read(min_seq_ts=...) skips cold BASE
    files inside a bucket, not just cold commits. State-invisible."""
    rows = [("I", f"u{i:03d}", ts(1 + i % 28), i, "en") for i in range(200)]
    _merge(spark, table, rows, 1)
    pre = {(r.url, r.warc_ts, r.offset) for r in table.read().collect()}

    st = table.compact(sort_by_seq=True, target_file_rows=20)
    assert st.committed_version is not None

    post = {(r.url, r.warc_ts, r.offset) for r in table.read().collect()}
    assert post == pre and len(post) == 200

    snap = table._snapshot(table.current_version())
    files = table._resolve_files(snap)
    # split actually happened, and every file carries a ts zone map
    assert any(len(fl) > 1 for fl in files.values())
    for fl in files.values():
        spans = sorted((fe["ts_min"], fe["ts_max"]) for fe in fl)
        assert all("ts_min" in fe and "ts_max" in fe for fe in fl)
        # ranges within a bucket may touch at a shared timestamp but
        # never properly overlap (rows are seq-sorted before the roll)
        for (_, hi1), (lo2, _) in zip(spans, spans[1:]):
            assert hi1 <= lo2

    bound = "2025-01-20 00:00:00"
    fresh = table.read(min_seq_ts=bound)
    assert len(fresh.inputFiles()) < len(table.read().inputFiles())
    expect = {
        r.url
        for r in table.read()
        .where(F.col("warc_ts") >= F.lit(bound).cast("timestamp"))
        .collect()
    }
    assert {r.url for r in fresh.collect()} == expect and expect


def test_rewrite_commits_stamp_zone_maps_for_ntz_timestamps(spark, tmp_root):
    """A table whose seq timestamp column is TIMESTAMP_NTZ (what Spark
    infers from parquet written with isAdjustedToUTC=false — the events
    fixture) must KEEP per-file ts zone maps across a rewrite: the
    merge path's footer accounting always stamped NTZ, but the rewrite
    path's track_ts check once accepted only TimestampType, so a single
    compact() silently dropped the table's file-skipping bounds."""
    ntz_schema = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampNTZType()),
            T.StructField("offset", T.LongType()),
            T.StructField("lang", T.StringType()),
        ]
    )
    table = LakeTable.create(
        spark, os.path.join(tmp_root, "ntz"), key="url", n_buckets=2, overwrite=True
    )
    rows = [("I", f"u{i}", ts(1 + i), i, "en") for i in range(8)]
    table.merge(spark.createDataFrame(rows, ntz_schema), batch_id=1)
    assert all("ts_min" in fe for fe in _zone_mapped_files(table))

    table.compact(sort_by_seq=True, target_file_rows=2)
    fes = _zone_mapped_files(table)
    assert fes and all("ts_min" in fe and "ts_max" in fe for fe in fes)
    fresh = table.read(min_seq_ts="2025-01-06 00:00:00")
    assert {r.url for r in fresh.collect()} == {"u5", "u6", "u7"}
    assert len(fresh.inputFiles()) < len(table.read().inputFiles())


def test_pipeline_auto_compaction_keeps_sorted_zone_mapped_layout(spark, tmp_root):
    """`PipelineConfig(compact_sort_by_seq=True, compact_target_file_rows=N)`:
    the merge-triggered auto-compactions keep base files seq-clustered and
    split, so a steady-state table stays zone-map-prunable for incremental
    consumers with no separate OPTIMIZE pass — and the layout policy is
    state-invisible vs the default pipeline on the same stream."""
    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=1200, n_keys=100, seed=5)
    plain = CdcPipeline(
        spark,
        PipelineConfig(table_root=os.path.join(tmp_root, "plain"), n_buckets=4),
    )
    sorted_p = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(tmp_root, "sorted"),
            n_buckets=4,
            compact_sort_by_seq=True,
            compact_target_file_rows=10,
        ),
    )
    for p in (plain, sorted_p):
        p.table.compact_threshold = 2
        p.table.compact_stagger = 1
        p.run_batches(changes, n_batches=4)

    key = lambda r: (r.url, r.warc_ts, r.offset)
    assert sorted(map(key, sorted_p.table.read().collect())) == sorted(
        map(key, plain.table.read().collect())
    )
    snap = sorted_p.table._snapshot(sorted_p.table.current_version())
    files = sorted_p.table._resolve_files(snap)
    base = {
        b: [fe for fe in fl if fe.get("kind", "base") == "base"]
        for b, fl in files.items()
    }
    assert any(len(fl) > 1 for fl in base.values())
    assert all("ts_min" in fe for fl in base.values() for fe in fl)
