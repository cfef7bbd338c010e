"""LakeTable (M0): merge semantics, LWW, idempotence, evolution, time travel."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import LakeTable, SchemaEvolutionError

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("html", T.BinaryType()),
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


def test_upsert_and_lww_within_batch(spark, table):
    _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, b"<a1>", "en"),
            ("U", "a", ts(2), 2, b"<a2>", "en"),
            ("I", "b", ts(1), 3, b"<b1>", "de"),
        ],
        1,
    )
    got = {r.url: bytes(r.html) for r in table.read().collect()}
    assert got == {"a": b"<a2>", "b": b"<b1>"}


def test_stale_update_loses_across_batches(spark, table):
    _merge(spark, table, [("I", "a", ts(5), 10, b"<new>", "en")], 1)
    _merge(spark, table, [("U", "a", ts(2), 3, b"<stale>", "en")], 2)
    got = table.read().collect()
    assert len(got) == 1 and bytes(got[0].html) == b"<new>"


def test_delete_tombstone_beats_older_update(spark, table):
    _merge(spark, table, [("I", "b", ts(1), 1, b"<b1>", "de")], 1)
    _merge(spark, table, [("D", "b", ts(3), 5, None, None)], 2)
    assert table.read().count() == 0
    # older update cannot resurrect
    _merge(spark, table, [("U", "b", ts(2), 4, b"<b-old>", "de")], 3)
    assert table.read().count() == 0
    # newer insert does
    _merge(spark, table, [("I", "b", ts(4), 7, b"<b2>", "de")], 4)
    assert table.read().count() == 1


def test_duplicate_batch_skipped(spark, table):
    df_rows = [("I", "a", ts(1), 1, b"<a>", "en")]
    s1 = _merge(spark, table, df_rows, 1)
    assert not s1.skipped_duplicate_batch
    s2 = _merge(spark, table, df_rows, 1)
    assert s2.skipped_duplicate_batch
    assert table.read().count() == 1
    assert table.current_version() == s1.committed_version


def test_schema_evolution_add_column_backfills_null(spark, table):
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a>", "en")], 1)
    schema2 = T.StructType(
        SCHEMA.fields + [T.StructField("meta", T.MapType(T.StringType(), T.StringType()))]
    )
    s = _merge(spark, table, [("I", "c", ts(2), 2, b"<c>", "en", {"k": "v"})], 2, schema2)
    assert s.schema_evolved
    rows = {r.url: r.meta for r in table.read().collect()}
    assert rows["a"] is None and rows["c"] == {"k": "v"}


def test_schema_widening_int_to_long(spark, table):
    narrow = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("score", T.IntegerType()),
        ]
    )
    wide = T.StructType(narrow.fields[:-1] + [T.StructField("score", T.LongType())])
    _merge(spark, table, [("I", "a", ts(1), 1, 7)], 1, narrow)
    _merge(spark, table, [("I", "b", ts(1), 2, 2**40)], 2, wide)
    out = table.read()
    assert dict(out.dtypes)["score"] == "bigint"
    assert {r.score for r in out.collect()} == {7, 2**40}


def test_incompatible_schema_rejected(spark, table):
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a>", "en")], 1)
    bad = T.StructType(
        [
            T.StructField("op", T.StringType()),
            T.StructField("url", T.StringType()),
            T.StructField("warc_ts", T.TimestampType()),
            T.StructField("offset", T.LongType()),
            T.StructField("html", T.StringType()),  # binary -> string: refuse
            T.StructField("lang", T.StringType()),
        ]
    )
    with pytest.raises(SchemaEvolutionError):
        _merge(spark, table, [("I", "x", ts(1), 9, "<x>", "en")], 2, bad)


def test_time_travel(spark, table):
    s1 = _merge(spark, table, [("I", "a", ts(1), 1, b"<a1>", "en")], 1)
    _merge(spark, table, [("U", "a", ts(2), 2, b"<a2>", "en")], 2)
    assert bytes(table.read(version=s1.committed_version).collect()[0].html) == b"<a1>"
    assert bytes(table.read().collect()[0].html) == b"<a2>"


def test_vacuum_tombstones(spark, table):
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a>", "en")], 1)
    _merge(spark, table, [("D", "a", ts(2), 2, None, None)], 2)
    assert table.read(include_tombstones=True).where(F.col("_deleted")).count() == 1
    table.vacuum_tombstones(batch_id=3, older_than="2025-02-01")
    assert table.read(include_tombstones=True).count() == 0


def test_partition_pruning_only_touched_buckets_rewritten(spark, table):
    _merge(
        spark,
        table,
        [("I", f"url-{i}", ts(1), i, b"<x>", "en") for i in range(40)],
        1,
    )
    s = _merge(spark, table, [("U", "url-0", ts(2), 100, b"<y>", "en")], 2)
    assert s.buckets_touched == 1  # copy-on-write confined to url-0's bucket
    assert table.read().count() == 40


def test_crash_mid_commit_leaves_previous_snapshot(spark, table):
    """Write-audit-publish: data files on disk without a pointer move are
    invisible; the table stays on the last consistent snapshot and the next
    merge commits normally."""
    _merge(spark, table, [("I", "u1", ts(1), 1, b"<p>a</p>", "en")], batch_id=0)
    v_before = table.current_version()
    # simulate a crash after file write, before the pointer swap: orphan
    # commit dir exists but CURRENT still points at v_before
    orphan = table._new_commit_dir(v_before)
    os.makedirs(os.path.join(orphan, "_bucket=0"), exist_ok=True)
    with open(os.path.join(orphan, "_bucket=0", "part-junk.parquet"), "wb") as f:
        f.write(b"not really parquet")
    assert table.current_version() == v_before
    assert table.read().count() == 1  # orphan files never read (manifest-driven)
    s = _merge(spark, table, [("I", "u2", ts(2), 2, b"<p>b</p>", "en")], batch_id=1)
    assert s.committed_version == v_before + 1
    assert table.read().count() == 2


def test_concurrent_commit_refused(spark, table):
    """The pointer swap detects a foreign commit between snapshot read and
    publish and refuses rather than silently clobbering it."""
    from data_pipelines_spark.lake.table import ConcurrentCommitError

    _merge(spark, table, [("I", "u1", ts(1), 1, b"<p>a</p>", "en")], batch_id=0)
    with pytest.raises(ConcurrentCommitError):
        table._swap_pointer(expected=table.current_version() + 5, new_version=99)
    # table unharmed
    assert table.read().count() == 1


def test_explicit_update_schema_and_history(spark, table):
    """update_schema commits a metadata-only snapshot (files untouched);
    history() walks the snapshot chain oldest-first."""
    _merge(spark, table, [("I", "u1", ts(1), 1, b"<p>a</p>", "en")], batch_id=0)
    new = T.StructType(
        list(SCHEMA.fields)[1:] + [T.StructField("mime", T.StringType())]
    )
    s = table.update_schema(new, batch_id="mig-1")
    assert s.schema_evolved and s.committed_version == 2
    assert "mime" in [f.name for f in table.schema().fields]
    row = table.read().select("url", "mime").collect()[0]
    assert row.mime is None  # NULL-backfilled on read alignment
    # idempotent re-apply
    assert table.update_schema(new, batch_id="mig-1").skipped_duplicate_batch
    hist = table.history()
    assert [h["version"] for h in hist] == [0, 1, 2]
    assert hist[2]["batches"] == ["mig-1"]
    # incompatible migration refused
    bad = T.StructType([T.StructField("lang", T.LongType())])
    with pytest.raises(SchemaEvolutionError):
        table.update_schema(bad, batch_id="mig-2")


def test_salted_dedup_identical_state_under_extreme_skew(spark, tmp_root):
    """salt_dedup pre-reduces a hot key across tasks; the final state must be
    identical to the unsalted path on a stream where one url dominates."""
    from data_pipelines_spark.gen.changegen import change_stream

    # skew=6 concentrates a large share of events on key 0
    changes = change_stream(spark, n_events=4000, n_keys=400, seed=5, skew=6.0)
    tables = {}
    for name, salt in [("plain", 0), ("salted", 8)]:
        t = LakeTable.create(
            spark, os.path.join(tmp_root, name), key="url", n_buckets=4, overwrite=True
        )
        t.merge(changes, batch_id=0, salt_dedup=salt)
        tables[name] = t
    a = tables["plain"].read().select("url", "offset", "warc_ts")
    b = tables["salted"].read().select("url", "offset", "warc_ts")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0
    # hot key really is hot (sanity that the scenario exercises skew)
    top = (
        changes.groupBy("url").count().orderBy(F.col("count").desc()).limit(1).collect()[0]
    )
    assert top["count"] > 4000 * 0.2


def test_expire_snapshots_gc(spark, table):
    """expire_snapshots drops old metadata + unreferenced data files (incl.
    crash orphans) while current reads and retained time travel survive."""
    for i in range(5):
        _merge(
            spark, table,
            [("U", "u1", ts(i + 1), i, f"<p>{i}</p>".encode(), "en")],
            batch_id=i,
        )
    # crash orphan: files written, pointer never moved
    orphan = table._new_commit_dir(table.current_version())
    os.makedirs(os.path.join(orphan, "_bucket=0"), exist_ok=True)
    with open(os.path.join(orphan, "_bucket=0", "part-junk.parquet"), "wb") as f:
        f.write(b"junk")
    before = table.read().collect()
    cur = table.current_version()

    stats = table.expire_snapshots(keep_last=2)
    assert stats["snapshots_expired"] == cur - 1  # v0..v{cur-2} dropped
    assert stats["files_deleted"] > 0 and not os.path.exists(orphan)
    after = table.read().collect()
    assert after == before
    assert table.read(version=cur - 1).count() >= 0  # retained time travel
    with pytest.raises(FileNotFoundError):
        table._snapshot(0)
    assert [h["version"] for h in table.history()] == [cur - 1, cur]
    # idempotent
    again = table.expire_snapshots(keep_last=2)
    assert again["files_deleted"] == 0 and again["snapshots_expired"] == 0


def test_expire_orphan_grace_spares_in_flight_commits(spark, table):
    """GC × optimistic concurrency: a writer mid-commit has written data
    files but not yet won the snapshot CAS — unreferenced by every
    snapshot, so default GC would delete them under the commit.
    orphan_grace_s (Iceberg remove_orphan_files(older_than=...)) spares
    young unreferenced files; backdated ones still collect."""
    for i in range(3):
        _merge(
            spark, table,
            [("U", "u1", ts(i + 1), i, f"<p>{i}</p>".encode(), "en")],
            batch_id=i,
        )
    # "in-flight": files on disk, pointer not yet moved (fresh mtime)
    inflight = table._new_commit_dir(table.current_version())
    os.makedirs(os.path.join(inflight, "_bucket=0"), exist_ok=True)
    fresh = os.path.join(inflight, "_bucket=0", "part-inflight.parquet")
    with open(fresh, "wb") as f:
        f.write(b"inflight")
    # a genuinely dead crash orphan: same shape, mtime backdated past grace
    dead_dir = table._new_commit_dir(table.current_version())
    os.makedirs(os.path.join(dead_dir, "_bucket=0"), exist_ok=True)
    dead = os.path.join(dead_dir, "_bucket=0", "part-dead.parquet")
    with open(dead, "wb") as f:
        f.write(b"dead")
    os.utime(dead, (1, 1))

    table.expire_snapshots(keep_last=2, orphan_grace_s=3600)
    assert os.path.exists(fresh)  # spared: inside the grace window
    assert not os.path.exists(dead)  # collected: older than the grace

    # the real interleaving: GC fires DURING a commit's CAS window
    other = type(table).load(spark, table.root)
    orig = other._write_snapshot
    ran = {"done": False}

    def hooked(snap):
        if not ran["done"]:
            ran["done"] = True
            table.expire_snapshots(keep_last=2, orphan_grace_s=3600)
        orig(snap)

    other._write_snapshot = hooked
    out = _merge(
        spark, other,
        [("U", "u9", ts(9), 99, b"<p>new</p>", "en")],
        batch_id="inflight",
    )
    assert not out.skipped_duplicate_batch
    assert {r.url for r in table.read().collect()} >= {"u1", "u9"}


def test_snapshot_metadata_is_o1_per_commit(spark, tmp_root):
    """Manifest split (Iceberg shape): a commit writes its file list into an
    immutable per-commit manifest, so snapshot JSON stays ~constant size as
    the table accumulates files, and commit metadata cost stops growing with
    table size."""
    import json
    import os

    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    root = os.path.join(tmp_root, "o1meta")
    pipe = CdcPipeline(spark, PipelineConfig(table_root=root, n_buckets=4))
    changes = change_stream(spark, n_events=1200, n_keys=200, seed=5)
    pipe.run_batches(changes, n_batches=12)

    t = pipe.table
    meta = os.path.join(root, "metadata")
    sizes = []
    for v in range(1, t.current_version() + 1):
        p = os.path.join(meta, f"v{v}.json")
        if os.path.exists(p):
            snap = json.load(open(p))
            # snapshot never carries inline file lists after the split
            assert not snap.get("files"), f"v{v} has inline files"
            sizes.append(os.path.getsize(p))
    # growth per commit is bounded (ledger entry + manifest path), far below
    # one file entry per table file: last snapshot stays within a few KB of
    # the first even though the table holds dozens of files by then
    assert sizes[-1] - sizes[0] < 4096
    manifests = [f for f in os.listdir(meta) if f.startswith("m")]
    assert manifests, "commits must write manifest files"
    # resolution reproduces a coherent view: read() works at old + new versions
    assert t.read(version=t.current_version()).count() > 0

    # manifest GC: expiring old snapshots deletes their unreferenced manifests
    before = len(manifests)
    t.expire_snapshots(keep_last=2)
    after = len([f for f in os.listdir(meta) if f.startswith("m")])
    assert after <= before
    assert t.read().count() > 0


def test_manifest_chain_squash(spark, tmp_root):
    """Past MANIFEST_SQUASH commits the chain consolidates into one replace
    manifest — resolution cost and snapshot size stay bounded forever."""
    import os

    from pyspark.sql import functions as F

    from data_pipelines_spark.lake.table import LakeTable

    root = os.path.join(tmp_root, "squash")
    t = LakeTable.create(spark, root, n_buckets=2, compact_threshold=10**9)
    t.MANIFEST_SQUASH = 5
    base = spark.range(6).select(
        F.lit("U").alias("op"),
        F.concat(F.lit("k"), F.col("id")).alias("url"),
        F.timestamp_seconds(F.lit(1735689600) + F.col("id")).alias("warc_ts"),
        F.col("id").alias("offset"),
        F.col("id").cast("double").alias("value"),
    )
    for i in range(8):
        t.merge(base.where(F.col("offset") % 8 == i), batch_id=i)
    snap = t._snapshot()
    assert len(snap["manifests"]) <= 5 + 1
    assert t.read().count() == 6
    # every key still resolves to its newest version after the squash
    assert {r.url for r in t.read().collect()} == {f"k{i}" for i in range(6)}


def test_orphan_bump_leaves_no_row(spark, tmp_root):
    """A seq-bump row (op='B', payload NULL) for a key with NO stored row
    has no content to carry forward: it must resolve to no row, never a
    live all-NULL row — on read and after compaction folds it."""
    import os

    from pyspark.sql import functions as F

    from data_pipelines_spark.lake.table import LakeTable

    t = LakeTable.create(spark, os.path.join(tmp_root, "orphanbump"), n_buckets=2)
    rows = spark.createDataFrame(
        [("U", "k1", 3, "payload-v3", "h3"), ("B", "k2", 5, None, "hX")],
        "op string, url string, offset long, body string, content_hash string",
    ).withColumn("warc_ts", F.timestamp_seconds(F.lit(1735689600) + F.col("offset")))
    t.merge(rows, batch_id=0)
    assert [r.url for r in t.read().collect()] == ["k1"]
    t.compact()
    assert [r.url for r in t.read().collect()] == ["k1"]


def test_rollback_restores_state_and_reverts_ledger(spark, table):
    """RESTORE-style rollback: new commit, old content, history preserved;
    the ledger reverts so undone batches re-apply instead of being skipped;
    idempotent per batch_id; change_log across it refuses (use changes())."""
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a1>", "en")], 1)
    v1 = table.current_version()
    _merge(
        spark,
        table,
        [("U", "a", ts(2), 2, b"<a2>", "en"), ("I", "b", ts(2), 3, b"<b1>", "de")],
        2,
    )
    v2 = table.current_version()

    st = table.rollback(v1)
    assert st.committed_version == v2 + 1
    got = {r.url: bytes(r.html) for r in table.read().collect()}
    assert got == {"a": b"<a1>"}                      # state is v1's
    assert table.read(version=v2).count() == 2        # history intact
    assert table.history()[-1]["operation"] == "rollback"

    # idempotent: same implicit batch_id -> skipped, state unchanged
    again = table.rollback(v1)
    assert again.skipped_duplicate_batch
    assert table.current_version() == v2 + 1

    # the undone batch 2 is no longer marked applied -> replay re-applies
    st2 = _merge(
        spark,
        table,
        [("U", "a", ts(2), 2, b"<a2>", "en"), ("I", "b", ts(2), 3, b"<b1>", "de")],
        2,
    )
    assert not st2.skipped_duplicate_batch
    got = {r.url: bytes(r.html) for r in table.read().collect()}
    assert got == {"a": b"<a2>", "b": b"<b1>"}        # converged to v2 state

    # event-log across the rollback refuses; snapshot diff still works
    from data_pipelines_spark.lake.table import ChangeLogUnavailableError

    with pytest.raises(ChangeLogUnavailableError):
        table.change_log(v1).collect()
    diff = table.changes(v2, v2 + 1)
    assert diff.count() > 0

    # guards: target must be older and must still exist
    with pytest.raises(ValueError):
        table.rollback(table.current_version())


def test_backfill_fills_only_null_rows_and_is_idempotent(spark, table):
    from data_pipelines_spark.lake.table import ChangeLogUnavailableError

    _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, b"<html lang=\"en\">x</html>", None),
            ("I", "b", ts(1), 2, b"<html lang=\"de\">y</html>", "fr"),
            ("I", "c", ts(1), 3, b"nope", None),
        ],
        1,
    )
    _merge(spark, table, [("D", "c", ts(2), 4, None, None)], 2)
    pre_v = table.current_version()

    st = table.backfill(
        "lang", F.regexp_extract(F.col("html").cast("string"), 'lang="([a-z]{2})"', 1)
    )
    assert not st.skipped_duplicate_batch
    got = {r.url: r.lang for r in table.read().collect()}
    assert got == {"a": "en", "b": "fr"}  # NULL filled; existing kept
    # tombstone untouched (still a tombstone, payload still NULL)
    tomb = [
        r for r in table.read(include_tombstones=True).collect() if r.url == "c"
    ]
    assert len(tomb) == 1 and tomb[0].lang is None

    # time travel sees the pre-backfill NULL; ledger makes it idempotent
    assert {r.url: r.lang for r in table.read(version=pre_v).collect()} == {
        "a": None, "b": "fr",
    }
    assert table.backfill("lang", F.lit("zz")).skipped_duplicate_batch

    # event log across the rewrite refuses. The sequence-based snapshot
    # diff reports NOTHING (sequences untouched) — the documented CDC-out
    # caveat: consumers needing the new values rebuild, not tail.
    with pytest.raises(ChangeLogUnavailableError):
        table.change_log(pre_v).collect()
    assert table.changes(pre_v).count() == 0

    # LWW unchanged: a later real update still wins over the backfilled row
    _merge(spark, table, [("U", "a", ts(9), 9, b"<new>", "sv")], 3)
    assert {r.url: r.lang for r in table.read().collect()}["a"] == "sv"

    # guards
    with pytest.raises(ValueError):
        table.backfill("url", F.lit("x"), batch_id="g1")
    with pytest.raises(ValueError):
        table.backfill("nope", F.lit("x"), batch_id="g2")


def test_rebucket_evolves_layout_and_preserves_state(spark, table):
    _merge(
        spark,
        table,
        [("I", f"k{i}", ts(1 + i % 5), i, f"<p{i}>".encode(), "en") for i in range(20)],
        1,
    )
    _merge(spark, table, [("D", "k3", ts(9), 100, None, None)], 2)
    before = {r.url: bytes(r.html) for r in table.read().collect()}

    st = table.rebucket(8)
    assert st.committed_version > 0 and table.n_buckets == 8
    assert {r.url: bytes(r.html) for r in table.read().collect()} == before
    # files now live under 8 buckets; stats carry no stale old-layout keys
    snap = table._snapshot()
    assert {int(b) for b in snap["bucket_stats"]} <= set(range(8))
    resolved_buckets = {
        int(b) for b, fl in table._resolve_files(snap).items() if fl
    }
    assert resolved_buckets <= set(range(8)) and len(resolved_buckets) > 4
    assert table.stats()["live_rows"] == 19

    # idempotent; reload sees the new layout; merges keep working
    assert table.rebucket(8).skipped_duplicate_batch
    from data_pipelines_spark.lake import LakeTable

    t2 = LakeTable.load(spark, table.root)
    assert t2.n_buckets == 8
    _merge(spark, t2, [("U", "k1", ts(20), 200, b"<new>", "en")], 3)
    assert bytes({r.url: r.html for r in t2.read().collect()}["k1"]) == b"<new>"

    # physical reorg: no logical deltas in the event log, states diff empty
    log_ops = [h["operation"] for h in t2.history()]
    assert "rebucket" in log_ops
    assert t2.change_log(0).where(F.col("url") == "k3").count() > 0  # spans it fine

    # rollback across the rebucket restores the old layout for new merges
    v_pre = st.committed_version - 1
    t2.rollback(v_pre)
    assert t2.n_buckets == 4


def test_rebucket_shrink_clears_old_layout(spark, table):
    """Shrinking the bucket count must CLEAR old-layout buckets >= n_new in
    the replace manifest — otherwise their base files survive resolution and
    every row they hold is read twice (all-'base' lists skip LWW resolution)."""
    _merge(
        spark,
        table,
        [("I", f"k{i}", ts(1 + i % 5), i, f"<p{i}>".encode(), "en") for i in range(40)],
        1,
    )
    _merge(spark, table, [("U", "k7", ts(9), 100, b"<v2>", "sv")], 2)
    table.compact(batch_id="c1")
    before = {r.url: (bytes(r.html), r.lang) for r in table.read().collect()}
    assert len(before) == 40 and before["k7"] == (b"<v2>", "sv")

    table.rebucket(2)
    got = {r.url: (bytes(r.html), r.lang) for r in table.read().collect()}
    assert len(got) == 40  # no duplicated rows from stale buckets 2..7
    assert got == before
    live = {
        int(b)
        for b, fl in table._resolve_files(table._snapshot()).items()
        if fl
    }
    assert live <= {0, 1}
    # LWW still intact through a subsequent merge on the shrunk layout
    _merge(spark, table, [("U", "k7", ts(2), 1, b"<stale>", "en")], 3)
    assert {r.url: bytes(r.html) for r in table.read().collect()}["k7"] == b"<v2>"


def test_rebucket_with_sorted_layout(spark, table):
    """rebucket(sort_by_seq=True, target_file_rows=N): the full-table
    rewrite is exactly when a re-cluster is cheapest — same layout options
    as compact(), same state-invisibility."""
    _merge(
        spark,
        table,
        [("I", f"k{i}", ts(1 + i % 9), i, f"<p{i}>".encode(), "en") for i in range(30)],
        1,
    )
    before = {(r.url, r.warc_ts, r.offset) for r in table.read().collect()}
    table.rebucket(2, sort_by_seq=True, target_file_rows=5)
    assert {(r.url, r.warc_ts, r.offset) for r in table.read().collect()} == before
    files = table._resolve_files(table._snapshot())
    fes = [fe for fl in files.values() for fe in fl]
    assert any(len(fl) > 1 for fl in files.values())
    assert all("ts_min" in fe and "ts_max" in fe for fe in fes)


def test_ledger_retention_bounds_snapshot_metadata(spark, table):
    """ledger_keep trims exactly-once entries past the retention window:
    the per-snapshot dict stays O(keep) over any number of commits,
    duplicates inside the window still skip, and a re-delivery from beyond
    the window re-applies but converges to the same state (merge is
    value-idempotent under LWW)."""
    table.ledger_keep = 3
    for i in range(8):
        _merge(spark, table, [("I", f"k{i}", ts(1 + i), i, b"<x>", "en")], i)
    led = table.ledger()
    assert len(led) <= 3 and "7" in led and "0" not in led
    floor = table.ledger_floor()
    assert floor is not None and floor == table.current_version() - 3

    # duplicate INSIDE the window: recognized, state untouched
    v = table.current_version()
    s = _merge(spark, table, [("I", "k7", ts(8), 7, b"<x>", "en")], 7)
    assert s.skipped_duplicate_batch and table.current_version() == v

    # re-delivery from BEYOND the window: not recognized (documented
    # watermark contract) — re-applies, but LWW makes it value-idempotent
    before = {
        (r.url, r.warc_ts, r.offset, bytes(r.html))
        for r in table.read().collect()
    }
    s = _merge(spark, table, [("I", "k0", ts(1), 0, b"<x>", "en")], 0)
    assert not s.skipped_duplicate_batch
    after = {
        (r.url, r.warc_ts, r.offset, bytes(r.html))
        for r in table.read().collect()
    }
    assert after == before

    # retention survives a reload only via explicit re-set (instance knob,
    # like compact_* policies) — but the floor is persistent metadata
    t2 = LakeTable.load(spark, table.root)
    assert t2.ledger_floor() == table.ledger_floor()
    assert len(t2.ledger()) <= 5


def test_delete_where_tombstones_matching_live_rows(spark, table):
    _merge(
        spark,
        table,
        [("I", f"u{i}", ts(1), i, b"<x>", "en" if i % 2 else "de") for i in range(12)],
        1,
    )
    s = table.delete_where(
        F.col("lang") == "de",
        batch_id=2,
        seq={"warc_ts": ts(2), "offset": 100},
        predicate_columns=["lang"],
    )
    assert not s.skipped_duplicate_batch
    live = table.read().select("url", "lang").collect()
    assert len(live) == 6 and {r.lang for r in live} == {"en"}
    # deleted keys survive as sequence-carrying tombstones (LWW invariant)
    with_dead = table.read(include_tombstones=True)
    assert with_dead.count() == 12
    # exactly-once: re-delivered batch_id is a ledger no-op
    v = table.current_version()
    s2 = table.delete_where(
        F.col("lang") == "en", batch_id=2, seq={"warc_ts": ts(9), "offset": 999}
    )
    assert s2.skipped_duplicate_batch and table.current_version() == v
    assert table.read().count() == 6


def test_delete_where_is_an_ordinary_lww_event(spark, table):
    _merge(spark, table, [("I", "a", ts(5), 10, b"<a>", "en")], 1)
    # a delete stamped BELOW the stored winner loses LWW — correct CDC
    # semantics for an out-of-order purge, stated in the docstring
    table.delete_where(
        F.col("lang") == "en", batch_id=2, seq={"warc_ts": ts(2), "offset": 1}
    )
    assert table.read().count() == 1
    # stamped above: wins; a later higher-seq re-insert resurrects
    table.delete_where(
        F.col("lang") == "en", batch_id=3, seq={"warc_ts": ts(6), "offset": 11}
    )
    assert table.read().count() == 0
    _merge(spark, table, [("I", "a", ts(7), 12, b"<back>", "en")], 4)
    got = table.read().collect()
    assert len(got) == 1 and bytes(got[0].html) == b"<back>"


def test_update_where_rewrites_matched_rows_from_current_values(spark, table):
    _merge(
        spark,
        table,
        [("I", f"u{i}", ts(1), i, b"<x>", "en" if i % 2 else "de") for i in range(6)],
        1,
    )
    table.update_where(
        F.col("lang") == "de",
        {"lang": F.upper(F.col("lang"))},
        batch_id=2,
        seq={"warc_ts": ts(2), "offset": 100},
    )
    got = {r.url: (r.lang, bytes(r.html), r.offset) for r in table.read().collect()}
    assert len(got) == 6
    for i in range(6):
        lang, html, off = got[f"u{i}"]
        # unnamed payload columns carried forward; seq advanced on matched
        assert html == b"<x>"
        if i % 2:
            assert lang == "en" and off == i
        else:
            assert lang == "DE" and off == 100


def test_predicate_dml_validates_inputs(spark, table):
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a>", "en")], 1)
    with pytest.raises(ValueError, match="seq must map exactly"):
        table.delete_where("lang = 'en'", 2, seq={"warc_ts": ts(2)})
    with pytest.raises(ValueError, match="payload columns"):
        table.update_where(
            "lang = 'en'",
            {"url": F.lit("nope")},
            2,
            seq={"warc_ts": ts(2), "offset": 9},
        )
    with pytest.raises(ValueError, match="payload columns"):
        table.update_where(
            "lang = 'en'",
            {"offset": F.lit(5)},
            2,
            seq={"warc_ts": ts(2), "offset": 9},
        )


def test_update_where_new_column_is_additive_evolution(spark, table):
    _merge(
        spark,
        table,
        [("I", f"u{i}", ts(1), i, b"<x>", "en") for i in range(6)],
        1,
    )
    table.update_where(
        F.col("offset") % 2 == 0,
        {"n_words": F.octet_length(F.col("html")).cast("long")},
        batch_id=2,
        seq={"warc_ts": ts(2), "offset": 100},
    )
    got = {r.url: r.n_words for r in table.read().collect()}
    assert len(got) == 6
    for i in range(6):
        assert got[f"u{i}"] == (3 if i % 2 == 0 else None)


def test_tags_pin_time_travel_and_survive_expiry(spark, table):
    """Named refs (Iceberg tag analog): a tag pins its snapshot's metadata
    AND data files through expire_snapshots until dropped; reads take the
    tag name anywhere they take a version."""
    tagged_v = None
    for i in range(6):
        _merge(spark, table, [("I", f"k{i}", ts(1 + i), i, b"<x>", "en")], i)
        if i == 1:
            tagged_v = table.create_tag("train-run-1")
    assert table.tags() == {"train-run-1": tagged_v}
    # idempotent re-create at the same version
    assert table.create_tag("train-run-1", version=tagged_v) == tagged_v
    with pytest.raises(ValueError, match="already pins"):
        table.create_tag("train-run-1", version=tagged_v + 1)

    by_tag = {r.url for r in table.read(version="train-run-1").collect()}
    assert by_tag == {r.url for r in table.read(version=tagged_v).collect()}
    assert by_tag == {"k0", "k1"}

    st = table.expire_snapshots(keep_last=2)
    assert st["snapshots_expired"] > 0
    # the tagged snapshot still reads (metadata + data retained) ...
    assert {r.url for r in table.read(version="train-run-1").collect()} == by_tag
    # ... and is visible from a fresh instance (persistent metadata)
    t2 = LakeTable.load(spark, table.root)
    assert t2.tags() == {"train-run-1": tagged_v}
    assert {r.url for r in t2.read(version="train-run-1").collect()} == by_tag
    # an untagged expired version is gone
    with pytest.raises(FileNotFoundError):
        table.read(version=tagged_v + 1)

    # dropping the tag releases the pin: the next expiry collects it
    assert table.drop_tag("train-run-1") == tagged_v
    table.expire_snapshots(keep_last=2)
    with pytest.raises(FileNotFoundError):
        table.read(version=tagged_v)
    with pytest.raises(KeyError):
        table.read(version="train-run-1")
    with pytest.raises(KeyError):
        table.drop_tag("train-run-1")


def test_refs_work_anywhere_a_version_goes(spark, table):
    """changes(), change_log(), and rollback() resolve tag names like
    read() does — refs are a universal version surface."""
    _merge(spark, table, [("I", "a", ts(1), 1, b"<a>", "en")], 0)
    table.create_tag("base")
    _merge(
        spark,
        table,
        [("I", "b", ts(2), 2, b"<b>", "de"), ("U", "a", ts(3), 3, b"<a2>", "en")],
        1,
    )
    ch = {(r.url, r._change_type) for r in table.changes("base").collect()}
    assert ch == {("b", "I"), ("a", "U")}
    cl = table.change_log("base")
    assert cl.count() == 2
    table.rollback("base")
    assert {r.url for r in table.read().collect()} == {"a"}
    assert bytes(table.read().collect()[0].html) == b"<a>"
