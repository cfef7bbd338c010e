"""AggView: incrementally-maintained materialized aggregates (CDC view
maintenance). Invariant under test everywhere: after any sequence of
updates, ``view.read()`` equals a full GROUP BY recompute over
``table.read()`` — inserts add, updates retract-and-add, deletes retract."""

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_pipelines_spark.lake import LakeTable
from data_pipelines_spark.lake.aggview import AggView

SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType()),
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("offset", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_tokens", T.LongType()),
    ]
)

GROUPS = {"lang": "lang"}
MEASURES = {"tokens": "n_tokens"}
COLS = ["lang", "n_tokens"]


def ts(day: int) -> dt.datetime:
    return dt.datetime(2025, 1, day)


@pytest.fixture()
def table(spark, tmp_root):
    return LakeTable.create(
        spark, os.path.join(tmp_root, "t"), key="url", n_buckets=4, overwrite=True
    )


@pytest.fixture()
def view(spark, tmp_root):
    return AggView.create(
        spark, os.path.join(tmp_root, "v"), GROUPS, MEASURES, COLS
    )


def _merge(spark, table, rows, batch_id):
    return table.merge(spark.createDataFrame(rows, SCHEMA), batch_id=batch_id)


def _full_recompute(table):
    return (
        table.read()
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum("n_tokens").alias("tokens"))
    )


def _as_dict(df, measure="tokens"):
    return {r["lang"]: (r["cnt"], r[measure]) for r in df.collect()}


def test_view_tracks_inserts_updates_deletes(spark, table, view):
    _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, "en", 100),
            ("I", "b", ts(1), 2, "en", 50),
            ("I", "c", ts(1), 3, "de", 70),
        ],
        1,
    )
    assert view.update(table, 1)
    assert _as_dict(view.read()) == {"en": (2, 150), "de": (1, 70)}

    # update moves a key across groups (retract en, add fr); delete retracts
    _merge(
        spark,
        table,
        [("U", "a", ts(2), 4, "fr", 40), ("D", "c", ts(2), 5, None, None)],
        2,
    )
    assert view.update(table, 2)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))
    assert _as_dict(view.read()) == {"en": (1, 50), "fr": (1, 40)}


def test_update_is_idempotent_and_requires_committed_batch(spark, table, view):
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 10)], 1)
    assert view.update(table, 1)
    assert not view.update(table, 1)  # re-delivery: no-op
    assert _as_dict(view.read()) == {"en": (1, 10)}
    with pytest.raises(ValueError):
        view.update(table, 99)  # never committed to the table


def test_stale_lww_loser_contributes_nothing(spark, table, view):
    """A batch whose rows all lose LWW must produce a zero net delta."""
    _merge(spark, table, [("I", "a", ts(5), 10, "en", 100)], 1)
    _merge(spark, table, [("U", "a", ts(2), 3, "de", 999)], 2)  # stale
    view.update_all(table)
    assert _as_dict(view.read()) == {"en": (1, 100)}


def test_stale_row_loses_to_stored_tombstone(spark, table, view):
    """Resurrection edge on the fused update path: the pre image is read
    WITH tombstones, so a stale batch row (its batch-LWW winner) must still
    lose to a stored delete's sequence — the key stays absent."""
    _merge(spark, table, [("I", "a", ts(5), 10, "en", 100)], 1)
    _merge(spark, table, [("D", "a", ts(6), 11, None, None)], 2)
    view.update_all(table)
    assert _as_dict(view.read()) == {}
    # out-of-order arrival: older than the tombstone
    _merge(spark, table, [("U", "a", ts(2), 3, "en", 999)], 3)
    view.update(table, 3)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {}
    # and a genuinely newer row re-creates the key
    _merge(spark, table, [("U", "a", ts(9), 20, "de", 7)], 4)
    view.update(table, 4)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "de": (1, 7)
    }


def test_view_tracks_change_filter_bump_batches(spark, tmp_root):
    """A change_filter pipeline emits seq-bump ('B') deltas for
    hash-unchanged re-scrapes; bump batches take the post-snapshot fallback
    (their materialization may need stored rows the resolved pre image no
    longer shows) and the view must still equal the full recompute."""
    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=200, n_keys=30, seed=11)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            table_root=os.path.join(tmp_root, "bt"), n_buckets=4, change_filter=True
        ),
    )
    view = AggView.create(
        spark,
        os.path.join(tmp_root, "bv"),
        group_cols={"lang": "lang"},
        measures={"chars": "length(text)"},
        source_columns=["lang", "text"],
    )
    pipe.attach_view(view)
    pipe.run_batches(changes, n_batches=2)
    # re-scrape the whole stream (hash-unchanged → bump deltas) as batch 2
    pipe.process_batch(changes, 2)
    view.update(pipe.table, 2)
    full = (
        pipe.table.read()
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum(F.length("text")).alias("chars"))
    )
    assert _as_dict(view.read(), "chars") == _as_dict(full, "chars")


def test_crash_retry_overwrites_partial_partition(spark, table, view):
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 10)], 1)
    view.update(table, 1)
    # simulate a crash AFTER data files landed but BEFORE the marker:
    os.remove(view._ledger.path("1"))
    with pytest.raises(ValueError):
        view.read()  # uncommitted partition is invisible
    assert view.update(table, 1)  # retry: dynamic overwrite + re-mark
    assert _as_dict(view.read()) == {"en": (1, 10)}


def test_compact_folds_and_absorbs(spark, table, view):
    for b in range(3):
        _merge(spark, table, [("I", f"k{b}", ts(1 + b), b, "en", 10 + b)], b)
        view.update(table, b)
    before = _as_dict(view.read())
    assert view.compact()
    assert _as_dict(view.read()) == before
    assert len(view.committed_batches()) == 1  # absorbed markers deleted
    assert not view.compact()  # single live partition: no-op
    # and the view keeps updating after compaction
    _merge(spark, table, [("D", "k0", ts(9), 99, None, None)], 3)
    view.update(table, 3)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))


def test_second_compact_keeps_first_compactions_batches(spark, table, view):
    """A compaction absorbs transitively: after compact, update, compact
    again, the batches the FIRST compaction absorbed must still read as
    applied, so catch-up and re-delivery apply nothing twice."""
    for b in range(5):
        _merge(spark, table, [("I", f"k{b}", ts(1 + b), b, "en", 10)], b)
        view.update(table, b)
        if b in (2, 4):
            assert view.compact()
    assert view.update_all(table) == 0
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "en": (5, 50)
    }
    assert not view.update(table, 0)  # absorbed by the first compaction
    assert _as_dict(view.read()) == {"en": (5, 50)}


def test_load_reopens_identical_definition(spark, table, view, tmp_root):
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 10)], 1)
    view.update(table, 1)
    v2 = AggView.load(spark, os.path.join(tmp_root, "v"))
    assert v2.group_cols == GROUPS and v2.measures == MEASURES
    assert _as_dict(v2.read()) == {"en": (1, 10)}
    with pytest.raises(FileExistsError):
        AggView.create(spark, os.path.join(tmp_root, "v"), GROUPS, MEASURES, COLS)


def test_pipeline_attached_view_and_duplicate_redelivery(spark, tmp_root):
    """attach_view: the pipeline maintains the view per commit; re-delivering
    an already-committed batch (crash-between-merge-and-view recovery path)
    is a no-op on both the table and the view."""
    from data_pipelines_spark.gen.changegen import change_stream
    from data_pipelines_spark.streaming.pipeline import CdcPipeline, PipelineConfig

    changes = change_stream(spark, n_events=300, n_keys=60, seed=5)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(table_root=os.path.join(tmp_root, "pt"), n_buckets=4),
    )
    view = AggView.create(
        spark,
        os.path.join(tmp_root, "pv"),
        group_cols={"lang": "lang"},
        measures={"chars": "length(text)"},
        source_columns=["lang", "text"],
    )
    pipe.attach_view(view)
    stats = pipe.run_batches(changes, n_batches=2)
    full = (
        pipe.table.read()
        .groupBy("lang")
        .agg(F.count("*").alias("cnt"), F.sum(F.length("text")).alias("chars"))
    )
    assert _as_dict(view.read(), "chars") == _as_dict(full, "chars")
    # re-deliver the last batch: merge skips via ledger, view no-ops
    lo = int(stats[-1].seq_min)
    redeliver = changes.where(F.col("offset") >= lo)
    st = pipe.process_batch(redeliver, stats[-1].batch_id)
    assert st.skipped_duplicate_batch
    assert _as_dict(view.read(), "chars") == _as_dict(full, "chars")


def test_update_all_catches_up_in_commit_order(spark, table, view):
    for b in range(4):
        op = "D" if b == 3 else "I"
        _merge(
            spark,
            table,
            [(op, "a", ts(1 + b), b, "en" if b % 2 == 0 else "de", 10 * b)],
            b,
        )
    assert view.update_all(table) == 4
    assert view.update_all(table) == 0
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {}


def test_rebuild_after_backfill(spark, table, view):
    """A LakeTable.backfill rewrites values without advancing sequences, so
    the incremental path cannot see it — rebuild() refreshes the view from
    current state and resumes incrementally after."""
    _merge(
        spark,
        table,
        [("I", "a", ts(1), 1, None, 10), ("I", "b", ts(1), 2, "de", 20)],
        1,
    )
    view.update(table, 1)
    table.backfill("lang", F.lit("en"), batch_id="bf1")
    # stale: the NULL-lang group still reflects pre-backfill state
    assert _as_dict(view.read()) != _as_dict(_full_recompute(table))
    view.rebuild(table)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "en": (1, 10), "de": (1, 20),
    }
    view.rebuild(table)  # idempotent at the same version
    # incremental resumes: the backfill batch is marked applied, new batches flow
    assert view.update_all(table) == 0
    _merge(spark, table, [("I", "c", ts(3), 5, "en", 7)], 2)
    view.update(table, 2)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))


def test_rollback_replay_fails_loud_then_rebuild(spark, table, view):
    """A batch replayed after a table rollback reuses its id at a new
    version — the view must refuse (not silently skip) and rebuild."""
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 10)], 1)
    v1 = table.current_version()
    _merge(spark, table, [("I", "b", ts(2), 2, "de", 20)], 2)
    view.update_all(table)
    table.rollback(v1)
    assert view.update(table, "rollback-" + str(v1))  # reversion folds in
    assert _as_dict(view.read()) == {"en": (1, 10)}
    # replay the undone batch: table re-applies (ledger reverted) ...
    _merge(spark, table, [("I", "b", ts(2), 2, "de", 20)], 2)
    # ... but the view refuses the id reuse
    with pytest.raises(ValueError, match="rebuild"):
        view.update(table, 2)
    view.rebuild(table)
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "en": (1, 10), "de": (1, 20),
    }


MM_MEASURES = {
    "tokens": "n_tokens",  # bare = sum (back-compat)
    "max_tok": "max:n_tokens",
    "min_tok": "min:n_tokens",
    "avg_tok": "avg:n_tokens",
}


@pytest.fixture()
def mm_view(spark, tmp_root):
    return AggView.create(
        spark, os.path.join(tmp_root, "vm"), GROUPS, MM_MEASURES, COLS
    )


def _mm_full(table):
    return (
        table.read()
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tokens").alias("tokens"),
            F.max("n_tokens").alias("max_tok"),
            F.min("n_tokens").alias("min_tok"),
            F.avg("n_tokens").alias("avg_tok"),
        )
    )


def _mm_dict(df):
    return {
        r["lang"]: (r["cnt"], r["tokens"], r["max_tok"], r["min_tok"], r["avg_tok"])
        for r in df.collect()
    }


def test_minmax_avg_track_updates_and_deletes(spark, table, mm_view):
    """min/max are recomputed per touched group (not delta-folded): a max
    that SHRINKS on an update — invisible to signed deltas — must track,
    as must NULL groups and NULL measure values (avg ignores them)."""
    _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, "en", 100),
            ("I", "b", ts(1), 2, "en", 50),
            ("I", "c", ts(1), 3, "de", 70),
            ("I", "n", ts(1), 4, None, None),
        ],
        1,
    )
    mm_view.update(table, 1)
    assert _mm_dict(mm_view.read()) == _mm_dict(_mm_full(table))
    # the en max (100) shrinks; c deleted; b moves groups — all recomputed
    _merge(
        spark,
        table,
        [
            ("U", "a", ts(2), 10, "en", 40),
            ("D", "c", ts(2), 11, None, None),
            ("U", "b", ts(2), 12, "fr", 50),
        ],
        2,
    )
    mm_view.update(table, 2)
    got = _mm_dict(mm_view.read())
    assert got == _mm_dict(_mm_full(table))
    assert got["en"] == (1, 40, 40, 40, 40.0)  # max really shrank


def test_view_tracks_insert_overwrite(spark, table, view, mm_view):
    """INSERT OVERWRITE (no change_log) rides the signed pre/post diff via
    changes(): a key moving groups AND shrinking, a carried tombstone, and
    a key dropped outright all retract correctly — then post-overwrite
    merges fold incrementally on top (the fused fast path, whose pre image
    must see the overwrite's carried tombstone)."""
    _merge(
        spark,
        table,
        [
            ("I", "a", ts(2), 10, "en", 100),
            ("I", "b", ts(2), 11, "de", 50),
            ("I", "c", ts(2), 12, "fr", 70),
        ],
        1,
    )
    assert view.update(table, 1) and mm_view.update(table, 1)
    # restore-from-source at an OLDER sequence: 'a' moves group and shrinks,
    # 'b' becomes a carried tombstone, 'c' is dropped outright
    table.overwrite(
        spark.createDataFrame(
            [("I", "a", ts(1), 1, "de", 40), ("D", "b", ts(1), 2, None, None)],
            SCHEMA,
        ),
        batch_id="ow",
    )
    assert view.update_all(table) == 1 and mm_view.update_all(table) == 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "de": (1, 40)
    }
    assert _mm_dict(mm_view.read()) == _mm_dict(_mm_full(table))
    # post-overwrite: a stale event loses to the carried tombstone, a fresh
    # insert lands — both through the incremental (fused) path
    _merge(
        spark,
        table,
        [("I", "b", ts(1), 0, "en", 999), ("I", "c", ts(3), 30, "fr", 20)],
        2,
    )
    assert view.update_all(table) == 1 and mm_view.update_all(table) == 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table)) == {
        "de": (1, 40),
        "fr": (1, 20),
    }
    assert _mm_dict(mm_view.read()) == _mm_dict(_mm_full(table))


def test_minmax_survives_compact_and_rebuild(spark, table, mm_view):
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 9)], 1)
    _merge(spark, table, [("I", "b", ts(2), 2, "en", 3)], 2)
    _merge(spark, table, [("D", "a", ts(3), 3, None, None)], 3)
    mm_view.update_all(table)
    before = _mm_dict(mm_view.read())
    assert before == _mm_dict(_mm_full(table)) == {"en": (1, 3, 3, 3, 3.0)}
    assert mm_view.compact()
    assert _mm_dict(mm_view.read()) == before
    # updates keep flowing after compaction; rebuild re-baselines
    _merge(spark, table, [("I", "c", ts(4), 4, "en", 30)], 4)
    mm_view.update(table, 4)
    assert _mm_dict(mm_view.read()) == _mm_dict(_mm_full(table))
    mm_view.rebuild(table)
    assert _mm_dict(mm_view.read()) == _mm_dict(_mm_full(table))


def test_minmax_across_rebucket(spark, table, mm_view):
    """The recompute path reads full table state at the commit's own version
    — layout evolution must stay invisible to it."""
    _merge(
        spark,
        table,
        [("I", f"k{i}", ts(1), i, "en", 10 * (i + 1)) for i in range(8)],
        1,
    )
    mm_view.update(table, 1)
    table.rebucket(16)
    _merge(
        spark,
        table,
        [("D", "k7", ts(2), 100, None, None), ("U", "k0", ts(2), 101, "en", 75)],
        2,
    )
    mm_view.update(table, 2)
    got = _mm_dict(mm_view.read())
    assert got == _mm_dict(_mm_full(table))
    assert got["en"][2] == 75  # old max (80) retracted by the delete


def test_minmax_reserved_names_and_bad_specs(spark, tmp_root):
    with pytest.raises(ValueError, match="reserved"):
        AggView(spark, os.path.join(tmp_root, "bad1"), GROUPS,
                {"applied_v": "max:n_tokens"}, COLS)
    with pytest.raises(ValueError, match="reserved"):
        AggView(spark, os.path.join(tmp_root, "bad2"), GROUPS,
                {"x": "avg:n_tokens", "x__n": "n_tokens"}, COLS)
    # a ':' later in the expression is NOT an agg prefix
    v = AggView(spark, os.path.join(tmp_root, "ok"), GROUPS,
                {"m": "if(lang = 'a:b', 1, 0)"}, COLS)
    assert v._parsed == [("m", "sum", "if(lang = 'a:b', 1, 0)")]


def test_update_across_rebucket_uses_each_versions_layout(spark, table, view):
    """Bucket pruning in update() must hash touched keys with EACH version's
    own n_buckets: across a rebucket, pre_v and post_v disagree on layout and
    current-layout hashing silently prunes away the touched keys' files."""
    _merge(
        spark,
        table,
        [("I", f"k{i}", ts(1), i, "en", 10 * (i + 1)) for i in range(12)],
        1,
    )
    view.update(table, 1)
    table.rebucket(16)
    # late-attach path (the reproduced defect): a FRESH view catching up over
    # a history that spans the rebucket
    v2 = AggView.create(
        spark, os.path.join(table.root, "..", "v2"), GROUPS, MEASURES, COLS
    )
    assert v2.update_all(table) >= 1
    assert _as_dict(v2.read()) == _as_dict(_full_recompute(table)) == {
        "en": (12, sum(10 * (i + 1) for i in range(12)))
    }

    # live path: a post-rebucket batch whose pre-image lives at the NEW layout
    # while an old view keeps tailing
    _merge(
        spark,
        table,
        [("U", "k3", ts(2), 100, "de", 5), ("D", "k7", ts(2), 101, None, None)],
        2,
    )
    view.update(table, 2)
    v2.update(table, 2)
    expect = _as_dict(_full_recompute(table))
    assert _as_dict(view.read()) == expect
    assert _as_dict(v2.read()) == expect


# --------------------------------------------------------------- recompute

RC_MEASURES = {
    "tokens": "n_tokens",
    "n_langs_tok": "recompute:count(DISTINCT n_tokens)",
    "top_url": "recompute:max_by(url, offset)",
}


@pytest.fixture()
def rc_view(spark, tmp_root):
    return AggView.create(
        spark,
        os.path.join(tmp_root, "vr"),
        GROUPS,
        RC_MEASURES,
        ["lang", "n_tokens", "url", "offset"],
    )


def _rc_full(table):
    return (
        table.read()
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum("n_tokens").alias("tokens"),
            F.countDistinct("n_tokens").alias("n_langs_tok"),
            F.max_by("url", F.col("offset")).alias("top_url"),
        )
    )


def _rc_dict(df):
    return {
        r["lang"]: (r["cnt"], r["tokens"], r["n_langs_tok"], r["top_url"])
        for r in df.collect()
    }


def test_recompute_measures_track_updates_and_deletes(spark, table, rc_view):
    """`recompute:<agg expr>` measures (count_distinct, max_by) are exact
    across inserts, group moves, and deletes — the cases signed deltas
    cannot see (a delete can LOWER a distinct count; max_by retracts)."""
    _merge(
        spark,
        table,
        [
            ("I", "a", ts(1), 1, "en", 100),
            ("I", "b", ts(1), 2, "en", 100),
            ("I", "c", ts(1), 3, "en", 70),
            ("I", "d", ts(1), 4, "de", 70),
        ],
        1,
    )
    rc_view.update(table, 1)
    got = _rc_dict(rc_view.read())
    assert got == _rc_dict(_rc_full(table))
    assert got["en"] == (3, 270, 2, "c")  # 100 counted once; c has max offset
    # delete the max-offset row AND one of the duplicated values: distinct
    # count drops, max_by falls back — neither is delta-foldable
    _merge(
        spark,
        table,
        [
            ("D", "c", ts(2), 10, None, None),
            ("U", "b", ts(2), 11, "de", 70),
        ],
        2,
    )
    rc_view.update(table, 2)
    got = _rc_dict(rc_view.read())
    assert got == _rc_dict(_rc_full(table))
    assert got["en"] == (1, 100, 1, "a")
    assert got["de"][0] == 2


def test_recompute_survives_compact_rebuild_and_load(spark, table, rc_view, tmp_root):
    _merge(spark, table, [("I", "a", ts(1), 1, "en", 9)], 1)
    _merge(spark, table, [("I", "b", ts(2), 2, "en", 3)], 2)
    _merge(spark, table, [("D", "a", ts(3), 3, None, None)], 3)
    rc_view.update_all(table)
    before = _rc_dict(rc_view.read())
    assert before == _rc_dict(_rc_full(table)) == {"en": (1, 3, 1, "b")}
    assert rc_view.compact()
    assert _rc_dict(rc_view.read()) == before
    # definition round-trips through meta.json with the recompute class
    reopened = AggView.load(spark, os.path.join(tmp_root, "vr"))
    assert reopened._minmax == rc_view._minmax
    _merge(spark, table, [("I", "c", ts(4), 4, "en", 30)], 4)
    reopened.update(table, 4)
    assert _rc_dict(reopened.read()) == _rc_dict(_rc_full(table))
    reopened.rebuild(table)
    assert _rc_dict(reopened.read()) == _rc_dict(_rc_full(table))


def test_update_all_fails_loud_when_ledger_trimmed_past_view(spark, table, view):
    """ledger_keep retention can trim batch ids a lagging view never applied
    — silent catch-up would leave the view stale forever, so update_all must
    refuse and point at rebuild(). A view that kept pace (even through its
    own compact(), which absorbs the markers carrying the watermark) passes.
    """
    table.ledger_keep = 2
    for i in range(3):
        _merge(spark, table, [("I", f"k{i}", ts(1 + i), i, "en", 10)], i)
    assert table.ledger_floor() is not None
    # fresh view, never applied anything, early batch ids already trimmed
    with pytest.raises(ValueError, match="rebuild"):
        view.update_all(table)
    # rebuild re-baselines; incremental catch-up resumes from there
    view.rebuild(table)
    _merge(spark, table, [("I", "k9", ts(9), 9, "de", 5)], 9)
    assert view.update_all(table) == 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))
    # a kept-pace view survives its own compact: the consolidated marker
    # carries the applied-version watermark forward
    _merge(spark, table, [("I", "k10", ts(10), 10, "fr", 7)], 10)
    _merge(spark, table, [("I", "k11", ts(11), 11, "fr", 8)], 11)
    assert view.update_all(table) == 2
    assert view.compact()
    _merge(spark, table, [("I", "k12", ts(12), 12, "en", 3)], 12)
    assert view.update_all(table) == 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))


def test_view_tracks_predicate_dml(spark, table, view):
    """delete_where / update_where commit through the standard merge path, so
    an attached view maintains incrementally across them like any CDC batch
    (no special-casing): view.read() == full recompute after each DML."""
    _merge(
        spark,
        table,
        [
            ("I", f"u{i}", ts(1), i, "en" if i % 2 else "de", 10 * (i + 1))
            for i in range(10)
        ],
        1,
    )
    assert view.update_all(table) == 1
    table.delete_where(
        F.col("lang") == "de",
        batch_id=2,
        seq={"warc_ts": ts(2), "offset": 100},
        predicate_columns=["lang"],
    )
    assert view.update_all(table) >= 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))
    assert set(_as_dict(view.read())) == {"en"}

    table.update_where(
        F.col("n_tokens") >= 60,
        {"lang": F.lit("fr"), "n_tokens": F.col("n_tokens") + 1},
        batch_id=3,
        seq={"warc_ts": ts(3), "offset": 200},
    )
    assert view.update_all(table) >= 1
    assert _as_dict(view.read()) == _as_dict(_full_recompute(table))
    assert set(_as_dict(view.read())) == {"en", "fr"}
