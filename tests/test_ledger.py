"""The marker ledger shared by the near-dup indexes and AggView
(lake/ledger.py): a marker is committed atomically, so a failure inside its
JSON write leaves the batch uncommitted and the store readable, and a retry
commits the batch exactly once."""

import datetime as dt
import json
import os

import pytest
from pyspark.sql import functions as F

from data_pipelines_spark.lake import LakeTable
from data_pipelines_spark.lake.aggview import AggView
from data_pipelines_spark.operators.incremental import MinHashIndex

BASE = "the quick brown fox jumps over the lazy dog again and again today"
DOCS = [
    (0, BASE),
    (1, "totally different content about stock markets and bonds and yields"),
    (10, BASE),  # near-dup of seen doc 0
    (11, "another unique document about cooking pasta with garlic and olive oil"),
]


def _minhash(spark, root):
    idx = MinHashIndex(spark, os.path.join(root, "idx"), threshold=0.8, n_parts=8)
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")

    def commit(b):
        batch = docs.where((F.col("doc_id") >= 10 * b) & (F.col("doc_id") < 10 * b + 10))
        idx.process_batch(batch, b).collect()

    def state():
        seen = sorted(r.id for r in idx.seen_shingles().collect())
        dups = sorted((r.id, r.seen_id) for r in idx.dup_log().collect())
        return seen, dups

    return idx, commit, state, ([0, 1, 10, 11], [(10, 0)])


def _aggview(spark, root):
    table = LakeTable.create(spark, os.path.join(root, "t"), key="url", n_buckets=4)
    view = AggView.create(
        spark, os.path.join(root, "v"), {"lang": "lang"}, {"tokens": "n_tokens"},
        ["lang", "n_tokens"],
    )
    schema = (
        "op string, url string, warc_ts timestamp, offset long, lang string, "
        "n_tokens long"
    )

    def commit(b):
        row = ("I", f"k{b}", dt.datetime(2025, 1, 1 + b), b, "en", 10)
        table.merge(spark.createDataFrame([row], schema), batch_id=b)
        view.update(table, b)

    def state():
        return {r.lang: (r.cnt, r.tokens) for r in view.read().collect()}

    return view, commit, state, {"en": (2, 20)}


def _tear_next_marker(monkeypatch):
    """The next JSON write into a ``_ledger`` directory writes half the
    document and fails, as a crash or a full disk would."""
    real = json.dump

    def dump(obj, fp, *args, **kwargs):
        if "_ledger" not in getattr(fp, "name", ""):
            return real(obj, fp, *args, **kwargs)
        monkeypatch.setattr(json, "dump", real)
        text = json.dumps(obj)
        fp.write(text[: len(text) // 2])
        fp.flush()
        raise OSError("torn marker write")

    monkeypatch.setattr(json, "dump", dump)


@pytest.mark.parametrize("make", [_minhash, _aggview], ids=["minhash", "aggview"])
def test_torn_marker_leaves_batch_uncommitted(spark, tmp_root, monkeypatch, make):
    store, commit, state, expected = make(spark, tmp_root)
    commit(0)
    before = state()
    _tear_next_marker(monkeypatch)
    with pytest.raises(OSError, match="torn marker"):
        commit(1)
    assert not store.is_committed(1)
    assert store.committed_batches() == ["0"]
    assert state() == before  # reads still work and do not see batch 1
    commit(1)  # the retry commits
    commit(1)  # a re-delivery after it is a no-op
    assert store.committed_batches() == ["0", "1"]
    assert state() == expected
