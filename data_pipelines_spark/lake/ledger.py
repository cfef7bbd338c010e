"""The exactly-once marker ledger of the engine's per-batch side stores.

A store that commits one partition per batch — the near-dup indexes
(:mod:`operators.incremental`) and :class:`lake.aggview.AggView` — writes its
data files first and a marker ``<root>/_ledger/<batch_id>.json`` LAST.
Readers see a batch iff its marker exists, so a crash-retried batch
overwrites its own partial files invisibly and re-marks. A compaction
consolidates live batches under a new id whose marker lists in ``absorbs``
every batch it replaced, transitively, so a re-delivered batch stays
recognised however many compactions have folded it since.

Markers are committed atomically (tmp file, fsync, rename): a crash inside
the write leaves the batch uncommitted, never a torn marker that reads as
committed. Files in the ledger directory whose name starts with ``_`` are
control records of the owning store, not markers.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterable


def write_json_atomic(path: str, doc) -> None:
    """Write ``doc`` as JSON so readers see either the old file or the whole
    new one: a tmp file in the same directory, fsynced, then renamed over
    ``path``."""
    tmp = f"{path}.tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        json.dump(doc, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


class MarkerLedger:
    """Commit markers of one store, under ``<root>/_ledger/``."""

    def __init__(self, root: str):
        self.dir = os.path.join(root, "_ledger")
        os.makedirs(self.dir, exist_ok=True)

    def path(self, batch_id) -> str:
        return os.path.join(self.dir, f"{batch_id}.json")

    def live(self) -> list[str]:
        """Sorted ids of the markers on disk. An absorbed batch's marker is
        gone; its rows live on under the compaction's own id."""
        return sorted(
            f[: -len(".json")]
            for f in os.listdir(self.dir)
            if f.endswith(".json") and not f.startswith("_")
        )

    def meta(self, batch_id) -> dict:
        with open(self.path(batch_id)) as f:
            return json.load(f)

    def absorbed(self) -> set[str]:
        out: set[str] = set()
        for b in self.live():
            out.update(self.meta(b).get("absorbs", []))
        return out

    def is_committed(self, batch_id) -> bool:
        """True for any batch ever committed: a live marker, or absorbed by
        a compaction."""
        b = str(batch_id)
        return os.path.exists(self.path(b)) or b in self.absorbed()

    def commit(self, batch_id, doc: dict) -> None:
        write_json_atomic(self.path(batch_id), doc)

    def commit_compaction(self, batch_id, replaces: Iterable[str], doc: dict) -> set[str]:
        """Commit ``batch_id`` as the consolidation of ``replaces``, then
        drop the replaced markers. The marker's ``absorbs`` also carries
        what each replaced marker absorbed. A crash before the drops leaves
        reads correct: readers subtract :meth:`absorbed` from the live set.
        Returns the full absorbed set."""
        absorbs = set(map(str, replaces)) - {str(batch_id)}
        live = [b for b in self.live() if b in absorbs]
        for b in live:
            absorbs.update(self.meta(b).get("absorbs", []))
        self.commit(batch_id, {**doc, "absorbs": sorted(absorbs)})
        for b in live:
            self.drop(b)
        return absorbs

    def drop(self, batch_id) -> None:
        try:
            os.remove(self.path(batch_id))
        except FileNotFoundError:
            pass
