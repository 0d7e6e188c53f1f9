"""STATE bookmarks (F3 / §2.4) — per-stream, per-partition high watermarks.

The reference's only cross-run state is the per-stream max replication-key
value, seeded by ``start_date`` (tap.py:100-107) and read back via
``get_starting_timestamp`` / ``get_starting_replication_key_value``
(utils.py:99-115). Here bookmarks ride inside the lake table's manifest —
committed atomically WITH the data they describe, which is what makes
replay exactly-once: data and state can never diverge.

Keys are ``"<stream>"`` for the stream-level bookmark and
``"<stream>/p<bucket>"`` for per-partition lineage bookmarks.
"""

from __future__ import annotations

import datetime as dt
from typing import Any, Optional

from tap_rest_api_msdk_spark.operators.incremental import serialize_bookmark


class BookmarkStore:
    """View over a LakeTable manifest's bookmark dict.

    ``bookmarks`` pins the view to one snapshot's bookmark dict (a commit
    reads HEAD once and answers everything from it); without it every
    ``get`` reads the table's HEAD.
    """

    def __init__(self, table, stream: str, start_date: Any = "",
                 bookmarks: Optional[dict] = None):
        self.table = table
        self.stream = stream
        self.start_date = start_date
        self.snapshot_bookmarks = bookmarks

    def get(self) -> Any:
        """Resolved starting bookmark: stored value, else start_date seed.

        Mirrors get_start_date (utils.py:99-115): a datetime-typed seed is
        surfaced in its truncated string form; raw values pass through.
        """
        marks = self.snapshot_bookmarks
        stored = (self.table.bookmarks() if marks is None else marks).get(self.stream)
        if stored is not None:
            return stored
        if isinstance(self.start_date, dt.datetime):
            return serialize_bookmark(self.start_date)
        return self.start_date if self.start_date != "" else None

    def updates_for(self, high_watermark: Any, per_partition: Optional[dict] = None) -> dict:
        """Bookmark delta to commit alongside a batch."""
        out = {self.stream: serialize_bookmark(high_watermark)}
        for part, hw in (per_partition or {}).items():
            out[f"{self.stream}/p{part}"] = serialize_bookmark(hw)
        return out
