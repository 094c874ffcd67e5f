"""Stream cursors (reference O10/O11), committed in the table manifest.

The reference keeps one cursor row per output-module hash in a
``cursors(id, cursor, block_num, block_id)`` table, updated in the same
transaction as each flush (/root/reference/db/cursor.go:120-125,
db/flush.go:52-58).  Here the cursor rides in the same atomic
``manifest.json`` replace that commits an epoch's table state
(``TableStateStore.commit_epoch``): the manifest's ``cursors`` map,
keyed by module hash, is the one commit point for rows and stream
position, so no crash can leave the cursor ahead of the tables.  Each
entry also records the module's last committed ``epoch``: replay
idempotency is per module, keyed by the query's own epoch id.
Structured Streaming's checkpoint gives restart offsets, while the
cursor gives the *queryable* stream position and the module-hash
mismatch policy.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import TYPE_CHECKING

from substreams_sink_clickhouse_spark.errors import EngineError

if TYPE_CHECKING:
    from substreams_sink_clickhouse_spark.streaming.pipeline import TableStateStore


@dataclass
class Cursor:
    id: str
    cursor: str
    block_num: int
    block_id: str

    @classmethod
    def for_epoch(cls, module_hash: str, epoch_id: int, block_num: int, block_id: str) -> Cursor:
        """The cursor an epoch commits: its highest applied block."""
        return cls(module_hash, f"epoch:{epoch_id}:block:{block_num}", block_num, block_id)

    def entry(self) -> dict:
        """This cursor's value in the manifest's ``cursors`` map."""
        return {"cursor": self.cursor, "block_num": self.block_num, "block_id": self.block_id}


class ModuleHashMismatch(EngineError):
    """No cursor for the requested module hash, but others exist
    (policy 'error', /root/reference/db/cursor.go:48-90)."""


class CursorStore:
    """Read/delete view over the manifest's ``cursors`` map."""

    def __init__(self, state: TableStateStore):
        self.state = state

    def all_cursors(self) -> dict[str, Cursor]:
        """GetAllCursors (db/cursor.go:26-46)."""
        return {
            mh: Cursor(mh, c["cursor"], c["block_num"], c["block_id"])
            for mh, c in self.state.read_manifest()["cursors"].items()
        }

    def get_cursor(self, module_hash: str, on_mismatch: str = "error") -> Cursor | None:
        """GetCursor with mismatch policy (db/cursor.go:48-101).

        Exact module-hash match wins; otherwise the cursor at the
        HIGHEST block is chosen under ``warn``/``ignore`` policy
        (``ignore`` starts fresh; ``error`` raises).
        """
        cursors = self.all_cursors()
        if module_hash in cursors:
            return cursors[module_hash]
        if not cursors:
            return None
        if on_mismatch == "error":
            raise ModuleHashMismatch(
                f"no cursor for module {module_hash!r}; cursors exist for "
                f"{sorted(cursors)} (use warn/ignore policy to proceed)"
            )
        if on_mismatch == "ignore":
            return None
        # warn: cursor at highest block (db/cursor.go:92-101)
        return max(cursors.values(), key=lambda c: (c.block_num, c.id))

    def write_cursor(self, cursor: Cursor) -> None:
        """Upsert one cursor outside an epoch commit
        (InsertCursor/UpdateCursor, db/cursor.go:104-125), keeping the
        module's epoch; epoch commits record theirs inside
        ``commit_epoch``."""
        self.state.update_cursors(
            lambda cursors: cursors.setdefault(cursor.id, {}).update(cursor.entry())
        )

    def delete_cursor(self, module_hash: str) -> None:
        """DeleteCursor (db/cursor.go:127-135).  The module's committed
        epoch goes with it: its stream restarts from a fresh
        checkpoint, as the reference restarts from the start block."""
        self.state.update_cursors(lambda cursors: cursors.pop(module_hash, None))

    def delete_all(self) -> None:
        """DeleteAllCursors (db/cursor.go:137-143)."""
        self.state.update_cursors(dict.clear)
