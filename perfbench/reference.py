"""Independent reference for the ingest workloads' outputs.

A sequential, pure-Python model of the reference sink's merge rules
(``db/ops.go:11-122``) and of how a flush lands in the tables
(``db/operations.go``).  It shares no code with the engine's Spark
fold, so agreement between the two is evidence, not tautology.

Within one flush window at most one pending op per ``(table, pk)``:

* CREATE when any op is pending            -> error
* CREATE injects the pk into the row data
* UPDATE after CREATE/UPDATE: field-wise merge, last writer wins
* UPDATE after DELETE                      -> error
* DELETE replaces any pending op and clears its fields
* UNSET is skipped

Applying a window to the table state: CREATE replaces the row with its
coerced fields (absent fields are NULL), UPDATE overwrites the given
fields of an existing row and matches nothing on a missing one, DELETE
removes the row.
"""

from __future__ import annotations

import datetime as dt


class MergeError(ValueError):
    pass


def fold_window(changes, primary_keys: dict[str, str]) -> dict:
    """Changes of one flush window (in ``(block_num, ordinal)`` order)
    -> ``{(table, pk): (op, fields)}``."""
    pending: dict[tuple[str, str], tuple[str, dict]] = {}
    for c in sorted(changes, key=lambda c: (c["block_num"], c["ordinal"])):
        key = (c["table"], c["pk"])
        op = c["op"]
        fields = dict(c.get("fields") or {})
        have = pending.get(key)
        if op == "CREATE":
            if have is not None:
                raise MergeError(f"duplicate insert: {key} already has a pending {have[0]}")
            fields[primary_keys.get(c["table"], "id")] = c["pk"]
            pending[key] = ("CREATE", fields)
        elif op == "UPDATE":
            if have is None:
                pending[key] = ("UPDATE", fields)
            elif have[0] == "DELETE":
                raise MergeError(f"update a deleted row: {key}")
            else:
                pending[key] = (have[0], {**have[1], **fields})
        elif op == "DELETE":
            pending[key] = ("DELETE", {})
    return pending


def coerce(value: str | None, kind: str):
    """Wire string -> Python value for a column kind."""
    if value is None:
        return None
    if kind == "timestamp":
        if value.isdigit():
            return int(value)  # Unix seconds, compared as seconds
        return int(dt.datetime.fromisoformat(value).replace(tzinfo=dt.timezone.utc).timestamp())
    if kind == "boolean":
        return value.lower() == "true"
    if kind in ("int", "bigint"):
        return int(value)
    if kind == "double":
        return float(value)
    return value


def apply_window(state: dict, pending: dict, kinds: dict[str, dict[str, str]]) -> None:
    """Apply a folded window to ``state`` (``{table: {pk: row}}``; a
    row is a tuple in the table's column order), in place."""
    for (table, pk), (op, fields) in pending.items():
        rows = state.setdefault(table, {})
        cols = kinds[table]
        if op == "DELETE":
            rows.pop(pk, None)
        elif op == "CREATE":
            rows[pk] = tuple(coerce(fields.get(c), k) for c, k in cols.items())
        elif op == "UPDATE" and pk in rows:
            old = dict(zip(cols, rows[pk]))
            for c, k in cols.items():
                if c in fields:
                    old[c] = coerce(fields[c], k)
            rows[pk] = tuple(old[c] for c in cols)


def kinds_of(schemas) -> dict[str, dict[str, str]]:
    """``{table: StructType}`` -> ``{table: {column: simple type}}``."""
    return {
        t: {f.name: f.dataType.simpleString() for f in s.fields}
        for t, s in schemas.items()
    }


def flatten(blocks) -> list[dict]:
    """Generator blocks -> flat change dicts carrying their block."""
    return [
        {**c, "block_num": num, "block_id": bid}
        for num, bid, changes in blocks
        for c in changes
    ]


class ReferenceSink:
    """Applies flush windows in order and tracks the cursor block."""

    def __init__(self, schemas):
        self.kinds = kinds_of(schemas)
        self.pks = {t: "id" for t in schemas}
        self.state: dict[str, dict] = {t: {} for t in schemas}
        self.cursor_block: int | None = None

    def flush(self, blocks) -> None:
        if not blocks:
            return
        apply_window(self.state, fold_window(flatten(blocks), self.pks), self.kinds)
        self.cursor_block = max(b[0] for b in blocks)

    def rows(self, table: str) -> set[tuple]:
        return set(self.state[table].values())
