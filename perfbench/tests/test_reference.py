"""The benchmark's reference fold on the FIXTURES.md F1 scenarios, and
the generator properties the workloads rely on.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import cdc  # noqa: E402
from perfbench.reference import (  # noqa: E402
    MergeError,
    ReferenceSink,
    apply_window,
    fold_window,
    kinds_of,
)

PKS = {"t": "id"}
KINDS = {"t": {"id": "string", "a": "string", "n": "int", "ts": "timestamp", "ok": "boolean"}}


def ch(block, ordinal, op, pk="k", **fields):
    return {"table": "t", "pk": pk, "block_num": block, "ordinal": ordinal,
            "op": op, "fields": fields}


def test_n_updates_to_one_pk_merge_field_wise_last_writer_wins():
    window = [
        ch(1, 1, "UPDATE", a="x", n="1"),
        ch(1, 2, "UPDATE", n="2"),
        ch(2, 1, "UPDATE", a="y"),
        ch(2, 2, "UPDATE", n="3", ok="true"),
    ]
    assert fold_window(window, PKS) == {
        ("t", "k"): ("UPDATE", {"a": "y", "n": "3", "ok": "true"})
    }


def test_fold_orders_by_block_then_ordinal_not_arrival():
    window = [ch(2, 1, "UPDATE", a="late"), ch(1, 9, "UPDATE", a="early")]
    assert fold_window(window, PKS)[("t", "k")] == ("UPDATE", {"a": "late"})


@pytest.mark.parametrize("first", ["CREATE", "UPDATE"])
def test_delete_over_pending_create_or_update(first):
    window = [ch(1, 1, first, a="x"), ch(1, 2, "DELETE")]
    assert fold_window(window, PKS) == {("t", "k"): ("DELETE", {})}


def test_create_then_update_in_one_window_stays_a_create_with_merged_fields():
    window = [ch(1, 1, "CREATE", a="x", n="1"), ch(1, 2, "UPDATE", n="5")]
    assert fold_window(window, PKS) == {
        ("t", "k"): ("CREATE", {"a": "x", "n": "5", "id": "k"})
    }


def test_duplicate_create_and_update_after_delete_are_errors():
    with pytest.raises(MergeError, match="duplicate insert"):
        fold_window([ch(1, 1, "CREATE"), ch(1, 2, "CREATE")], PKS)
    with pytest.raises(MergeError, match="duplicate insert"):
        fold_window([ch(1, 1, "DELETE"), ch(1, 2, "CREATE")], PKS)
    with pytest.raises(MergeError, match="update a deleted row"):
        fold_window([ch(1, 1, "DELETE"), ch(1, 2, "UPDATE", a="x")], PKS)


def test_unset_is_skipped():
    assert fold_window([ch(1, 1, "UNSET", a="x")], PKS) == {}


def test_apply_window_upsert_update_missing_and_delete():
    state = {"t": {}}
    apply_window(state, fold_window([ch(1, 1, "CREATE", a="x", n="1", ts="1700000000")], PKS), KINDS)
    assert state["t"]["k"] == ("k", "x", 1, 1700000000, None)
    # UPDATE on a missing pk matches nothing
    apply_window(state, fold_window([ch(2, 1, "UPDATE", pk="gone", a="z")], PKS), KINDS)
    assert "gone" not in state["t"]
    # UPDATE overwrites only the given fields, with coercion
    apply_window(state, fold_window([ch(3, 1, "UPDATE", ok="TRUE", ts="2024-01-02 03:04:05")], PKS), KINDS)
    assert state["t"]["k"] == ("k", "x", 1, 1704164645, True)
    # CREATE over an existing row replaces it whole (absent fields NULL)
    apply_window(state, fold_window([ch(4, 1, "CREATE", n="7")], PKS), KINDS)
    assert state["t"]["k"] == ("k", None, 7, None, None)
    apply_window(state, fold_window([ch(5, 1, "DELETE")], PKS), KINDS)
    assert state["t"] == {}


def test_generator_is_seeded_and_deterministic():
    a = cdc.ChangeStream(7).blocks(50)
    b = cdc.ChangeStream(7).blocks(50)
    c = cdc.ChangeStream(8).blocks(50)
    assert a == b
    assert a != c
    assert cdc.encode_blocks(a) == cdc.encode_blocks(b)


@pytest.mark.parametrize("window", [1, 1000])
def test_generated_stream_folds_without_error_at_both_flush_sizes(window):
    blocks = cdc.ChangeStream(3).blocks(2000)
    sink = ReferenceSink(cdc.SCHEMAS)
    for i in range(0, len(blocks), window):
        sink.flush(blocks[i:i + window])
    assert sink.cursor_block == blocks[-1][0]
    assert len(sink.rows("block_meta")) > 2000
    assert len(sink.rows("accounts")) > 1000


def test_flush_size_does_not_change_the_final_state():
    blocks = cdc.ChangeStream(5).blocks(1500)
    one, bulk = ReferenceSink(cdc.SCHEMAS), ReferenceSink(cdc.SCHEMAS)
    for b in blocks:
        one.flush([b])
    bulk.flush(blocks)
    for t in cdc.SCHEMAS:
        assert one.rows(t) == bulk.rows(t)


def test_kinds_of_reads_simple_type_names():
    kinds = kinds_of(cdc.SCHEMAS)
    assert kinds["accounts"] == {
        "id": "string", "owner": "string", "balance": "bigint",
        "nonce": "int", "updated_at": "timestamp", "frozen": "boolean",
    }
