"""systemd Journal Export Format decode + in_systemd field shaping
(plugins/in_systemd/systemd.c:130-247, :390)."""

from __future__ import annotations

import json
import struct

from fluent_bit_spark.sources.journal import (
    journal_export_records,
    parse_journal_export,
)


def test_text_entries_and_boundaries():
    data = (b"MESSAGE=hello\nPRIORITY=6\n\n"
            b"MESSAGE=world\n_PID=42\n\n")
    recs = journal_export_records(data)
    assert recs == [
        {"MESSAGE": "hello", "PRIORITY": "6"},
        {"MESSAGE": "world", "_PID": "42"},
    ]


def test_final_entry_flushed_without_trailing_blank():
    recs = journal_export_records(b"MESSAGE=tail\n")
    assert recs == [{"MESSAGE": "tail"}]


def test_binary_field():
    """A name-only line introduces LE uint64 size + raw bytes + \\n —
    the journal stores messages w/ embedded newlines this way."""
    payload = b"line1\nline2"
    data = (b"MESSAGE\n" + struct.pack("<Q", len(payload)) + payload
            + b"\n" + b"PRIORITY=3\n\n")
    recs = journal_export_records(data)
    assert recs == [{"MESSAGE": "line1\nline2", "PRIORITY": "3"}]


def test_duplicate_keys_collapse_to_array():
    """systemd.c:200-232 — first dup converts string -> [old, new],
    later dups append."""
    data = b"TAG=a\nTAG=b\nTAG=c\nMESSAGE=x\n\n"
    recs = journal_export_records(data)
    assert recs == [{"TAG": ["a", "b", "c"], "MESSAGE": "x"}]


def test_lowercase_and_strip_one_underscore():
    data = b"__REALTIME_TIMESTAMP=1\n_PID=9\nMESSAGE=m\n\n"
    recs = journal_export_records(
        data, lowercase=True, strip_underscores=True)
    # ONE leading underscore stripped (systemd.c:390), not all
    assert recs == [
        {"_realtime_timestamp": "1", "pid": "9", "message": "m"}]


def test_truncated_binary_capture_drops_cleanly():
    data = b"MESSAGE\n" + struct.pack("<Q", 100)[:4]  # cut mid-size
    assert journal_export_records(data) == []
    # a half-transferred entry is dropped WHOLE, not flushed partial;
    # complete preceding entries survive
    data = (b"MESSAGE=ok\n\n"
            b"PRIORITY=3\nMESSAGE\n" + struct.pack("<Q", 100)[:4])
    assert journal_export_records(data) == [{"MESSAGE": "ok"}]
    # blob longer than the remaining capture: same whole-entry drop
    data = b"PRIORITY=3\nMESSAGE\n" + struct.pack("<Q", 100) + b"xy"
    assert journal_export_records(data) == []


def test_corrupt_binary_size_drops_entry():
    """A size field one byte short leaves a non-newline byte after the
    blob: the entry is dropped whole instead of yielding misaligned
    garbage fields; complete preceding entries survive."""
    payload = b"line1\nline2"
    data = (b"MESSAGE=ok\n\n"
            b"PRIORITY=3\nMESSAGE\n" + struct.pack("<Q", len(payload) - 1)
            + payload + b"\nSYSLOG_IDENTIFIER=x\n\n")
    assert journal_export_records(data) == [{"MESSAGE": "ok"}]


def test_parse_journal_export_df(spark):
    rows = [(1, "MESSAGE=a\nTAG=x\nTAG=y\n\nMESSAGE=b\n\n"),
            (2, "MESSAGE=c\n\n")]
    df = spark.createDataFrame(rows, "event_id long, data string")
    out = parse_journal_export(
        df, "data", keep_cols=[("event_id", "long")])
    got = {(r["event_id"], r["seq"]): json.loads(r["record"])
           for r in out.collect()}
    assert got[(1, 0)] == {"MESSAGE": "a", "TAG": ["x", "y"]}
    assert got[(1, 1)] == {"MESSAGE": "b"}
    assert got[(2, 0)] == {"MESSAGE": "c"}
