"""Test fixtures: the reference's 11-record stream-processor sample
stream, loaded with per-record key presence preserved.

Source: tests/internal/data/stream_processor/samples.json of a
fluent-bit source tree (FIXTURES.md §3). The stream is schemaless
msgpack in the reference; here it becomes a typed DataFrame plus a ``_present`` array recording
which keys each record actually carried — needed because the SP
dialect distinguishes "key missing" from "key present with nil"
(IS NULL == exists-and-nil, see sp/translate.py).

``bytes`` keeps its raw literal as a string ("10", "10.0", "10.20",
"10.30") so the numeric-string conversion semantics
(flb_sp.c:298-400) are exercised exactly like the msgpack original.
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession

# the samples file, relative to the root of a fluent-bit source tree
SAMPLES_PATH = "tests/internal/data/stream_processor/samples.json"

_SCHEMA = (
    "id long, word1 string, word2 string, word3 string, word5 string, "
    "word6 string, bytes string, bool boolean, usage long, "
    "_present array<string>, event_time timestamp, tag string"
)

_FIELDS = ["id", "word1", "word2", "word3", "word5", "word6", "bytes", "bool", "usage"]


def _fmt_number(v: object) -> str | None:
    if v is None:
        return None
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, float):
        return repr(v)
    return str(v)


def load_samples(
    spark: SparkSession,
    reference_dir: str,
    copies: int = 1,
    base_ts: datetime | None = None,
    tag: str = "samples",
) -> DataFrame:
    """Load samples.json from the fluent-bit source tree at
    ``reference_dir``; event_time = base + id seconds (pinned so
    event-time windows reproduce the reference's processing-time
    goldens, SURVEY.md §2.6). ``copies`` replays the stream N times at
    identical timestamps (the window unit tests push it 5x)."""
    path = os.path.join(reference_dir, SAMPLES_PATH)
    if not os.path.isfile(path):
        raise FileNotFoundError(
            f"stream-processor samples not found at {path}: "
            "reference_dir must be the root of a fluent-bit source tree"
        )
    if base_ts is None:
        base_ts = datetime(2026, 1, 1, 0, 0, 0, tzinfo=timezone.utc)
    rows = []
    with open(path) as fh:
        records = [json.loads(line) for line in fh if line.strip()]
    for _ in range(copies):
        for rec in records:
            present = [k for k in rec.keys()]
            ts = datetime.fromtimestamp(
                base_ts.timestamp() + int(rec["id"]), tz=timezone.utc
            )
            rows.append(
                (
                    rec.get("id"),
                    rec.get("word1"),
                    rec.get("word2"),
                    rec.get("word3"),
                    rec.get("word5"),
                    rec.get("word6"),
                    _fmt_number(rec.get("bytes")),
                    rec.get("bool"),
                    rec.get("usage"),
                    present,
                    ts,
                    tag,
                )
            )
    return spark.createDataFrame(rows, _SCHEMA)
