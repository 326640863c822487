"""in_systemd journal ingestion, re-expressed over the public systemd
Journal Export Format.

The reference reads entries through the sd-journal C API
(/root/reference/plugins/in_systemd/systemd.c, systemd_config.h:29) —
a host-local library handle a distributed engine cannot hold. The
same data is exported host-side with ``journalctl -o export``, whose
format is public and stable (systemd.io/JOURNAL_EXPORT_FORMATS/):

- entries are separated by an empty line;
- ``FIELD=value`` text lines carry one field each;
- a line holding ONLY a field name introduces a binary value: a
  little-endian uint64 size, the raw bytes, then a newline.

Field shaping mirrors the reference's record builder byte for byte
(systemd.c:130-247 systemd_enumerate_data_store): a repeated key
collapses to an array — the first duplicate converts the existing
string into ``[old, new]`` (:200-224), later duplicates append
(:227-232); the ``lowercase`` option lowers key bytes (:164-170) and
``strip_underscores`` drops ONE leading underscore (:390, msgpack
path).
"""

from __future__ import annotations

import json
import struct
from typing import Iterator

from pyspark.sql import DataFrame


def journal_export_records(
    data: bytes,
    lowercase: bool = False,
    strip_underscores: bool = False,
) -> list[dict]:
    """One export-format payload -> list of entry records (dicts)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    records: list[dict] = []
    rec: dict = {}
    pos, n = 0, len(data)
    while pos < n:
        nl = data.find(b"\n", pos)
        if nl < 0:
            nl = n  # unterminated final line: journalctl never emits
            # one, but a truncated capture shouldn't drop the field
        line = data[pos:nl]
        pos = nl + 1
        if not line:  # blank line: entry boundary
            if rec:
                records.append(rec)
                rec = {}
            continue
        eq = line.find(b"=")
        if eq >= 0:
            key_b, val_b = line[:eq], line[eq + 1:]
        else:
            # binary field: name line, LE uint64 size, raw, newline
            key_b = line
            if pos + 8 > n:
                rec = {}  # entry truncated mid-field: drop it whole
                break
            (size,) = struct.unpack("<Q", data[pos:pos + 8])
            pos += 8
            if pos + size > n:
                rec = {}  # blob cut short: a half-transferred entry
                break     # sd-journal would never emit
            val_b = data[pos:pos + size]
            pos += size
            if pos < n and data[pos] != 0x0A:
                rec = {}  # no newline after the blob: a corrupt size
                break     # misaligned the rest, drop the entry whole
            pos += 1  # trailing newline after the blob
        key = key_b.decode("utf-8", "replace")
        if lowercase:
            key = key.lower()
        if strip_underscores and key.startswith("_"):
            key = key[1:]
        val = val_b.decode("utf-8", "replace")
        prev = rec.get(key)
        if prev is None and key not in rec:
            rec[key] = val
        elif isinstance(prev, list):
            prev.append(val)
        else:
            rec[key] = [prev, val]
    if rec:
        records.append(rec)
    return records


def parse_journal_export(
    df: DataFrame,
    data_col: str = "data",
    lowercase: bool = False,
    strip_underscores: bool = False,
    keep_cols: list[tuple[str, str]] | None = None,
) -> DataFrame:
    """DataFrame of export-format payloads -> one row per journal
    entry: ``seq`` (entry ordinal within its payload) + ``record``
    (compact JSON). ``keep_cols`` are (name, ddl_type) passthrough
    columns. Arrow-batched; no shuffle — scan + decode parallelize
    per input split."""
    import pandas as pd

    keeps = keep_cols or []
    keep = [c for c, _ in keeps]
    cols = [data_col] + keep

    def walk(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: dict[str, list] = {c: [] for c in keep}
            seqs: list[int] = []
            recs: list[str] = []
            for row in pdf[cols].itertuples(index=False):
                data = row[0]
                if data is None:
                    continue
                entries = journal_export_records(
                    data, lowercase=lowercase,
                    strip_underscores=strip_underscores)
                for i, rec in enumerate(entries):
                    seqs.append(i)
                    recs.append(json.dumps(rec, separators=(",", ":")))
                    for c, v in zip(keep, row[1:]):
                        out[c].append(v)
            cols_out = {c: pd.Series(out[c], dtype="object")
                        for c in keep}
            cols_out["seq"] = pd.Series(seqs, dtype="int64")
            cols_out["record"] = pd.Series(recs, dtype="object")
            yield pd.DataFrame(cols_out)

    schema = ", ".join(
        [f"{c} {t}" for c, t in keeps] + ["seq long", "record string"])
    return df.select(*cols).mapInPandas(walk, schema)
