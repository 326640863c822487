"""flb_utils_write_str twin vs the reference's own pack fixtures.

The reference's test_utf8_to_json (tests/internal/pack.c:461) walks
tests/internal/data/pack/*.mp (each a msgpack str of the .txt bytes)
and asserts flb_msgpack_raw_to_json_sds renders the .json file
byte-exact.  The .json files are the double-quoted JSON literal of
the escaped string, so: escape(.txt bytes) == .json content minus
the surrounding quotes.
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from fluent_bit_spark.functions.jsonesc import flb_json_escape

def _pairs(reference_dir):
    out = []
    pack = os.path.join(reference_dir, "tests", "internal", "data", "pack")
    for mp in sorted(glob.glob(os.path.join(pack, "*.mp"))):
        base = mp[:-3]
        txt, js = base + ".txt", base + ".json"
        if os.path.exists(txt) and os.path.exists(js):
            raw = open(txt, "rb").read()
            expected = open(js, "r", encoding="utf-8").read().strip()
            assert expected.startswith('"') and expected.endswith('"')
            out.append((os.path.basename(base), raw,
                        expected[1:-1]))
    return out


def test_reference_pack_fixture_goldens(spark, reference_dir):
    """Byte-exact escape parity on every utf8_*/mixed_* fixture pair
    shipped with the reference (BMP and astral codepoints, ANSI
    escapes, accented latin, the relaxed sample)."""
    pairs = _pairs(reference_dir)
    assert len(pairs) >= 7  # utf8_bell/copyright/hokke/relaxed, mixed_001-003
    rows = [(name, raw.decode("utf-8")) for name, raw, _ in pairs]
    df = spark.createDataFrame(rows, "name string, s string")
    got = {r.name: r.esc for r in
           df.select("name", flb_json_escape(F.col("s")).alias("esc"))
           .collect()}
    for name, _, expected in pairs:
        assert got[name] == expected, name


def test_escape_table_and_fast_path(spark):
    """The json_escape_table entries (flb_utils.c:769-784): named
    two-byte escapes, C0 controls + DEL as lowercase \\u00xx, clean
    ASCII untouched (the SIMD fast path), surrogate-pair math for
    astral codepoints, BMP \\uxxxx."""
    rows = [
        ("named", 'a"b\\c\nd\re\tf\bg\fh'),
        ("ctl", "\x00\x01\x1a\x1b\x1f\x7f"),
        ("fast", "plain ascii 123 ~"),
        ("bmp", "©☺魚"),
        ("astral", "\U0001f514\U00029e3d"),
    ]
    df = spark.createDataFrame(rows, "name string, s string")
    got = {r.name: r.esc for r in
           df.select("name", flb_json_escape(F.col("s")).alias("esc"))
           .collect()}
    assert got["named"] == 'a\\"b\\\\c\\nd\\re\\tf\\bg\\fh'
    assert got["ctl"] == ("\\u0000\\u0001\\u001a\\u001b"
                          "\\u001f\\u007f")
    assert got["fast"] == "plain ascii 123 ~"
    assert got["bmp"] == "\\u00a9\\u263a\\u9b5a"
    assert got["astral"] == "\\ud83d\\udd14\\ud867\\ude3d"
