"""flb_pack_json duplicate-key + surrogate-pair parity goldens.

Pinned against the reference's own fixtures and inline vectors:
tests/internal/data/pack/dup_keys_in.json -> dup_keys_out.json
(test_json_dup_keys, tests/internal/pack.c:254) and the surrogate
vectors of test_json_pack_surrogate_pairs (pack.c:523).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from fluent_bit_spark.functions.packjson import dedup_map_keys

def test_dup_keys_fixture_golden(spark, reference_dir):
    """The reference fixture: dedup keeps the LAST occurrence of
    each key and orders survivors by last occurrence, at every
    nesting level (the record's own trailing 'date'/'key1' win)."""
    pack = os.path.join(reference_dir, "tests", "internal", "data", "pack")
    raw = open(os.path.join(pack, "dup_keys_in.json")).read()
    record_json = raw[raw.index(",") + 1:raw.rindex("]")].strip()
    expected = json.loads(open(os.path.join(pack, "dup_keys_out.json")).read())

    df = spark.createDataFrame([(record_json,)], "raw string")
    top = df.select(
        dedup_map_keys(
            F.from_json("raw", "map<string,string>")).alias("m"))
    m = top.select(F.map_keys("m").alias("k"),
                   F.map_values("m").alias("v")).collect()[0]
    assert m.k == ["map", "key2", "date", "key1"]  # last-occurrence order
    assert m.v[1:] == ["444", "1059113640", "333"]
    assert [m.k[1], m.v[1]] == ["key2", str(expected["key2"])]

    # nested level: the inner map dedups the same way
    inner = df.select(
        dedup_map_keys(F.from_json(
            F.get_json_object("raw", "$.map"),
            "map<string,string>")).alias("m"))
    im = inner.select(F.map_keys("m").alias("k"),
                      F.map_values("m").alias("v")).collect()[0]
    assert im.k == ["sub2", "sub3", "sub1"]
    assert im.v == ["aaa", "bbb", "true"]
    assert expected["map"] == {"sub2": "aaa", "sub3": "bbb",
                               "sub1": True}


def test_spark_map_retains_dups_without_twin(spark):
    """Why the twin exists: Spark's from_json map physically keeps
    duplicate keys (to_json re-emits them) — without dedup the
    rendered record diverges from the reference."""
    df = spark.createDataFrame([('{"a":1,"b":2,"a":3}',)], "raw string")
    j = df.select(F.to_json(
        F.from_json("raw", "map<string,string>")).alias("j")
    ).collect()[0].j
    assert j.count('"a"') == 2
    j2 = df.select(F.to_json(dedup_map_keys(
        F.from_json("raw", "map<string,string>"))).alias("j")
    ).collect()[0].j
    assert j2 == '{"b":"2","a":"3"}'


def test_surrogate_pair_decode_vectors(spark):
    """test_json_pack_surrogate_pairs vectors (pack.c:523): valid
    \\ud..\\ud.. pairs decode to the astral char, \\f stays a
    formfeed.  (Unpaired surrogates: the C substitutes U+FFFD while
    Spark's Jackson path yields '?' — documented deviation, invalid
    input only.)"""
    data = [
        ('{"text":"\\ud83e\\udd17"}', "\U0001f917"),
        ('{"text":"thinking...\\ud83e\\uddd0"}',
         "thinking...\U0001f9d0"),
        ('{"text":"\\ud83e\\udee1"}', "\U0001fae1"),
        ('{"text":"\\fddd,"}', "\fddd,"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in data], "raw string")
    got = [r.t for r in df.select(
        F.from_json("raw", "map<string,string>")["text"].alias("t")
    ).collect()]
    assert got == [exp for _, exp in data]
