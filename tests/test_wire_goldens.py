"""Reference runtime goldens for the wire-protocol inputs replayed
verbatim: in_syslog, in_mqtt, in_elasticsearch
(/root/reference/tests/runtime/in_syslog.c, in_mqtt.c,
in_elasticsearch.c fixture payloads and expected fragments)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

# in_syslog.c:38-44 — fixture + expected fragments, verbatim
RFC5424_EXAMPLE_1 = (
    "<34>1 2003-10-11T22:14:15.003Z mymachine.example.com su - ID47 - "
    "'su root' failed for lonvick on /dev/pts/8\n"
)
RFC5424_EXPECTED_1 = {
    "pri": "34",
    "message": "'su root' failed for lonvick on /dev/pts/8",
    "host": "mymachine.example.com",
    "msgid": "ID47",
    "time": "2003-10-11T22:14:15.003Z",
    "ident": "su",
}
# in_syslog.c:39,58-60
RFC3164_EXAMPLE_1 = (
    "<34>Oct 11 22:14:15 mymachine su: 'su root' failed for lonvick "
    "on /dev/pts/8\n"
)
RFC3164_EXPECTED_1 = {
    "pri": "34",
    "message": "'su root' failed for lonvick on /dev/pts/8",
    "host": "mymachine",
    "time": "Oct 11 22:14:15",
    "ident": "su",
}


def _one_row(df):
    rows = df.collect()
    assert len(rows) == 1
    return rows[0]


def test_syslog_rfc5424_golden(spark):
    from fluent_bit_spark.sources.syslog_in import parse_syslog

    df = spark.createDataFrame([(RFC5424_EXAMPLE_1,)], ["line"])
    r = _one_row(parse_syslog(df, mode="tcp"))
    for k, v in RFC5424_EXPECTED_1.items():
        assert r[k] == v, k


def test_syslog_rfc3164_golden(spark):
    """mode unix_udp picks syslog-rfc3164-local; the runtime test uses
    the rfc3164 parser (with host), configured explicitly here."""
    from fluent_bit_spark.sources.syslog_in import parse_syslog

    df = spark.createDataFrame(
        [(RFC3164_EXAMPLE_1.rstrip("\n"),)], ["line"])
    r = _one_row(parse_syslog(df, mode="udp", parser="syslog-rfc3164"))
    for k, v in RFC3164_EXPECTED_1.items():
        assert r[k] == v, k


def test_mqtt_publish_golden(spark):
    """in_mqtt.c:208-232 send_PUBLISH: 0x30, remaining=5+len, topic
    'a/b', no packet id (QoS 0), payload {"key":"val"} — expected
    record {"topic":"a/b","key":"val"} (:251-311); payload_key variant
    expects {"payload_k":{"key":"val"}} (:312-345)."""
    from fluent_bit_spark.sources.mqtt import decode_mqtt_buffer

    payload = b'{"key":"val"}'
    pkt = bytes([0x30, 5 + len(payload), 0x00, 0x03]) + b"a/b" + payload
    out = decode_mqtt_buffer(pkt, require_connect=False)
    assert len(out) == 1
    topic, rec = out[0]
    assert topic == "a/b"
    assert json.loads(rec) == {"topic": "a/b", "key": "val"}

    out = decode_mqtt_buffer(pkt, payload_key="payload_k",
                             require_connect=False)
    assert json.loads(out[0][1]) == {"topic": "a/b",
                                     "payload_k": {"key": "val"}}


def test_es_bulk_golden(spark):
    """in_elasticsearch.c:366-367: body '{"<op>":{"_index":
    "fluent-bit","_id":1}}\\n{"test":"msg"}' must produce
    '"@meta":{"<op>":{"_index":"fluent-bit","_id":1}},"test":"msg"'
    for index and create; update/delete/upsert produce no records
    (:458-530 invalid-op matrix)."""
    from fluent_bit_spark.sources.api_in import process_bulk

    for op in ("index", "create"):
        body = ('{"%s":{"_index":"fluent-bit","_id":1}}\n'
                '{"test":"msg"}\n' % op)
        records, _ = process_bulk(body)
        assert len(records) == 1
        rec = json.loads(records[0][1])
        assert rec["@meta"] == {op: {"_index": "fluent-bit", "_id": 1}}
        assert rec["test"] == "msg"
    for op, status in (("update", 403), ("delete", 404)):
        body = ('{"%s":{"_index":"fluent-bit","_id":1}}\n'
                '{"test":"msg"}\n' % op)
        records, statuses = process_bulk(body)
        assert records == []
        assert str(status) in statuses
    records, statuses = process_bulk(
        '{"upsert":{"_index":"fluent-bit","_id":1}}\n{"test":"msg"}\n')
    assert records == [] and '"status":400' in statuses


def test_wire_replay_job_decode(spark, tmp_path):
    """jobs/run_wire_replay.py decode stage over a captured-forward
    parquet, written back partitioned by tag."""
    import sys

    sys.path.insert(0, "jobs")
    from run_wire_replay import decode

    from fluent_bit_spark.functions.forward_wire import encode_forward

    rows = [(encode_forward(f"svc.{i % 2}",
                            [(1_700_000_000 + i, 0, {"v": i})]),)
            for i in range(6)]
    src = str(tmp_path / "capture")
    spark.createDataFrame(rows, "data binary").write.parquet(src)
    out = decode(spark, spark.read.parquet(src), "forward")
    got = {(r["tag"], json.loads(r["record"])["v"]) for r in out.collect()}
    assert got == {(f"svc.{i % 2}", i) for i in range(6)}
    assert "event_time" in out.columns


def test_s3_key_template():
    """out_s3 key rendering order: $TAG[n] parts, $TAG, $INDEX, $UUID,
    then strftime (flb_aws_util.c:814-1010)."""
    from fluent_bit_spark.sinks import s3_key

    key = s3_key(
        "logs/$TAG[0]/$TAG[1]/%Y/%m/%d/$TAG-$INDEX-$UUID.gz",
        1_700_000_000, "app.web.prod", tag_delimiter=".",
        seq_index=42, uuid8="abcd1234")
    assert key == "logs/app/web/2023/11/14/app.web.prod-42-abcd1234.gz"
    # out-of-range tag part: the reference warns, then the later
    # whole-$TAG replacement still rewrites its prefix (the C token
    # replace has no word boundary) -> '<tag>[5]'
    key = s3_key("$TAG[5]/x", 0, "a.b", uuid8="z")
    assert key == "a.b[5]/x"
    # multiple delimiter chars split on ANY of them
    key = s3_key("$TAG[2]", 0, "a.b-c", tag_delimiter=".-")
    assert key == "c"


def test_s3_key_col_matches_python(spark, monkeypatch):
    """Columnar s3_key_col vs the driver-side s3_key twin across the
    token/strftime/missing-part matrix (flb_aws_util.c:814-1010)."""
    import datetime as dt
    import time

    from pyspark.sql import functions as F

    from fluent_bit_spark.sinks import s3_key, s3_key_col

    fmt = ("logs/$TAG[0]/$TAG[1]/%Y/%m/%d/%H-%M/%F_%T/"
           "$TAG-$INDEX-$UUID-$TAG[5].gz")
    cases = [
        ("app.web.prod", 1_700_000_000, 42, "abcd1234"),
        ("a.b-c", 0, 0, "zzzz0000"),
        ("solo", 86400, 7, "ffff1111"),
    ]
    df = spark.createDataFrame(
        [(t, dt.datetime.fromtimestamp(ep, dt.timezone.utc), ix, u)
         for t, ep, ix, u in cases],
        "tag string, ts timestamp, ix long, uuid string")
    got = [r["key"] for r in df.select(s3_key_col(
        fmt, F.col("ts"), F.col("tag"), tag_delimiter=".-",
        seq_index_col=F.col("ix"), uuid_col=F.col("uuid"),
    ).alias("key")).collect()]
    want = [s3_key(fmt, ep, t, tag_delimiter=".-", seq_index=ix, uuid8=u)
            for t, ep, ix, u in cases]
    assert got == want
    # %% literal and unknown conversions pass through
    df1 = df.limit(1)
    assert df1.select(s3_key_col(
        "a%%b%Q/$TAG", F.col("ts"), F.col("tag")).alias("k")
    ).first()["k"] == "a%b%Q/app.web.prod"
    # %s is epoch seconds; the twin's strftime derives it with mktime
    # in the local zone, so the two agree under UTC
    monkeypatch.setenv("TZ", "UTC")
    time.tzset()
    try:
        got = [r["k"] for r in df.select(s3_key_col(
            "t/%s/$TAG", F.col("ts"), F.col("tag")).alias("k")).collect()]
        want = [s3_key("t/%s/$TAG", ep, t) for t, ep, _, _ in cases]
    finally:
        monkeypatch.undo()
        time.tzset()
    assert got == want == [f"t/{ep}/{t}" for t, ep, _, _ in cases]
