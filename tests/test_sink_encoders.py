"""out_syslog / out_influxdb wire-format encoders + classic wiring.

Goldens are hand-derived from the reference composers:
plugins/out_syslog/syslog.c:144 (rfc5424), :297 (rfc3164),
plugins/out_influxdb/influxdb.c:61 + influxdb_bulk.c:31.
"""

from __future__ import annotations

import datetime as dt
import glob
import os

from pyspark.sql import functions as F

from fluent_bit_spark.functions.influx_out import to_influx
from fluent_bit_spark.functions.syslog_out import to_syslog

TS = dt.datetime(2024, 3, 5, 14, 30, 15, 123456)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


def syslog_df(spark):
    rows = [
        (1, TS, "err", "daemon", "host1", "nginx", "77", "ID47",
         'hello "world"'),
        (2, TS, "9", None, None, None, None, None, "<34>raw passthrough"),
        (3, dt.datetime(2024, 3, 5, 14, 30, 16), "crit", "local3", "h2",
         "app with space", None, None, "body msg"),
        (4, TS, "nosuch", "99", "h3", None, None, None, "m4"),
    ]
    df = _df(
        spark, rows,
        "id int, ts timestamp, sev string, fac string, host string,"
        " app string, procid string, msgid string, msg string",
    )
    # deterministic SD map entry order (map_from_arrays preserves it;
    # a Python-dict literal would not) — only row 1 carries SD
    sd = F.when(
        F.col("id") == 1,
        F.map_from_arrays(
            F.array(F.lit("k"), F.lit("bad key")),
            F.array(F.lit('va"l]x\\y'), F.lit("v2")),
        ),
    )
    return df.withColumn("sd", sd)


def test_rfc5424_golden(spark):
    df = syslog_df(spark)
    line = to_syslog(
        df, "ts", "rfc5424", severity_col="sev", facility_col="fac",
        hostname_col="host", appname_col="app", procid_col="procid",
        msgid_col="msgid", sd_cols={"meta@123": "sd"}, message_col="msg",
    )
    got = {r["id"]: r["l"] for r in df.select("id", line.alias("l")).collect()}
    # daemon(3)*8 + err(3) = 27; SD value escapes " ] \ ; SD name space -> _
    assert got[1] == (
        '<27>1 2024-03-05T14:30:15.123456Z host1 nginx 77 ID47 '
        '[meta@123 k="va\\"l\\]x\\\\y" bad_key="v2"] ﻿hello "world"'
    )
    # message starting with '<' passes through verbatim (syslog.c:152)
    assert got[2] == "<34>raw passthrough"
    # local3(19)*8 + crit(2) = 154; missing fields are NILVALUE '-'
    assert got[3] == (
        "<154>1 2024-03-05T14:30:16.000000Z h2 app with space - - - ﻿body msg"
    )
    # invalid severity name and out-of-range facility fall to presets 6/1
    assert got[4].startswith("<14>1 ")


def test_rfc3164_golden_and_modes(spark):
    df = syslog_df(spark)
    line = to_syslog(
        df, "ts", "rfc3164", mode="tcp", severity_col="sev",
        facility_col="fac", hostname_col="host", appname_col="app",
        procid_col="procid", message_col="msg",
    )
    got = {r["id"]: r["l"] for r in df.select("id", line.alias("l")).collect()}
    # "%s %2d %02d:%02d:%02d" — space-padded day, app[procid]: msg
    assert got[1] == '<27>Mar  5 14:30:15 host1 nginx[77]: hello "world"\n'
    assert got[2] == "<34>raw passthrough\n"  # tcp adds newline
    assert got[3] == "<154>Mar  5 14:30:16 h2 app with space: body msg\n"


def test_syslog_maxsize_and_presets(spark):
    df = _df(spark, [(1, TS, "x" * 5000)], "id int, ts timestamp, msg string")
    line = to_syslog(df, "ts", "rfc5424", message_col="msg")
    s = df.select(line.alias("l")).first()["l"]
    assert len(s) == 2048  # default rfc5424 cap (syslog_conf.c:149-152)
    # no severity/facility cols: presets 6/1 -> pri 14
    assert s.startswith("<14>1 ")
    line3 = to_syslog(df, "ts", "rfc3164", maxsize=100, message_col="msg")
    assert len(df.select(line3.alias("l")).first()["l"]) == 100


def influx_df(spark):
    rows = [
        (1, TS, "web a", 'hello "w"', 3.5, True, None, "h 1"),
        (2, TS, "web a", "plain", -7.25, False, 42, None),
        (3, dt.datetime(2024, 3, 5, 14, 30, 16), "db,b", "msg,with=eq",
         1.0, None, 7, "h2"),
        (4, TS, "empty", None, None, None, None, None),
    ]
    return _df(
        spark, rows,
        "id long, ts timestamp, tag string, msg string, fval double,"
        " bval boolean, ival int, host string",
    )


def test_influx_golden(spark):
    out = to_influx(
        influx_df(spark), "tag", "ts",
        value_cols=["id", "msg", "fval", "bval", "ival", "host"],
        tag_keys=["host"], use_influxdb_integer=True,
    )
    got = {r["id"]: r["line"] for r in out.collect()}
    # row 4 keeps its non-null id field -> id-only body
    assert got[4].split(" ")[1] == "id=4i"
    ns1 = int(TS.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000
    # measurement space escaped; tag value space escaped, unquoted;
    # string field JSON-escaped THEN quote-escaped (double escaping is
    # reference behavior); bool TRUE; null ival skipped; %f float
    assert got[1] == (
        f'web\\ a,_seq=0,host=h\\ 1 id=1i,msg="hello \\\\\\"w\\\\\\"",'
        f"fval=3.500000,bval=TRUE {ns1}"
    )
    assert got[2] == (
        f"web\\ a,_seq=1 id=2i,msg=\"plain\",fval=-7.250000,bval=FALSE,"
        f"ival=42i {ns1}"
    )
    # ',' and '=' escaped in measurement; inside a quoted field value
    # they are left alone
    assert got[3].startswith('db\\,b,_seq=0,host=h2 id=3i,msg="msg,with=eq"')
    # record with no non-null FIELD values is dropped entirely
    # (bulk_body->len > 0 guard, influxdb.c:255)
    dropped = to_influx(
        influx_df(spark), "tag", "ts",
        value_cols=["msg", "fval", "bval", "ival"],
    )
    assert dropped.filter("tag = 'empty'").count() == 0
    assert dropped.count() == 3


def test_influx_options(spark):
    df = influx_df(spark).filter("id = 2")
    # sequence off; auto_tags moves every string value to the tag set
    out = to_influx(df, "tag", "ts", sequence_tag=None, auto_tags=True)
    line = out.first()["line"]
    assert line.startswith("web\\ a,msg=plain ")
    assert ",_seq=" not in line
    # no integer suffix by default
    assert ",ival=42 " in line


def test_influx_dedupe_timestamps(spark):
    df = _df(
        spark,
        [(i, TS, "t", float(i)) for i in range(3)],
        "id long, ts timestamp, tag string, v double",
    )
    out = to_influx(df, "tag", "ts", dedupe_timestamps=True)
    ns = sorted(int(r["line"].rsplit(" ", 1)[1]) for r in out.collect())
    # influxdb_tsmod: identical timestamps each get +1ns
    assert ns == [ns[0], ns[0] + 1, ns[0] + 2]


def test_classic_encoder_outputs(spark, tmp_path):
    from fluent_bit_spark.classic import build_classic_pipeline, run_classic_outputs

    conf = """
[INPUT]
    Name    dummy
    Tag     app.log
    Dummy   {"message":"boot ok","level":"err","host":"web1","pid":"12"}
    Samples 3

[OUTPUT]
    Name                 syslog
    Match                app.*
    Syslog_Format        rfc5424
    Syslog_Severity_Key  level
    Syslog_Hostname_Key  host
    Syslog_Procid_Key    pid
    Syslog_Message_Key   message

[OUTPUT]
    Name            influxdb
    Match           app.*
    Tag_Keys        host
    Sequence_Tag    off

[OUTPUT]
    Name                   gelf
    Match                  app.*
    Gelf_Short_Message_Key message
    Gelf_Host_Key          host
    Gelf_Level_Key         level
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"syslog.0": 3, "influxdb.1": 3, "gelf.2": 3}

    def lines(oid):
        out = []
        for p in glob.glob(os.path.join(str(tmp_path), oid, "*", "part-*")):
            out += open(p, encoding="utf-8").read().splitlines()
        return out

    sys_lines = lines("syslog.0")
    assert len(sys_lines) == 3
    assert all(
        ln.startswith("<11>1 ") and " web1 - 12 - - ﻿boot ok" in ln
        for ln in sys_lines
    )
    ifx = lines("influxdb.1")
    assert all(ln.startswith("app.log,host=web1 ") for ln in ifx)
    assert all('message="boot ok"' in ln and 'level="err"' in ln for ln in ifx)
    gelf = lines("gelf.2")
    assert all('"version":"1.1"' in ln and '"host":"web1"' in ln for ln in gelf)


# ---- out_loki (plugins/out_loki/loki.c) ----


def loki_src(spark):
    rows = [
        (1, TS, "app.a", "web1", "boot ok", 200, 1.5, True),
        (2, TS, "app.a", "", 'say "hi"', 404, 2.0, None),
        (3, dt.datetime(2024, 3, 5, 14, 30, 14), "app.b", None,
         "third", None, 0.25, False),
    ]
    return _df(
        spark, rows,
        "id int, ts timestamp, tag string, host string, msg string,"
        " code int, ratio double, ok boolean",
    )


def test_loki_labels_and_json_line(spark):
    from fluent_bit_spark.functions.loki_out import to_loki

    out = to_loki(
        loki_src(spark), "ts", tag_col="tag",
        labels={"job": "logs", "9bad name": "$host"},
        remove_keys=["id"],
    ).collect()
    by_line = {r["line"]: r for r in out}
    # label name sanitized: leading digit prefixed, bad chars -> '_'
    r1 = next(r for r in out if '"web1"' in r["stream"])
    assert r1["stream"] == '{"job":"logs","_9bad_name":"web1"}'
    # empty label value skipped (pack_kv loki.c:369-377)
    r2 = next(r for r in out if "say" in r["line"])
    assert r2["stream"] == '{"job":"logs"}'
    # null label value skipped; line keeps nulls as JSON null
    r3 = next(r for r in out if "third" in r["line"])
    assert '"code":null' in r3["line"]
    # removed + label-source + ts/tag keys are not in the line
    assert '"id"' not in r1["line"] and '"host"' not in r1["line"]
    # ns timestamp string
    assert r1["ns"] == str(
        int(TS.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000) * 1000
    )


def test_loki_key_value_line(spark):
    from fluent_bit_spark.functions.loki_out import to_loki

    out = to_loki(
        loki_src(spark), "ts", tag_col="tag", label_keys=["host"],
        remove_keys=["id"], line_format="key_value",
    ).collect()
    lines = {r["line"] for r in out}
    # strings raw-quoted without escaping (reference bug kept);
    # integral float -> %.1f; bool; null
    assert 'msg="boot ok" code=200 ratio=1.5 ok=true' in lines
    assert 'msg="say "hi"" code=404 ratio=2.0 ok=null' in lines
    assert 'msg="third" code=null ratio=0.25 ok=false' in lines


def test_loki_drop_single_key(spark):
    from fluent_bit_spark.functions.loki_out import to_loki

    df = loki_src(spark).select("ts", "tag", "msg")
    js = to_loki(df, "ts", tag_col="tag", drop_single_key=True).collect()
    # bare JSON string rendering (escaped quotes)
    assert '"say \\"hi\\""' in {r["line"] for r in js}
    raw = to_loki(df, "ts", tag_col="tag", drop_single_key="raw").collect()
    assert 'say "hi"' in {r["line"] for r in raw}
    # default stream label when none configured
    assert {r["stream"] for r in raw} == {'{"job":"fluent-bit"}'}


def test_loki_push_payload_batches(spark):
    import json

    from fluent_bit_spark.functions.loki_out import loki_push_payload, to_loki

    entries = to_loki(loki_src(spark), "ts", tag_col="tag",
                      labels={"svc": "$tag"})
    pay = loki_push_payload(entries, max_entries=1).collect()
    # 2 entries for app.a -> 2 batches; 1 for app.b
    assert len(pay) == 3
    p = json.loads(pay[0]["payload"])
    assert list(p) == ["streams"]
    st = p["streams"][0]
    assert set(st) == {"stream", "values"}
    assert all(len(v) == 2 and v[0].isdigit() for v in st["values"])


# ---- out_splunk HEC + out_datadog (hec_out.py) ----


def test_splunk_hec(spark):
    import json

    from fluent_bit_spark.functions.hec_out import to_splunk_hec

    df = loki_src(spark)
    line = to_splunk_hec(
        df, "ts", event_cols=["msg", "code"], host=F.col("host"),
        source="fbs", sourcetype="log", index="main",
        fields={"f_ok": "ok"},
    )
    got = json.loads(df.select(line.alias("l")).first()["l"])
    assert list(got) == ["time", "host", "source", "sourcetype", "index",
                         "fields", "event"]
    assert got["event"] == {"msg": "boot ok", "code": 200}
    assert got["fields"] == {"f_ok": True}
    assert abs(got["time"] - TS.replace(tzinfo=dt.timezone.utc).timestamp()) < 1e-6

    # event_key: present -> bare value; NULL -> full map fallback
    key_line = to_splunk_hec(df, "ts", event_cols=["msg"], event_key="host")
    rows = {json.loads(r["l"])["event"] if isinstance(json.loads(r["l"])["event"], str)
            else "MAP": 1
            for r in df.select(key_line.alias("l")).collect()}
    assert "web1" in rows and "MAP" in rows  # row3 host NULL -> map

    raw = to_splunk_hec(df, "ts", event_cols=["msg"], send_raw=True)
    assert json.loads(df.select(raw.alias("l")).first()["l"]) == {
        "msg": "boot ok"
    }


def test_datadog(spark):
    import json

    from fluent_bit_spark.functions.hec_out import to_datadog

    df = loki_src(spark).select("ts", "tag", "msg", "code")
    line = to_datadog(
        df, "ts", message_col="msg", tag_col="tag", include_tag_key=True,
        tag_key="fb_tag", dd_source="nginx", dd_service="svc",
        dd_tags="env:dev,team:x",
    )
    got = json.loads(df.select(line.alias("l")).first()["l"])
    # key order: date key, tag, ddsource/service, record kvs
    # (message renamed), ddtags last (datadog.c:219-325)
    assert list(got) == ["timestamp", "fb_tag", "ddsource", "service",
                         "message", "code", "ddtags"]
    assert got["message"] == "boot ok" and got["fb_tag"] == "app.a"
    # epoch ms, ns rounded half-up: .123456 -> 123 ms... and the
    # rounding boundary itself:
    assert got["timestamp"] == 1709649015123
    from fluent_bit_spark.functions.hec_out import datadog_ms

    edge = _df(
        spark,
        [(dt.datetime(2024, 1, 1, 0, 0, 0, 500),),
         (dt.datetime(2024, 1, 1, 0, 0, 0, 499),)],
        "ts timestamp",
    )
    ms = [r["m"] for r in edge.select(datadog_ms("ts").alias("m")).collect()]
    base = 1704067200000
    assert sorted(ms) == [base, base + 1]  # 499us down, 500us up


def test_classic_loki_splunk_datadog(spark, tmp_path):
    import json

    from fluent_bit_spark.classic import build_classic_pipeline, run_classic_outputs

    conf = """
[INPUT]
    Name    dummy
    Tag     svc.a
    Dummy   {"message":"boot ok","level":"err","host":"web1"}
    Samples 2

[OUTPUT]
    Name         loki
    Match        svc.*
    Labels       job=logs, lvl=$level
    Remove_Keys  host
    Line_Format  key_value

[OUTPUT]
    Name              splunk
    Match             svc.*
    Event_Host        $host
    Event_Source      fbs
    Event_Sourcetype  custom
    Event_Field       lvl level

[OUTPUT]
    Name            datadog
    Match           svc.*
    dd_message_key  message
    dd_source       app
    dd_tags         env:ci
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"loki.0": 2, "splunk.1": 2, "datadog.2": 2}

    def lines(oid):
        out = []
        for p in glob.glob(os.path.join(str(tmp_path), oid, "*", "part-*")):
            out += open(p, encoding="utf-8").read().splitlines()
        return out

    lk = lines("loki.0")
    assert all(ln.endswith(' message="boot ok"') for ln in lk)  # host removed by Remove_Keys, level auto-removed as label source
    sp = [json.loads(ln) for ln in lines("splunk.1")]
    assert all(
        d["host"] == "web1" and d["sourcetype"] == "custom"
        and d["fields"] == {"lvl": "err"} and d["event"]["message"] == "boot ok"
        for d in sp
    )
    dd = [json.loads(ln) for ln in lines("datadog.2")]
    assert all(
        d["message"] == "boot ok" and d["ddsource"] == "app"
        and d["ddtags"] == "env:ci" and isinstance(d["timestamp"], int)
        for d in dd
    )


# ---- out_es bulk (plugins/out_es/es.c, es_bulk.h) ----


def test_es_bulk_logstash(spark):
    import json

    from fluent_bit_spark.functions.es_out import es_bulk_lines, to_es_bulk

    df = _df(
        spark,
        [(1, TS, "app.a", "boot ok", "err"),
         (2, dt.datetime(2024, 12, 31, 23, 59, 59, 999999), "app.b",
          "yearend", None)],
        "id int, ts timestamp, tag string, msg string, lvl string",
    )
    enc = to_es_bulk(
        df, "ts", logstash_format=True, logstash_prefix="fb",
        include_tag_key=True, tag_key="fb_tag", id_key="id",
        suppress_type_name=True,
    )
    rows = {r["id"]: r for r in enc.collect()}
    assert rows[1]["index_line"] == (
        '{"create":{"_index":"fb-2024.03.05","_id":"1"}}'
    )
    body = json.loads(rows[1]["doc_line"])
    # time_key first, tag second, then record fields; ms suffix
    assert list(body) == ["@timestamp", "fb_tag", "id", "msg", "lvl"]
    assert body["@timestamp"] == "2024-03-05T14:30:15.123Z"
    assert body["fb_tag"] == "app.a" and body["lvl"] == "err"
    # date roll uses the record's own (UTC) timestamp
    assert '"_index":"fb-2024.12.31"' in rows[2]["index_line"]
    assert json.loads(rows[2]["doc_line"])["lvl"] is None

    two_lines = es_bulk_lines(enc).first()["line"].split("\n")
    assert two_lines[0].startswith('{"create":') and two_lines[1].startswith(
        '{"@timestamp"'
    )


def test_es_bulk_ops_and_options(spark):
    import json

    from fluent_bit_spark.functions.es_out import to_es_bulk

    df = _df(
        spark, [(1, TS, "t", "v")],
        "id int, ts timestamp, tag string, `k.with.dots` string",
    )
    up = to_es_bulk(
        df, "ts", index="idx", write_operation="upsert", replace_dots=True,
    ).first()
    assert up["index_line"] == (
        '{"update":{"_index":"idx","_type":"_doc"}}'
    )
    body = json.loads(up["doc_line"])
    assert body == {"doc_as_upsert": True,
                    "doc": {"@timestamp": "2024-03-05T14:30:15.123Z",
                            "id": 1, "k_with_dots": "v"}}

    # strftime-expanded static index + generated id
    gen = to_es_bulk(
        df, "ts", index="logs-%Y.%m", generate_id=True,
        suppress_type_name=True,
    ).first()
    hdr = json.loads(gen["index_line"])
    assert hdr["create"]["_index"] == "logs-2024.03"
    assert len(hdr["create"]["_id"]) == 16  # xxhash64 hex


def test_classic_es_output(spark, tmp_path):
    import json

    from fluent_bit_spark.classic import build_classic_pipeline, run_classic_outputs

    conf = """
[INPUT]
    Name    dummy
    Tag     svc.es
    Dummy   {"message":"boot ok","level":"err"}
    Samples 2

[OUTPUT]
    Name               es
    Match              svc.*
    Logstash_Format    On
    Logstash_Prefix    fb
    Suppress_Type_Name On
    Include_Tag_Key    On
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"es.0": 2}
    lines = []
    for p in glob.glob(os.path.join(str(tmp_path), "es.0", "*", "part-*")):
        lines += open(p, encoding="utf-8").read().splitlines()
    # two bulk lines per record
    assert len(lines) == 4
    heads = [json.loads(l) for l in lines if '"create"' in l]
    docs = [json.loads(l) for l in lines if '"@timestamp"' in l]
    assert len(heads) == 2 and len(docs) == 2
    assert all(h["create"]["_index"].startswith("fb-") for h in heads)
    assert all(
        d["message"] == "boot ok" and d["_flb-key"] == "svc.es" for d in docs
    )


# ---- out_kafka (plugins/out_kafka/kafka.c) ----


def test_kafka_records(spark):
    import json

    from fluent_bit_spark.functions.kafka_out import to_kafka_records

    df = _df(
        spark,
        [(1, TS, "t", "logs_a", "k1", "boot"),
         (2, TS, "t", "unknown", None, "msg2"),
         (3, TS, "t", "bad,topic", "k3", "msg3"),
         (4, TS, "t", "x" * 300, "k4", "msg4")],
        "id int, ts timestamp, tag string, tkey string, mkey string,"
        " msg string",
    )
    out = to_kafka_records(
        df, "ts", topics=["logs_a", "logs_b"], topic_key="tkey",
        dynamic_topic=True, message_key="static",
        message_key_field="mkey",
    )
    rows = {json.loads(r["value"])["id"]: r for r in out.collect()}
    # configured topic kept; dynamic unseen accepted; comma/overlong
    # fall back to the default (first topics entry)
    assert rows[1]["topic"] == "logs_a"
    assert rows[2]["topic"] == "unknown"
    assert rows[3]["topic"] == "logs_a" and rows[4]["topic"] == "logs_a"
    # message_key_field wins, static fallback when record value null
    assert rows[1]["key"] == "k1" and rows[2]["key"] == "static"
    body = json.loads(rows[1]["value"])
    assert list(body)[0] == "@timestamp"
    assert abs(body["@timestamp"]
               - TS.replace(tzinfo=dt.timezone.utc).timestamp()) < 1e-6

    # iso8601 + raw formats
    iso = to_kafka_records(
        df.limit(1), "ts", topics=["t1"], timestamp_format="iso8601"
    ).first()
    assert json.loads(iso["value"])["@timestamp"] == (
        "2024-03-05T14:30:15.123Z"
    )
    raw = to_kafka_records(
        df.limit(1), "ts", topics=["t1"], fmt="raw", raw_log_key="msg"
    ).first()
    assert raw["value"] == "boot"


def test_classic_kafka_output(spark, tmp_path):
    import json

    from fluent_bit_spark.classic import build_classic_pipeline, run_classic_outputs

    conf = """
[INPUT]
    Name    dummy
    Tag     svc.k
    Dummy   {"message":"boot","svc":"payments"}
    Samples 2

[OUTPUT]
    Name              kafka
    Match             svc.*
    Topics            logs
    Topic_Key         svc
    Dynamic_Topic     On
    Message_Key_Field svc
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"kafka.0": 2}
    lines = []
    for p in glob.glob(
        os.path.join(str(tmp_path), "kafka.0", "topic=payments", "part-*")
    ):
        lines += open(p).read().splitlines()
    assert len(lines) == 2
    rec = json.loads(lines[0])
    assert rec["key"] == "payments"
    v = json.loads(rec["value"])
    assert v["message"] == "boot" and "@timestamp" in v


# ---------------------------------------------- cmt_encode_influx (metrics)


def _metric_rows(spark):
    rows = [
        ("counter", "requests_total", [("host", "a b"), ("p", "x=y")],
         123, 2.5, None, None, None, None, None, None, None, None),
        ("gauge", "mem", [], 124, 3.0,
         None, None, None, None, None, None, None, None),
        ("histogram", "lat", [("h", "1")], 125, None,
         [1, 2, 7], [0.5, 2.0], 99.5, 10, None, None, None, None),
        ("summary", "rt", [("q", "z")], 126, None,
         None, None, None, None, [0.5, 0.99], [0.25, 1.5], 2.0, 4),
        ("summary", "rt_skip", [], 127, None,
         None, None, None, None, None, None, 2.0, 4),
    ]
    schema = (
        "mtype string, name string, "
        "tags array<struct<key:string,value:string>>, ts long, "
        "value double, bucket_counts array<long>, explicit_bounds "
        "array<double>, hist_sum double, hist_count long, quantiles "
        "array<double>, quantile_values array<double>, sum_sum double, "
        "sum_count long"
    )
    return spark.createDataFrame(rows, schema)


def test_cmt_influx_lines_golden(spark):
    """cmt_encode_influx.c golden shapes: measurement=ns[_subsystem],
    static labels then escaped tags, raw metric name as the field key,
    histogram %g-bound buckets + +Inf + sum/count, summary
    quantile=value pairs, quantile-less summary samples skipped."""
    from fluent_bit_spark.functions.influx_out import cmt_influx_lines

    out = cmt_influx_lines(
        _metric_rows(spark), measurement="fb_node",
        static_labels=[("app", "api")],
    )
    lines = [r.line for r in out.select("line").collect()]
    assert lines == [
        "fb_node,app=api,host=a\\ b,p=x\\=y requests_total=2.5 123",
        "fb_node,app=api mem=3 124",
        "fb_node,app=api,h=1 0.5=1,2=2,+Inf=7,sum=99.5,count=10 125",
        "fb_node,app=api,q=z 0.5=0.25,0.99=1.5,sum=2,count=4 126",
    ]


def test_cmt_influx_lines_no_namespace(spark):
    """Empty namespace emits NO measurement (format_metric :240-252):
    the line starts at the tag set, or at the field set when the
    sample is untagged — no leading separator either way."""
    from fluent_bit_spark.functions.influx_out import cmt_influx_lines

    out = cmt_influx_lines(_metric_rows(spark).limit(2))
    lines = [r.line for r in out.select("line").collect()]
    assert lines == [
        "host=a\\ b,p=x\\=y requests_total=2.5 123",
        "mem=3 124",
    ]


# ------------------------------------------ cmt_encode_splunk_hec (metrics)


def _hec_metric_rows(spark):
    rows = [
        ("counter", "requests_total", "node", [("host", "a")],
         1_700_000_000_123_456_789, 2.5,
         None, None, None, None, None, None, None, None),
        ("gauge", "mem", "", [], 123, 3.0,
         None, None, None, None, None, None, None, None),
        ("histogram", "lat", "", [("h", "1")], 125, None,
         [1, 2, 7], [0.5, 2.0], 99.5, 10, None, None, None, None),
        ("summary", "rt", "", [], 126, None,
         None, None, None, None, [0.5, 0.99], [0.25, 1.5], 2.0, 4),
        ("summary", "rt_noq", "", [], 127, None,
         None, None, None, None, None, None, 2.0, 4),
    ]
    schema = (
        "mtype string, name string, subsystem string, "
        "tags array<struct<key:string,value:string>>, ts long, "
        "value double, bucket_counts array<long>, explicit_bounds "
        "array<double>, hist_sum double, hist_count long, quantiles "
        "array<double>, quantile_values array<double>, sum_sum double, "
        "sum_count long"
    )
    return spark.createDataFrame(rows, schema)


def test_cmt_splunk_hec_golden(spark):
    """cmt_encode_splunk_hec.c golden shapes: %09lu.%09lu time (pad,
    never truncate), metric_name:[subsystem.]name (namespace ignored),
    double_to_string ".0" on integral values, per-bucket/quantile
    event fan-out with le/qt STRINGS + metric_type, _sum/_count tail
    events, quantile-less summaries skip only the per-quantile run."""
    from fluent_bit_spark.functions.hec_out import cmt_splunk_hec_events

    out = cmt_splunk_hec_events(
        _hec_metric_rows(spark), host="web-1", index="main")
    ev = {r.event[:60]: r.event for r in out.collect()}
    events = sorted(ev.values())
    counter = next(e for e in events if "requests_total" in e)
    assert counter == (
        '{"host":"web-1","time":1700000000.123456789,"event":"metric",'
        '"index":"main","fields":{"metric_name:node.requests_total":2.5,'
        '"host":"a"}}'
    )
    gauge = next(e for e in events if "metric_name:mem" in e)
    assert '"time":000000000.000000123' in gauge
    assert '"metric_name:mem":3.0}}' in gauge
    hist = next(e for e in events if "lat_bucket" in e)
    assert hist.count('"event":"metric"') == 5  # 3 buckets + sum + count
    assert '"metric_name:lat_bucket":1.0,"le":"0.5"' in hist
    assert '"metric_name:lat_bucket":7.0,"le":"+Inf"' in hist
    # _sum passes through a uint64_t in the C and truncates
    # (format_histogram_bucket declares `uint64_t metric_val`)
    assert '"metric_name:lat_sum":99.0' in hist
    assert '"metric_name:lat_count":10.0' in hist
    assert hist.count('"metric_type":"Histogram"') == 5
    summ = next(e for e in events if '"metric_name:rt"' in e)
    assert '"metric_name:rt":0.25,"qt":"0.5"' in summ
    assert '"metric_name:rt":1.5,"qt":"0.99"' in summ
    assert '"metric_name:rt_sum":2.0' in summ
    assert '"metric_name:rt_count":4.0' in summ
    noq = next(e for e in events if "rt_noq" in e)
    assert noq.count('"event":"metric"') == 2  # only _sum and _count
    assert '"qt"' not in noq


# ---------------------------------------------- cmt_encode_text (metrics)


def test_cmt_text_lines_golden(spark):
    """cmt_encode_text.c golden shapes: RFC3339Nano UTC timestamp
    with exactly nine ns digits, fqname{static,sample labels} =
    value with RAW label concatenation (the text encoder never
    escapes), histogram buckets block with %g bounds + raw counts +
    the C's exact spacing, summary quantiles block (zero-quantile
    rows keep the single space between braces), scalar %.17g."""
    from fluent_bit_spark.functions.text_out import cmt_text_lines

    out = cmt_text_lines(_metric_rows(spark),
                         static_labels=[("app", "api")])
    lines = [r.line for r in out.select("line").collect()]
    assert lines == [
        '1970-01-01T00:00:00.000000123Z requests_total'
        '{app="api",host="a b",p="x=y"} = 2.5',
        '1970-01-01T00:00:00.000000124Z mem{app="api"} = 3',
        '1970-01-01T00:00:00.000000125Z lat{app="api",h="1"}'
        ' = { buckets = { 0.5=1, 2=2, +Inf=7 }, sum=99.5, count=10 }',
        '1970-01-01T00:00:00.000000126Z rt{app="api",q="z"}'
        ' = { quantiles = { 0.5=0.25, 0.99=1.5 }, sum=2, count=4 }',
        '1970-01-01T00:00:00.000000127Z rt_skip{app="api"}'
        ' = { quantiles = { }, sum=2, count=4 }',
    ]


def test_cmt_text_lines_no_static(spark):
    """Label group braces appear only when at least one label exists
    (format_metric :202-258); a second-resolution timestamp padding
    check on a large ns value (integer div, no double rounding)."""
    from fluent_bit_spark.functions.text_out import cmt_text_lines

    rows = _metric_rows(spark).limit(2).withColumn(
        "ts", F.lit(1_700_000_000_000_000_123).cast("long"))
    lines = [r.line for r in
             cmt_text_lines(rows).select("line").collect()]
    assert lines == [
        '2023-11-14T22:13:20.000000123Z requests_total'
        '{host="a b",p="x=y"} = 2.5',
        '2023-11-14T22:13:20.000000123Z mem = 3',
    ]


# ---------------------------------------------- ctr_encode_text (traces)


def test_ctr_text_blocks_golden(spark):
    """ctr_encode_text.c golden block: resource/scope headers with
    the C's exact padding, [span #i 'name'] sections in order, F1BI7
    default ids, 'undefined' parent, raw kind int + name with
    out-of-range -> unspecified, status message line only when set,
    typed variant attrs (string quoted, int bare, double %.17g, bool
    words), event sub-block, unconditional [links] header."""
    from fluent_bit_spark.functions.text_out import ctr_text_blocks

    attr_t = ("array<struct<key:string,s:string,i:long,"
              "d:double,b:boolean>>")
    ev_t = "array<struct<name:string,ts:long,dropped:long>>"
    rows = [
        ("g1", 0, "GET /", "0af7651916cd43dd8448eb211c80319c",
         "b7ad6b7169203331", None, 2,
         1_700_000_000_000_000_000, 1_700_000_000_000_000_500,
         1, 0, 0, "", 2, "boom",
         [("http.method", "GET", None, None, None),
          ("code", None, 200, None, None),
          ("ratio", None, None, 0.5, None),
          ("ok", None, None, None, True)],
         [("boot", 1_700_000_000_000_000_001, 0)]),
        ("g1", 1, "child", None, None, "b7ad6b7169203331", 6,
         1_700_000_000_000_001_000, 1_700_000_000_000_001_500,
         0, 0, 0, "st", 0, None, [], []),
    ]
    schema = (
        "gid string, span_order long, name string, trace_id_hex "
        "string, span_id_hex string, parent_span_id_hex string, "
        "kind long, start_nanos long, end_nanos long, dropped_attr "
        "long, dropped_events long, dropped_links long, trace_state "
        "string, status_code int, status_message string, attrs "
        + attr_t + ", events " + ev_t
    )
    df = spark.createDataFrame(rows, schema)
    res = F.expr(
        "array(named_struct('key','service.name','s','api',"
        "'i',cast(null as long),'d',cast(null as double),"
        "'b',cast(null as boolean)))")
    out = ctr_text_blocks(df, ["gid"], resource_attrs=res,
                          scope_name="svc", scope_version="1")
    text = out.collect()[0].text
    assert text.startswith(
        "|-------------------- RESOURCE SPAN --------------------|\n"
        "  resource:\n     - attributes:\n"
        "            - service.name: 'api'\n"
        "     - dropped_attributes_count: 0\n"
        '     - schema_url: ""\n'
        "  [scope_span]\n    instrumentation scope:\n"
        "        - name                    : svc\n"
        "        - version                 : 1\n"
        "        - dropped_attributes_count: 0\n"
        "        - attributes: undefined\n"
        '    schema_url: ""\n    [spans]\n'
        "         [span #0 'GET /']\n"
        "             - trace_id                : "
        "0af7651916cd43dd8448eb211c80319c\n")
    assert "             - kind                    : 2 (server)\n" \
        in text
    assert ("             - parent_span_id          : undefined\n"
            in text)
    assert "                 - message : 'boom'\n" in text
    assert ("             - attributes: \n"
            "                 - http.method: 'GET'\n"
            "                 - code: 200\n"
            "                 - ratio: 0.5\n"
            "                 - ok: true\n") in text
    assert ("             - events: \n"
            "                 - name: boot\n"
            "                     - timestamp               : "
            "1700000000000000001\n"
            "                     - dropped_attributes_count: 0\n"
            "                     - attributes: none\n") in text
    # second span: defaults + out-of-range kind + no message line
    assert ("         [span #1 'child']\n"
            "             - trace_id                : "
            "000000F1BI700000000000F1BI700000\n"
            "             - span_id                 : "
            "000000F1BI700000\n"
            "             - parent_span_id          : "
            "b7ad6b7169203331\n"
            "             - kind                    : 6 (unspecified)"
            "\n") in text
    tail = text.split("[span #1")[1]
    assert "- message" not in tail
    assert "             - attributes: none\n" in tail
    assert "             - events: none\n" in tail
    assert tail.endswith("             - [links]\n")
