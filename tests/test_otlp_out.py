"""out_opentelemetry logs encode + out_kinesis_* + out_bigquery +
in_http body parse vs the reference semantics."""

from __future__ import annotations

import base64
import json

import pytest

from pyspark.sql import functions as F

from fluent_bit_spark.functions.cloudwatch_out import (
    aws_strftime_col,
    kinesis_partition_key,
    kinesis_partition_key_col,
    to_kinesis_record,
)
from fluent_bit_spark.functions.misc_out import (
    bigquery_payload,
    to_bigquery_row,
)
from fluent_bit_spark.functions.otlp_out import (
    otlp_log_record,
    otlp_logs_export,
)
from fluent_bit_spark.sources.api_in import (
    http_json_records,
    http_uri_tag,
    parse_http_json,
)
from fluent_bit_spark.sources.otlp import parse_otlp_logs_df

TS = "2023-11-14 22:13:20.25"


@pytest.fixture()
def log_df(spark):
    rows = [
        # (id, sev, text, trace_id, resource, scope)
        (1, 9, "INFO", "0af7651916cd43dd8448eb211c80319c", 0, 0),
        (2, 25, "BAD", "not-hex", 0, 0),       # sev invalid, trace invalid
        (3, 17, "ERROR", "0AF7651916CD43DD8448EB211C80319C", 1, 0),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, sev long, sev_text string, trace string, "
        "rid long, sid long",
    )
    return df.withColumn("ts", F.lit(TS).cast("timestamp"))


class TestOtlpLogsEncode:
    def test_round_trip(self, log_df):
        ts_nanos = F.unix_micros(F.col("ts")) * 1000
        lr = otlp_log_record(
            ts_nanos,
            severity_number=F.col("sev"),
            severity_text=F.col("sev_text"),
            attributes=F.create_map(
                F.lit("svc"), F.concat(F.lit("s"), F.col("event_id"))),
            trace_id=F.col("trace"),
            record=F.create_map(
                F.lit("event_id"), F.col("event_id").cast("string")),
        )
        enc = otlp_logs_export(
            log_df, lr,
            resource_col=F.col("rid"), scope_col=F.col("sid"),
            resource_attrs=F.create_map(
                F.lit("host"), F.concat(F.lit("h"), F.col("rid"))),
            scope_name=F.lit("fbs"),
        )
        assert enc.count() == 2  # (0,0) and (1,0)
        dec = parse_otlp_logs_df(enc.select("body"))
        got = {
            json.loads(r["record"])["event_id"]: r
            for r in dec.collect()
        }
        assert set(got) == {"1", "2", "3"}
        meta1 = json.loads(got["1"]["metadata"])["otlp"]
        assert meta1["severity_number"] == 9
        assert meta1["severity_text"] == "INFO"
        assert meta1["attributes"] == {"svc": "s1"}
        assert meta1["trace_id"] == "0af7651916cd43dd8448eb211c80319c"
        # invalid severity (25) and malformed trace id are left unset
        meta2 = json.loads(got["2"]["metadata"])["otlp"]
        assert "severity_number" not in meta2
        assert "trace_id" not in meta2
        # uppercase hex accepted, lowered
        meta3 = json.loads(got["3"]["metadata"])["otlp"]
        assert meta3["trace_id"] == "0af7651916cd43dd8448eb211c80319c"
        # timestamp survives the nanos round trip
        assert got["1"]["time_unix_nano"] == 1700000000250000000

    def test_body_key_wins_over_record(self, log_df):
        lr = otlp_log_record(
            F.lit(5), body=F.lit("hello"),
            record=F.create_map(F.lit("k"), F.lit("v")))
        enc = otlp_logs_export(log_df.limit(1), lr)
        payload = json.loads(enc.first()["body"])
        rec = payload["resourceLogs"][0]["scopeLogs"][0]["logRecords"][0]
        assert rec["body"] == {"stringValue": "hello"}


class TestKinesis:
    def test_record_shape(self, log_df):
        df = log_df.select(
            "ts", F.lit("app.x").alias("tag"),
            F.col("event_id").alias("n"))
        row = df.limit(1).select(
            to_kinesis_record(
                df, "ts", partition_key=F.lit("pk1"),
                time_key="t", time_key_format="%Y-%m-%dT%H:%M:%S",
            ).alias("r")).first()["r"]
        obj = json.loads(row)
        assert obj["PartitionKey"] == "pk1"
        data = base64.b64decode(obj["Data"]).decode()
        assert data.endswith("\n")
        assert json.loads(data) == {"n": 1, "t": "2023-11-14T22:13:20"}

    def test_firehose_no_partition_key(self, log_df):
        df = log_df.select("ts", F.lit("t").alias("tag"),
                           F.col("event_id").alias("n"))
        row = df.limit(1).select(
            to_kinesis_record(df, "ts", firehose=True).alias("r")
        ).first()["r"]
        assert "PartitionKey" not in json.loads(row)

    def test_log_key_strip_and_empty_discard(self, spark):
        df = spark.createDataFrame(
            [("a", 'say "hi"'), ("b", "")],
            "tag string, log string",
        ).withColumn("ts", F.lit(TS).cast("timestamp"))
        rows = df.select(
            to_kinesis_record(
                df, "ts", log_key="log", partition_key=F.lit("p")
            ).alias("r")).collect()
        datas = [
            base64.b64decode(json.loads(r["r"])["Data"]).decode()
            if r["r"] is not None else None
            for r in rows
        ]
        # quote-strip leaves the JSON-escaped content, no quotes
        assert datas[0] == 'say \\"hi\\"\n'
        assert datas[1] is None  # '""' -> discarded

    def test_partition_key_parity(self, spark):
        # Catalyst djb2/time hash == the exact Python reference twin
        cases = [("app.log", 1700000000, 250000000),
                 ("x", 1, 7), ("kube.var.log", 1699999999, 999999000)]
        df = spark.createDataFrame(
            cases, "tag string, sec long, nsec long")
        got = df.select(
            kinesis_partition_key_col(
                F.col("tag"), F.col("sec"), F.col("nsec")).alias("k")
        ).collect()
        for (tag, sec, nsec), r in zip(cases, got):
            assert r["k"] == kinesis_partition_key(tag, sec, nsec)

    def test_aws_strftime_millis(self, log_df):
        got = log_df.limit(1).select(
            aws_strftime_col("ts", "%Y-%m-%d %H:%M:%S.%3N").alias("t")
        ).first()["t"]
        assert got == "2023-11-14 22:13:20.250"


class TestBigQuery:
    def test_row_and_payload(self, log_df):
        df = log_df.select("ts", F.lit("t").alias("tag"),
                           F.col("event_id").alias("n"))
        rows = [r["r"] for r in
                df.select(to_bigquery_row(df).alias("r")).collect()]
        assert json.loads(rows[0]) == {"json": {"n": 1}}
        body = json.loads(bigquery_payload(rows, skip_invalid_rows=True))
        assert body["kind"] == "bigquery#tableDataInsertAllRequest"
        assert body["skipInvalidRows"] is True
        assert body["ignoreUnknownValues"] is False
        assert len(body["rows"]) == 3


class TestInHttp:
    def test_uri_tag(self):
        assert http_uri_tag("/") is None
        assert http_uri_tag("/app/v1?x=1") == "app_v1"
        assert http_uri_tag("/my.tag_ok") == "my.tag_ok"

    def test_map_array_and_skip(self):
        # map root, then array root incl. a non-map element (kept
        # verbatim — the reference has no map check in the array walk)
        body = '{"a":1} [{"b":2}, 3]'
        recs = http_json_records(body, tag="t")
        assert [(t, json.loads(r)) for t, r in recs] == [
            ("t", {"a": 1}), ("t", {"b": 2}), ("t", 3)]
        # scalar root is skipped, later roots still process
        assert http_json_records('5 {"a":1}')[0][1] == '{"a":1}'
        # invalid JSON anywhere skips the WHOLE body
        assert http_json_records('{"a":1} {oops') == []

    def test_tag_key_prefix_quirk(self):
        # record key 'tag' is a PREFIX of configured 'tagx' -> matches
        recs = http_json_records(
            '{"tag":"T1","v":1}', tag_key="tagx", tag="base")
        assert recs[0][0] == "T1"
        # non-string tag value -> fall through to base tag
        recs = http_json_records(
            '{"tag":3,"v":1}', tag_key="tag", tag="base")
        assert recs[0][0] == "base"

    def test_parse_http_json_df(self, spark):
        df = spark.createDataFrame(
            [('[{"m":"a"},{"m":"b"}]', "/svc/logs?q=1"),
             ('{"m":"c"}', "/")],
            "body string, uri string",
        )
        got = sorted(
            (r["tag"] or "", json.loads(r["record"])["m"])
            for r in parse_http_json(df, uri_col="uri").collect())
        assert got == [("", "c"), ("svc_logs", "a"), ("svc_logs", "b")]


def test_classic_kinesis_bigquery_outputs(spark, tmp_path):
    import glob
    import os

    from fluent_bit_spark.classic import (
        build_classic_pipeline,
        run_classic_outputs,
    )

    conf = """
[INPUT]
    Name    dummy
    Tag     svc.a
    Dummy   {"message":"boot ok"}
    Samples 2

[OUTPUT]
    Name   kinesis_streams
    Match  svc.*
    time_key t

[OUTPUT]
    Name   kinesis_firehose
    Match  svc.*
    log_key message

[OUTPUT]
    Name   bigquery
    Match  svc.*
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"kinesis_streams.0": 2, "kinesis_firehose.1": 2,
                      "bigquery.2": 2}

    def lines(oid):
        out = []
        for p in glob.glob(os.path.join(str(tmp_path), oid, "*",
                                        "part-*")):
            out += open(p, encoding="utf-8").read().splitlines()
        return out

    ks = [json.loads(ln) for ln in lines("kinesis_streams.0")]
    for e in ks:
        assert e["PartitionKey"].isdigit()
        data = base64.b64decode(e["Data"]).decode()
        assert data.endswith("\n")
        rec = json.loads(data)
        assert rec["message"] == "boot ok" and "t" in rec
    fh = [json.loads(ln) for ln in lines("kinesis_firehose.1")]
    for e in fh:
        assert "PartitionKey" not in e
        assert base64.b64decode(e["Data"]).decode() == "boot ok\n"
    bq = [json.loads(ln) for ln in lines("bigquery.2")]
    assert all(d["json"]["message"] == "boot ok" for d in bq)


class TestOtlpTracesEncode:
    def _bodies(self, spark, rows, **kw):
        from fluent_bit_spark.functions.otlp_out import (
            otlp_span,
            otlp_traces_export,
        )

        df = spark.createDataFrame(
            rows,
            "name string, tid string, sid string, kind long, "
            "code int, rid long",
        )
        span = otlp_span(
            F.col("name"), trace_id=F.col("tid"), span_id=F.col("sid"),
            kind=F.col("kind"),
            start_nanos=F.lit(1700000000000000000).cast("long"),
            end_nanos=F.lit(1700000000000000500).cast("long"),
            status_code=F.col("code"),
            status_message=F.lit("msg"),
        )
        return otlp_traces_export(df, span, **kw)

    def test_request_shape_and_round_trip(self, spark):
        from fluent_bit_spark.sources.otlp_traces import (
            parse_otlp_traces,
        )

        tid = "0af7651916cd43dd8448eb211c80319c"
        out = self._bodies(
            spark,
            [("op", tid, "b7ad6b7169203331", 3, 1, 0)],
            resource_attrs=F.create_map(F.lit("host"), F.lit("w1")),
            scope_name=F.lit("svc"), scope_version=F.lit("2"),
        ).collect()
        assert len(out) == 1
        doc = json.loads(out[0]["body"])
        sp = doc["resourceSpans"][0]["scopeSpans"][0]["spans"][0]
        assert sp["traceId"] == tid and sp["kind"] == 3
        assert sp["startTimeUnixNano"] == "1700000000000000000"
        assert sp["status"] == {"code": "OK", "message": "msg"}
        # re-ingestable by the engine's own in_ decoder
        rows = parse_otlp_traces(doc)
        assert rows[0]["trace_id"] == tid
        assert rows[0]["status_code"] == 1
        assert rows[0]["resource_attributes"] == {"host": "w1"}
        assert rows[0]["scope_name"] == "svc"

    def test_invalid_ids_and_kind_unset(self, spark):
        out = self._bodies(
            spark, [("op", "nothex", "short", 9, 7, 0)]).collect()
        sp = json.loads(out[0]["body"])[
            "resourceSpans"][0]["scopeSpans"][0]["spans"][0]
        assert "traceId" not in sp and "spanId" not in sp
        assert "kind" not in sp          # 9 out of 0..5
        assert "code" not in sp["status"]  # 7 invalid -> message only

    def test_grouping_per_resource(self, spark):
        tid = "0af7651916cd43dd8448eb211c80319c"
        out = self._bodies(
            spark,
            [("a", tid, "b7ad6b7169203331", 1, 0, 0),
             ("b", tid, "b7ad6b7169203331", 1, 0, 0),
             ("c", tid, "b7ad6b7169203331", 1, 0, 1)],
            resource_col=F.col("rid"),
        ).collect()
        by_rid = {r["resource_id"]: json.loads(r["body"]) for r in out}
        assert len(by_rid) == 2
        names = [s["name"] for s in
                 by_rid[0]["resourceSpans"][0]["scopeSpans"][0]["spans"]]
        assert sorted(names) == ["a", "b"]
        # no scope columns -> explicit empty scope map survives the
        # in_ walk (a non-map scope would drop the whole entry)
        assert by_rid[0]["resourceSpans"][0]["scopeSpans"][0][
            "scope"] == {}
