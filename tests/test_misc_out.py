"""out_nats / out_logdna / out_slack / out_td / out_nrlogs / out_http
encodings vs the reference formats."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from fluent_bit_spark.functions.misc_out import (
    http_body,
    json_date_col,
    logdna_payload,
    nats_payload,
    newrelic_payload,
    slack_payload,
    to_http_record,
    to_logdna_line,
    to_nats_line,
    to_newrelic_log,
    to_slack_line,
    to_td_record,
)

TS = "2023-11-14 22:13:20.25"


@pytest.fixture()
def rec_df(spark):
    df = spark.createDataFrame(
        [("app.a", "boot ok", "err", 7)],
        "tag string, message string, level string, n long",
    )
    return df.withColumn("ts", F.lit(TS).cast("timestamp"))


def test_nats_line(rec_df):
    line = rec_df.select(to_nats_line(rec_df, "ts").alias("l")).first()["l"]
    arr = json.loads(line)
    assert arr[0] == 1700000000.25  # ts double first
    # record with tag prepended (nats.c:124-128)
    assert arr[1] == {"tag": "app.a", "message": "boot ok",
                      "level": "err", "n": 7}
    assert nats_payload([line]) == "[" + line + "]"


def test_logdna_line(rec_df):
    line = rec_df.select(
        to_logdna_line(rec_df, "ts", file_conf="f.log").alias("l")
    ).first()["l"]
    d = json.loads(line)
    assert d["level"] == "err"  # level|severity primary key
    assert d["file"] == "f.log"  # config fallback
    assert d["app"] == "Fluent Bit"  # default app
    assert d["timestamp"] == 1700000000  # int seconds
    # line = FULL record JSON (primary keys not removed)
    assert json.loads(d["line"]) == {"message": "boot ok", "level": "err",
                                     "n": 7}
    assert logdna_payload([line]).startswith('{"lines":[')


def test_slack_line(rec_df):
    df = rec_df.withColumn("pi", F.lit(3.5).cast("double"))
    line = df.select(to_slack_line(df, "ts").alias("l")).first()["l"]
    # msgpack_object_print format with 9-digit nanos timestamp prefix
    assert line == ('["timestamp": 1700000000.250000000, '
                    '{"message"=>"boot ok", "level"=>"err", "n"=>7, '
                    '"pi"=>3.500000}]')
    payload = json.loads(slack_payload([line]))
    assert payload["text"] == line + "\n"


def test_td_record(rec_df):
    d = json.loads(
        rec_df.select(to_td_record(rec_df, "ts").alias("l")).first()["l"])
    assert d["time"] == 1700000000  # epoch seconds appended last
    assert list(d)[-1] == "time"
    assert d["message"] == "boot ok"


def test_newrelic_log_and_payload(rec_df):
    d = json.loads(rec_df.select(
        to_newrelic_log(rec_df, "ts").alias("l")).first()["l"])
    assert d["timestamp"] == 1700000000250  # milliseconds
    assert d["message"] == "boot ok"  # from 'message'
    assert d["attributes"] == {"level": "err", "n": 7}
    # 'log' wins over 'message' (newrelic.c:100-112)
    df2 = rec_df.withColumn("log", F.lit("raw line"))
    d2 = json.loads(df2.select(
        to_newrelic_log(df2, "ts").alias("l")).first()["l"])
    assert d2["message"] == "raw line"
    assert d2["attributes"]["message"] == "boot ok"
    body = json.loads(newrelic_payload(['{"timestamp":1}'], "4.0.0"))
    assert body[0]["common"]["attributes"]["plugin"] == {
        "type": "Fluent Bit", "version": "4.0.0"}
    assert body[0]["logs"] == [{"timestamp": 1}]


def test_http_record_date_formats(rec_df):
    def date(fmt):
        return rec_df.select(
            json_date_col("ts", fmt).alias("d")).first()["d"]

    assert date("double") == 1700000000.25
    assert date("epoch") == 1700000000
    assert date("epoch_ms") == 1700000000250
    assert date("iso8601") == "2023-11-14T22:13:20.250000Z"
    assert date("java_sql_timestamp") == "2023-11-14 22:13:20.250000"
    with pytest.raises(ValueError):
        date("nope")

    rec = rec_df.select(to_http_record(
        rec_df, "ts", date_key="date", date_format="epoch").alias("l")
    ).first()["l"]
    d = json.loads(rec)
    assert list(d)[0] == "date" and d["date"] == 1700000000
    # date_key None == config 'json_date_key false'
    rec = rec_df.select(to_http_record(
        rec_df, "ts", date_key=None).alias("l")).first()["l"]
    assert "date" not in json.loads(rec)


def test_http_body_formats():
    rs = ['{"a":1}', '{"b":2}']
    assert http_body(rs, "json") == '[{"a":1},{"b":2}]'
    assert http_body(rs, "json_stream") == '{"a":1}{"b":2}'
    assert http_body(rs, "json_lines") == '{"a":1}\n{"b":2}\n'
    assert http_body([], "json_lines") == ""
    with pytest.raises(ValueError):
        http_body(rs, "msgpack_text")


def test_classic_misc_outputs(spark, tmp_path):
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
    Dummy   {"message":"boot ok","level":"err"}
    Samples 2

[OUTPUT]
    Name   nats
    Match  svc.*

[OUTPUT]
    Name   logdna
    Match  svc.*
    File   f.log

[OUTPUT]
    Name   http
    Match  svc.*
    json_date_format iso8601

[OUTPUT]
    Name   nrlogs
    Match  svc.*
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"nats.0": 2, "logdna.1": 2, "http.2": 2,
                      "nrlogs.3": 2}

    def lines(oid):
        out = []
        for p in glob.glob(os.path.join(str(tmp_path), oid, "*",
                                        "part-*")):
            out += open(p, encoding="utf-8").read().splitlines()
        return out

    nats = [json.loads(ln) for ln in lines("nats.0")]
    assert all(e[1]["tag"] == "svc.a" and e[1]["message"] == "boot ok"
               for e in nats)
    ld = [json.loads(ln) for ln in lines("logdna.1")]
    assert all(d["file"] == "f.log" and d["level"] == "err" for d in ld)
    ht = [json.loads(ln) for ln in lines("http.2")]
    assert all(d["date"].endswith("Z") for d in ht)
    nr = [json.loads(ln) for ln in lines("nrlogs.3")]
    assert all(d["message"] == "boot ok"
               and d["attributes"]["level"] == "err" for d in nr)


def test_kafka_rest_record(rec_df):
    from fluent_bit_spark.functions.misc_out import (
        kafka_rest_payload,
        to_kafka_rest_record,
    )

    d = json.loads(rec_df.select(to_kafka_rest_record(
        rec_df, "ts", message_key="mk", partition=3,
        include_tag_key=True).alias("l")).first()["l"])
    assert d["partition"] == 3 and d["key"] == "mk"
    v = d["value"]
    assert v["@timestamp"] == "2023-11-14T22:13:20"  # whole seconds
    assert v["message"] == "boot ok" and v["_flb-key"] == "app.a"
    assert list(v)[0] == "@timestamp"  # time key first
    assert kafka_rest_payload(['{"value":1}']) == \
        '{"records":[{"value":1}]}'


def test_pgsql_insert_sql():
    from fluent_bit_spark.functions.misc_out import pgsql_insert_sql

    q = pgsql_insert_sql("fluentbit", "app's", '[{"date":1.5}]')
    assert q == ("INSERT INTO fluentbit SELECT 'app''s', "
                 "to_timestamp(CAST(value->>'date' as FLOAT)),"
                 " * FROM json_array_elements('[{\"date\":1.5}]');")
    q = pgsql_insert_sql("t", "a", "[]", cockroachdb=True)
    assert "AS INTERVAL) + DATE'1970-01-01'" in q


def test_classic_websocket_and_kafka_rest(spark, tmp_path):
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
    Dummy   {"message":"x"}
    Samples 1

[OUTPUT]
    Name   websocket
    Match  svc.*
    json_date_format epoch

[OUTPUT]
    Name        kafka_rest
    Match       svc.*
    partition   2
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"websocket.0": 1, "kafka_rest.1": 1}

    def first_line(oid):
        for p in glob.glob(os.path.join(str(tmp_path), oid, "*",
                                        "part-*")):
            return open(p, encoding="utf-8").read().splitlines()[0]

    ws = json.loads(first_line("websocket.0"))
    assert isinstance(ws["date"], int) and ws["message"] == "x"
    kr = json.loads(first_line("kafka_rest.1"))
    assert kr["partition"] == 2 and kr["value"]["message"] == "x"


def test_pgsql_insert_col_matches_python_renderer(spark):
    """The Catalyst column form of the out_pgsql INSERT must render the
    byte-identical statement pgsql_insert_sql builds driver-side,
    including the single-quote SQL escaping of tag and body."""
    from fluent_bit_spark.functions.misc_out import (
        pgsql_insert_col,
        pgsql_insert_sql,
    )

    cases = [
        ("app.a", '[{"date":1,"msg":"hi"}]'),
        ("it's", '[{"date":2,"msg":"o''hara"}]'),
    ]
    df = spark.createDataFrame(cases, ["tag", "body"])
    got = {
        r["tag"]: r["stmt"]
        for r in df.select(
            "tag",
            pgsql_insert_col(
                "logs", F.col("tag"), F.col("body")
            ).alias("stmt"),
        ).collect()
    }
    for tag, body in cases:
        assert got[tag] == pgsql_insert_sql("logs", tag, body)
