"""out_stackdriver LogEntry encoding vs stackdriver.c semantics."""

from __future__ import annotations

import json

from fluent_bit_spark.functions.stackdriver_out import (
    SEVERITY,
    encode_stackdriver,
    stackdriver_entry,
    stackdriver_request_body,
)


def mk(record, tag="app.log", sec=1_700_000_000, nanos=0, **opts):
    return stackdriver_entry(record, tag, sec, nanos,
                             project_id="my-proj", **opts)


def test_severity_enum_mapping():
    assert SEVERITY["EMERG"] == 800 and SEVERITY["EMERGENCY"] == 800
    assert SEVERITY["F"] == 600 and SEVERITY["SEVERE"] == 500
    assert SEVERITY["TRACE"] == 100 and SEVERITY["DEFAULT"] == 0
    e = mk({"logging.googleapis.com/severity": "warn", "m": 1})
    assert e["severity"] == 400  # case-insensitive, packed as int
    e = mk({"logging.googleapis.com/severity": "warnx", "m": 1})
    assert "severity" not in e  # invalid token dropped
    # severity key removed from payload either way
    assert e["jsonPayload"] == {"m": 1}


def test_logname_timestamp_defaults():
    e = mk({"m": "x"}, tag="tail.var.log", nanos=7)
    assert e["logName"] == "projects/my-proj/logs/tail.var.log"
    assert e["timestamp"] == "2023-11-14T22:13:20.000000007Z"
    assert e["jsonPayload"] == {"m": "x"}
    assert list(e)[-2:] == ["logName", "timestamp"]  # entry key order


def test_logname_overrides():
    e = mk({"m": 1, "logging.googleapis.com/logName": "custom",
            "logging.googleapis.com/projectId": "other"})
    assert e["logName"] == "projects/other/logs/custom"
    assert e["jsonPayload"] == {"m": 1}
    # k8s stream rename (stackdriver.c:2511-2528) — stream always removed
    e = mk({"m": 1, "stream": "stderr"}, k8s_resource=True)
    assert e["logName"] == "projects/my-proj/logs/stderr"
    assert e["jsonPayload"] == {"m": 1}
    e = mk({"m": 1, "stream": "stderr"})  # non-k8s: no rename
    assert e["logName"] == "projects/my-proj/logs/app.log"


def test_insert_id_rules():
    e = mk({"logging.googleapis.com/insertId": "abc", "m": 1})
    assert e["insertId"] == "abc" and e["jsonPayload"] == {"m": 1}
    # invalid insertId (non-string / empty) drops the whole record
    assert mk({"logging.googleapis.com/insertId": "", "m": 1}) is None
    assert mk({"logging.googleapis.com/insertId": 5, "m": 1}) is None


def test_trace_span_sampled():
    rec = {"logging.googleapis.com/trace": "t1",
           "logging.googleapis.com/spanId": "s1",
           "logging.googleapis.com/traceSampled": True, "m": 1}
    e = mk(dict(rec))
    assert (e["trace"], e["spanId"], e["traceSampled"]) == ("t1", "s1", True)
    e = mk(dict(rec), autoformat_stackdriver_trace=True)
    assert e["trace"] == "projects/my-proj/traces/t1"
    # traceSampled must be bool (get_trace_sampled)
    e = mk({"logging.googleapis.com/traceSampled": "yes", "m": 1})
    assert "traceSampled" not in e


def test_operation_and_extras():
    e = mk({"logging.googleapis.com/operation": {
        "id": "op1", "producer": "p", "first": True, "last": "nope",
        "custom": 9}, "m": 1})
    assert e["operation"] == {"id": "op1", "producer": "p",
                              "first": True, "last": False}
    # unknown subfields stay behind under the original key
    assert e["jsonPayload"] == {
        "logging.googleapis.com/operation": {"custom": 9}, "m": 1}
    # no extras -> key fully consumed
    e = mk({"logging.googleapis.com/operation": {"id": "x"}, "m": 1})
    assert e["jsonPayload"] == {"m": 1}
    # non-map operation value is NOT an operation; it stays verbatim
    e = mk({"logging.googleapis.com/operation": "text", "m": 1})
    assert "operation" not in e
    assert e["jsonPayload"]["logging.googleapis.com/operation"] == "text"


def test_source_location_line_coercion():
    e = mk({"logging.googleapis.com/sourceLocation": {
        "file": "a.c", "line": "42", "function": "main"}, "m": 1})
    assert e["sourceLocation"] == {"file": "a.c", "line": 42,
                                   "function": "main"}


def test_http_request_typed_and_latency():
    e = mk({"logging.googleapis.com/http_request": {
        "requestMethod": "GET", "status": 200, "latency": " 1.5 s ",
        "cacheLookup": True, "weird": 1}, "m": 1})
    hr = e["httpRequest"]
    assert hr["latency"] == "1.5s"  # squeezed to digits/./s
    assert hr["requestMethod"] == "GET" and hr["status"] == 200
    # all 14 typed subfields always present with defaults
    assert hr["requestUrl"] == "" and hr["responseSize"] == 0
    # reference bug: cacheHit mirrors cacheLookup
    assert hr["cacheHit"] is True and hr["cacheLookup"] is True
    assert e["jsonPayload"]["logging.googleapis.com/http_request"] == {
        "weird": 1}
    # opt-out of the bug
    e = mk({"logging.googleapis.com/http_request": {
        "cacheLookup": True, "cacheHit": False}, "m": 1},
        cache_hit_bug=False)
    assert e["httpRequest"]["cacheHit"] is False
    # invalid latency dropped
    e = mk({"logging.googleapis.com/http_request": {"latency": "1.5"},
            "m": 1})
    assert "latency" not in e["httpRequest"]


def test_labels_merge_config_wins():
    e = mk({"logging.googleapis.com/labels": {"a": "1", "b": "2"},
            "m": 1}, config_labels={"b": "cfg", "c": "3"})
    assert e["labels"] == {"a": "1", "b": "cfg", "c": "3"}
    assert e["jsonPayload"] == {"m": 1}


def test_timestamp_object_and_duo():
    e = mk({"timestamp": {"seconds": 1600000000, "nanos": 5}, "m": 1})
    assert e["timestamp"] == "2020-09-13T12:26:40.000000005Z"
    assert e["jsonPayload"] == {"m": 1}  # timestamp object removed
    e = mk({"timestampSeconds": "1600000000", "timestampNanos": 5, "m": 1})
    assert e["timestamp"].startswith("2020-09-13T12:26:40")
    assert e["jsonPayload"] == {"m": 1}
    # seconds == 0: keys still removed, event time kept
    e = mk({"timestamp": {"seconds": 0, "nanos": 5}, "m": 1})
    assert e["timestamp"].startswith("2023-11-14")
    assert e["jsonPayload"] == {"m": 1}
    # a timestamp that isn't the object shape stays in the payload
    e = mk({"timestamp": "2020", "m": 1})
    assert e["jsonPayload"] == {"timestamp": "2020", "m": 1}


def test_text_payload_rule():
    e = mk({"log": "hello"}, text_payload_key="log")
    assert e["textPayload"] == "hello" and "jsonPayload" not in e
    # more than one residual field -> jsonPayload
    e = mk({"log": "hello", "x": 1}, text_payload_key="log")
    assert e["jsonPayload"] == {"log": "hello", "x": 1}
    # specials removed first, THEN the single-field check
    e = mk({"log": "hello", "logging.googleapis.com/severity": "info"},
           text_payload_key="log")
    assert e["textPayload"] == "hello"


def test_request_body_envelope():
    body = stackdriver_request_body(
        ['{"a":1}'], "gce_instance", {"zone": "z1"})
    doc = json.loads(body)
    assert doc["resource"] == {"type": "gce_instance",
                               "labels": {"zone": "z1"}}
    assert doc["entries"] == [{"a": 1}]


def test_encode_stackdriver_spark(spark):
    rows = [
        ('{"m":"a","logging.googleapis.com/severity":"error"}', "t1",),
        ('{"m":"b","logging.googleapis.com/insertId":""}', "t1",),  # drop
        ('not json', "t1",),  # drop
        ('{"log":"only"}', "t2",),
    ]
    df = spark.createDataFrame(rows, "record string, tag string") \
        .withColumn("ts", __import__("pyspark.sql.functions",
                                     fromlist=["F"]).lit(
            "2023-11-14 22:13:20").cast("timestamp"))
    out = encode_stackdriver(df, "my-proj", text_payload_key="log")
    entries = [json.loads(r["entry"]) for r in out.collect()]
    assert len(entries) == 2
    by_log = {e["logName"]: e for e in entries}
    assert by_log["projects/my-proj/logs/t1"]["severity"] == 500
    assert by_log["projects/my-proj/logs/t2"]["textPayload"] == "only"


def test_classic_stackdriver_output(spark, tmp_path):
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
    Dummy   {"message":"boot ok","logging.googleapis.com/severity":"err"}
    Samples 2

[OUTPUT]
    Name              stackdriver
    Match             svc.*
    project_id        my-proj
    labels            env=ci,team=core
    text_payload_key  message
"""
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"stackdriver.0": 2}
    lines = []
    for p in glob.glob(os.path.join(str(tmp_path), "stackdriver.0",
                                    "*", "part-*")):
        lines += open(p, encoding="utf-8").read().splitlines()
    entries = [json.loads(ln) for ln in lines]
    assert len(entries) == 2
    for e in entries:
        assert e["severity"] == 500
        assert e["labels"] == {"env": "ci", "team": "core"}
        assert e["textPayload"] == "boot ok"
        assert e["logName"] == "projects/my-proj/logs/svc.a"
        assert e["timestamp"].endswith("Z")
