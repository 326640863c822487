"""Parser-stage goldens, mirroring the reference unit tests
(/root/reference/tests/internal/parser_json.c, parser_ltsv.c,
parser_logfmt.c, parser_regex.c) re-expressed over DataFrames.
"""

import os
from datetime import datetime

import pytest

from fluent_bit_spark.parsers import apply_parser, parse_parsers_conf
from fluent_bit_spark.parsers.compile import (
    _LOGFMT_BARE,
    _logfmt_parse_one,
    capture_group_indexes,
)
from fluent_bit_spark.parsers.config import ParserSpec


@pytest.fixture(scope="module")
def specs(reference_dir):
    with open(os.path.join(reference_dir, "conf", "parsers.conf")) as fh:
        return parse_parsers_conf(fh.read())


def test_conf_parses_all_reference_parsers(specs):
    assert {"apache", "nginx", "docker", "json", "logfmt", "syslog-rfc3164", "cri"} <= set(specs)
    assert specs["apache"].time_key == "time"
    assert specs["docker"].time_keep is True
    # /.../-delimited regex stripped
    assert not specs["syslog-rfc3164"].regex.startswith("/")


def test_capture_group_indexes_apache(specs):
    idx = capture_group_indexes(specs["apache"].regex)
    assert list(idx) == ["host", "user", "time", "method", "path", "code", "size", "referer", "agent"]
    assert idx["host"] == 1 and idx["agent"] == 9


APACHE_LINE = (
    '93.184.216.34 - frank [10/Oct/2000:13:55:36 -0700] '
    '"GET /index.html HTTP/1.0" 200 2326 "http://ref" "Mozilla/4"'
)


@pytest.mark.parametrize("mode", ["builtin", "arrow"])
def test_apache_regex_modes_agree(spark, specs, mode):
    df = spark.createDataFrame([(APACHE_LINE,), ("garbage",)], ["text"])
    out = apply_parser(df, "text", specs["apache"], mode=mode)
    rows = out.orderBy("_parse_ok", ascending=False).collect()
    ok = rows[0]
    assert ok["host"] == "93.184.216.34"
    assert ok["user"] == "frank"
    assert ok["method"] == "GET"
    assert ok["path"] == "/index.html"
    assert ok["code"] == "200"
    assert ok["size"] == "2326"
    assert ok["event_time"] == datetime(2000, 10, 10, 20, 55, 36)
    assert "time" not in out.columns  # Time_Keep off strips the key
    bad = rows[1]
    assert bad["_parse_ok"] is False and bad["host"] is None


def test_apache_optional_groups_null(spark, specs):
    line = '10.0.0.1 - - [10/Oct/2000:13:55:36 +0000] "POST /api" 500 12'
    df = spark.createDataFrame([(line,)], ["text"])
    r = apply_parser(df, "text", specs["apache"]).collect()[0]
    assert r["referer"] is None and r["agent"] is None and r["_parse_ok"] is True


def test_docker_json(spark, specs):
    df = spark.createDataFrame(
        [('{"log":"hello\\n","stream":"stdout","time":"2019-10-10T13:55:36.123Z"}',)],
        ["text"],
    )
    r = apply_parser(df, "text", specs["docker"]).collect()[0]
    assert r["record_map"]["log"] == "hello\n"
    assert r["event_time"] == datetime(2019, 10, 10, 13, 55, 36, 123000)
    # Time_Keep On: time stays in the map
    assert "time" in r["record_map"]


def test_json_time_key_stripped(spark, specs):
    df = spark.createDataFrame(
        [('{"k":"v","time":"10/Oct/2000:13:55:36 -0700"}',)], ["text"]
    )
    r = apply_parser(df, "text", specs["json"]).collect()[0]
    assert r["record_map"] == {"k": "v"}  # json parser Time_Keep defaults off
    assert r["event_time"] == datetime(2000, 10, 10, 20, 55, 36)


def test_ltsv_first_colon_split(spark):
    spec = ParserSpec(name="ltsv", format="ltsv", types={"status": "integer"})
    df = spark.createDataFrame(
        [("host:h1\tstatus:200\turl:http://x/y:z",), ("nofields",)], ["text"]
    )
    rows = apply_parser(df, "text", spec).collect()
    ok = [r for r in rows if r["_parse_ok"]][0]
    assert ok["record_map"] == {"host": "h1", "status": "200", "url": "http://x/y:z"}
    bad = [r for r in rows if not r["_parse_ok"]][0]
    assert bad["record_map"] == {}


def test_logfmt_python_oracle():
    m = _logfmt_parse_one(
        'ts=1 level=info msg="quoted \\"v\\"" size=12 flag empty="" bare=', False
    )
    assert m["msg"] == 'quoted "v"'
    assert m["flag"] == _LOGFMT_BARE  # bare key => true
    assert m["bare"] == _LOGFMT_BARE  # key= with no value => true
    assert m["empty"] == ""  # key="" => empty string
    assert m["size"] == "12"
    # no_bare_keys aborts the record (logfmt_no_bare_keys option)
    assert _logfmt_parse_one("a=1 flag", True) == {}


def test_logfmt_spark(spark):
    spec = ParserSpec(name="logfmt", format="logfmt")
    df = spark.createDataFrame([('a=1 b="x y" c',)], ["text"])
    r = apply_parser(df, "text", spec).collect()[0]
    assert r["record_map"] == {"a": "1", "b": "x y", "c": _LOGFMT_BARE}


def test_typecasts(spark):
    spec = ParserSpec(
        name="t",
        format="regex",
        regex=r"^(?<code>\d+) (?<ratio>[\d.]+) (?<ok>\w+) (?<addr>[0-9a-f]+)$",
        types={"code": "integer", "ratio": "float", "ok": "bool", "addr": "hex"},
    )
    df = spark.createDataFrame([("200 0.5 true ff",)], ["text"])
    r = apply_parser(df, "text", spec).collect()[0]
    assert r["code"] == 200
    assert r["ratio"] == 0.5
    assert r["ok"] is True
    assert r["addr"] == 255


def test_decoder_escaped(spark):
    from fluent_bit_spark.parsers.config import DecoderRule

    spec = ParserSpec(
        name="d",
        format="regex",
        regex=r"^(?<log>.*)$",
        decoders=[DecoderRule(mode="as", decoder="escaped", key="log")],
    )
    df = spark.createDataFrame([(r"line1\nline2\t\"q\" back\\slash",)], ["text"])
    r = apply_parser(df, "text", spec).collect()[0]
    assert r["log"] == 'line1\nline2\t"q" back\\slash'


def test_decoder_json_as(spark, specs):
    from fluent_bit_spark.parsers.config import DecoderRule

    spec = ParserSpec(
        name="d2",
        format="regex",
        regex=r"^(?<log>.*)$",
        decoders=[DecoderRule(mode="as", decoder="json", key="log")],
    )
    df = spark.createDataFrame([('{"a":"1","b":"2"}',)], ["text"])
    r = apply_parser(df, "text", spec).collect()[0]
    assert r["log"] == {"a": "1", "b": "2"}


# ---- decoder rule chaining (flb_parser_decoder.c:392-520) ---------------


def _chain_df(spark, values):
    from fluent_bit_spark.parsers.compile import apply_decoder_chain

    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "id long, log string")
    return df, apply_decoder_chain


def test_decoder_chain_docker_escaped_then_json(spark):
    # the canonical docker chain: unescape first, then parse json
    from fluent_bit_spark.parsers.config import DecoderRule

    rules = [
        DecoderRule("as", "escaped_utf8", "log", "do_next"),
        DecoderRule("as", "json", "log", "none"),
    ]
    df, chain = _chain_df(spark, [r'{\"k\": \"v\", \"n\": \"1\"}', "plain text"])
    out = {r["id"]: r for r in chain(df, "log", rules).collect()}
    assert out[0]["log"] == {"k": "v", "n": "1"}  # unescaped then parsed
    assert out[0]["log_str"] is None
    assert out[1]["log"] is None  # never json-decoded
    assert out[1]["log_str"] == "plain text"  # unescape ran, data kept


def test_decoder_chain_try_next_falls_through(spark):
    # json fails -> try_next continues to the escaped rule
    from fluent_bit_spark.parsers.config import DecoderRule

    rules = [
        DecoderRule("as", "json", "log", "try_next"),
        DecoderRule("as", "escaped", "log", "none"),
    ]
    df, chain = _chain_df(spark, [r"a\tb", '{"k": "v"}'])
    out = {r["id"]: r for r in chain(df, "log", rules).collect()}
    assert out[0]["log"] is None and out[0]["log_str"] == "a\tb"  # fell through
    # json succeeded -> try_next STOPS, escaped never runs
    assert out[1]["log"] == {"k": "v"} and out[1]["log_str"] is None


def test_decoder_default_adds_keys_beside_original(spark):
    # DEC_DEFAULT keeps the original value and registers extra keys
    from fluent_bit_spark.parsers.config import DecoderRule

    rules = [DecoderRule("field", "json", "log", "none")]
    df, chain = _chain_df(spark, ['{"a": "1"}', "nope"])
    out = {r["id"]: r for r in chain(df, "log", rules).collect()}
    assert out[0]["log"] == '{"a": "1"}'  # original untouched
    assert out[0]["log_decoded"] == {"a": "1"}
    assert out[1]["log"] == "nope" and out[1]["log_decoded"] is None


def test_decoder_default_action_stops_chain(spark):
    # no action token = FLB_PARSER_ACT_NONE: rule 2 must never run
    from fluent_bit_spark.parsers.config import DecoderRule

    rules = [
        DecoderRule("as", "escaped", "log"),  # default action=none
        DecoderRule("as", "mysql_quoted", "log"),
    ]
    df, chain = _chain_df(spark, [r"x\n''y"])
    out = chain(df, "log", rules).collect()[0]
    assert out["log"] == "x\n''y"  # unescaped but NOT mysql-unquoted


def test_decoder_conf_default_action_is_none(spark):
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    conf = """
[PARSER]
    Name t
    Format regex
    Regex ^(?<log>.*)$
    Decode_Field_As escaped_utf8 log do_next
    Decode_Field_As json log
"""
    spec = parse_parsers_conf(conf)["t"]
    assert [r.action for r in spec.decoders] == ["do_next", "none"]
