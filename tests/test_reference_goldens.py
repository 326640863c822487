"""Reference runtime goldens replayed VERBATIM through classic.py.

The reference's runtime tests (tests/runtime/filter_modify.c,
filter_grep.c shape) drive a lib input with a literal JSON record,
configure the filter with flb_filter_set property pairs, and assert a
JSON fragment appears in the routed output. This module extracts those
exact fixtures from the C source at test time (no copying — the C file
is parsed in place) and replays each one through the classic-conf
pipeline: same properties, same record, same expected key/values.

Equality semantics: the C harness substring-matches the JSON-rendered
record, which also pins fluent-bit's key ORDER; Spark columns are
unordered by nature, so the replay asserts the expected fragment as a
key->value subset of the routed row (values compared structurally,
nested objects json-parsed). Key-drop ops additionally assert the
dropped key reads NULL.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from conftest import REFERENCE_DIR

from fluent_bit_spark.classic import build_classic_pipeline

MODIFY_SRC = os.path.join(REFERENCE_DIR, "tests", "runtime", "filter_modify.c")


def _unescape(s: str) -> str:
    return s.encode().decode("unicode_escape")


def _c_args(stmt: str) -> list[str]:
    """String arguments of a C call argument list, honoring adjacent
    string-literal concatenation ('"a " "b"' is ONE argument)."""
    args: list[str] = []
    cur: list[str] = []
    pos = 0
    lit = re.compile(r'"((?:[^"\\]|\\.)*)"')
    while pos < len(stmt):
        ch = stmt[pos]
        if ch == '"':
            m = lit.match(stmt, pos)
            cur.append(_unescape(m.group(1)))
            pos = m.end()
        elif ch == ",":
            if cur:
                args.append("".join(cur))
                cur = []
            pos += 1
        else:
            pos += 1
    if cur:
        args.append("".join(cur))
    return args


def extract_modify_cases() -> list:
    """(test_name, [(prop, value)...], record_dict, expected_dict) per
    reference test function that follows the uniform fixture shape;
    none without the reference tree (those tests skip)."""
    if not os.path.isfile(MODIFY_SRC):
        return []
    text = open(MODIFY_SRC).read()
    parts = re.split(r"static void (flb_test_\w+)\(", text)[1:]
    cases = []
    for name, body in zip(parts[0::2], parts[1::2]):
        props: list[tuple[str, str]] = []
        for m in re.finditer(
            r"flb_filter_set\(ctx->flb,\s*ctx->f_ffd,(.*?)NULL\s*\)",
            body,
            re.S,
        ):
            lits = _c_args(m.group(1))
            props.extend(zip(lits[0::2], lits[1::2]))
        recm = re.search(r'p = "((?:[^"\\]|\\.)*)";', body)
        expm = re.search(r'cb_data\.data = "((?:[^"\\]|\\.)*)";', body)
        if not (props and recm and expm):
            continue
        try:
            record = json.loads(_unescape(recm.group(1)))[1]
            expected = json.loads("{" + _unescape(expm.group(1)) + "}")
        except (ValueError, IndexError):
            continue
        cases.append(pytest.param(props, record, expected, id=name))
    return cases


MODIFY_CASES = extract_modify_cases()


@pytest.mark.needs_reference
def test_extraction_found_the_reference_suite():
    # filter_modify.c carries 36 test functions; the uniform-fixture
    # subset must stay large — a parser regression would silently
    # skip the whole suite otherwise
    assert len(MODIFY_CASES) >= 25, len(MODIFY_CASES)


@pytest.mark.needs_reference
@pytest.mark.parametrize("props,record,expected", MODIFY_CASES)
def test_modify_runtime_golden(spark, props, record, expected):
    conf_lines = [
        "[INPUT]",
        "    Name dummy",
        "    Tag test",
        "    Dummy " + json.dumps(record),
        "    Samples 1",
        "[FILTER]",
        "    Name modify",
        "    Match *",
    ]
    conf_lines += [f"    {k} {v}" for k, v in props]
    conf_lines += ["[OUTPUT]", "    Name null", "    Match *"]
    pipe = build_classic_pipeline(spark, "\n".join(conf_lines))
    rows = pipe.records.collect()
    assert len(rows) == 1
    row = rows[0].asDict()
    for k, v in expected.items():
        assert k in row, f"expected key {k!r} missing; row={row}"
        got = row[k]
        if isinstance(v, (dict, list)):
            got = json.loads(got)
        elif isinstance(v, bool):
            # documented typing divergence: msgpack booleans surface
            # as their JSON text in string columns
            v = str(v).lower()
        assert got == v, f"{k}: {got!r} != {v!r}; row={row}"


# ---------------------------------------------------------------- nest
# tests/runtime/filter_nest.c fixtures, replayed verbatim. The C
# harness asserts the routed event COUNT; the replay also asserts the
# nest/lift content the fixture implies.

def _classic_rows(spark, conf):
    pipe = build_classic_pipeline(spark, conf)
    return pipe.records.collect()


def test_nest_multi_nest_golden(spark):
    """filter_nest.c flb_test_filter_nest_multi_nest (:89-161):
    Operation nest, Wildcard to_nest, Nest_under nested_key; two
    records, both routed."""
    rows = _classic_rows(
        spark,
        """
[INPUT]
    Name dummy
    Tag test
    Dummy {"to_nest":"This is the data to nest", "extra":"Some more data"}
[INPUT]
    Name dummy
    Tag test
    Dummy {"not_nest":"dummy data", "extra":"dummy more data"}
[FILTER]
    Name nest
    Match *
    Operation nest
    Wildcard to_nest
    Nest_under nested_key
[OUTPUT]
    Name null
    Match test
""",
    )
    assert len(rows) == 2
    by_extra = {r["extra"]: r for r in rows}
    nested = by_extra["Some more data"]["nested_key"]
    assert nested["to_nest"] == "This is the data to nest"
    assert by_extra["dummy more data"]["not_nest"] == "dummy data"


def test_nest_multi_lift_golden(spark):
    """filter_nest.c flb_test_filter_nest_multi_lift (:163-234):
    Operation lift, Nested_under nested; the child key surfaces."""
    rows = _classic_rows(
        spark,
        """
[INPUT]
    Name dummy
    Tag test
    Dummy {"nested": {"child":"nested data"}, "not_nestd":"not nested data"}
[FILTER]
    Name nest
    Match *
    Operation lift
    Nested_under nested
[OUTPUT]
    Name null
    Match test
""",
    )
    assert len(rows) == 1
    assert rows[0]["child"] == "nested data"
    assert rows[0]["not_nestd"] == "not nested data"
    assert "nested" not in rows[0].asDict()


def test_nest_lift_add_prefix_golden(spark):
    """filter_nest.c flb_test_filter_nest_add_prefix (:306-370):
    lift with Add_prefix _nested_key. over {"nested_key":{"key":"value"}}."""
    rows = _classic_rows(
        spark,
        """
[INPUT]
    Name dummy
    Tag test
    Dummy {"nested_key":{"key":"value"}}
[FILTER]
    Name nest
    Match *
    Operation lift
    Nested_under nested_key
    Add_prefix _nested_key.
[OUTPUT]
    Name null
    Match test
""",
    )
    assert len(rows) == 1
    assert rows[0]["_nested_key.key"] == "value"


# ---------------------------------------------------------- rewrite_tag
# tests/runtime/filter_rewrite_tag.c fixtures: routed-row equality per
# output Match, exactly the C harness's count assertions.

def _routed_counts(spark, conf):
    pipe = build_classic_pipeline(spark, conf)
    return {oid: df.count() for oid, df in pipe.outputs.items()}


REWRITE_BASE = """
[INPUT]
    Name dummy
    Tag rewrite
    Dummy {record}
[FILTER]
    Name rewrite_tag
    Match rewrite
    Rule {rule}
[OUTPUT]
    Name null
    Match {out_match}
"""


def test_rewrite_tag_matched_golden(spark):
    """filter_rewrite_tag.c flb_test_matched (:133-181): $key matches,
    keep false -> record leaves ONLY under the new tag."""
    conf = REWRITE_BASE.format(
        record='{"key":"rewrite"}',
        rule="$key ^(rewrite)$ updated false",
        out_match="updated",
    )
    assert _routed_counts(spark, conf) == {"null.0": 1}


def test_rewrite_tag_not_matched_golden(spark):
    """flb_test_not_matched (:187-236): value doesn't match the rule
    regex -> record stays under the original tag."""
    conf = REWRITE_BASE.format(
        record='{"key":"not_match"}',
        rule="$key ^(rewrite)$ updated false",
        out_match="rewrite",
    )
    assert _routed_counts(spark, conf) == {"null.0": 1}


def test_rewrite_tag_keep_true_golden(spark):
    """flb_test_keep_true (:242-289): keep true -> BOTH the original
    and the re-tagged record route (got == 2 in the C harness)."""
    conf = REWRITE_BASE.format(
        record='{"key":"rewrite"}',
        rule="$key ^(rewrite)$ updated true",
        out_match="*",
    )
    assert _routed_counts(spark, conf) == {"null.0": 2}


def test_rewrite_tag_tag_accessor_golden(spark):
    """flb_test_issue_5846 (:509-556): the rule key is $TAG itself."""
    conf = REWRITE_BASE.format(
        record='{"key":"rewrite"}',
        rule="$TAG ^(rewrite)$ updated false",
        out_match="updated",
    )
    assert _routed_counts(spark, conf) == {"null.0": 1}


# tests/runtime/filter_grep.c fixtures: the C harness pushes 256 (or
# 2x256) lib records `{"val": str(i*i), "log": ...}` and asserts the
# routed record count. Replayed through the classic [INPUT] lib path
# with the identical property strings; expected counts are the C
# test's own TEST_CHECK values (or, for the stdout-only variants,
# computed from the same fixture arithmetic).

GREP_BASE = """
[INPUT]
    Name lib
    Tag test
[FILTER]
    Name grep
    Match *
{rules}
[OUTPUT]
    Name null
    Match test
"""


def _grep_two_record_fixture(spark):
    """Per i in 0..255: record A log='Using deprecated option',
    record B log='Using option' (filter_grep.c:240-253 et al.)."""
    from pyspark.sql import functions as F

    base = spark.range(0, 256).select(
        (F.col("id") * F.col("id")).cast("string").alias("val")
    )
    a = base.withColumn("log", F.lit("Using deprecated option"))
    b = base.withColumn("log", F.lit("Using option"))
    return a.unionByName(b)


def _grep_count(spark, rules: str, df) -> int:
    conf = GREP_BASE.format(rules=rules)
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"test": df})
    return pipe.outputs["null.0"].count()


def test_grep_multi_exclude_golden(spark):
    """flb_test_filter_grep_multi_exclude (:193-264): two Excludes are
    OR'ed in legacy mode; the deprecated record drops -> got == 256."""
    rules = "    Exclude log deprecated\n    Exclude log hoge"
    assert _grep_count(spark, rules, _grep_two_record_fixture(spark)) == 256


def test_grep_and_regex_golden(spark):
    """flb_test_AND_regex: both regexes must hit -> only the
    'deprecated option' record survives, got == 256."""
    rules = (
        "    Regex log deprecated\n    Regex log option\n"
        "    Logical_Op AND"
    )
    assert _grep_count(spark, rules, _grep_two_record_fixture(spark)) == 256


def test_grep_or_regex_golden(spark):
    """flb_test_OR_regex: either regex keeps -> both records survive,
    got == 512."""
    rules = (
        "    Regex log deprecated\n    Regex log option\n"
        "    Logical_Op OR"
    )
    assert _grep_count(spark, rules, _grep_two_record_fixture(spark)) == 512


def test_grep_and_exclude_golden(spark):
    """flb_test_AND_exclude: both excludes must hit to drop -> only
    the record containing BOTH words drops, got == 256."""
    rules = (
        "    Exclude log deprecated\n    Exclude log option\n"
        "    Logical_Op AND"
    )
    assert _grep_count(spark, rules, _grep_two_record_fixture(spark)) == 256


def test_grep_or_exclude_golden(spark):
    """flb_test_OR_exclude: either exclude drops -> the deprecated
    record drops ('other' hits nothing), got == 256."""
    rules = (
        "    Exclude log deprecated\n    Exclude log other\n"
        "    Logical_Op OR"
    )
    assert _grep_count(spark, rules, _grep_two_record_fixture(spark)) == 256


@pytest.mark.parametrize("op", ["AND", "OR"])
def test_grep_mixed_rules_error_golden(spark, op):
    """flb_test_error_AND/OR_regex_exclude (:458-540): mixing Regex and
    Exclude under a Logical_Op fails at start (grep.c:90-97)."""
    rules = (
        "    Regex val 1\n    Exclude val2 3\n"
        f"    Logical_Op {op}"
    )
    with pytest.raises(ValueError, match="Both 'regex' and 'exclude'"):
        _grep_count(spark, rules, _grep_two_record_fixture(spark))


def test_grep_invalid_rule_error_golden(spark):
    """flb_test_filter_grep_invalid (:146-188): 'Regex val' has no
    pattern token -> config rejected (grep.c:102-108)."""
    with pytest.raises(ValueError):
        _grep_count(
            spark, "    Regex val", _grep_two_record_fixture(spark)
        )


def test_grep_regex_and_exclude_counts_golden(spark):
    """flb_test_filter_grep_regex/_exclude (:56-144): 256 records
    `{"val": str(i*i)}`, rule 'val 1' — keep (regex) or drop (exclude)
    the values whose decimal digits contain a '1'."""
    import re as _re

    from pyspark.sql import functions as F

    df = spark.range(0, 256).select(
        (F.col("id") * F.col("id")).cast("string").alias("val")
    )
    n_match = sum(1 for i in range(256) if _re.search("1", str(i * i)))
    assert _grep_count(spark, "    Regex val 1", df) == n_match
    assert _grep_count(spark, "    Exclude val 1", df) == 256 - n_match


# tests/runtime/filter_type_converter.c fixtures: JSON_TEST_DATA
# `{"numstr":"123.456","int":123,"float":123.456,"hexstr":"0xff"}`
# through each property string; the C callback substring-checks the
# converted key:value, replayed here as typed row equality.

TC_BASE = """
[INPUT]
    Name lib
    Tag test
[FILTER]
    Name type_converter
    Match *
{rules}
[OUTPUT]
    Name null
    Match test
"""


def _tc_row(spark, rules: str, nested: bool = False):
    from pyspark.sql import functions as F

    if nested:
        # JSON_NEST_DATA: {"nest":{"numstr":"123.456","float":123.456}}
        df = spark.range(0, 1).select(
            F.struct(
                F.lit("123.456").alias("numstr"),
                F.lit(123.456).alias("float"),
            ).alias("nest")
        )
    else:
        df = spark.range(0, 1).select(
            F.lit("123.456").alias("numstr"),
            F.lit(123).alias("int"),
            F.lit(123.456).alias("float"),
            F.lit("0xff").alias("hexstr"),
        )
    pipe = build_classic_pipeline(
        spark, TC_BASE.format(rules=rules), lib_inputs={"test": df}
    )
    return pipe.outputs["null.0"].first()


def test_type_converter_str_to_int_golden(spark):
    """flb_test_str_to_int (:112-147): 'numstr new int' -> new:123."""
    row = _tc_row(spark, "    str_key numstr new int")
    assert row["new"] == 123


def test_type_converter_str_to_hex_golden(spark):
    """flb_test_str_to_hex (:150-185): 'hexstr new hex' -> new:255."""
    row = _tc_row(spark, "    str_key hexstr new hex")
    assert row["new"] == 255


def test_type_converter_str_to_float_golden(spark):
    """flb_test_str_to_float (:188-223): 'numstr new float' ->
    new:123.456."""
    row = _tc_row(spark, "    str_key numstr new float")
    assert row["new"] == 123.456


def test_type_converter_int_to_str_golden(spark):
    """flb_test_int_to_str (:226-261): 'int new str' -> new:"123"."""
    row = _tc_row(spark, "    int_key int new str")
    assert row["new"] == "123"


def test_type_converter_int_to_float_golden(spark):
    """flb_test_int_to_float (:264-299): 'int new float' -> new:123.0
    (the C callback prefix-matches '"new":123.')."""
    row = _tc_row(spark, "    int_key int new float")
    assert row["new"] == 123.0


def test_type_converter_two_rules_golden(spark):
    """flb_test_str_to_int_and_int_to_str (:302-340): both rules in
    one filter -> new1:123 AND new2:"123"."""
    row = _tc_row(
        spark, "    str_key numstr new1 int\n    int_key int new2 str"
    )
    assert row["new1"] == 123 and row["new2"] == "123"


def test_type_converter_nest_key_golden(spark):
    """flb_test_nest_key (:342-380): record-accessor source
    $nest['numstr'] -> new:123."""
    row = _tc_row(spark, "    str_key $nest['numstr'] new int", nested=True)
    assert row["new"] == 123


# tests/runtime/filter_parser.c fixtures: a lib record re-parsed via
# Key_Name + parser chain; the C callback substring-checks the JSON
# output (fields extracted / dropped / preserved, record time
# replaced). Same parser regexes, same records, typed row equality.


def _fp(spark, key_name, specs_conf, record_cols, reserve, preserve,
        parser_names=None):
    import datetime

    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.parser_filter import filter_parser
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    specs = parse_parsers_conf(specs_conf)
    names = parser_names or list(specs)
    cols = [F.lit(v).alias(k) for k, v in record_cols.items()]
    df = spark.range(0, 1).select(
        F.lit(datetime.datetime(2015, 11, 24, 22, 15, 40)).alias("event_time"),
        *cols,
    )
    out = filter_parser(
        df, key_name, [specs[n] for n in names],
        reserve_data=reserve, preserve_key=preserve,
    )
    return out.first()


DUMMY_PARSER = """
[PARSER]
    Name dummy_test
    Format regex
    Regex ^(?<INT>[^ ]+) (?<FLOAT>[^ ]+) (?<BOOL>[^ ]+) (?<STRING>.+)$
"""

DATA = "100 0.5 true This is an example"


def test_parser_extract_fields_golden(spark):
    """flb_test_filter_parser_extract_fields (:79-164): Reserve_Data
    On + Preserve_Key Off -> fields extracted as strings, source key
    dropped, extra preserved, record time unchanged."""
    row = _fp(spark, "data", DUMMY_PARSER,
              {"data": DATA, "extra": "Some more data"}, True, False)
    assert (row["INT"], row["FLOAT"], row["BOOL"], row["STRING"]) == (
        "100", "0.5", "true", "This is an example")
    assert row["data"] is None
    assert row["extra"] == "Some more data"
    assert row["event_time"].year == 2015  # 1448403340 kept


def test_parser_record_accessor_golden(spark):
    """flb_test_filter_parser_record_accessor (:166-252): Key_Name
    $log['data'] reads the nested value; the nested original is
    PRESERVED even with Preserve_Key Off."""
    import datetime

    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.parser_filter import filter_parser
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    specs = parse_parsers_conf(DUMMY_PARSER)
    df = spark.range(0, 1).select(
        F.lit(datetime.datetime(2015, 11, 24, 22, 15, 40)).alias("event_time"),
        F.struct(F.lit(DATA).alias("data")).alias("log"),
        F.lit("Some more data").alias("extra"),
    )
    row = filter_parser(
        df, "$log['data']", [specs["dummy_test"]],
        reserve_data=True, preserve_key=False,
    ).first()
    assert (row["INT"], row["FLOAT"], row["BOOL"], row["STRING"]) == (
        "100", "0.5", "true", "This is an example")
    assert row["log"]["data"] == DATA  # nested key survives
    assert row["extra"] == "Some more data"


def test_parser_reserve_data_off_golden(spark):
    """flb_test_filter_parser_reserve_data_off (:253-330): extra is
    NOT preserved."""
    row = _fp(spark, "data", DUMMY_PARSER,
              {"data": DATA, "extra": "Some more data"}, False, False)
    assert row["INT"] == "100" and row["extra"] is None


def test_parser_handle_time_key_golden(spark):
    """flb_test_filter_parser_handle_time_key (:330-410): the parsed
    time replaces the record time — 2017-11-01T22:25:21.648+00:00
    under '%Y-%m-%dT%H:%M:%S.%L' -> epoch 1509575121.648."""
    conf = """
[PARSER]
    Name timestamp
    Format regex
    Regex ^(?<time>.*)$
    Time_Key time
    Time_Format %Y-%m-%dT%H:%M:%S.%L
"""
    row = _fp(spark, "@timestamp", conf,
              {"@timestamp": "2017-11-01T22:25:21.648+00:00",
               "message": "This is an example"}, True, False)
    assert row["event_time"].timestamp() == 1509575121.648
    assert row["message"] == "This is an example"


def test_parser_time_key_with_time_zone_golden(spark):
    """flb_test_filter_parser_handle_time_key_with_time_zone
    (:490-585): '%Y-%m-%dT%H:%M:%S.%L %z' on ...648-04:00 ->
    epoch 1509589521.648."""
    conf = """
[PARSER]
    Name timestamp
    Format regex
    Regex ^(?<time>.*)$
    Time_Key time
    Time_Format %Y-%m-%dT%H:%M:%S.%L %z
"""
    row = _fp(spark, "@timestamp", conf,
              {"@timestamp": "2017-11-01T22:25:21.648-04:00",
               "message": "This is an example"}, True, False)
    assert row["event_time"].timestamp() == 1509589521.648


def test_parser_ignore_malformed_time_golden(spark):
    """flb_test_filter_parser_ignore_malformed_time (:755-833): the
    regex matches but the time string is garbage -> the reference
    keeps the record with its ORIGINAL time and fields."""
    conf = """
[PARSER]
    Name timestamp
    Format regex
    Regex ^(?<time>.*)$
    Time_Key time
    Time_Format %Y-%m-%dT%H:%M:%S.%L
"""
    row = _fp(spark, "@timestamp", conf,
              {"@timestamp": "2017_$!^-11-01T22:25:21.648",
               "log": "An example"}, True, True)
    assert row["event_time"].year == 2015  # original record time kept
    assert row["log"] == "An example"
    assert row["@timestamp"] == "2017_$!^-11-01T22:25:21.648"


def test_parser_preserve_original_field_golden(spark):
    """flb_test_filter_parser_preserve_original_field (:834-917):
    Preserve_Key On -> source key survives alongside the extraction."""
    row = _fp(spark, "data", DUMMY_PARSER,
              {"data": DATA, "log": "An example"}, True, True)
    assert row["data"] == DATA
    assert row["INT"] == "100" and row["log"] == "An example"


def test_parser_first_matched_multi_parser_golden(spark):
    """flb_test_filter_parser_first_matched_when_mutilple_parser
    (:919-1010): two parsers both match; the FIRST wins -> key 'one'
    set, key 'two' absent, source preserved."""
    conf = """
[PARSER]
    Name one
    Format regex
    Regex ^(?<one>.+?)$
[PARSER]
    Name two
    Format regex
    Regex ^(?<two>.+?)$
"""
    row = _fp(spark, "data", conf, {"data": "hoge"}, True, True,
              parser_names=["one", "two"])
    assert row["one"] == "hoge" and row["data"] == "hoge"
    assert row["two"] is None


def test_parser_skip_empty_source_notouch_golden(spark):
    """flb_test_filter_parser_skip_empty_values_false (:1010-1100):
    empty source value fails `^(?<one>.+?)$` -> NOTOUCH, the empty
    key survives."""
    conf = """
[PARSER]
    Name one
    Format regex
    Regex ^(?<one>.+?)$
"""
    row = _fp(spark, "data", conf, {"data": ""}, False, False)
    assert row["data"] == "" and row["one"] is None


# tests/runtime/filter_record_modifier.c fixtures through the classic
# lib input: records append, allowlist/whitelist keep-set, remove_key,
# record+allowlist combo, uuid_key shape.

RM_BASE = """
[INPUT]
    Name lib
    Tag test
[FILTER]
    Name record_modifier
    Match *
{rules}
[OUTPUT]
    Name null
    Match test
"""


def _rm_row(spark, rules: str, record: dict):
    from pyspark.sql import functions as F

    df = spark.range(0, 1).select(
        *[F.lit(v).alias(k) for k, v in record.items()]
    )
    pipe = build_classic_pipeline(
        spark, RM_BASE.format(rules=rules), lib_inputs={"test": df}
    )
    return pipe.outputs["null.0"].first()


def test_record_modifier_records_golden(spark):
    """flb_records (:139-190): two 'record k v' appends land alongside
    the original key."""
    row = _rm_row(
        spark,
        "    record new_key new_val\n    record add_key add_val",
        {"k": "sample"},
    )
    assert row["k"] == "sample"
    assert row["new_key"] == "new_val" and row["add_key"] == "add_val"


@pytest.mark.parametrize("prop", ["allowlist_key", "whitelist_key"])
def test_record_modifier_allowlist_golden(spark, prop):
    """flb_allowlist/whitelist (:192-300): only listed keys survive —
    ccc is removed."""
    row = _rm_row(
        spark,
        f"    {prop} aaa\n    {prop} bbb",
        {"aaa": "ok", "ccc": "removed", "bbb": "ok"},
    )
    d = row.asDict()
    assert d["aaa"] == "ok" and d["bbb"] == "ok"
    assert "ccc" not in d


def test_record_modifier_remove_keys_golden(spark):
    """flb_remove_keys (:296-345): ccc and ddd removed, rest kept."""
    row = _rm_row(
        spark,
        "    remove_key ccc\n    remove_key ddd",
        {"aaa": "ok", "ccc": "removed", "ddd": "removed", "bbb": "ok"},
    )
    d = row.asDict()
    assert d["aaa"] == "ok" and d["bbb"] == "ok"
    assert "ccc" not in d and "ddd" not in d


def test_record_modifier_record_plus_allowlist_golden(spark):
    """flb_records_allowlist-shape (:345-395): the appended record key
    is itself allowlisted — survivors are exactly {aaa, new_key}."""
    row = _rm_row(
        spark,
        "    record new_key new_val\n"
        "    allowlist_key new_key\n    allowlist_key aaa",
        {"aaa": "ok", "ddd": "removed", "bbb": "ok"},
    )
    d = row.asDict()
    assert d["aaa"] == "ok" and d["new_key"] == "new_val"
    assert "ddd" not in d and "bbb" not in d


def test_record_modifier_uuid_key_golden(spark):
    """flb_test_uuid_key (:545-590): a well-formed random UUID lands
    under the configured key (value nondeterministic -> shape check)."""
    import re as _re

    row = _rm_row(spark, "    uuid_key my_uuid", {"key_name": "sample"})
    assert row["key_name"] == "sample"
    assert _re.fullmatch(
        r"[0-9a-fA-F]{8}-[0-9a-fA-F]{4}-[0-9a-fA-F]{4}-"
        r"[0-9a-fA-F]{4}-[0-9a-fA-F]{12}",
        row["my_uuid"],
    )


# tests/runtime/filter_checklist.c fixtures: a temp checklist file +
# lookup_key + `record k v` rewrites applied only on matched rows.

CL_BASE = """
[INPUT]
    Name lib
    Tag test
[FILTER]
    Name checklist
    Match *
    file {path}
    lookup_key secret
{extra}
[OUTPUT]
    Name null
    Match test
"""


def _cl_rows(spark, tmp_path, body, extra, records):
    from pyspark.sql import functions as F

    p = tmp_path / "checklist.txt"
    p.write_text(body)
    df = spark.createDataFrame(records, "secret string, other string")
    pipe = build_classic_pipeline(
        spark,
        CL_BASE.format(path=p, extra=extra),
        lib_inputs={"test": df},
    )
    return {r["secret"]: r for r in pipe.outputs["null.0"].collect()}


def test_checklist_simple_log_golden(spark, tmp_path):
    """flb_test_simple_log (:159-204): listed value -> secret
    rewritten to ----; unlisted untouched."""
    rows = _cl_rows(
        spark, tmp_path, "malicious word\n",
        "    record secret ----",
        [("malicious word", "a"), ("clean", "b")],
    )
    assert "----" in rows and rows["----"]["other"] == "a"
    assert rows["clean"]["other"] == "b"


def test_checklist_lookup_keys_golden(spark, tmp_path):
    """flb_test_lookup_keys (:205-256): BOTH listed values rewrite."""
    rows = _cl_rows(
        spark, tmp_path, "malicious word\nconfidential\n",
        "    record secret ----",
        [("malicious word", "a"), ("confidential", "b"), ("ok", "c")],
    )
    assert len([k for k in rows if k == "----"]) == 1  # dict collapses
    assert rows["ok"]["other"] == "c"


def test_checklist_two_records_golden(spark, tmp_path):
    """flb_test_records (:257-303): two `record` rewrites land on the
    matched row (secret:---- AND checklist:true)."""
    rows = _cl_rows(
        spark, tmp_path, "malicious word\n",
        "    record secret ----\n    record checklist true",
        [("malicious word", "a"), ("clean", "b")],
    )
    assert rows["----"]["checklist"] == "true"
    assert rows["clean"]["checklist"] is None


def test_checklist_ignore_case_golden(spark, tmp_path):
    """flb_test_ignore_case (:304-350): 'MALICIOUS WORD' matches the
    lowercase list entry when ignore_case on."""
    rows = _cl_rows(
        spark, tmp_path, "malicious word\n",
        "    record secret ----\n    ignore_case true",
        [("MALICIOUS WORD", "a"), ("clean", "b")],
    )
    assert "----" in rows and rows["clean"]["other"] == "b"


def test_checklist_mode_partial_golden(spark, tmp_path):
    """flb_test_mode_partial (:351+): substring match under
    mode partial."""
    rows = _cl_rows(
        spark, tmp_path, "malicious\n",
        "    record secret ----\n    mode partial",
        [("this has a malicious word inside", "a"), ("clean", "b")],
    )
    assert "----" in rows and rows["clean"]["other"] == "b"


def test_core_routes_257_outputs_golden(spark):
    """tests/runtime/core_routes.c flb_test_basic_functionality_test:
    ONE record, 257 outputs all matching its tag -> delivered 257
    times (the C test exists to prove routing works past the 256th
    output — a fixed-width bitmask would truncate). Our routes mask is
    an array of sink names, so the fan-out must yield exactly 257
    rows."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.router import Route, fan_out_exploded

    df = spark.range(0, 1).select(
        F.lit("test").alias("tag"), F.lit("test").alias("log")
    )
    routes = [Route(sink=f"out{i}", match="test") for i in range(257)]
    out = fan_out_exploded(df, routes)
    assert out.count() == 257
    assert out.select("sink").distinct().count() == 257


def test_core_routes_classic_mixed_match_golden(spark):
    """Same shape through classic.py with matching and non-matching
    outputs: only the 'test'-matched sections deliver."""
    from pyspark.sql import functions as F

    outs = "\n".join(
        f"[OUTPUT]\n    Name null\n    Match {m}"
        for m in ["test", "test", "te*", "other", "*", "t?st"]
    )
    conf = f"[INPUT]\n    Name lib\n    Tag test\n{outs}\n"
    df = spark.range(0, 1).select(F.lit("x").alias("log"))
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"test": df})
    counts = {oid: d.count() for oid, d in pipe.outputs.items()}
    # 't?st' does NOT match: flb_router_match (src/flb_router.c:63-111)
    # implements only '*' — '?' is a literal character
    assert counts == {
        "null.0": 1, "null.1": 1, "null.2": 1,
        "null.3": 0, "null.4": 1, "null.5": 0,
    }


# tests/runtime/filter_log_to_metrics.c fixtures: JSON_MSG1-3 (color/
# direction/duration fields) -> counter/gauge/histogram metrics; the C
# callback substring-checks value + labels in the cmetrics JSON.


def _ltm_msgs(spark):
    from pyspark.sql import functions as F

    rows = [
        # 5x MSG1 (red/right/20), then MSG2 (red/left), MSG3 (hello)
        ("dummy", "20", "red", "right", i) for i in range(5)
    ] + [("dummy", "20", "red", "left", 5), ("hello", "20", "red", "left", 6)]
    return spark.createDataFrame(
        rows, "message string, duration string, color string, "
              "direction string, seq long",
    )


def test_log_to_metrics_counter_golden(spark):
    """flb_test_log_to_metrics_counter (:257-323): 5x MSG1 with
    label_field color+direction -> one counter sample value 5.0,
    labels [red, right]."""
    from fluent_bit_spark.operators.log_to_metrics import counter_metric

    df = _ltm_msgs(spark).filter("seq < 5")
    out = counter_metric(df, ["color", "direction"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["value"], r["color"], r["direction"]) == (5.0, "red", "right")


def test_log_to_metrics_counter_two_tuples_golden(spark):
    """flb_test_log_to_metrics_counter_k8s_two_tuples (:324-400): MSG1
    x5 then MSG2 -> two label tuples, values 5.0 and 1.0."""
    from fluent_bit_spark.operators.log_to_metrics import counter_metric

    df = _ltm_msgs(spark).filter("seq < 6")
    out = {
        (r["color"], r["direction"]): r["value"]
        for r in counter_metric(df, ["color", "direction"]).collect()
    }
    assert out == {("red", "right"): 5.0, ("red", "left"): 1.0}


def test_log_to_metrics_gauge_golden(spark):
    """flb_test_log_to_metrics_gauge (:401-462): value_field duration
    -> gauge takes the last observed value (20)."""
    from fluent_bit_spark.operators.log_to_metrics import gauge_metric

    out = gauge_metric(
        _ltm_msgs(spark), ["color"], "duration", "seq"
    ).collect()
    assert {(r["color"], r["value"]) for r in out} == {("red", 20.0)}


def test_log_to_metrics_regex_include_golden(spark):
    """flb_test_log_to_metrics_reg (:528-594): regex on message
    'dummy' -> only the 6 dummy records count (MSG3 'hello' is
    excluded)."""
    from pyspark.sql import functions as F

    from fluent_bit_spark.operators.log_to_metrics import counter_metric

    df = _ltm_msgs(spark)
    out = counter_metric(
        df, ["color"], match=F.col("message").rlike("dummy")
    ).collect()
    assert len(out) == 1 and out[0]["value"] == 6.0


def test_log_to_metrics_histogram_golden(spark):
    """flb_test_log_to_metrics_histogram (:463-527): duration=20 with
    default prometheus buckets -> every le bucket below 20 counts 0,
    +Inf counts all 7; sum = 140."""
    from fluent_bit_spark.operators.log_to_metrics import (
        DEFAULT_BUCKETS,
        histogram_metric,
    )

    rows = histogram_metric(
        _ltm_msgs(spark), ["color"], "duration"
    ).collect()
    by_le = {r["le"]: r for r in rows}
    assert by_le["+Inf"]["bucket_count"] == 7
    assert all(
        by_le[str(b)]["bucket_count"] == 0 for b in DEFAULT_BUCKETS
    )
    assert by_le["+Inf"]["metric_sum"] == 140.0
    assert by_le["+Inf"]["metric_count"] == 7


# tests/runtime/in_tail.c fixtures: Path comma lists, Exclude_Path,
# Skip_Empty_Lines, Path_Key, Tag_Regex tag composition.


def _tail_pipe(spark, tmp_path, files: dict, input_props: str,
               out_match: str = "*"):
    for name, body in files.items():
        (tmp_path / name).write_text(body)
    conf = f"""
[INPUT]
    Name tail
{input_props}
[OUTPUT]
    Name null
    Match {out_match}
"""
    return build_classic_pipeline(spark, conf)


def test_tail_path_comma_golden(spark, tmp_path):
    """flb_test_path_comma (:1005-1056): a comma-separated Path list
    reads every named file."""
    pipe = _tail_pipe(
        spark, tmp_path,
        {"a.log": "one\n", "b.log": "two\n", "c.log": "three\n"},
        f"    Tag t\n    Path {tmp_path}/a.log,{tmp_path}/b.log,"
        f"{tmp_path}/c.log",
    )
    logs = {r["log"] for r in pipe.records.collect()}
    assert logs == {"one", "two", "three"}


def test_tail_exclude_path_golden(spark, tmp_path):
    """flb_test_exclude_path (:1116-1165): Exclude_Path globs drop
    matching files from the Path set."""
    pipe = _tail_pipe(
        spark, tmp_path,
        {"keep.log": "kept\n", "skip_me.log": "skipped\n",
         "also_skip.log": "skipped2\n"},
        f"    Tag t\n    Path {tmp_path}/*.log\n"
        "    Exclude_Path *skip_me.log,also_*.log",
    )
    logs = {r["log"] for r in pipe.records.collect()}
    assert logs == {"kept"}


def test_tail_skip_empty_lines_golden(spark, tmp_path):
    """flb_test_skip_empty_lines(_crlf) (:1240-1380): empty and
    CR-only lines are dropped when Skip_Empty_Lines on, kept (default
    off) otherwise."""
    body = "first\n\nsecond\r\n\r\nthird\n"
    on = _tail_pipe(
        spark, tmp_path, {"s.log": body},
        f"    Tag t\n    Path {tmp_path}/s.log\n    Skip_Empty_Lines on",
    )
    # spark strips the \r of CRLF line endings itself; the lone-CR
    # line ('\r\n' after a \n) must be dropped by the option
    assert sorted(r["log"] for r in on.records.collect()) == [
        "first", "second", "third",
    ]
    off = _tail_pipe(
        spark, tmp_path, {"s2.log": body},
        f"    Tag t\n    Path {tmp_path}/s2.log",
    )
    assert len(off.records.collect()) == 5


def test_tail_path_key_golden(spark, tmp_path):
    """flb_test_path_key (:1057-1115): Path_Key adds the source file
    path to every record."""
    pipe = _tail_pipe(
        spark, tmp_path, {"pk.log": "hello\n"},
        f"    Tag t\n    Path {tmp_path}/pk.log\n    Path_Key filepath",
    )
    row = pipe.records.first()
    assert row["filepath"].endswith("pk.log")


def test_tail_tag_regex_golden(spark, tmp_path):
    """flb_test_tag_regex (:1666-1750): Tag '<first>.<second>.<third>'
    over Tag_Regex named captures of the file name -> tag aa.bb.cc,
    routed by an output matching exactly that."""
    pipe = _tail_pipe(
        spark, tmp_path, {"aa_bb_cc.log": "hello world\n"},
        "    Tag <first>.<second>.<third>\n"
        f"    Path {tmp_path}/aa_bb_cc.log\n"
        r"    Tag_Regex (?<first>[a-z]+)_(?<second>[a-z]+)_(?<third>[a-z]+)\.log",
        out_match="aa.bb.cc",
    )
    rows = pipe.outputs["null.0"].collect()
    assert len(rows) == 1
    assert rows[0]["tag"] == "aa.bb.cc" and rows[0]["log"] == "hello world"


# ----------------------------------------------- filter_expect goldens


@pytest.mark.parametrize(
    "rule,key,value,record,want",
    [
        # tests/runtime/filter_expect.c TEST_LIST — rule, input record,
        # expected value of the result_key column
        ("key_exists", "key", None, {"key": "val"}, True),
        ("key_exists", "not_key", None, {"key": "val"}, False),
        ("key_not_exists", "not_key", None, {"key": "val"}, True),
        ("key_not_exists", "key", None, {"key": "val"}, False),
        ("key_val_is_null", "key", None, {"key": None}, True),
        ("key_val_is_null", "key", None, {"key": "val"}, False),
        ("key_val_is_not_null", "key", None, {"key": "val"}, True),
        ("key_val_is_not_null", "key", None, {"key": None}, False),
        ("key_val_eq", "key", "val", {"key": "val"}, True),
        ("key_val_eq", "not_key", "val", {"key": "val"}, False),
    ],
)
def test_expect_runtime_golden(spark, rule, key, value, record, want):
    from fluent_bit_spark.operators.expect import ExpectRule, expect

    df = spark.createDataFrame([(record.get("key"),)], "key string")
    out = expect(
        df, [ExpectRule(rule, key, value)],
        action="result_key", result_key="result",
    )
    assert out.collect()[0]["result"] is want
