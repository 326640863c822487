"""Stream-processor SQL goldens, ported from the reference's
tests/internal/include/sp_select_keys.h (18 queries)
and sp_window.h (6 windowed queries), run over the reference's own
samples.json fixture."""

import pytest

from fluent_bit_spark.fixtures import load_samples
from fluent_bit_spark.sp import parse_sql, run_query


@pytest.fixture(scope="module")
def samples(spark, reference_dir):
    return load_samples(spark, reference_dir)


def q(df, sql):
    return run_query(sql, df, presence_col="_present")


# ----- sp_select_keys.h goldens -----------------------------------------


def test_select_all(samples):
    out = q(samples, "SELECT * FROM STREAM:FLB;")
    assert out.count() == 11


def test_select_id(samples):
    out = q(samples, "SELECT id, word2 FROM STREAM:FLB;")
    assert out.columns == ["id", "word2"]
    assert out.count() == 11


def test_select_cond_1(samples):
    # numeric-string conversion: only "10.30" > 10.290
    out = q(samples, "SELECT * FROM STREAM:FLB WHERE bytes > 10.290;")
    assert out.count() == 1
    assert out.collect()[0]["id"] == 9


def test_select_cond_2(samples):
    out = q(samples, "SELECT * FROM STREAM:FLB WHERE word2 = 'rlz' or word3 = 'rlz';")
    assert out.count() == 2


def test_select_cond_not_null(samples):
    # IS NOT NULL passes for MISSING keys (id=1 lacks word3)
    out = q(
        samples,
        "SELECT * FROM STREAM:FLB WHERE word2 = 'rlz' and word3 IS NOT NULL;",
    )
    assert out.count() == 1


def test_select_cond_null(samples):
    # IS NULL == key exists with nil value: only id=10
    out = q(samples, "SELECT * FROM STREAM:FLB WHERE word3 IS NULL;")
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["id"] == 10


def test_select_not_equal_1(samples):
    out = q(samples, "SELECT * FROM STREAM:FLB WHERE bool != true;")
    assert out.count() == 2  # ids 6, 9


def test_select_not_equal_2(samples):
    # 10.0 == 10 (int->float promotion); 10.20 and "10.30" differ
    out = q(samples, "SELECT * FROM STREAM:FLB WHERE bytes <> 10;")
    assert out.count() == 2


def test_select_aggr(samples):
    out = q(
        samples,
        "SELECT MIN(id), MAX(id), COUNT(*), SUM(bytes), AVG(bytes) FROM STREAM:FLB;",
    )
    r = out.collect()[0]
    assert r["MIN(id)"] == 0
    assert r["MAX(id)"] == 10
    assert r["COUNT(*)"] == 11
    assert abs(r["SUM(bytes)"] - 110.50) < 1e-9
    assert abs(r["AVG(bytes)"] - 10.045455) < 1e-5


def test_select_aggr_count(samples):
    out = q(samples, "SELECT COUNT(*) FROM STREAM:FLB;")
    assert out.collect()[0]["COUNT(*)"] == 11


def test_count_key_counts_records(samples):
    # COUNT(word3) == COUNT(*) (flb_sp_aggregate_func.c:70-75) — NOT
    # SQL's non-null count. word3 is missing/null on 5 records.
    out = q(samples, "SELECT COUNT(word3) FROM STREAM:FLB;")
    assert out.collect()[0]["COUNT(word3)"] == 11


def test_select_groupby(samples):
    out = q(
        samples,
        "SELECT bool, MIN(id), MAX(id), COUNT(*), SUM(bytes), AVG(bytes) "
        "FROM STREAM:FLB WHERE word3 IS NOT NULL GROUP BY bool;",
    )
    rows = {r["bool"]: r for r in out.collect()}
    assert len(rows) == 2
    t, f = rows[True], rows[False]
    assert (t["MIN(id)"], t["MAX(id)"], t["COUNT(*)"]) == (0, 8, 8)
    assert (f["MIN(id)"], f["MAX(id)"], f["COUNT(*)"]) == (6, 9, 2)
    assert abs(t["SUM(bytes)"] - 80.0) < 1e-9 and abs(t["AVG(bytes)"] - 10.0) < 1e-9
    assert abs(f["SUM(bytes)"] - 20.50) < 1e-9 and abs(f["AVG(bytes)"] - 10.25) < 1e-9


def test_func_time_now(samples):
    out = q(samples, "SELECT NOW(), NOW() as tnow FROM STREAM:FLB WHERE bytes > 10;")
    r = out.collect()[0]
    import re

    assert re.fullmatch(r"\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}", r["tnow"])
    assert out.columns == ["NOW", "tnow"]


def test_func_unix_timestamp(samples):
    out = q(
        samples,
        "SELECT UNIX_TIMESTAMP(), UNIX_TIMESTAMP() as ts FROM STREAM:FLB WHERE bytes > 10;",
    )
    assert out.collect()[0]["ts"] > 1_700_000_000


def test_select_from_tag_no_match(samples):
    out = q(samples, "SELECT id FROM TAG:'no-matches' WHERE bytes > 10;")
    assert out.count() == 0


def test_select_from_tag(samples):
    out = q(samples, "SELECT id FROM TAG:'samples' WHERE bytes > 10;")
    assert out.count() == 2  # 10.20 and "10.30"


def test_record_contains(samples):
    out = q(
        samples,
        "SELECT id FROM TAG:'samples' WHERE bytes = 10 AND @record.contains(word2);",
    )
    assert out.count() == 2  # ids 0 (10) and 1 (10.0)


def test_record_not_contains(samples):
    out = q(samples, "SELECT id FROM TAG:'samples' WHERE @record.contains(x);")
    assert out.count() == 0


# ----- sp_window.h goldens ----------------------------------------------


@pytest.fixture(scope="module")
def samples5(spark, reference_dir):
    # the window unit tests replay the 11-record stream 5 times
    return load_samples(spark, reference_dir, copies=5)


def test_window_tumbling_sum_avg(samples5):
    out = q(
        samples5,
        "SELECT SUM(id), AVG(id) FROM STREAM:FLB WINDOW TUMBLING (60 SECOND) "
        "WHERE word3 IS NOT NULL;",
    )
    rows = out.collect()
    assert len(rows) == 1
    assert rows[0]["SUM(id)"] == 225
    assert abs(rows[0]["AVG(id)"] - 4.5) < 1e-9


def test_window_tumbling_aggr(samples5):
    out = q(
        samples5,
        "SELECT MIN(id), MAX(id), COUNT(*), SUM(bytes), AVG(bytes) "
        "FROM STREAM:FLB WINDOW TUMBLING (60 SECOND);",
    )
    r = out.collect()[0]
    assert (r["MIN(id)"], r["MAX(id)"], r["COUNT(*)"]) == (0, 10, 55)
    assert abs(r["SUM(bytes)"] - 5 * 110.50) < 1e-9


def test_window_tumbling_groupby(samples5):
    out = q(
        samples5,
        "SELECT bool, MIN(id), MAX(id), COUNT(*), SUM(bytes), AVG(bytes) "
        "FROM STREAM:FLB WINDOW TUMBLING (60 SECOND) WHERE word3 IS NOT NULL "
        "GROUP BY bool;",
    )
    rows = {r["bool"]: r for r in out.collect()}
    assert rows[True]["COUNT(*)"] == 40 and rows[False]["COUNT(*)"] == 10
    assert abs(rows[True]["AVG(bytes)"] - 10.0) < 1e-9


def test_window_hopping_panes(spark, reference_dir):
    # Event-time hopping semantics (exact per-pane, SURVEY.md §4 note:
    # Spark computes each pane exactly; the reference subtracts expired
    # slots and its MIN/MAX are approximate). ids 0..10 at seconds
    # 0..10, window 5s advance 5s -> panes [0,5) ids 0-4, [5,10) 5-9,
    # [10,15) id 10.
    df = load_samples(spark, reference_dir)
    out = q(
        df,
        "SELECT SUM(id), COUNT(*) FROM STREAM:FLB WINDOW HOPPING (5 SECOND, "
        "ADVANCE BY 5 SECOND);",
    )
    got = sorted((r["SUM(id)"], r["COUNT(*)"]) for r in out.collect())
    assert got == [(10, 1), (10, 5), (35, 5)]


def test_window_hopping_overlap(spark, reference_dir):
    df = load_samples(spark, reference_dir)
    out = q(
        df,
        "SELECT COUNT(*) FROM STREAM:FLB WINDOW HOPPING (4 SECOND, ADVANCE BY 2 SECOND);",
    )
    # each row lands in 2 overlapping windows: total count across
    # windows = 22
    assert sum(r["COUNT(*)"] for r in out.collect()) == 22


def test_forecast_tumbling(samples5):
    out = q(
        samples5,
        "SELECT AVG(usage), TIMESERIES_FORECAST(usage, 20) FROM STREAM:FLB "
        "WINDOW TUMBLING (60 SECOND);",
    )
    r = out.collect()[0]
    assert abs(r["AVG(usage)"] - 60.0) < 1e-9
    # usage = 10*(id+1), slope 10/sec, last ts = +10s -> 110 + 200
    assert abs(r["TIMESERIES_FORECAST(usage)"] - 310.0) < 1e-4


# ----- parser unit checks ------------------------------------------------


def test_parse_create_stream():
    cmd = parse_sql(
        "CREATE STREAM results WITH (tag='results') AS SELECT COUNT(*) FROM STREAM:FLB;"
    )
    assert cmd.kind == "create_stream"
    assert cmd.stream_name == "results"
    assert cmd.props == {"tag": "results"}


def test_parse_subkeys():
    cmd = parse_sql("SELECT map['sub1']['sub2'] FROM STREAM:FLB;")
    k = cmd.keys[0]
    assert k.name == "map" and k.subkeys == ["sub1", "sub2"]
    assert k.out_name == "map['sub1']['sub2']"


def test_parse_window_units():
    cmd = parse_sql(
        "SELECT COUNT(*) FROM STREAM:FLB WINDOW HOPPING (1 MINUTE, ADVANCE BY 10 SECOND);"
    )
    assert cmd.window.kind == "hopping"
    assert cmd.window.size_sec == 60 and cmd.window.advance_sec == 10


def test_parse_invalid_queries():
    # invalid_queries table, stream_processor.c:928-936 spirit
    for bad in [
        "SELECT FROM STREAM:FLB;",
        "SELECT id STREAM:FLB;",
        "SELECT id FROM NOWHERE:FLB;",
        "CREATE STREAM AS SELECT 1;",
    ]:
        with pytest.raises(ValueError):
            parse_sql(bad)


def test_subkey_selection(spark):
    rows = [
        (0, {"sub1": {"sub2": "blue"}}),
        (1, {"sub1": {"sub2": "red"}}),
        (2, {"sub1": None}),
    ]
    df = spark.createDataFrame(
        rows, "id long, map struct<sub1: struct<sub2: string>>"
    )
    out = run_query("SELECT id, map['sub1']['sub2'] AS color FROM STREAM:FLB;", df)
    got = {r["id"]: r["color"] for r in out.collect()}
    assert got == {0: "blue", 1: "red", 2: None}


def test_subkey_condition(spark):
    rows = [
        (0, {"sub1": {"sub2": "blue"}}),
        (1, {"sub1": {"sub2": "red"}}),
    ]
    df = spark.createDataFrame(
        rows, "id long, map struct<sub1: struct<sub2: string>>"
    )
    out = run_query(
        "SELECT id FROM STREAM:FLB WHERE map['sub1']['sub2'] = 'blue';", df
    )
    assert [r["id"] for r in out.collect()] == [0]


# ----- key-vs-key comparisons through the dtype lattice ------------------
# flb_sp.c:868-998: strings compare with strcmp for every operator, bools
# only against bools, numeric-vs-string converts the string side.


def test_key_key_string_eq(samples):
    # word3 = word3 holds wherever word3 is a non-null string (ids
    # 2,3,4,6,8,9); the old double-cast made every row null -> dropped
    out = q(samples, "SELECT id FROM STREAM:FLB WHERE word3 = word3;")
    assert sorted(r["id"] for r in out.collect()) == [2, 3, 4, 6, 8, 9]


def test_key_key_string_lt(samples):
    # strcmp ordering: ids 0 (fluent<logging) and 1 (fluentd<rlz)
    out = q(samples, "SELECT id FROM STREAM:FLB WHERE word1 < word2;")
    assert sorted(r["id"] for r in out.collect()) == [0, 1]


def test_key_key_bool_eq(samples):
    out = q(samples, "SELECT id FROM STREAM:FLB WHERE bool = bool;")
    assert out.count() == 11


def test_key_key_bool_vs_string_false(samples):
    # mismatched types -> false, never an error
    out = q(samples, "SELECT id FROM STREAM:FLB WHERE bool = word1;")
    assert out.count() == 0


def test_key_key_numeric_string_coercion(samples):
    # bytes is a numeric string; usage is integral: only id=0 (10 == 10)
    out = q(samples, "SELECT id FROM STREAM:FLB WHERE bytes = usage;")
    assert [r["id"] for r in out.collect()] == [0]


def test_hopping_minmax_bug_compat(spark):
    """Reference hopping MIN/MAX parity (flb_sp_aggregate_func.c:348-355
    remove_nop + flb_sp_window.c:66-90 node lifecycle): an expired
    pane's extreme persists until the group's node dies; SUM stays
    exact (remove_sum subtracts)."""
    import datetime

    from fluent_bit_spark.sp.window_compat import hopping_minmax_bug_compat

    T0 = datetime.datetime(2026, 1, 1)

    def at(sec, key, v):
        return (key, T0 + datetime.timedelta(seconds=sec), float(v))

    rows = [
        at(5, "a", 100.0),   # pane 0
        at(15, "a", 5.0),    # pane 1
        at(25, "a", 7.0),    # pane 2
        at(35, "a", 9.0),    # pane 3
        at(5, "b", 50.0),    # pane 0 only -> node dies at pane-0 prune
        at(25, "b", 60.0),   # pane 2: fresh node, no memory of 50
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {
        (r["k"], r["window_start"].second + r["window_start"].minute * 60): r
        for r in hopping_minmax_bug_compat(
            df, "ts", "v", size_sec=20, advance_sec=10, group_cols=["k"]
        ).collect()
    }
    # window [20,40) for key a: exact min is 7 but the bug-compatible
    # min still remembers 5 from the expired pane 1
    w = out[("a", 20)]
    assert w["min_exact"] == 7.0 and w["min_bugcompat"] == 5.0
    assert w["records"] == 2 and w["sum_value"] == 16.0
    # window [10,30): pane 0's 100 expired from MAX? no — max_bugcompat
    # keeps 100 (remove_nop), exact is 7
    w2 = out[("a", 10)]
    assert w2["max_exact"] == 7.0 and w2["max_bugcompat"] == 100.0
    # key b: node died when pane 0 expired (its pane held ALL records),
    # so the pane-2 window has NO memory of 50
    wb = out[("b", 20)]
    assert wb["min_bugcompat"] == 60.0 and wb["max_bugcompat"] == 60.0
