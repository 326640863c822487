"""End-to-end pipeline tests: routed-row equality + per-sink aggregate
counts vs the pure-Python oracle (the BASELINE.md correctness gate),
plus datagen determinism and resume-from-progress."""

import shutil

import pytest
from conftest import job_group, sql_executions
from pyspark.sql import functions as F

from fluent_bit_spark import oracle
from fluent_bit_spark.datagen import generate_pages
from fluent_bit_spark.pipeline import (
    DEFAULT_REWRITES,
    DEFAULT_ROUTES,
    build_pipeline,
    parse_stage,
    run_resumable,
    run_to_sinks,
)
from fluent_bit_spark.router import RewriteTagRule, Route
from fluent_bit_spark.session import per_jvm

N = 500


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, N, partitions=4).cache()


def test_datagen_deterministic(spark, pages):
    again = generate_pages(spark, N, partitions=2)
    a = sorted(pages.collect(), key=lambda r: r["url"])
    b = sorted(again.collect(), key=lambda r: r["url"])
    assert a == b  # identical regardless of partitioning


def test_datagen_schema_and_skew(pages):
    assert [f.name for f in pages.schema.fields] == [
        "url", "warc_ts", "html", "text", "lang",
    ]
    assert dict(pages.dtypes)["html"] == "binary"
    # power-law: top domain should hold well over the uniform share
    top = (
        pages.groupBy(F.parse_url("url", F.lit("HOST")).alias("d"))
        .count()
        .orderBy(F.desc("count"))
        .first()
    )
    assert top["count"] > 3 * (N / 1000)


def test_html_embeds_text_bytes(pages):
    # byte-identical text inside html (input_hint invariant)
    r = pages.select(
        F.col("text"),
        F.decode("html", "UTF-8").alias("page"),
    ).first()
    assert r["text"] in r["page"]


def test_routed_text_byte_identical_per_url(spark, pages):
    """input_hint per-row invariant: the pipeline must carry ``text``
    through parse->rewrite->fan-out byte-identical per url (it only
    ever derives new columns, never rewrites the source bytes)."""
    from fluent_bit_spark.pipeline import build_pipeline

    routed = build_pipeline(pages).routed
    mismatches = (
        routed.alias("r")
        .join(pages.alias("p"), "url")
        .filter(F.col("r.text") != F.col("p.text"))
        .count()
    )
    assert mismatches == 0
    # and html payload bytes survive untouched too
    mism_html = (
        routed.alias("r")
        .join(pages.alias("p"), "url")
        .filter(F.md5(F.col("r.html")) != F.md5(F.col("p.html")))
        .count()
    )
    assert mism_html == 0


def test_parse_stage_all_formats_parse(pages):
    parsed = parse_stage(pages)
    by_fmt = {
        r["fmt"]: r
        for r in parsed.groupBy("fmt")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum((~F.col("_parse_ok")).cast("long")).alias("fail"),
            F.sum(F.col("event_time").isNull().cast("long")).alias("no_ts"),
        )
        .collect()
    }
    assert set(by_fmt) == {"apache", "syslog", "json", "ltsv", "logfmt"}
    for fmt, r in by_fmt.items():
        assert r["fail"] == 0, fmt
        assert r["no_ts"] == 0, fmt


def test_parse_stage_matches_oracle_rowwise(pages):
    parsed = parse_stage(pages).select(
        "url", "text", "fmt", "host", "user", "method", "path", "code", "size",
        "level", "message", "event_time", "_parse_ok",
    )
    got = {r["url"]: r for r in parsed.collect()}
    for row in pages.select("url", "text").collect():
        want = oracle.parse_record(row["text"])
        g = got[row["url"]]
        for k in ("fmt", "host", "method", "path", "code", "size", "level", "message"):
            gv = g[k]
            wv = want[k]
            if k == "user" and wv == "-":
                wv = "-"
            assert gv == wv, (k, row["text"], gv, wv)
        # timestamps: oracle returns tz-aware; spark returns naive UTC
        et = want["event_time"]
        if et is not None:
            assert g["event_time"] == et.replace(tzinfo=None), row["text"]
        assert g["_parse_ok"] == want["_parse_ok"]


def test_routed_rows_equal_oracle(spark, pages, tmp_path):
    result = build_pipeline(pages)
    counts = run_to_sinks(result, str(tmp_path / "out"))

    rows = [r.asDict() for r in pages.select("url", "text", "lang", "warc_ts").collect()]
    routes = [(r.sink, r.match) for r in DEFAULT_ROUTES]
    rewrites = [(rw.pattern, rw.new_tag, rw.keep) for rw in DEFAULT_REWRITES]
    want_rows, want_counts = oracle.evaluate(rows, routes, rewrites)

    assert counts == want_counts

    got = spark.read.parquet(str(tmp_path / "out" / "sinks"))
    got_set = {
        (r["sink"], r["url"], r["tag"], r["code"]) for r in got.collect()
    }
    assert got_set == set(want_rows)


def test_aggregates_consistent(spark, pages, tmp_path):
    result = build_pipeline(pages)
    run_to_sinks(result, str(tmp_path / "out2"))
    aggs = spark.read.parquet(str(tmp_path / "out2" / "aggregates"))
    sums = {r["sink"]: r["s"] for r in aggs.groupBy("sink").agg(F.sum("records").alias("s")).collect()}
    sinks = spark.read.parquet(str(tmp_path / "out2" / "sinks"))
    counts = {r["sink"]: r["c"] for r in sinks.groupBy("sink").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert sums == counts


def test_run_to_sinks_scans_input_once(spark, pages, tmp_path):
    """One SQL execution reads the input; counts, the metrics table and
    the aggregates (rolled up from the written sinks) all agree, and a
    sink no row reaches is absent from each of them."""
    inp = str(tmp_path / "pages_in")
    pages.write.parquet(inp)
    # a sink name that JSON and the partition path must both escape
    odd = 'we"ird\\ sink \u00e9\u6f22'
    routes = DEFAULT_ROUTES + [Route("sink_none", "nomatch.*"), Route(odd, "web.en.*")]
    result = build_pipeline(spark.read.parquet(inp), routes=routes)
    out = tmp_path / "out"
    group = f"pipeline-scan-once-{id(result)}"
    with job_group(spark, group):
        counts = run_to_sinks(result, str(out))
    reads = [
        e for e in sql_executions(spark, group)
        if "pages_in" in e.physicalPlanDescription()
    ]
    assert len(reads) == 1

    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.columns == [
        "stage", "sink", "records_out", "parse_failures", "bytes",
    ]
    per_sink = {r["sink"]: r["records_out"] for r in metrics.collect()}
    aggs = spark.read.parquet(str(out / "aggregates"))
    sums = {
        r["sink"]: r["s"]
        for r in aggs.groupBy("sink").agg(F.sum("records").alias("s")).collect()
    }
    assert counts == per_sink == sums
    assert set(counts) == {"sink_all", "sink_en", "sink_com", "sink_errors", odd}
    assert counts[odd] == counts["sink_en"]
    assert odd.encode() in {r["sink"].encode() for r in metrics.collect()}

    # the observed bytes and parse failures equal the lazy plan's rollup
    want = {
        r["sink"]: (r["b"], r["f"])
        for r in result.aggregates.groupBy("sink")
        .agg(F.sum("bytes").alias("b"), F.sum("parse_failures").alias("f"))
        .collect()
    }
    got = {
        r["sink"]: (r["bytes"], r["parse_failures"]) for r in metrics.collect()
    }
    assert got == want


def test_run_to_sinks_no_route_matches(spark, pages, tmp_path):
    result = build_pipeline(pages, routes=[Route("sink_none", "nomatch.*")])
    out = tmp_path / "out"
    assert run_to_sinks(result, str(out)) == {}
    metrics = spark.read.parquet(str(out / "metrics"))
    assert metrics.count() == 0
    assert metrics.dtypes == [
        ("stage", "string"), ("sink", "string"), ("records_out", "bigint"),
        ("parse_failures", "bigint"), ("bytes", "bigint"),
    ]
    assert spark.read.parquet(str(out / "aggregates")).count() == 0


def test_resume_no_duplicates(spark, pages, tmp_path):
    out = str(tmp_path / "resume")
    # first run crashes after 3 batches
    with pytest.raises(RuntimeError):
        run_resumable(spark, pages, out, n_batches=6, fail_after=3)
    done_first = {r["batch_id"] for r in spark.read.parquet(out + "/progress").collect()}
    assert len(done_first) == 3
    # resume completes the rest without touching finished batches
    ran = run_resumable(spark, pages, out, n_batches=6)
    assert len(ran) == 3 and not (set(ran) & done_first)

    sinks = spark.read.parquet(out + "/sinks")
    # no duplicates: (sink, url, tag) unique — note (sink, url) alone is
    # NOT unique because keep=True rewrites route both tags to sink_all
    dup = (
        sinks.groupBy("sink", "url", "tag").count().filter(F.col("count") > 1).count()
    )
    assert dup == 0
    # full coverage equal to a clean one-shot run
    clean = build_pipeline(pages).routed
    assert sinks.count() == clean.count()
    # rows_done is observed from each batch write
    progress = spark.read.parquet(out + "/progress")
    assert progress.agg(F.sum("rows_done")).first()[0] == sinks.count()


def test_from_html_extraction_byte_identical(spark, pages):
    # north-rule invariant: the extraction stage recovers text from
    # the assembled html bytes byte-identically for every url
    from fluent_bit_spark.textprep.html import html_to_text_col

    diff = pages.withColumn(
        "ext", html_to_text_col(F.col("html"), keep="body")
    ).filter(F.col("ext") != F.col("text"))
    assert diff.count() == 0


def test_pipeline_from_html_matches_text_path(spark, pages):
    from fluent_bit_spark.pipeline import build_pipeline

    a = build_pipeline(pages).aggregates
    b = build_pipeline(pages, from_html=True).aggregates
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # extraction stays narrow: same number of exchanges as text path
    pa = a._jdf.queryExecution().executedPlan().toString()
    pb = b._jdf.queryExecution().executedPlan().toString()
    assert pa.count("Exchange") == pb.count("Exchange")
    assert "Python" not in pb and "ArrowEval" not in pb


def _routed_rows(result):
    cols = ["url", "fmt", "code", "tag", "sink"]
    return sorted(map(str, result.routed.select(*cols).collect()))


def test_column_memo_keys_on_routes_rules_and_key_presence(spark, pages):
    """Columns built once per JVM serve only builds with the same
    routes, rules and rule-key presence: every build over a warm memo
    routes the rows a build over a cleared memo does."""
    domain = pages.select(F.parse_url("url", F.lit("HOST"))).first()[0]
    flagged = [RewriteTagRule("$flagged", "^true$", "flagged.$TAG[1]", keep=False)]
    builds = [
        {},
        {"routes": [Route("x", "web.en.*")], "rewrites": []},
        # the rule's key column is absent, then present
        {"rewrites": flagged, "routes": [Route("f", "flagged.*"), Route("a", "*")]},
        {"rewrites": flagged, "routes": [Route("f", "flagged.*"), Route("a", "*")],
         "watchlist": [domain]},
        {},
    ]
    warm = [_routed_rows(build_pipeline(pages, **kw)) for kw in builds]
    cold = []
    for kw in builds:
        per_jvm.cache_clear()
        cold.append(_routed_rows(build_pipeline(pages, **kw)))
    assert warm == cold
    assert warm[0] == warm[-1]
    assert any("flagged." in r for r in warm[3])
    assert not any("flagged." in r for r in warm[2])


def test_warm_call_round_trips(spark, pages, tmp_path, monkeypatch):
    """A warm build_pipeline + run_to_sinks call reuses the Columns of
    the first one, so it makes few py4j round trips (about 4.7k when
    every call built its Columns afresh)."""
    from py4j import clientserver, java_gateway

    run_to_sinks(build_pipeline(pages, from_html=True), str(tmp_path / "warm"))
    calls = []
    for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
        send = cls.send_command

        def counted(self, command, _send=send):
            calls.append(1)
            return _send(self, command)

        monkeypatch.setattr(cls, "send_command", counted)
    counts = run_to_sinks(build_pipeline(pages, from_html=True), str(tmp_path / "out"))
    monkeypatch.undo()
    assert counts
    assert len(calls) < 1000
