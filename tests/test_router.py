"""Routing and rewrite_tag tests (FIXTURES.md §5 routing fixture)."""

from pyspark.sql import functions as F

from fluent_bit_spark.functions.globmatch import tag_glob_match, tag_match_col
from fluent_bit_spark.router import (
    RewriteTagRule,
    Route,
    apply_rewrite_tag,
    fan_out_exploded,
)

ROUTES = [
    Route("sink_all", "*"),
    Route("sink_en", "web.en.*"),
    Route("sink_com", "*.com"),
    Route("sink_exact", "web.en.com"),
    Route("sink_none", "nomatch.*"),
]

TAGS = ["web.en.com", "web.en.org", "web.de.com", "api.de.net"]


def _tag_df(spark):
    return spark.createDataFrame(
        [(t, i, 500 if i == 2 else 200) for i, t in enumerate(TAGS)],
        "tag string, id long, status long",
    )


def test_fan_out_matches_static_table(spark):
    # the reference's boot-time route table, from the Python glob matcher
    table = {t: {r.sink for r in ROUTES if tag_glob_match(t, r.match)} for t in TAGS}
    exploded = fan_out_exploded(_tag_df(spark), ROUTES)
    for route in ROUTES:
        got = {r["tag"] for r in exploded.filter(F.col("sink") == route.sink).collect()}
        want = {t for t in TAGS if route.sink in table[t]}
        assert got == want, route.sink


def test_fan_out_exploded_equals_per_sink(spark):
    df = _tag_df(spark)
    exploded = fan_out_exploded(df, ROUTES)
    got = {(r["sink"], r["tag"]) for r in exploded.collect()}
    want = set()
    for route in ROUTES:
        sdf = df.filter(tag_match_col("tag", route.match))
        want |= {(route.sink, r["tag"]) for r in sdf.collect()}
    assert got == want
    # zero-route rows are dropped entirely (empty routes mask)
    assert "sink_none" not in {s for s, _ in got}


def test_rewrite_tag_5xx(spark):
    # FIXTURES.md §5: status=5xx re-tagged errors.$TAG[1], keep=false
    df = _tag_df(spark)
    out = apply_rewrite_tag(
        df, [RewriteTagRule("$status", "^5\\d\\d$", "errors.$TAG[1]", keep=False)]
    )
    rows = {(r["tag"], r["id"]) for r in out.collect()}
    assert ("errors.de", 2) in rows  # web.de.com -> errors.de
    assert ("web.de.com", 2) not in rows  # keep=false drops original
    assert ("web.en.com", 0) in rows  # non-matching rows untouched
    assert out.count() == 4


def test_rewrite_tag_keep_true_duplicates(spark):
    df = _tag_df(spark)
    out = apply_rewrite_tag(
        df, [RewriteTagRule("$status", "^5\\d\\d$", "err.$0", keep=True)]
    )
    assert out.count() == 5  # 4 originals + 1 rewritten copy
    assert ("err.500") in {r["tag"] for r in out.collect()}


def test_rewrite_tag_first_rule_wins(spark):
    df = _tag_df(spark)
    out = apply_rewrite_tag(
        df,
        [
            RewriteTagRule("$status", "^5", "first.$TAG", keep=False),
            RewriteTagRule("$status", "^5\\d\\d$", "second.$TAG", keep=False),
        ],
    )
    tags = {r["tag"] for r in out.collect()}
    assert "first.web.de.com" in tags and "second.web.de.com" not in tags
