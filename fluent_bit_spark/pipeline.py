"""The flagship end-to-end pipeline: parse -> enrich -> route -> aggregate.

This is the Spark re-expression of fluent-bit's main query lifecycle
(SURVEY.md §3.1): input chunks -> filter chain -> routes bitmask ->
per-sink flush, plus the stream-processor aggregate tap. One
declarative plan; Catalyst fuses the whole filter chain into a single
WholeStageCodegen pass (vs the reference's per-filter
decode/mutate/re-encode loop, src/flb_filter.c:119-267).

Scale design (10^12 rows):
- parse stage: cheap byte-test format guard FIRST (Sparser-style
  prefilter), then per-format extraction wrapped in when(guard, ...)
  so each row pays only its own format's regex; the one Python stage
  (logfmt) receives a pre-masked column (null for non-logfmt rows) so
  the Arrow batch work is proportional to logfmt rows only.
- enrich: broadcast joins only (see enrich.py).
- one scan per run: ``run_to_sinks`` reads the input once, in a single
  exploded write partitioned by sink — sink predicates are
  constant-folded literals, so the scan runs ONCE regardless of sink
  count.
- counters from the write: per-sink records / parse failures / bytes
  are an ``Observation`` on that write (``metrics.observe_stage``), the
  in-plan analog of fluent-bit's per-plugin counters; they give the
  returned counts and the ``metrics`` table without another action.
- aggregates: ``rollup`` reads the written sink files, never the
  input, so the parse is paid once; its groupBy partials combine
  map-side and the only shuffle is keyed on (sink, window).
- driver cost: a call's Columns (HTML extract, parse layers, tag,
  rewrite tags, routes explode, counters, rollup) are built once per
  JVM (``session.per_jvm``) and reused by every later call, the way
  fluent-bit compiles routes and record accessors once at config load;
  so a ``${ENV}`` in a rewrite template resolves at the first build,
  as the reference resolves it at config load
  (flb_record_accessor.c:291-313). ``aggregates`` is built on first
  use, and the ``metrics`` rows are one JSON literal.
- resume: deterministic batch column + dynamic partition overwrite
  makes every batch write idempotent; a progress table records
  completed batches (the in_tail SQLite offset table analog,
  plugins/in_tail/tail_sql.h:30-44).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass
from functools import cached_property

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from fluent_bit_spark.datagen import format_of
from fluent_bit_spark.enrich import checklist, lookup_join
from fluent_bit_spark.functions.timeparse import time_parse_col
from fluent_bit_spark.metrics import observe_stage
from fluent_bit_spark.parsers.compile import logfmt_map_fast_col, ltsv_map_col
from fluent_bit_spark.router import Route, RewriteTagRule, apply_rewrite_tag, fan_out_exploded
from fluent_bit_spark.session import per_jvm

APACHE_RX = (
    r'^(\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}) [^ ]* ([^ ]*) \[([^\]]*)\] '
    r'"(\S+)(?: +([^"]*?)(?: +\S*)?)?" ([^ ]*) ([^ ]*)'
)
SYSLOG_RX = r"^<(\d+)>([A-Za-z]{3} [ \d]\d \d\d:\d\d:\d\d) ([^ ]*) ([A-Za-z0-9_\/\.\-]*)(?:\[(\d+)\])?(?:[^\:]*\:)? *(.*)$"


def multi_extract(col: Column, pat: str, n_groups: int) -> Column:
    """All capture groups of an anchored pattern in ONE regex pass.

    ``regexp_extract`` per group re-runs the regex once per group; at
    10^12 rows that multiplies the scan's dominant cost by the group
    count. Instead: one ``rlike`` guard + one ``regexp_replace``
    rewriting the whole line to a \\x01-separated group list, then a
    plain split — 2 regex executions total regardless of group count.
    Returns null when the pattern doesn't match; unmatched optional
    groups come back as empty strings (callers null them via _ga).
    """
    sep = "\x01"
    repl = sep.join(f"${i}" for i in range(1, n_groups + 1))
    # the replace pattern must consume the ENTIRE line so the result
    # is exactly the group list ('(?s)' eats embedded newlines)
    full = pat if pat.endswith("$") else "(?s)" + pat + ".*"
    return F.when(col.rlike(pat), F.split(F.regexp_replace(col, full, repl), sep))


def _ga(arr: Column, i: int) -> Column:
    """Group i (1-based) of a multi_extract array; '' -> null."""
    v = F.element_at(arr, i)
    return F.when(v != "", v)


@per_jvm
def _parse_layers(text_col: str, ref_year: int) -> list[dict[str, Column]]:
    """parse_stage's Columns, one ``withColumns`` layer per dependency
    level: the format guard, the masked per-format inputs, the
    key/value maps over them, then the unified fields."""
    t = F.col(text_col)
    is_a = F.col("fmt") == "apache"
    is_s = F.col("fmt") == "syslog"
    is_j = F.col("fmt") == "json"
    is_l = F.col("fmt") == "ltsv"
    is_f = F.col("fmt") == "logfmt"
    aa, sa = F.col("_aa"), F.col("_sa")
    jm, lm, fm = F.col("_jm"), F.col("_lm"), F.col("_fm")

    return [
        {"fmt": format_of(t)},
        # mask non-matching rows so each format pays only for its own rows
        {
            "_ltsv_in": F.when(is_l, t),
            "_logfmt_in": F.when(is_f, t),
            "_aa": multi_extract(F.when(is_a, t), APACHE_RX, 7),
            "_sa": multi_extract(F.when(is_s, t), SYSLOG_RX, 6),
            "_jm": F.when(is_j, F.from_json(t, "map<string,string>")),
        },
        {"_lm": ltsv_map_col("_ltsv_in"), "_fm": logfmt_map_fast_col("_logfmt_in")},
        {
            "host": (
                F.when(is_a, _ga(aa, 1))
                .when(is_s, _ga(sa, 3))
                .when(is_l, F.element_at(lm, "host"))
            ),
            "user": F.when(is_a, _ga(aa, 2)),
            "method": F.when(is_a, _ga(aa, 4)),
            "path": F.when(is_a, _ga(aa, 5)).when(is_l, F.element_at(lm, "path")),
            "code": (
                F.when(is_a, _ga(aa, 6))
                .when(is_l, F.element_at(lm, "status"))
                .when(is_f, F.element_at(fm, "status"))
                .try_cast("int")
            ),
            "size": (
                F.when(is_a, _ga(aa, 7))
                .when(is_l, F.element_at(lm, "size"))
                .when(is_f, F.element_at(fm, "bytes"))
                .try_cast("long")
            ),
            "level": F.when(is_f, F.element_at(fm, "level")).when(is_s, _ga(sa, 4)),
            "message": (
                F.when(is_s, _ga(sa, 6))
                .when(is_j, F.element_at(jm, "log"))
                .when(is_f, F.element_at(fm, "msg"))
            ),
            "event_time": (
                F.when(is_a, time_parse_col(_ga(aa, 3), "%d/%b/%Y:%H:%M:%S %z"))
                .when(is_s, time_parse_col(_ga(sa, 2), "%b %d %H:%M:%S", ref_year=ref_year))
                .when(is_j, time_parse_col(F.element_at(jm, "time"), "%Y-%m-%dT%H:%M:%S.%L"))
                .when(is_l, time_parse_col(F.element_at(lm, "time"), "%Y-%m-%dT%H:%M:%S.%L"))
                .when(is_f, time_parse_col(F.element_at(fm, "ts"), "%Y-%m-%dT%H:%M:%S.%L"))
            ),
            "_parse_ok": F.coalesce(
                F.when(is_a, aa.isNotNull())
                .when(is_s, sa.isNotNull())
                .when(is_j, jm.isNotNull())
                .when(is_l, F.coalesce(F.size(lm) > 0, F.lit(False)))
                .otherwise(F.coalesce(F.size(fm) > 0, F.lit(False))),
                F.lit(False),
            ),
        },
    ]


def parse_stage(df: DataFrame, text_col: str = "text", ref_year: int = 2026) -> DataFrame:
    """Multi-format parse into one unified schema.

    Output adds: fmt, host, user, method, path, code int, size long,
    level, message, event_time, _parse_ok. The reference equivalent is
    filter_parser with N parsers tried per record; here a cheap format
    guard picks the parser per row and only that parser's expressions
    evaluate (Catalyst If short-circuits per row). Everything is
    JVM-side whole-stage codegen: the regex formats use single-pass
    multi_extract, logfmt uses the vectorized Catalyst fast path.
    """
    for layer in _parse_layers(text_col, ref_year):
        df = df.withColumns(layer)
    return df.drop("_jm", "_lm", "_fm", "_ltsv_in", "_logfmt_in", "_aa", "_sa")


def domain_of(url_col: Column) -> Column:
    return F.parse_url(url_col, F.lit("HOST"))


@per_jvm
def _tag_cols() -> dict[str, Column]:
    fqdn = domain_of(F.col("url"))
    tld = F.substring_index(fqdn, ".", -1)
    return {
        "domain": fqdn,
        "tag": F.concat(F.lit("web."), F.col("lang"), F.lit("."), tld),
    }


def tag_stage(df: DataFrame) -> DataFrame:
    """tag = web.<lang>.<tld> (FIXTURES.md §5)."""
    return df.withColumns(_tag_cols())


DEFAULT_ROUTES = [
    Route("sink_all", "*"),
    Route("sink_en", "web.en.*"),
    Route("sink_com", "*.com"),
    Route("sink_errors", "errors.*"),
]

DEFAULT_REWRITES = [
    RewriteTagRule("$code", r"^5\d\d$", "errors.$TAG[1]", keep=True),
]


@dataclass
class PipelineResult:
    routed: DataFrame
    # every sink a row can be routed to, from the routes at plan time
    sinks: list[str]
    agg_window: str

    @cached_property
    def aggregates(self) -> DataFrame:
        """``rollup`` of the lazy routed plan, built on first use
        (``run_to_sinks`` rolls up the written files instead)."""
        return rollup(self.routed, self.agg_window)


@per_jvm
def _rollup_cols(agg_window: str) -> tuple[list[Column], list[Column], list[Column]]:
    """rollup's grouping, aggregate and output Columns."""
    return (
        [F.col("sink"), F.window(F.col("warc_ts"), agg_window).alias("w")],
        [
            F.count(F.lit(1)).alias("records"),
            F.sum(F.length("text")).alias("bytes"),
            F.sum((~F.col("_parse_ok")).cast("long")).alias("parse_failures"),
        ],
        [
            F.col("sink"), F.col("w.start").alias("window_start"), F.col("records"),
            F.col("bytes"), F.col("parse_failures"),
        ],
    )


# the routed columns rollup reads
ROLLUP_INPUTS = ("sink", "warc_ts", "text", "_parse_ok")


def rollup(routed: DataFrame, agg_window: str = "1 minute") -> DataFrame:
    """out_flowcounter per sink: records, bytes and parse failures per
    ``agg_window`` of ``warc_ts``. Works on any frame with the
    ``ROLLUP_INPUTS`` columns: the lazy plan, the written sink files,
    or one streaming micro-batch."""
    keys, aggs, out = _rollup_cols(agg_window)
    return routed.groupBy(*keys).agg(*aggs).select(*out)


def total_aggregates(partials: DataFrame) -> DataFrame:
    """The total of ``rollup`` partials (one per micro-batch or unit):
    records, bytes and parse failures summed per (sink, window_start).
    The counts are additive, so this equals ``rollup`` over all the
    partials' rows at once."""
    return partials.groupBy("sink", "window_start").agg(
        *(F.sum(c).alias(c) for c in ("records", "bytes", "parse_failures"))
    )


@per_jvm
def _html_text_col() -> Column:
    from fluent_bit_spark.textprep.html import html_to_text_col

    return html_to_text_col(F.col("html"), keep="body")


def build_pipeline(
    pages: DataFrame,
    geo: DataFrame | None = None,
    watchlist: list[str] | None = None,
    routes: list[Route] | None = None,
    rewrites: list[RewriteTagRule] | None = None,
    ref_year: int = 2026,
    agg_window: str = "1 minute",
    from_html: bool = False,
) -> PipelineResult:
    """Assemble the full logical plan (no actions).

    from_html=True derives ``text`` from the raw ``html`` bytes via
    the JVM extraction chain (textprep/html.html_to_text_col) before
    parsing — the north-rule shape where the pipeline consumes the
    page bytes, with byte-identical extracted text per url. The
    extractor is a narrow codegen projection, so the plan gains no
    exchange and no Python stage.
    """
    if from_html:
        pages = pages.withColumn("text", _html_text_col())
    parsed = parse_stage(pages, ref_year=ref_year)
    tagged = tag_stage(parsed)

    enriched = tagged
    if geo is not None:
        enriched = lookup_join(enriched, geo, key="domain", lookup_key="key")
    if watchlist:
        enriched = checklist(enriched, watchlist, "domain", {"flagged": "true"})

    routes = routes or DEFAULT_ROUTES
    rewritten = apply_rewrite_tag(enriched, rewrites if rewrites is not None else DEFAULT_REWRITES)
    routed = fan_out_exploded(rewritten, routes)
    return PipelineResult(
        routed=routed,
        sinks=list(dict.fromkeys(r.sink for r in routes)),
        agg_window=agg_window,
    )


METRICS_TYPE = (
    "array<struct<stage:string,sink:string,records_out:bigint,"
    "parse_failures:bigint,bytes:bigint>>"
)


def run_to_sinks(
    result: PipelineResult, out_dir: str, fmt: str = "parquet"
) -> dict[str, int]:
    """Materialize under ``out_dir`` with ONE scan of the input.

    - ``sinks``: the routed rows, one write partitioned by ``sink``;
    - ``aggregates``: ``rollup`` of the written sink files;
    - ``metrics``: one row per sink that received rows (``stage``,
      ``sink``, ``records_out``, ``parse_failures``, ``bytes``), built
      from an ``Observation`` on the sink write.

    Returns rows per sink from the same observation; a sink that
    received no rows is absent. ``fmt`` is any Spark file format
    that accepts a read schema (parquet, orc, json, ...).
    """
    spark = result.routed.sparkSession
    sinks_dir = os.path.join(out_dir, "sinks")
    routed, obs = observe_stage(
        result.routed, "route", parse_ok_col="_parse_ok", bytes_col="text",
        key_col="sink", keys=result.sinks,
    )
    routed.write.mode("overwrite").format(fmt).partitionBy("sink").save(sinks_dir)
    observed = obs.get

    # read back with the written schema: an empty write leaves no file
    # to infer it from, and the sink column stays a string
    schema = StructType(
        [f for f in routed.schema if f.name != "sink"] + [routed.schema["sink"]]
    )
    (
        rollup(spark.read.format(fmt).schema(schema).load(sinks_dir), result.agg_window)
        .write.mode("overwrite").format(fmt).save(os.path.join(out_dir, "aggregates"))
    )

    # one row per sink that received rows, as one JSON literal parsed
    # in the JVM: no Python worker starts, the plan's size does not
    # grow with the sinks, and an empty table keeps its schema
    rows = [
        {"stage": "route", "sink": sink, "records_out": c["records"],
         "parse_failures": c["parse_failures"], "bytes": c["bytes"]}
        for sink, c in observed.items() if c["records"]
    ]
    (
        spark.range(1, numPartitions=1)
        .select(F.inline(F.from_json(F.lit(json.dumps(rows)), METRICS_TYPE)))
        .write.mode("overwrite").format(fmt).save(os.path.join(out_dir, "metrics"))
    )
    return {s: c["records"] for s, c in observed.items() if c["records"]}


# --------------------------------------------------------------- resume

PROGRESS_SCHEMA = "batch_id int, rows_done long, completed_at timestamp"


def run_resumable(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    n_batches: int = 8,
    fail_after: int | None = None,
    **pipeline_kwargs,
) -> list[int]:
    """Batch-resumable run: the per-partition watermark analog.

    Input rows are assigned a deterministic batch by url hash; each
    batch is written with dynamic partition overwrite (idempotent on
    retry), then recorded in the progress table. A killed run restarts
    and skips completed batches — no duplicates, no reprocessing.
    ``fail_after`` injects a crash after N batches (for tests).
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    progress_path = os.path.join(out_dir, "progress")
    sinks_path = os.path.join(out_dir, "sinks")

    done: set[int] = set()
    try:
        done = {
            r["batch_id"] for r in spark.read.parquet(progress_path).collect()
        }
    except Exception:
        pass

    pages = pages.withColumn(
        "batch_id", F.pmod(F.xxhash64(F.col("url")), F.lit(n_batches)).cast("int")
    )
    ran: list[int] = []
    for b in range(n_batches):
        if b in done:
            continue
        if fail_after is not None and len(ran) >= fail_after:
            raise RuntimeError("injected failure for resume test")
        batch = pages.filter(F.col("batch_id") == b)
        result = build_pipeline(batch.drop("batch_id"), **pipeline_kwargs)
        routed, obs = observe_stage(
            result.routed.withColumn("batch_id", F.lit(b)), f"resume.{b}"
        )
        routed.write.mode("overwrite").partitionBy("batch_id", "sink").parquet(sinks_path)
        spark.createDataFrame(
            [(b, obs.get["records"])], "batch_id int, rows_done long"
        ).withColumn("completed_at", F.current_timestamp()).write.mode("append").parquet(
            progress_path
        )
        ran.append(b)
    return ran
