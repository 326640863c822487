"""Driver contract: entry / queries / oracle_sql.

Each ``queries()`` entry exercises one operator family from
SURVEY.md §2 (or the training-data extension set) through the
fluent_bit_spark library; ``oracle_sql()`` holds the exact DuckDB
equivalent. All floating aggregates are rounded on BOTH sides; all
hash/minhash/simhash primitives come from textprep.portable which has
bit-identical renderings in the two dialects.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from fluent_bit_spark.enrich import lookup_join
from fluent_bit_spark.functions.globmatch import tag_match_col
from fluent_bit_spark.functions.timeparse import time_parse_col
from fluent_bit_spark.operators.content_modifier import content_modifier
from fluent_bit_spark.operators.grep import GrepRule, grep
from fluent_bit_spark.operators.modify import ModifyRule, modify
from fluent_bit_spark.operators.nest import lift, nest
from fluent_bit_spark.operators.record_modifier import record_modifier
from fluent_bit_spark.operators.throttle import throttle
from fluent_bit_spark.pipeline import build_pipeline
from fluent_bit_spark.router import RewriteTagRule, Route, apply_rewrite_tag, fan_out_exploded
from fluent_bit_spark.sp.translate import run_query
from fluent_bit_spark.textprep import portable as P
from fluent_bit_spark.textprep.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_col,
)
from fluent_bit_spark.textprep.multimodal import binary_meta, extract_features, sample_frames
from fluent_bit_spark.textprep.simsearch import cosine_topk, lsh_topk
from fluent_bit_spark.textprep.textstats import (
    LANG_PROFILES,
    STOPWORDS,
    fingerprint_col,
    lang_id_col,
    quality_cols,
    token_count_cols,
)

DIM = 64  # embeddings vector width


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # the driver may run these under its own SparkSession, so every
    # load re-asserts the runtime confs the engine depends on (all are
    # runtime-settable; session.get_spark sets the same ones)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # read parquet timestamps as instants (LTZ) so epoch casts/windows
    # line up with the DuckDB oracle's naive-as-UTC timestamps
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # logfmt fast path: duplicate keys -> last wins (C dict overwrite)
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    # see session.py: inferred Filter(size(tags)>0) below explodes
    # re-evaluates the whole parse tree per row
    spark.conf.set(
        "spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    )
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------------------------ entry

def _ep(df: DataFrame) -> DataFrame:
    """Spread a one-file parquet scan across cores (metadata-only
    check; a no-op on already-wide inputs at scale)."""
    from fluent_bit_spark.textprep.dedup import ensure_parallelism

    return ensure_parallelism(df)


def _pages_from_documents(docs: DataFrame) -> DataFrame:
    """Derive the north-rule ingest shape (url, warc_ts, html, text,
    lang) deterministically from the documents table.  ``html`` is a
    real assembled page with the text HTML-escaped into the body, so
    the pipeline's extraction stage must recover it byte-identically."""
    from fluent_bit_spark.textprep.html import escape_html_col

    url = F.concat(F.lit("https://"), F.col("source"), F.lit(".com/"), F.col("doc_id"))
    html = F.concat(
        F.lit("<html><head><title>"), url,
        F.lit("</title></head><body><pre>"), escape_html_col(F.col("text")),
        F.lit("</pre></body></html>"),
    )
    return docs.select(
        url.alias("url"),
        (F.to_timestamp(F.lit("2026-01-01 00:00:00")) + F.make_dt_interval(secs=F.col("doc_id"))).alias("warc_ts"),
        html.cast("binary").alias("html"),
        F.col("text").alias("text"),
        F.col("lang").alias("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship extract→parse→enrich→route→aggregate pipeline on
    sf0.001, consuming the raw html bytes (north-rule shape)."""
    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    result = build_pipeline(_pages_from_documents(docs), from_html=True)
    return result.aggregates


# ---------------------------------------------------------------- queries

def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    result = build_pipeline(_pages_from_documents(docs), from_html=True)
    return result.aggregates.select(
        "sink",
        F.col("window_start").cast("long").alias("window_start"),
        "records",
        "bytes",
        "parse_failures",
    )


def q_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_enrich_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    enriched = lookup_join(
        orders, cust, key="o_custkey", lookup_key="c_custkey",
        add_fields={"c_nationkey": "c_nationkey"},
    )
    enriched = lookup_join(
        enriched, nation, key="c_nationkey", lookup_key="n_nationkey",
        add_fields={"nation_name": "n_name"},
    )
    return enriched.groupBy("nation_name").agg(
        F.count(F.lit(1)).alias("orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_geoip2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """geoip2 enrich through a REAL MaxMind-DB binary: a fixture mmdb
    is encoded in-process (enrich_mmdb.MMDBWriter), broadcast, and
    longest-prefix looked up per record by the pure-Python reader —
    the full encode -> search-tree walk -> data-section decode round
    trip. Reference: plugins/filter_geoip2/geoip2.c (Lookup_key +
    'Record KEY LOOKUP_KEY %{path}' directives, null on miss). The
    oracle recomputes the expected mapping arithmetically."""
    from fluent_bit_spark.enrich_mmdb import MMDBWriter, geoip2_filter

    w = MMDBWriter()
    w.insert(
        "10.0.0.0/16",
        {"country": {"iso_code": "US", "names": {"en": "United States"}}},
    )
    w.insert(
        "10.1.0.0/16",
        {"country": {"iso_code": "DE", "names": {"en": "Germany"}}},
    )
    w.insert(
        "10.2.0.0/16",
        {"country": {"iso_code": "FR", "names": {"en": "France"}}},
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.lit("10."),
            (F.col("user_id") % 4).cast("string"),
            F.lit("."),
            (F.col("event_id") % 256).cast("string"),
            F.lit("."),
            ((F.col("event_id") * 7) % 256).cast("string"),
        ).alias("remote_addr"),
    )
    out = geoip2_filter(
        ev,
        w.to_bytes(),
        [
            ("geo_country", "remote_addr", "%{country.names.en}"),
            ("geo_iso", "remote_addr", "%{country.iso_code}"),
        ],
    )
    return out.select("event_id", "remote_addr", "geo_country", "geo_iso")


def q_grep_and(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rules = [GrepRule("regex", "$text", "table"), GrepRule("exclude", "$lang", "^de$")]
    return grep(docs, rules, logical_op="and").select("doc_id", "lang")


def q_grep_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rules = [GrepRule("exclude", "$source", "src1$"), GrepRule("regex", "$text", "scan")]
    return grep(docs, rules, logical_op="legacy").select("doc_id", "source")


def q_modify_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    out = modify(
        docs,
        [
            ModifyRule("hard_rename", "source", "origin"),
            ModifyRule("add", "engine", "fluent-bit-spark"),
            ModifyRule("remove", "n_chars"),
        ],
    )
    return out.select("doc_id", "origin", "engine")


def q_record_modifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = record_modifier(
        ev,
        allowlist_keys=["event_id", "event_type"],
        records={"pipeline": "fbs"},
    )
    return out


def q_content_modifier_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return content_modifier(docs, "hash", "text")


def q_content_modifier_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "props")
    out = content_modifier(ev, "extract", "props", pattern=r'"k": (?<kval>\d+)')
    return out.select("event_id", "kval")


def q_nest_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    nested = nest(ev, ["user_id", "value"], "payload")
    return lift(nested, "payload", add_prefix="p_").select("event_id", "p_user_id", "p_value")


EVENT_ROUTES = [
    Route("sink_all", "*"),
    Route("sink_click", "app.cl*"),
    Route("sink_err", "*.error"),
]


def q_router_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "tag", F.concat(F.lit("app."), F.col("event_type"))
    )
    return fan_out_exploded(ev, EVENT_ROUTES).select("sink", "event_id")


def q_rewrite_tag(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").withColumn(
        "tag", F.concat(F.lit("app."), F.col("event_type"))
    )
    rules = [RewriteTagRule("$value", r"^4\d\d(\.\d+)?$", "hot.$TAG[1]", keep=True)]
    rewritten = apply_rewrite_tag(ev, rules)
    routed = fan_out_exploded(
        rewritten, [Route("sink_app", "app.*"), Route("sink_hot", "hot.*")]
    )
    return routed.groupBy("sink").agg(F.count(F.lit(1)).alias("records"))


def q_glob_route_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").withColumn(
        "tag", F.concat(F.lit("doc."), F.col("source"), F.lit("."), F.col("lang"))
    )
    return docs.filter(tag_match_col("tag", "doc.src1*.e*")).select("doc_id", "tag")


def q_sp_select_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sql = (
        "SELECT event_id AS id, value AS v FROM STREAM:events "
        "WHERE value >= 50 AND value <= 300;"
    )
    return run_query(sql, ev, ts_col="ts")


def q_sp_key_key_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SP key-vs-key comparison through the dtype lattice.

    string=string compares with strcmp semantics for every operator and
    numeric-string vs numeric coerces the string side (flb_sp.c:868-998);
    previously both sides were blindly cast to double, silently dropping
    every string=string row.
    """
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn(
            "label",
            F.when(F.col("value") > 200, F.lit("error")).otherwise(F.lit("click")),
        )
        .withColumn("vstr", F.floor("value").cast("long").cast("string"))
    )
    sql = (
        "SELECT event_id AS id, event_type AS et FROM STREAM:events "
        "WHERE event_type = label OR vstr > user_id;"
    )
    return run_query(sql, ev, ts_col="ts")


def q_sp_create_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CREATE STREAM re-ingest loop end-to-end (flb_sp_stream.c:35-153).

    Two created streams filter the base events under new 'alerts.*'
    tags; a downstream windowed aggregate consumes them via a TAG glob
    — the re-ingested chunks flow through the engine exactly like
    in_stream_processor chunks re-enter fluent-bit's pipeline.
    """
    from fluent_bit_spark.sp import SpEngine

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("events."), F.col("event_type")).alias("tag"),
        F.col("ts").alias("event_time"),
        "event_id",
        "user_id",
        "value",
    )
    eng = SpEngine()
    eng.register_input("events", ev)
    eng.execute(
        "CREATE STREAM errs WITH (tag='alerts.errors') AS "
        "SELECT event_id, user_id, value FROM TAG:'events.error' WHERE value > 5;"
    )
    eng.execute(
        "CREATE STREAM bigclicks WITH (tag='alerts.clicks') AS "
        "SELECT event_id, user_id, value FROM TAG:'events.click' WHERE value > 15;"
    )
    out = eng.execute(
        "SELECT user_id, COUNT(*) AS records, SUM(value) AS sum_value "
        "FROM TAG:'alerts.*' WINDOW TUMBLING (1 HOUR) GROUP BY user_id;"
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "user_id",
        "records",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_filter_parser(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_parser re-parse: json parser tried first, regex fallback,
    Reserve_Data merge, NOTOUCH on failure
    (plugins/filter_parser/filter_parser.c:174-320)."""
    from fluent_bit_spark.operators.parser_filter import filter_parser
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    # Keys declared on the json parser: construction stays job-free
    # (no sampling inference pass)
    specs = parse_parsers_conf(
        "[PARSER]\n    Name j\n    Format json\n    Keys k\n"
        "[PARSER]\n    Name lf\n    Format regex\n"
        "    Regex ^level=(?<level>\\S+) msg=(?<msg>\\S+)$\n"
    )
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("event_time"),
        "event_type",
        F.when(F.col("event_id") % 3 == 0, F.col("props"))
        .otherwise(
            F.concat(
                F.lit("level="),
                F.col("event_type"),
                F.lit(" msg=m"),
                F.col("user_id").cast("string"),
            )
        )
        .alias("log"),
    )
    out = filter_parser(ev, "log", [specs["j"], specs["lf"]], reserve_data=True)
    return out.select("event_id", "event_type", "k", "level", "msg")


def q_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic processor conditions engine (flb_conditionals.h ops):
    OR of IN / REGEX / GTE rules over record-accessor paths."""
    from fluent_bit_spark.operators.conditions import ConditionRule, where

    ev = _t(spark, sf_dir, "events")
    out = where(
        ev,
        [
            ConditionRule("$event_type", "in", ["error", "purchase"]),
            ConditionRule("$props", "regex", '"k": 9\\d'),
            ConditionRule("$value", "gte", 400),
        ],
        combine="or",
    )
    return out.select("event_id", "event_type", "value")


def q_sink_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_file csv/ltsv line encodings (file.c:162-227 +
    msgpack_object_print value rendering) as data: sec.nanos time
    field, raw-quoted strings, %f floats."""
    from fluent_bit_spark.sinks import csv_line, ltsv_line

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").alias("event_time"),
        "event_type",
        "value",
    )
    return ev.select(
        "event_id",
        csv_line(ev, columns=["event_type", "value"], ts_col="event_time").alias(
            "csv"
        ),
        ltsv_line(ev, columns=["event_type", "value"], ts_col="event_time").alias(
            "ltsv"
        ),
    )


def q_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregate (hot-key skew protection): partial
    on (key, salt), final on key — algebraically identical to a direct
    groupBy, which is exactly what the oracle asserts."""
    from fluent_bit_spark.skew import salted_count_sum

    ev = _t(spark, sf_dir, "events")
    out = salted_count_sum(
        ev, ["event_type"], {"sum_value": "value"}, n_salts=16
    )
    return out.select(
        "event_type", "records", F.round("sum_value", 4).alias("sum_value")
    )


def _syslog_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesized syslog record fields over events: severities cycle
    through digits + one name, facilities through 0-29 (24-29 invalid
    -> preset), appnames with spaces, nullable procid, ~1/17 messages
    pre-formatted ('<'-prefixed, passthrough path), props (with JSON
    quotes) as the SD value."""
    return _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        "ts",
        F.when(F.col("event_id") % 9 == 8, F.lit("warning"))
        .otherwise((F.col("event_id") % 9).cast("string"))
        .alias("sev"),
        (F.col("event_id") % 30).cast("string").alias("fac"),
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        F.when(F.col("event_id") % 3 == 0, F.lit("web app"))
        .otherwise(F.lit("nginx"))
        .alias("app"),
        F.when(F.col("event_id") % 4 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("user_id").cast("string"))
        .alias("procid"),
        F.concat(F.lit("m"), (F.col("event_id") % 7).cast("string")).alias(
            "msgid"
        ),
        F.when(
            F.col("event_id") % 17 == 0,
            F.concat(F.lit("<99>pre "), F.col("event_type")),
        )
        .otherwise(
            F.concat(F.col("event_type"), F.lit(' says "'), F.col("props"),
                     F.lit('"'))
        )
        .alias("msg"),
        F.map_from_arrays(
            F.array(F.lit("k"), F.lit("bad key")),
            F.array(F.col("props"), F.col("event_type")),
        ).alias("sd"),
    )


def q_syslog_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_syslog wire encoding, both formats per record
    (plugins/out_syslog/syslog.c:144 rfc5424, :297 rfc3164): prival
    from key-resolved severity/facility with preset fallback, NILVALUE
    dashes, SD-NAME sanitization + SD-PARAM value escaping, BOM'd
    message, '<'-prefixed passthrough, app[procid]: framing."""
    from fluent_bit_spark.functions.syslog_out import to_syslog

    ev = _syslog_fields(spark, sf_dir)
    l5 = to_syslog(
        ev, "ts", "rfc5424", severity_col="sev", facility_col="fac",
        hostname_col="host", appname_col="app", procid_col="procid",
        msgid_col="msgid", sd_cols={"meta@123": "sd"}, message_col="msg",
    )
    l3 = to_syslog(
        ev, "ts", "rfc3164", mode="tcp", severity_col="sev",
        facility_col="fac", hostname_col="host", appname_col="app",
        procid_col="procid", message_col="msg",
    )
    return ev.select(
        "event_id", l5.alias("line_rfc5424"), l3.alias("line_rfc3164")
    )


def q_influx_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_influxdb line protocol (plugins/out_influxdb/influxdb.c:61,
    influxdb_bulk.c:31): measurement/tag-set/field-set escaping, the
    JSON-then-quote double escaping of string fields, %f floats,
    integer 'i' suffix, ns timestamps, per-measurement sequence tag."""
    from fluent_bit_spark.functions.influx_out import to_influx

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        "ts",
        F.concat(F.lit("ev."), (F.col("event_id") % 3).cast("string")).alias(
            "tag"
        ),
        F.col("event_type").alias("etype"),
        "value",
        F.col("user_id").alias("uid"),
        "props",
        F.concat(F.lit("h "), (F.col("user_id") % 5).cast("string")).alias(
            "host"
        ),
    )
    out = to_influx(
        ev, "tag", "ts",
        value_cols=["event_id", "etype", "value", "uid", "props", "host"],
        tag_keys=["host"], use_influxdb_integer=True,
    )
    return out.select("event_id", "line")


def q_tf_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_tensorflow inference pass
    (plugins/filter_tensorflow/tensorflow.c:246-470): Arrow-batched
    matrix inference over the embedding column with normalization and
    size validation; the model is the integer-exact linear stand-in
    (tflite runtime absent here — plumbing is the real path), so the
    oracle reproduces the exact outputs as a SQL matmul."""
    from fluent_bit_spark.operators.tensorflow_filter import (
        linear_fake_model,
        tf_filter,
    )

    emb = _ep(_t(spark, sf_dir, "embeddings")).select("vec_id", "embedding")
    out = tf_filter(
        emb, "embedding", linear_fake_model(DIM, 4), input_size=DIM,
        output_type="array<bigint>", normalization_value=2.0,
    )
    return out.select(
        "vec_id",
        *[F.element_at("output", j + 1).alias(f"o{j}") for j in range(4)],
    )


def q_kafka_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_kafka produce_message shape (plugins/out_kafka/kafka.c:100):
    topic from topic_key vs configured topics + dynamic_topic name
    rules (no comma, <=249 chars, else default), message_key_field
    with static fallback, @timestamp-first json body (epoch double)."""
    from fluent_bit_spark.functions.kafka_out import to_kafka_records

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.when(F.col("event_id") % 7 == 0, F.lit("ev,bad"))
        .when(F.col("event_id") % 7 == 1, F.lit("events_hot"))
        .otherwise(F.concat(F.lit("dyn_"), F.col("event_type")))
        .alias("tkey"),
        F.when(F.col("event_id") % 3 == 0, F.col("event_type")).alias(
            "mkey"
        ),
        "event_type", "value",
    )
    out = to_kafka_records(
        ev, "ts", topics=["events_default", "events_hot"],
        topic_key="tkey", dynamic_topic=True, message_key="fallback",
        message_key_field="mkey",
        value_cols=["event_id", "event_type", "value"],
    )
    return out.select(
        F.get_json_object("value", "$.event_id").cast("long").alias(
            "event_id"
        ),
        "topic", "key",
        F.round(
            F.get_json_object("value", "$['@timestamp']").cast("double"), 6
        ).alias("ts6"),
        F.get_json_object("value", "$.event_type").alias("etype"),
        F.round(F.get_json_object("value", "$.value").cast("double"), 4)
        .alias("value4"),
    )


def q_es_bulk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_es Bulk API encoding (plugins/out_es/es.c, es_bulk.h:27-30):
    logstash index rolling on the record's own UTC timestamp with a
    record-sourced prefix, @timestamp-first body with ms suffix,
    include_tag_key, id_key header injection — both bulk lines emitted
    and field-extracted back for the oracle."""
    from fluent_bit_spark.functions.es_out import to_es_bulk

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("app."), (F.col("event_id") % 3).cast("string")).alias(
            "tag"
        ),
        F.when(F.col("event_id") % 5 == 0, F.col("event_type")).alias(
            "pfx"
        ),
        "event_type", "value",
    )
    enc = to_es_bulk(
        ev, "ts", logstash_format=True, logstash_prefix="fb",
        logstash_prefix_key="pfx", include_tag_key=True, tag_key="fb_tag",
        id_key="event_id", suppress_type_name=True,
        doc_cols=["event_id", "event_type", "value"],
    )
    return enc.select(
        "event_id",
        "index_line",
        F.get_json_object("doc_line", "$['@timestamp']").alias("ts_str"),
        F.get_json_object("doc_line", "$.fb_tag").alias("fb_tag"),
        F.get_json_object("doc_line", "$.event_type").alias("etype"),
        F.round(
            F.get_json_object("doc_line", "$.value").cast("double"), 4
        ).alias("value4"),
    )


def q_nightfall_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_nightfall redaction pass
    (plugins/filter_nightfall/nightfall.c:397-455): Arrow-batched
    local detectors produce Nightfall-shaped [start,end) findings,
    Catalyst fold masks string ranges with '*', and integer fields
    with findings become the reference's 7-byte '******\\0' literal.
    Sensitive tokens are synthesized at fixed positions so the oracle
    reconstructs the masked text independently."""
    from fluent_bit_spark.operators.nightfall import (
        nightfall_redact,
        redact_with_findings,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.concat(
            F.lit("mail: "),
            F.lpad((F.col("event_id") % 100).cast("string"), 2, "0"),
            F.lit("@ex.com ("), F.col("event_type"), F.lit(")"),
        ).alias("text"),
        F.col("user_id").alias("num"),
    )
    red = nightfall_redact(
        ev, ["text"], detectors={"email": r"[\w]+@[\w.]+[\w]"}
    )
    # integer redaction path: findings on num for every 4th record
    red = red.withColumn(
        "num__f",
        F.when(
            F.col("event_id") % 4 == 0, F.expr("array(array(0L, 5L))")
        ).otherwise(F.expr("array()").cast("array<array<bigint>>")),
    )
    red = redact_with_findings(red, {"num": "num__f"}).drop("num__f")
    return red.select("event_id", "text", "num")


def q_kmsg_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_kmsg /dev/kmsg line parsing (plugins/in_kmsg/in_kmsg.c:107
    process_line): prival&7 priority mask, prio_level drop, usec split
    into sec/remainder, boot-time-anchored event ts, message after the
    FIRST ';' (later semicolons belong to the message)."""
    from fluent_bit_spark.sources.kmsg import parse_kmsg_lines

    ev = _ep(_t(spark, sf_dir, "events"))
    lines = ev.select(
        "event_id",
        F.concat(
            (F.col("event_id") % 32).cast("string"), F.lit(","),
            F.col("event_id").cast("string"), F.lit(","),
            (F.col("event_id") * 1013 % 10_000_000).cast("string"),
            F.lit(",-;kmsg "), F.col("event_type"),
            F.when(F.col("event_id") % 6 == 0, F.lit("; tail")).otherwise(
                F.lit("")
            ),
        ).alias("line"),
    )
    out = parse_kmsg_lines(lines, boot_time_sec=1_700_000_000, prio_level=5)
    return out.select(
        "event_id", "priority", "sequence", "sec", "usec", "msg",
        F.round(F.col("event_time").cast("double"), 6).alias("ts6"),
    )


def q_k8s_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_kubernetes_events shaping (plugins/in_kubernetes_events/
    kubernetes_events.c:268-380): lastTimestamp→firstTimestamp→
    creationTimestamp precedence, retention filter, per-uid dedup
    keeping the highest resourceVersion. Event JSONs are assembled per
    row; the oracle reproduces the dedup with max/max_by."""
    from fluent_bit_spark.k8s import k8s_events_records

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    item = F.concat(
        F.lit('{"metadata":{"uid":"u'), (e % 500).cast("string"),
        F.lit('","resourceVersion":"'), e.cast("string"),
        F.lit('"},"lastTimestamp":"'),
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"),
        F.lit('","reason":"Scheduled"}'),
    )
    out = k8s_events_records(
        ev.select(item.alias("item")),
        now_ts=F.lit("2030-01-01 00:00:00").cast("timestamp"),
        retention_sec=10**9,
    )
    return out.select(
        "uid", "resource_version",
        F.round(F.col("event_time").cast("double"), 6).alias("ts6"),
    )


def q_remote_write_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote_write body decode (plugins/
    in_prometheus_remote_write/prom_rw_prot.c:156-230): snappy framed
    AND raw-block bodies over prompb WriteRequest protobuf, __name__
    lifted out of the label set. Bodies are assembled per event with
    the out_prometheus_remote_write-shape encoder and decoded back;
    the oracle recomputes every field from event_id."""
    import pandas as pd

    from fluent_bit_spark.functions.remote_write import (
        decode_remote_write,
        encode_remote_write_body,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select("event_id")

    def mk(batches):
        for pdf in batches:
            bodies = []
            for e in pdf["event_id"]:
                e = int(e)
                series = [(
                    {"__name__": "ev_metric", "job": f"j{e % 3}"},
                    [(float(e % 100) / 4.0, 1_700_000_000_000 + e)],
                )]
                bodies.append(encode_remote_write_body(
                    series, framed=(e % 2 == 0)))
            yield pd.DataFrame(
                {"data": pd.Series(bodies, dtype="object")})

    rows = decode_remote_write(ev.mapInPandas(mk, "data binary"))
    return rows.select(
        "name",
        F.get_json_object("labels", "$.job").alias("job"),
        F.round("value", 6).alias("value"),
        "ts_ms",
    )


def q_remote_write_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_prometheus_remote_write EXPORT (plugins/
    out_prometheus_remote_write/remote_write.c:307-339 format_metrics
    → lib/cmetrics/src/cmt_encode_prometheus_remote_write.c),
    round-tripped through the engine's own remote_write decoder.
    Covers: counter/gauge basic families, histogram _count/_sum/
    _bucket with RAW per-bucket counts and %.17g le captions
    (0.98999999999999999-style), summary quantile series, static
    add_label injection, ns→ms timestamps, and the stale cutoff —
    basic families ABORT at the first >1h-old metric in walk order
    (rest of family dropped, earlier series kept) while complex
    families skip stale metrics individually, including the uint64
    now-ts underflow that drops FUTURE timestamps."""
    from fluent_bit_spark.functions.remote_write import (
        decode_remote_write,
    )
    from fluent_bit_spark.functions.remote_write_out import (
        remote_write_export,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    BASE = F.lit(1_700_000_000_000_000_000).cast("long")
    NOW_NS = 1_700_000_000_000_000_000 + 1_000_000_000
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")
    chunk = F.concat(F.lit("c"), (e % 32).cast("string"))

    def blanks():
        return [null_l.alias("bucket_counts"),
                null_d.alias("explicit_bounds"),
                nd.alias("hist_sum"), nl.alias("hist_count"),
                null_d.alias("quantiles"),
                null_d.alias("quantile_values"),
                nd.alias("sum_sum"), nl.alias("sum_count")]

    counters = ev.select(
        chunk.alias("chunk"), F.lit("counter").alias("mtype"),
        F.lit("rw_req").alias("name"),
        F.concat(F.lit('{"path":"p'), (e % 5).cast("string"),
                 F.lit('"}')).alias("labels"),
        # ~0.1% of counters are 2h stale: in (labels, ts) walk order
        # the first one aborts the rest of the family in its chunk
        F.when(e % 997 == 13, BASE - F.lit(7_200_000_000_000))
        .otherwise(BASE + e * 1000).alias("ts"),
        ((e % 100) / 2.0).alias("value"), *blanks())
    gauges = ev.select(
        chunk.alias("chunk"), F.lit("gauge").alias("mtype"),
        F.lit("rw_mem").alias("name"),
        F.concat(F.lit('{"host":"h'), (e % 4).cast("string"),
                 F.lit('"}')).alias("labels"),
        (BASE + e * 1000).alias("ts"),
        ((e % 50) * 1.25).alias("value"), *blanks())
    hists = ev.select(
        chunk.alias("chunk"), F.lit("histogram").alias("mtype"),
        F.lit("rw_lat").alias("name"),
        F.concat(F.lit('{"shard":"s'), (e % 3).cast("string"),
                 F.lit('"}')).alias("labels"),
        # complex families drop stale metrics one by one: e%17 rows
        # are 2h old, e%19==3 rows are 2h in the FUTURE (uint64
        # now-ts underflow also counts as stale)
        F.when(e % 17 == 0, BASE - F.lit(7_200_000_000_000))
        .when(e % 19 == 3, BASE + F.lit(7_200_000_000_000))
        .otherwise(BASE + e * 1000).alias("ts"),
        nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"))
    summaries = ev.select(
        chunk.alias("chunk"), F.lit("summary").alias("mtype"),
        F.lit("rw_rt").alias("name"),
        F.concat(F.lit('{"app":"a'), (e % 2).cast("string"),
                 F.lit('"}')).alias("labels"),
        (BASE + e * 1000).alias("ts"), nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array(((e % 9) / 4.0), ((e % 9) / 2.0))
        .alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"))

    rows = counters.unionByName(gauges).unionByName(hists) \
        .unionByName(summaries)
    bodies = remote_write_export(
        rows.repartition(32, "chunk"), "chunk",
        static_labels=[("job", "fb")], now_ns=NOW_NS)
    out = decode_remote_write(
        bodies.select(F.col("body").alias("data")).repartition(32))
    # one JSON parse per row instead of 8 (this projection runs over
    # ~10 samples per input row; get_json_object re-parses per field)
    lm = F.from_json("labels", "map<string,string>")
    return out.select(
        "name",
        lm["job"].alias("job"),
        lm["path"].alias("path"),
        lm["host"].alias("host"),
        lm["shard"].alias("shard"),
        lm["app"].alias("app"),
        lm["le"].alias("le"),
        lm["quantile"].alias("quantile"),
        F.round("value", 6).alias("value"),
        "ts_ms",
    )


def q_cmt_msgpack_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """cmetrics msgpack context codec round-trip (lib/cmetrics/src/
    cmt_encode_msgpack.c + cmt_decode_msgpack.c) — the wire format
    fluent-bit uses for METRICS events between instances
    (in_fluentbit_metrics → out_forward → in_forward) and in buffer
    chunks. One context blob per flush chunk: counter (with an
    aggregation_type meta and ~10% label-less STATIC samples whose
    wire hash is 0, cmt_map.c:183-200), gauge, summary with raw-
    d64-bit quantile/sum packing (cmt_encode_msgpack.c:224-236), and
    histogram with stored cumulative bucket cells. The encoder is
    byte-parity-pinned against a blob produced by COMPILING the
    reference's own cmetrics (tests/test_cmt_msgpack.py), XXH3
    metric hashes included (tests/test_xxh3.py)."""
    from fluent_bit_spark.functions.cmt_msgpack import (
        cmt_msgpack_export,
        parse_cmt_msgpack_df,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")
    chunk = F.concat(F.lit("c"), (e % 32).cast("string"))

    def base(mtype, ns, ss, name, desc, agg, labels):
        return [chunk.alias("chunk"), F.lit(mtype).alias("mtype"),
                F.lit(ns).alias("ns"), F.lit(ss).alias("ss"),
                F.lit(name).alias("name"), F.lit(desc).alias("desc"),
                F.lit(agg).cast("long").alias("aggregation_type"),
                labels.alias("labels"), (T + e).alias("ts")]

    counters = ev.select(
        *base("counter", "fb", "node", "req", "requests", 2,
              F.when(e % 10 == 0, F.lit("{}")).otherwise(F.concat(
                  F.lit('{"path":"p'), (e % 5).cast("string"),
                  F.lit('"}')))),
        ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"))
    gauges = ev.select(
        *base("gauge", "fb", "", "mem", "-", 0,
              F.concat(F.lit('{"host":"h'), (e % 4).cast("string"),
                       F.lit('"}'))),
        ((e % 50) * 1.25).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"))
    summaries = ev.select(
        *base("summary", "fb", "node", "rt", "rt sum", 0,
              F.concat(F.lit('{"app":"a'), (e % 2).cast("string"),
                       F.lit('"}'))),
        nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array(((e % 9) / 4.0), ((e % 9) / 2.0))
        .alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"))
    hists = ev.select(
        *base("histogram", "fb", "node", "lat", "lat h", 0,
              F.concat(F.lit('{"shard":"s'), (e % 3).cast("string"),
                       F.lit('"}'))),
        nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"))

    rows = counters.unionByName(gauges).unionByName(summaries) \
        .unionByName(hists)
    blobs = cmt_msgpack_export(
        rows.repartition(32, "chunk"), "chunk",
        static_labels=[("job", "fb")])
    out = parse_cmt_msgpack_df(blobs.repartition(32))
    # one JSON parse per row instead of 4 (subexpression elimination
    # folds the repeated from_json into a single evaluation)
    lm = F.from_json("labels", "map<string,string>")
    return out.select(
        "mtype", "ns", "ss", "name",
        F.col("desc").alias("description"),
        "aggregation_type",
        lm["path"].alias("path"),
        lm["host"].alias("host"),
        lm["app"].alias("app"),
        lm["shard"].alias("shard"),
        "static",
        (F.col("hash") == "0").alias("hash_zero"),
        "ts",
        F.round("value", 6).alias("value"),
        F.element_at("bucket_counts", 1).alias("b0"),
        F.element_at("bucket_counts", 2).alias("b1"),
        F.element_at("bucket_counts", 3).alias("b2"),
        F.element_at("bucket_bounds", 2).alias("bound1"),
        F.round("hist_sum", 6).alias("hist_sum"),
        "hist_count",
        F.element_at("quantiles", 2).alias("q1"),
        F.round(F.element_at("quantile_values", 1), 6).alias("qv0"),
        F.round(F.element_at("quantile_values", 2), 6).alias("qv1"),
        F.round("sum_sum", 6).alias("sum_sum"),
        "sum_count",
        F.get_json_object("static_labels", "$.job").alias("job"),
    )


def q_ctr_msgpack_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ctraces msgpack codec round-trip (lib/ctraces/src/
    ctr_encode_msgpack.c + ctr_decode_msgpack.c) — the wire format
    for TRACES events between fluent-bit instances and in buffer
    chunks: camelCase resourceSpans root over snake_case everything
    else, lowercase-base16 span/trace ids, 16-key span maps without
    the flags field, nil-able trace_state/status message, variant
    attributes (string + int64 here). One blob per flush chunk with
    spans regrouped into resource → scope nesting; the encoder is
    byte-parity-pinned against blobs from the reference's own
    COMPILED ctraces (tests/test_ctr_msgpack.py)."""
    from fluent_bit_spark.functions.ctr_msgpack import (
        ctr_msgpack_export,
        parse_ctr_msgpack_df,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    ns = F.lit(None).cast("string")

    rows = ev.select(
        F.concat(F.lit("c"), (e % 32).cast("string")).alias("chunk"),
        F.concat(F.lit('{"host":"h'), (e % 5).cast("string"),
                 F.lit('"}')).alias("resource_attributes"),
        F.lit("https://r").alias("resource_schema_url"),
        (e % 3).cast("long")
        .alias("resource_dropped_attributes_count"),
        F.concat(F.lit("svc"), (e % 3).cast("string"))
        .alias("scope_name"),
        F.lit("1").alias("scope_version"),
        F.concat(F.lit('{"team":"t'), (e % 7).cast("string"),
                 F.lit('"}')).alias("scope_attributes"),
        F.lit(1).cast("long")
        .alias("scope_dropped_attributes_count"),
        F.lit("https://s").alias("scope_schema_url"),
        F.lower(F.lpad(F.hex(e + 1), 32, "0")).alias("trace_id"),
        F.lower(F.lpad(F.hex(e * 7 + 1), 16, "0")).alias("span_id"),
        F.when(e % 5 == 0, ns).otherwise(
            F.lower(F.lpad(F.hex(e * 3 + 2), 16, "0")))
        .alias("parent_span_id"),
        F.concat(F.lit("op"), (e % 7).cast("string")).alias("name"),
        (e % 6).cast("int").alias("kind"),
        F.when(e % 4 == 0, ns).otherwise(
            F.concat(F.lit("st=x"), (e % 4).cast("string")))
        .alias("trace_state"),
        F.lit(None).cast("long").alias("flags"),
        (T + e).alias("start_time_unix_nano"),
        (T + e + 1000).alias("end_time_unix_nano"),
        (e % 3).cast("int").alias("status_code"),
        F.when(e % 3 == 0, ns).otherwise(
            F.concat(F.lit("m"), (e % 3).cast("string")))
        .alias("status_message"),
        (e % 4).cast("long").alias("dropped_attributes_count"),
        (e % 2).cast("long").alias("dropped_events_count"),
        (e % 3).cast("long").alias("dropped_links_count"),
        F.concat(F.lit('{"path":"p'), (e % 5).cast("string"),
                 F.lit('","n":'), (e % 9).cast("string"),
                 F.lit("}")).alias("attributes"),
        F.when(e % 2 == 0, F.concat(
            F.lit('[{"time_unix_nano":'),
            (T + e + 5).cast("string"),
            F.lit(',"name":"ev","attributes":{"i":'),
            (e % 4).cast("string"),
            F.lit('},"dropped_attributes_count":'),
            (e % 3).cast("string"), F.lit("}]"),
        )).otherwise(F.lit("[]")).alias("events"),
        F.when(e % 3 == 0, F.concat(
            F.lit('[{"trace_id":"'),
            F.lower(F.lpad(F.hex(e + 1), 32, "0")),
            F.lit('","span_id":"'),
            F.lower(F.lpad(F.hex(e * 7 + 1), 16, "0")),
            F.lit('","trace_state":null,"attributes":null,'
                  '"dropped_attributes_count":'),
            (e % 2).cast("string"), F.lit("}]"),
        )).otherwise(F.lit("[]")).alias("links"),
    )
    blobs = ctr_msgpack_export(rows.repartition(32, "chunk"), "chunk")
    out = parse_ctr_msgpack_df(blobs.repartition(32))
    return out.select(
        "trace_id", "span_id", "parent_span_id", "name", "kind",
        "trace_state", "start_time_unix_nano", "end_time_unix_nano",
        "status_code", "status_message",
        "dropped_attributes_count", "dropped_events_count",
        "dropped_links_count",
        F.get_json_object("attributes", "$.path").alias("path"),
        F.get_json_object("attributes", "$.n").alias("n"),
        F.get_json_object("resource_attributes", "$.host")
        .alias("host"),
        "resource_schema_url",
        "resource_dropped_attributes_count",
        "scope_name",
        F.get_json_object("scope_attributes", "$.team").alias("team"),
        "scope_dropped_attributes_count", "scope_schema_url",
        F.get_json_object("events", "$[0].name").alias("ev_name"),
        F.get_json_object("events", "$[0].time_unix_nano")
        .alias("ev_ts"),
        F.get_json_object("events", "$[0].attributes.i")
        .alias("ev_i"),
        F.get_json_object("events", "$[0].dropped_attributes_count")
        .alias("ev_dac"),
        F.get_json_object("links", "$[0].span_id").alias("lk_span"),
        F.get_json_object("links", "$[0].dropped_attributes_count")
        .alias("lk_dac"),
    )


def q_prom_scrape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_prometheus_scrape exposition-text PARSE (the cmetrics
    cmt_decode_prometheus surface) run as a round-trip: the engine's
    own out_prometheus_exporter text (q_prom_text) is parsed back into
    sample rows — name, label map, double value, TYPE attachment —
    and must reproduce the per-event_type aggregates the exposition
    was rendered from."""
    from fluent_bit_spark.sources.prom_scrape import parse_prometheus_text

    lines = q_prom_text(spark, sf_dir).select("line")
    out = parse_prometheus_text(lines)
    return out.select(
        "name",
        F.element_at("labels", "event_type").alias("event_type"),
        F.round("value", 4).alias("value"),
        "mtype",
    )


def q_otlp_logs_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_opentelemetry OTLP/JSON logs decode (plugins/
    in_opentelemetry/opentelemetry_logs.c:354-630): resourceLogs →
    scopeLogs → logRecords walk, timeUnixNano digit-strings, AnyValue
    unwrapping (intValue strings → int64), attribute kvlists into the
    otlp metadata map, kvlist bodies becoming the record. Bodies are
    assembled per event in Catalyst and decoded back."""
    from fluent_bit_spark.sources.otlp import parse_otlp_logs_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    body = F.concat(
        F.lit('{"resourceLogs":[{"scopeLogs":[{"logRecords":[{'
              '"timeUnixNano":"'),
        (e * 1000 + 5).cast("string"),
        F.lit('","severityNumber":'), (e % 25).cast("string"),
        F.lit(',"attributes":[{"key":"svc","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}],"body":{"kvlistValue":{"values":[{"key":"event_id",'
              '"value":{"intValue":"'),
        e.cast("string"),
        F.lit('"}}]}}}]}]}]}'),
    )
    out = parse_otlp_logs_df(ev.select(body.alias("body")))
    return out.select(
        "time_unix_nano",
        F.get_json_object("metadata", "$.otlp.severity_number")
        .cast("long").alias("severity_number"),
        F.get_json_object("metadata", "$.otlp.attributes.svc")
        .alias("svc"),
        F.get_json_object("record", "$.event_id").cast("long")
        .alias("event_id"),
    )


def q_otlp_traces_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_opentelemetry OTLP/JSON traces decode (plugins/
    in_opentelemetry/opentelemetry_traces.c process_root_msgpack
    :1030 → process_spans :608): resourceSpans → scopeSpans → spans
    walk with hex trace/span/parent id validation + lowercase
    normalization, string-only start/end timestamps, ctr_span_kind_set
    0..5 validation (out-of-range keeps INTERNAL=1), status-code
    string mapping, span attributes with strict wrapper-type matching,
    and span events. Payloads are assembled per event in Catalyst
    (snake_case resource_spans root for every 10th event) and decoded
    back by the Arrow-batched walker."""
    from fluent_bit_spark.sources.otlp_traces import parse_otlp_traces_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    start_ns = (F.lit(1700000000000000000).cast("long")
                + e.cast("long") * 1000)
    root_key = F.when(e % 10 == 0, F.lit("resource_spans")) \
        .otherwise(F.lit("resourceSpans"))
    body = F.concat(
        F.lit('{"'), root_key,
        F.lit('":[{"resource":{"attributes":[{"key":"host",'
              '"value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}}]},"scopeSpans":[{"scope":{"name":"svc","version":'
              '"1"},"spans":[{"name":"op-'),
        (e % 7).cast("string"),
        F.lit('","traceId":"'),
        F.lpad(F.hex(e), 32, "0"),
        F.lit('","spanId":"'),
        F.lpad(F.hex(e % 100000), 16, "0"),
        F.lit('","parentSpanId":"'),
        F.when(e % 3 == 0, F.lpad(F.hex(F.floor(e / 2)), 16, "0"))
        .otherwise(F.lit("")),
        F.lit('","kind":'), (e % 7).cast("string"),
        F.lit(',"startTimeUnixNano":"'), start_ns.cast("string"),
        F.lit('","endTimeUnixNano":"'),
        (start_ns + 500).cast("string"),
        F.lit('","attributes":[{"key":"evt","value":{"stringValue":"'),
        F.col("event_type"),
        F.lit('"}},{"key":"n","value":{"intValue":'),
        (e % 50).cast("string"),
        # intValue wrapping a STRING is skipped in traces (unlike the
        # logs decoder) — must never surface in the attributes map
        F.lit('}},{"key":"skipped","value":{"intValue":"'),
        e.cast("string"),
        F.lit('"}}],"droppedEventsCount":'), (e % 4).cast("string"),
        F.lit(',"events":[{"name":"boot","timeUnixNano":"'),
        (e.cast("long") * 1000 + 1).cast("string"),
        F.lit('"}],"status":{"code":"'),
        F.element_at(
            F.array(F.lit("UNSET"), F.lit("OK"), F.lit("ERROR")),
            (e % 3 + 1).cast("int")),
        F.lit('","message":"m'), (e % 3).cast("string"),
        F.lit('"}}]}]}]}'),
    )
    out = parse_otlp_traces_df(ev.select(body.alias("body")))
    return out.select(
        "trace_id", "span_id", "parent_span_id", "name",
        F.col("kind").cast("long").alias("kind"),
        F.col("start_time_unix_nano").alias("start_ns"),
        F.col("end_time_unix_nano").alias("end_ns"),
        F.col("status_code").cast("long").alias("status_code"),
        "status_message",
        F.get_json_object("resource_attributes", "$.host").alias("host"),
        F.get_json_object("attributes", "$.n").cast("long")
        .alias("attr_n"),
        F.get_json_object("attributes", "$.skipped").alias("attr_skipped"),
        F.get_json_object("events", "$[0].name").alias("event_name"),
        F.get_json_object("events", "$[0].time_unix_nano").cast("long")
        .alias("event_ns"),
        "dropped_events_count",
    )


def q_otlp_traces_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_opentelemetry traces EXPORT (plugins/out_opentelemetry/
    opentelemetry.c:590 process_traces — the OTLP/JSON encoding of
    the protobuf tree it posts), round-tripped through the engine's
    own in_opentelemetry trace decoder: spans grouped per resource
    (event_type) into ExportTraceServiceRequest bodies, hex-id
    validation, kind 0..5 gate (6 renders unset → decoder default
    INTERNAL=1), status vocabulary UNSET/OK/ERROR (code 3 renders no
    code → the decoder ignores the whole status)."""
    from fluent_bit_spark.functions.otlp_out import (
        otlp_span,
        otlp_traces_export,
    )
    from fluent_bit_spark.sources.otlp_traces import parse_otlp_traces_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    start_ns = (F.lit(1700000000000000000).cast("long")
                + e.cast("long") * 1000)
    span = otlp_span(
        F.concat(F.lit("op-"), (e % 7).cast("string")),
        trace_id=F.lpad(F.lower(F.hex(e)), 32, "0"),
        span_id=F.lpad(F.lower(F.hex(e % 100000)), 16, "0"),
        parent_span_id=F.when(
            e % 3 == 0, F.lpad(F.lower(F.hex(F.floor(e / 2))), 16, "0")),
        kind=(e % 7),
        start_nanos=start_ns,
        end_nanos=start_ns + 500,
        attributes=F.create_map(
            F.lit("n"), (e % 50).cast("string")),
        status_code=(e % 4),
        status_message=F.concat(F.lit("m"), (e % 3).cast("string")),
    )
    bodies = otlp_traces_export(
        ev, span,
        resource_col=F.col("event_type"),
        resource_attrs=F.create_map(
            F.lit("host"), F.col("event_type")),
        scope_name=F.lit("svc"), scope_version=F.lit("1"),
    )
    out = parse_otlp_traces_df(bodies)
    return out.select(
        "trace_id", "span_id", "parent_span_id", "name",
        F.col("kind").cast("long").alias("kind"),
        F.col("start_time_unix_nano").alias("start_ns"),
        F.col("end_time_unix_nano").alias("end_ns"),
        F.col("status_code").cast("long").alias("status_code"),
        "status_message",
        F.get_json_object("resource_attributes", "$.host").alias("host"),
        "scope_name", "scope_version",
        F.get_json_object("attributes", "$.n").alias("attr_n"),
    )


def q_otlp_metrics_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_opentelemetry OTLP metrics protobuf decode (plugins/
    in_opentelemetry/opentelemetry_prot.c:108 process_payload_metrics
    → lib/cmetrics/src/cmt_decode_opentelemetry.c): one context per
    ScopeMetrics, Sum→counter with temporality + allow_reset =
    !is_monotonic, Gauge/Histogram/Summary kinds, negative as_int
    clamped to 0, first zero-attribute point = static sample, label
    values stringified (int via PRIi64), bounds/quantiles pinned by
    the first data point, empty description → "-". Payloads are
    assembled per event in Arrow batches and decoded back."""
    import pandas as pd

    from fluent_bit_spark.functions.otlp_metrics import (
        parse_otlp_metrics_df,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select("event_id")
    T = 1_700_000_000_000_000_000

    def mk(batches):
        import struct

        from fluent_bit_spark.functions.otlp_metrics import (
            _enc_uvarint,
            _ld,
        )

        def vstr(s):
            return _ld(1, s.encode())

        def vint(i):
            return _enc_uvarint(3 << 3 | 0) + _enc_uvarint(
                i & ((1 << 64) - 1))

        def kv(k, av):
            return _ld(1, k.encode()) + _ld(2, av)

        def npoint(ts, attrs=(), as_double=None, as_int=None):
            b = bytearray(_enc_uvarint(3 << 3 | 1) + struct.pack("<Q", ts))
            if as_double is not None:
                b += _enc_uvarint(4 << 3 | 1) + struct.pack("<d", as_double)
            if as_int is not None:
                b += _enc_uvarint(6 << 3 | 1) + struct.pack("<q", as_int)
            for a in attrs:
                b += _ld(7, a)
            return bytes(b)

        for pdf in batches:
            out = []
            for e in pdf["event_id"]:
                e = int(e)
                counter = (
                    _ld(1, b"ev_hits") + _ld(2, b"hits")
                    + _ld(7,
                          _ld(1, npoint(T + e, as_double=(e % 100) / 2.0))
                          + _ld(1, npoint(
                              T + e + 1,
                              attrs=[kv("path", vstr("p%d" % (e % 5))),
                                     kv("code", vint(e % 3))],
                              as_int=(e % 7) - 3))
                          + _enc_uvarint(2 << 3 | 0)
                          + _enc_uvarint(1 if e % 2 else 2)
                          + (_enc_uvarint(3 << 3 | 0) + _enc_uvarint(1)
                             if e % 3 else b""))
                )
                hist_pt = bytearray(
                    _enc_uvarint(3 << 3 | 1) + struct.pack("<Q", T + e))
                hist_pt += _enc_uvarint(4 << 3 | 1) + struct.pack(
                    "<Q", e % 9)
                hist_pt += _enc_uvarint(5 << 3 | 1) + struct.pack(
                    "<d", (e % 10) * 1.5)
                hist_pt += _ld(6, struct.pack(
                    "<3Q", e % 3, e % 4, e % 5))
                hist_pt += _ld(7, struct.pack("<2d", 0.5, 2.0))
                hist = (_ld(1, b"ev_lat")
                        + _ld(9, _ld(1, bytes(hist_pt))
                              + _enc_uvarint(2 << 3 | 0)
                              + _enc_uvarint(2)))
                sum_pt = bytearray(
                    _enc_uvarint(3 << 3 | 1) + struct.pack("<Q", T + e))
                sum_pt += _enc_uvarint(4 << 3 | 1) + struct.pack(
                    "<Q", e % 6)
                sum_pt += _enc_uvarint(5 << 3 | 1) + struct.pack(
                    "<d", (e % 11) * 0.5)
                for q, v in ((0.5, (e % 9) / 4.0), (0.99, (e % 9) / 2.0)):
                    sum_pt += _ld(
                        6,
                        _enc_uvarint(1 << 3 | 1) + struct.pack("<d", q)
                        + _enc_uvarint(2 << 3 | 1) + struct.pack("<d", v))
                sum_pt += _ld(7, kv("route", vstr("r%d" % (e % 2))))
                summ = _ld(1, b"ev_rt") + _ld(11, _ld(1, bytes(sum_pt)))
                scope = _ld(1, b"svc") + _ld(2, b"1")
                sm = (_ld(1, scope) + _ld(2, counter) + _ld(2, hist)
                      + _ld(2, summ))
                resource = _ld(1, kv("host", vstr("h%d" % (e % 4))))
                rm = _ld(1, resource) + _ld(2, sm)
                out.append(_ld(1, rm))
            yield pd.DataFrame({"data": pd.Series(out, dtype="object")})

    rows = parse_otlp_metrics_df(ev.mapInPandas(mk, "data binary"))
    return rows.select(
        "name", "mtype", "description", "temporality", "allow_reset",
        F.get_json_object("labels", "$.path").alias("path"),
        F.get_json_object("labels", "$.code").alias("code"),
        F.get_json_object("labels", "$.route").alias("route"),
        "ts",
        F.round("value", 6).alias("value"),
        F.element_at("bucket_counts", 1).alias("b0"),
        F.element_at("bucket_counts", 2).alias("b1"),
        F.element_at("bucket_counts", 3).alias("b2"),
        F.element_at("explicit_bounds", 2).alias("bound1"),
        F.round("hist_sum", 6).alias("hist_sum"),
        "hist_count",
        F.element_at("quantiles", 2).alias("q1"),
        F.round(F.element_at("quantile_values", 1), 6).alias("qv0"),
        F.round(F.element_at("quantile_values", 2), 6).alias("qv1"),
        F.round("sum_sum", 6).alias("sum_sum"),
        "sum_count",
        F.get_json_object("resource_attrs", "$.host").alias("host"),
        "scope_name", "scope_version",
    )


def q_otlp_metrics_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_opentelemetry metrics EXPORT (plugins/out_opentelemetry/
    opentelemetry.c:490 process_metrics → lib/cmetrics/src/
    cmt_encode_opentelemetry.c), round-tripped through the engine's
    own OTLP metrics decoder: one MetricsData blob per (tag, flush
    chunk) group — the plugin encodes per flush chunk, never a whole
    tag lifetime, so chunked grouping is both the faithful shape and
    the scale path (32-way parallel encode instead of one task per
    tag). Metrics re-ordered counters-then-histograms, numerical points
    re-encoded as_double with start_time 0, histogram temporality
    dropped (counter-only in pack_basic_type :2410-2425), is_monotonic
    = !allow_reset."""
    from fluent_bit_spark.functions.otlp_metrics import (
        otlp_metrics_export,
        parse_otlp_metrics_df,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    counters = ev.select(
        F.concat(F.lit("m."), (e % 4).cast("string")).alias("tag"),
        F.lit("req_total").alias("name"),
        F.lit("counter").alias("mtype"),
        F.lit("requests").alias("description"),
        F.lit("cumulative").alias("temporality"),
        F.lit(False).alias("allow_reset"),
        F.when(e % 10 == 0, F.lit("{}")).otherwise(F.concat(
            F.lit('{"route":"r'), (e % 5).cast("string"),
            F.lit('"}'))).alias("labels"),
        (T + e).alias("ts"),
        ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        F.lit(None).cast("double").alias("hist_sum"),
        F.lit(None).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        F.lit(None).cast("double").alias("sum_sum"),
        F.lit(None).cast("long").alias("sum_count"),
    )
    hists = ev.select(
        F.concat(F.lit("m."), (e % 4).cast("string")).alias("tag"),
        F.lit("lat").alias("name"),
        F.lit("histogram").alias("mtype"),
        F.lit("-").alias("description"),
        F.lit(None).cast("string").alias("temporality"),
        F.lit(None).cast("boolean").alias("allow_reset"),
        F.concat(F.lit('{"shard":"s'), (e % 3).cast("string"),
                 F.lit('"}')).alias("labels"),
        (T + e).alias("ts"),
        F.lit(None).cast("double").alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        F.lit(None).cast("double").alias("sum_sum"),
        F.lit(None).cast("long").alias("sum_count"),
    )
    chunked = counters.unionByName(hists).withColumn(
        "chunk",
        F.concat(F.col("tag"), F.lit("/"),
                 ((F.col("ts") % 32) / 4).cast("int").cast("string")))
    # explicit hash partitioning on the group key: satisfies the
    # applyInPandas clustered-distribution requirement (no second
    # shuffle) and is exempt from AQE small-partition coalescing,
    # which would otherwise fold the CPU-bound python encode groups
    # into ~3 byte-balanced tasks
    payloads = otlp_metrics_export(
        chunked.repartition(32, "chunk"), "chunk")
    rows = parse_otlp_metrics_df(payloads.select(
        F.col("payload").alias("data")).repartition(32))
    return rows.select(
        "name", "mtype", "description", "temporality", "allow_reset",
        F.get_json_object("labels", "$.route").alias("route"),
        F.get_json_object("labels", "$.shard").alias("shard"),
        "ts",
        F.round("value", 6).alias("value"),
        F.element_at("bucket_counts", 1).alias("b0"),
        F.element_at("bucket_counts", 2).alias("b1"),
        F.element_at("bucket_counts", 3).alias("b2"),
        F.element_at("explicit_bounds", 2).alias("bound1"),
        F.round("hist_sum", 6).alias("hist_sum"),
        "hist_count",
    )


def q_influx_metrics_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_influxdb METRICS event path (plugins/out_influxdb/
    influxdb.c:483 → lib/cmetrics/src/cmt_encode_influx.c): line
    protocol with measurement = ns[_subsystem], static labels +
    escaped tags, raw metric name as the scalar field key, histogram
    %g-bound buckets + +Inf + sum/count fields (raw per-bucket
    counts), summary quantile=value pairs, nanosecond timestamps.
    One counter + histogram + summary line per event, all-Catalyst."""
    from fluent_bit_spark.functions.influx_out import cmt_influx_lines

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")

    def tags(*pairs):
        return F.array(*[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in pairs
        ])

    counters = ev.select(
        F.lit("counter").alias("mtype"),
        F.lit("requests_total").alias("name"),
        tags(("host", F.concat(F.lit("h"), (e % 4).cast("string"))))
        .alias("tags"),
        (T + e).alias("ts"),
        ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    hists = ev.select(
        F.lit("histogram").alias("mtype"),
        F.lit("lat").alias("name"),
        tags(("shard", F.concat(F.lit("s"), (e % 3).cast("string"))))
        .alias("tags"),
        (T + e).alias("ts"),
        nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    summaries = ev.select(
        F.lit("summary").alias("mtype"),
        F.lit("rt").alias("name"),
        F.array().cast(
            "array<struct<key:string,value:string>>").alias("tags"),
        (T + e).alias("ts"),
        nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array((e % 9) / 4.0, (e % 9) / 2.0).alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"),
    )
    rows = counters.unionByName(hists).unionByName(summaries)
    out = cmt_influx_lines(rows, measurement="fb_node",
                           static_labels=[("app", "api")])
    return out.select("mtype", "name", "ts", "line")


def q_splunk_metrics_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_splunk METRICS event path (plugins/out_splunk/splunk.c →
    lib/cmetrics/src/cmt_encode_splunk_hec.c): HEC metric events with
    %09lu.%09lu timestamps, metric_name:[subsystem.]name keys
    (namespace ignored), double_to_string ".0" integral rendering,
    histogram per-bucket fan-out with le strings + _sum/_count tail,
    summary per-quantile events with qt strings. One counter +
    histogram + summary sample per event, all-Catalyst."""
    from fluent_bit_spark.functions.hec_out import cmt_splunk_hec_events

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")

    def tags(*pairs):
        return F.array(*[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in pairs
        ])

    no_tags = F.array().cast("array<struct<key:string,value:string>>")
    counters = ev.select(
        F.lit("counter").alias("mtype"),
        F.lit("requests_total").alias("name"),
        F.lit("node").alias("subsystem"),
        tags(("host", F.concat(F.lit("h"), (e % 4).cast("string"))))
        .alias("tags"),
        (T + e).alias("ts"),
        ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    hists = ev.select(
        F.lit("histogram").alias("mtype"),
        F.lit("lat").alias("name"),
        F.lit("").alias("subsystem"),
        tags(("shard", F.concat(F.lit("s"), (e % 3).cast("string"))))
        .alias("tags"),
        (T + e).alias("ts"),
        nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    summaries = ev.select(
        F.lit("summary").alias("mtype"),
        F.lit("rt").alias("name"),
        F.lit("").alias("subsystem"),
        no_tags.alias("tags"),
        (T + e).alias("ts"),
        nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array((e % 9) / 4.0, (e % 9) / 2.0).alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"),
    )
    rows = counters.unionByName(hists).unionByName(summaries)
    out = cmt_splunk_hec_events(
        rows, host="web-1", index="main",
        static_labels=[("app", "api")],
    )
    return out.select("event")


def q_cloudwatch_emf_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_cloudwatch_logs METRICS event path (cloudwatch_api.c →
    lib/cmetrics/src/cmt_encode_cloudwatch_emf.c): one EMF JSON
    object per sample — _aws header (ms timestamp, Namespace,
    Dimensions over all label keys + static keys, Unit only on
    counters, StorageResolution 60), labels, prom_metric_type, then
    fqname:value; histogram Min/Max over sorted bucket counts with
    the reference's Max-at-count-1 off-by-one kept; summary Min/Max
    = first/last quantile values. All-Catalyst."""
    from fluent_bit_spark.functions.cloudwatch_out import cmt_emf_events

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    ts = (T + e * 1_000_000).alias("ts")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")

    def tags(*pairs):
        return F.array(*[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in pairs
        ])

    counters = ev.select(
        F.lit("counter").alias("mtype"),
        F.lit("req_total").alias("name"),
        tags(("host", F.concat(F.lit("h"), (e % 4).cast("string"))))
        .alias("tags"),
        ts, ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    hists = ev.select(
        F.lit("histogram").alias("mtype"),
        F.lit("lat").alias("name"),
        tags(("shard", F.concat(F.lit("s"), (e % 3).cast("string"))))
        .alias("tags"),
        ts, nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    summaries = ev.select(
        F.lit("summary").alias("mtype"),
        F.lit("rt").alias("name"),
        F.array().cast(
            "array<struct<key:string,value:string>>").alias("tags"),
        ts, nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array((e % 9) / 4.0, (e % 9) / 2.0).alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"),
    )
    rows = counters.unionByName(hists).unionByName(summaries)
    out = cmt_emf_events(rows, namespace="fb",
                         static_labels=[("app", "api")])
    return out.select("mtype", "name", "ts", "event")


def q_cmt_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_stdout METRICS event path (plugins/out_stdout/stdout.c
    metrics branch → lib/cmetrics/src/cmt_encode_text.c): one
    debug-text line per sample — RFC3339Nano UTC timestamp with
    exactly nine ns digits, fqname{static,sample labels} = value;
    histogram ``{ buckets = { %g-bound=count, .., +Inf=count },
    sum=%g, count=u64 }``; summary ``{ quantiles = { %g=%g .. },
    sum, count }``; scalar %.17g.  ts = 1.7e18 + e*999999937 so the
    second AND nanosecond parts both vary per event. All-Catalyst."""
    from fluent_bit_spark.functions.text_out import cmt_text_lines

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    ts = (T + e * 999_999_937).alias("ts")
    null_l = F.lit(None).cast("array<long>")
    null_d = F.lit(None).cast("array<double>")
    nd = F.lit(None).cast("double")
    nl = F.lit(None).cast("long")

    def tags(*pairs):
        return F.array(*[
            F.struct(F.lit(k).alias("key"), v.alias("value"))
            for k, v in pairs
        ])

    counters = ev.select(
        F.lit("counter").alias("mtype"),
        F.lit("fb_requests_total").alias("name"),
        tags(("host", F.concat(F.lit("h"), (e % 4).cast("string"))))
        .alias("tags"),
        ts, ((e % 100) / 2.0).alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    hists = ev.select(
        F.lit("histogram").alias("mtype"),
        F.lit("lat").alias("name"),
        tags(("shard", F.concat(F.lit("s"), (e % 3).cast("string"))))
        .alias("tags"),
        ts, nd.alias("value"),
        F.array((e % 3).cast("long"), (e % 4).cast("long"),
                (e % 5).cast("long")).alias("bucket_counts"),
        F.array(F.lit(0.5), F.lit(2.0)).alias("explicit_bounds"),
        ((e % 10) * 1.5).alias("hist_sum"),
        (e % 9).cast("long").alias("hist_count"),
        null_d.alias("quantiles"), null_d.alias("quantile_values"),
        nd.alias("sum_sum"), nl.alias("sum_count"),
    )
    summaries = ev.select(
        F.lit("summary").alias("mtype"),
        F.lit("rt").alias("name"),
        F.array().cast(
            "array<struct<key:string,value:string>>").alias("tags"),
        ts, nd.alias("value"),
        null_l.alias("bucket_counts"), null_d.alias("explicit_bounds"),
        nd.alias("hist_sum"), nl.alias("hist_count"),
        F.array(F.lit(0.5), F.lit(0.99)).alias("quantiles"),
        F.array((e % 9) / 4.0, (e % 9) / 2.0).alias("quantile_values"),
        ((e % 11) * 0.5).alias("sum_sum"),
        (e % 6).cast("long").alias("sum_count"),
    )
    rows = counters.unionByName(hists).unionByName(summaries)
    out = cmt_text_lines(rows, static_labels=[("app", "api")])
    return out.select("mtype", "name", "ts", "line")


def q_ctr_text_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_stdout TRACES event path (plugins/out_stdout/stdout.c
    traces branch → lib/ctraces/src/ctr_encode_text.c): one RESOURCE
    SPAN debug-text block per group — resource attributes, scope
    header, then every span as a ``[span #i 'name']`` section with
    the C's exact field padding, F1BI7 default ids for unset
    trace/span ids, ``undefined`` parent, raw kind int + name
    (out-of-range -> unspecified), status message line only when
    set, typed variant attributes (string/int/double/bool), event
    sub-blocks, and the unconditional ``[links]`` header.  One
    Catalyst projection + one grouping exchange."""
    from fluent_bit_spark.functions.text_out import ctr_text_blocks

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    T = F.lit(1_700_000_000_000_000_000).cast("long")
    start = T + e * 1000

    def var(key, s=None, i=None, d=None, b=None):
        return F.struct(
            F.lit(key).alias("key"),
            (F.lit(None).cast("string") if s is None else s).alias("s"),
            (F.lit(None).cast("long") if i is None else i).alias("i"),
            (F.lit(None).cast("double") if d is None else d).alias("d"),
            (F.lit(None).cast("boolean") if b is None else b).alias("b"),
        )

    spans = ev.select(
        F.concat(F.lit("svc."), (e % 97).cast("string")).alias("gid"),
        e.alias("span_order"),
        F.concat(F.lit("op-"), (e % 7).cast("string")).alias("name"),
        F.when(e % 10 != 0,
               F.lower(F.lpad(F.hex(e), 32, "0"))).alias("trace_id_hex"),
        F.lower(F.lpad(F.hex(e % 100000), 16, "0")).alias("span_id_hex"),
        F.when(e % 3 == 0,
               F.lower(F.lpad(F.hex(F.floor(e / 2)), 16, "0")))
        .alias("parent_span_id_hex"),
        (e % 7).alias("kind"),
        start.alias("start_nanos"),
        (start + 500).alias("end_nanos"),
        (e % 4).alias("dropped_attr"),
        (e % 3).alias("dropped_events"),
        (e % 2).alias("dropped_links"),
        F.concat(F.lit("w3c="), (e % 2).cast("string"))
        .alias("trace_state"),
        (e % 3).cast("int").alias("status_code"),
        F.when(e % 3 == 2, F.concat(F.lit("m"), (e % 5).cast("string")))
        .alias("status_message"),
        F.array(
            var("evt", s=F.concat(F.lit("e"), (e % 5).cast("string"))),
            var("n", i=(e % 50).cast("long")),
            var("r", d=((e % 9) / 4.0)),
            var("f", b=(e % 2 == 0)),
        ).alias("attrs"),
        F.when(
            e % 5 == 0,
            F.array(F.struct(
                F.lit("boot").alias("name"),
                (start + 1).alias("ts"),
                (e % 3).alias("dropped"),
            )),
        ).otherwise(F.expr(
            "array()").cast(
            "array<struct<name:string,ts:bigint,dropped:bigint>>"))
        .alias("events"),
    )
    res_attrs = F.array(
        F.struct(
            F.lit("service.name").alias("key"),
            F.col("gid").alias("s"),
            F.lit(None).cast("long").alias("i"),
            F.lit(None).cast("double").alias("d"),
            F.lit(None).cast("boolean").alias("b"),
        )
    )
    return ctr_text_blocks(
        spans, ["gid"], resource_attrs=res_attrs,
        scope_name="fb", scope_version="v1",
    )


def q_json_escape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flb_utils_write_str JSON string rendering (src/flb_utils.c:
    768-1040): the escape table's named + \\u00xx control escapes,
    BMP codepoints as lowercase \\uxxxx (the reference never passes
    raw UTF-8 through), astral codepoints as UTF-16 surrogate
    pairs, clean ASCII untouched via the SIMD-fast-path twin (rlike
    gate).  Each event composes three chars from a 10-char palette
    covering every branch; verified byte-exact against the
    reference's own pack fixtures in tests/test_jsonesc.py."""
    from fluent_bit_spark.functions.jsonesc import flb_json_escape

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    chars = ["A", '"', "\\", "\n", "\x1b", "\x7f",
             "©", "☺", "魚", "\U0001f514"]
    arr = F.array(*[F.lit(c) for c in chars])
    s = F.concat(
        F.lit("log-"),
        F.element_at(arr, (e % 10 + 1).cast("int")),
        F.element_at(arr, ((e / 10).cast("long") % 10 + 1).cast("int")),
        F.element_at(arr, ((e / 100).cast("long") % 10 + 1).cast("int")),
        F.lit("-"), (e % 7).cast("string"),
    )
    return ev.select(
        e.alias("event_id"),
        flb_json_escape(s).alias("escaped"),
    )


def q_pack_dup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """flb_pack_json duplicate-key dedup (src/flb_pack.c, fixture
    tests/internal/data/pack/dup_keys_*.json): duplicated map keys
    keep only the LAST occurrence, survivors ordered by last
    occurrence.  Spark's from_json map physically retains dup keys,
    so the engine's dedup_map_keys HOF pass is what produces the
    reference's record shape.  Even events carry a c key between the
    dup runs to vary the surviving order."""
    from fluent_bit_spark.functions.packjson import dedup_map_keys

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    raw = F.concat(
        F.lit('{"a":'), (e % 5).cast("string"),
        F.lit(',"b":'), (e % 7).cast("string"),
        F.lit(',"a":'), (e % 3).cast("string"),
        F.when(e % 2 == 0, F.lit(',"c":9')).otherwise(F.lit("")),
        F.lit(',"b":'), (e % 11).cast("string"),
        F.lit("}"),
    )
    m = dedup_map_keys(F.from_json(raw, "map<string,string>"))
    return ev.select(
        e.alias("event_id"),
        F.array_join(F.map_keys(m), ",").alias("keys"),
        F.array_join(F.map_values(m), ",").alias("vals"),
    )


def q_forward_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fluent Forward protocol round-trip (plugins/out_forward/
    forward.c:1175,1268; in_forward/fw_prot.c dispatcher): per event
    one chunk in a mode chosen by event_id — Forward mode with
    EventTime fixext8 timestamps, Message mode, or
    CompressedPackedForward (gzip bin entries) — decoded back to
    (tag, sec, nsec, record). The oracle recomputes all fields."""
    import pandas as pd

    from fluent_bit_spark.functions.forward_wire import (
        decode_forward_streams,
        encode_forward,
        encode_message,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select("event_id")

    def mk(batches):
        for pdf in batches:
            chunks = []
            for e in pdf["event_id"]:
                e = int(e)
                tag = f"fw.{e % 4}"
                sec, nsec = 1_700_000_000 + e % 100, (e % 1000) * 1000
                rec = {"event_id": e}
                if e % 3 == 0:
                    chunks.append(encode_forward(
                        tag, [(sec, nsec, rec)], send_options=True))
                elif e % 3 == 1:
                    chunks.append(encode_message(tag, sec, nsec, rec))
                else:
                    chunks.append(encode_forward(
                        tag, [(sec, nsec, rec)], compressed=True))
            yield pd.DataFrame(
                {"data": pd.Series(chunks, dtype="object")})

    streams = ev.mapInPandas(mk, "data binary")
    rows = decode_forward_streams(streams)
    return rows.select(
        "tag", "sec", "nsec",
        F.get_json_object("record", "$.event_id").cast("long")
        .alias("event_id"),
    )


def q_es_bulk_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_elasticsearch Bulk API body parse (plugins/in_elasticsearch/
    in_elasticsearch_bulk_prot.c:345 process_ndpack): meta line's
    first key is the write op, index/create emit records carrying the
    meta map under @meta, delete/update consume without records,
    tag_key overrides routing from the body. Bodies are assembled per
    event in Catalyst and parsed back."""
    from fluent_bit_spark.sources.api_in import parse_es_bulk

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    body = F.concat(
        F.lit('{"index":{"_i":'), e.cast("string"),
        F.lit('}}\n{"event_id":'), e.cast("string"),
        F.lit(',"svc":"s'), (e % 3).cast("string"),
        F.lit('"}\n{"delete":{"_id":"x"}}'),
    )
    src = ev.select(body.alias("body"))
    out = parse_es_bulk(src, tag_key="svc")
    return out.select(
        "tag",
        F.get_json_object("record", "$.event_id").cast("long")
        .alias("event_id"),
        F.get_json_object("record", "$['@meta'].index._i").cast("long")
        .alias("meta_i"),
    )


def q_otlp_logs_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_opentelemetry OTLP/JSON logs EXPORT (plugins/
    out_opentelemetry/opentelemetry_logs.c:385-628 field precedence,
    :917-1216 resource/scope grouping): LogRecords grouped into
    ExportLogsServiceRequest bodies per (resource, scope), invalid
    severityNumber (>24) and malformed trace ids left unset, record
    map as kvlistValue body — then decoded back with the engine's own
    in_opentelemetry parser (the prom_scrape round-trip pattern) so
    the oracle checks encode∘decode == identity."""
    from fluent_bit_spark.functions.otlp_out import (
        otlp_log_record,
        otlp_logs_export,
    )
    from fluent_bit_spark.sources.otlp import parse_otlp_logs_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    trace = F.when(
        e % 2 == 0, F.lpad(F.lower(F.hex(e)), 32, "0"),
    ).otherwise(F.lit("not-a-trace-id"))
    lr = otlp_log_record(
        F.unix_micros(F.col("ts")) * 1000,
        severity_number=e % 30,
        severity_text=F.upper(F.col("event_type")),
        attributes=F.create_map(F.lit("svc"), F.col("event_type")),
        trace_id=trace,
        record=F.create_map(F.lit("event_id"), e.cast("string")),
    )
    enc = otlp_logs_export(
        ev, lr,
        resource_col=F.col("user_id") % 40,
        scope_col=F.col("user_id") % 4,
        resource_attrs=F.create_map(
            F.lit("host"),
            F.concat(F.lit("h"), (F.col("user_id") % 40).cast("string"))),
        scope_name=F.lit("fluent_bit_spark"),
    )
    dec = parse_otlp_logs_df(enc.select("body"))
    return dec.select(
        "time_unix_nano",
        F.get_json_object("metadata", "$.otlp.severity_number")
        .cast("long").alias("severity_number"),
        F.get_json_object("metadata", "$.otlp.severity_text")
        .alias("severity_text"),
        F.get_json_object("metadata", "$.otlp.attributes.svc")
        .alias("svc"),
        F.get_json_object("metadata", "$.otlp.trace_id")
        .alias("trace_id"),
        F.get_json_object("record", "$.event_id").cast("long")
        .alias("event_id"),
    )


def q_kinesis_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_kinesis_streams PutRecords entries (plugins/
    out_kinesis_streams/kinesis_api.c:148-166 Data+PartitionKey,
    :272-320 time_key blind append, :104-137 random_partition_key —
    made deterministic here by seeding it with the event time the
    reference would read from the clock). Data decodes back to the
    newline-terminated JSON record for the oracle."""
    from fluent_bit_spark.functions.cloudwatch_out import (
        to_kinesis_record,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    src = ev.select(
        "ts", "event_id",
        F.concat(F.lit("app."), F.col("event_type")).alias("tag"),
        F.col("event_id").alias("n"),
    )
    entry = to_kinesis_record(
        src.drop("event_id"), "ts", time_key="t")
    return src.select(
        "event_id",
        F.get_json_object(entry, "$.PartitionKey").alias("pk"),
        F.decode(F.unbase64(F.get_json_object(entry, "$.Data")), "UTF-8")
        .alias("data"),
    )


def q_bigquery_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_bigquery insertAll rows (plugins/out_bigquery/
    bigquery.c:916-938): one {"json": {record}} element per record,
    no insertId (unsupported upstream)."""
    from fluent_bit_spark.functions.misc_out import to_bigquery_row

    ev = _ep(_t(spark, sf_dir, "events"))
    src = ev.select(
        "ts", "event_id", F.lit("bq.0").alias("tag"),
        F.col("event_id").alias("n"), "event_type",
    )
    row = to_bigquery_row(src, exclude=("ts", "tag", "event_id"))
    return src.select("event_id", row.alias("row"))


def q_http_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_http POST body parse (plugins/in_http/http_prot.c:276-360
    process_pack, :870-930 URI tag): an array body emits every
    element, tag_key prefix-compare quirk (:194 — record key 'tag'
    matches configured 'tagx') routes the first element, the second
    falls back to the sanitized URI tag."""
    from fluent_bit_spark.sources.api_in import parse_http_json

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    body = F.concat(
        F.lit('[{"m":"'), F.col("event_type"),
        F.lit('","tag":"T'), (e % 3).cast("string"),
        F.lit('"},{"v":'), e.cast("string"), F.lit("}]"),
    )
    uri = F.concat(F.lit("/logs/"), F.col("event_type"), F.lit("?x=1"))
    out = parse_http_json(
        ev.select(body.alias("body"), uri.alias("uri")),
        uri_col="uri", tag_key="tagx")
    return out.select(
        "tag",
        F.get_json_object("record", "$.m").alias("m"),
        F.get_json_object("record", "$.v").cast("long").alias("v"),
    )


def q_s3_key_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_s3 object-key template rendered IN-PLAN per row
    (src/aws/flb_aws_util.c:814-1010 flb_get_s3_key via
    sinks.s3_key_col): $TAG[n] split on any delimiter char, a
    missing-part token degrading to '<tag>[n]' via the no-boundary
    whole-$TAG pass, $TAG, $INDEX, injected $UUID
    (deterministic md5 prefix), strftime over the template segments
    (UTC gmtime) — the partitioned object layout a 10^12-row delivery
    computes with zero driver involvement."""
    from fluent_bit_spark.sinks import s3_key_col

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    tag = F.concat(F.lit("app."), F.col("event_type"),
                   F.lit("-node"), (e % 7).cast("string"))
    key = s3_key_col(
        "/logs/$TAG[0]/$TAG[1]/%Y/%m/%d/%H/$TAG-$INDEX-$UUID-$TAG[5].gz",
        F.col("ts"), tag, tag_delimiter=".-",
        seq_index_col=e % 100,
        uuid_col=F.substring(F.md5(e.cast("string")), 1, 8),
    )
    return ev.select("event_id", key.alias("key"))


def q_host_cpu_percent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_cpu percent math, fleet-columnar (plugins/in_cpu/cpu.c:
    250-307; cpu.h:95 CPU_METRIC_SYS_AVERAGE for the aggregate
    'cpu ' line, :113 CPU_METRIC_USAGE per-core, equal-counters ->
    exactly 0.0): snapshot pairs synthesized per event, ~9% of rows
    exercising the short-circuit, all whole-stage codegen."""
    from fluent_bit_spark.sources.hostmetrics import cpu_percent_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    base = ev.select(
        e.alias("event_id"),
        F.concat(F.lit("h"), (e % 16).cast("string")).alias("host"),
        (e % 5).alias("cpu_idx"),
        F.lit(4).cast("long").alias("n_cores"),
        ((e % 1000) * 7).alias("pu"),
        (e % 97).alias("pn"),
        ((e % 211) * 3).alias("ps"),
    )
    snaps = base.select(
        "*",
        F.when(e % 11 == 0, F.col("pu"))
        .otherwise(F.col("pu") + (e % 13) * 5).alias("nu"),
        F.when(e % 11 == 0, F.col("pn"))
        .otherwise(F.col("pn") + (e % 3)).alias("nn"),
        F.when(e % 11 == 0, F.col("ps"))
        .otherwise(F.col("ps") + (e % 17) * 2).alias("ns"),
    )
    out = cpu_percent_df(snaps)
    return out.select(
        "event_id", "host", "cpu_idx",
        F.round("p_cpu", 6).alias("p_cpu"),
        F.round("p_user", 6).alias("p_user"),
        F.round("p_system", 6).alias("p_system"),
    )


def q_socket_framing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_tcp/in_udp/in_unix_socket format-none framing
    (plugins/in_tcp/tcp_conn.c:36-250 via socket_in.parse_separated):
    separator-terminated chunks become records (EMPTY chunks kept —
    a bare separator is a legal empty message), the unterminated
    tail is transport buffering and is dropped; a chunk ending clean
    drops nothing. Pure split/slice/explode — no UDF."""
    from fluent_bit_spark.sources.socket_in import parse_separated

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    data = F.concat(
        F.lit("r"), e.cast("string"), F.lit("a\n"),
        F.when(e % 4 == 0, F.lit("\n")).otherwise(F.lit("")),
        F.lit("r"), e.cast("string"), F.lit("b\n"),
        # every 7th capture ends on a record boundary (no tail)
        F.when(e % 7 == 0, F.lit("")).otherwise(
            F.concat(F.lit("tail"), e.cast("string"))),
    )
    framed = parse_separated(
        ev.select("event_id", data.alias("data")), "data", "\n", "log")
    return framed.select("event_id", "log")


def q_hec_json_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_splunk HEC JSON endpoint parse (plugins/in_splunk/
    splunk_prot.c:293-435 process_hec_payload via api_in.
    parse_hec_json): a map body is one event, an array body emits
    each map element, concatenated maps are appended verbatim, and
    tag_key routes per record only when the value is a STRING (a
    numeric tag falls back to the connection tag)."""
    from fluent_bit_spark.sources.api_in import parse_hec_json

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    es = e.cast("string")
    body = (
        F.when(e % 3 == 0, F.concat(
            F.lit('{"a":'), es, F.lit(',"t":"tg'),
            (e % 4).cast("string"), F.lit('"}')))
        .when(e % 3 == 1, F.concat(
            F.lit('[{"x":'), es, F.lit('},{"t":5,"x":'), es,
            F.lit("}]")))
        .otherwise(F.concat(
            F.lit('{"p":'), es, F.lit('} {"q":'), es, F.lit("}")))
    )
    src = ev.select(
        body.alias("body"),
        F.concat(F.lit("hec."), F.col("event_type")).alias("tag0"),
    )
    out = parse_hec_json(src, "body", tag_col="tag0", tag_key="t")
    return out.select(
        "tag",
        F.get_json_object("record", "$.a").cast("long").alias("a"),
        F.get_json_object("record", "$.x").cast("long").alias("x"),
        F.get_json_object("record", "$.p").cast("long").alias("p"),
        F.get_json_object("record", "$.q").cast("long").alias("q"),
    )


def q_node_meminfo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_node_exporter_metrics meminfo collector, fleet-columnar
    (plugins/in_node_exporter_metrics/ne_meminfo_linux.c:20-130,
    260-280 via hostmetrics.node_meminfo_df): node_memory_<Name>
    naming, (anon) rewrite, kB -> _bytes * 1024, malformed and
    extra-token lines dropped — one meminfo text per host row."""
    from fluent_bit_spark.sources.hostmetrics import node_meminfo_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    text = F.concat(
        F.lit("MemTotal:       "),
        ((e % 4096) * 16 + 1024).cast("string"), F.lit(" kB\n"),
        F.lit("MemFree: "), (e % 1000).cast("string"), F.lit(" kB\n"),
        F.lit("HugePages_Total:   "), (e % 5).cast("string"),
        F.lit("\n"),
        F.lit("Active(anon): "), ((e % 333) * 4).cast("string"),
        F.lit(" kB\n"),
        F.lit("bad line junk\n"),
        F.lit("Committed_AS: 1 kB extra\n"),
    )
    out = node_meminfo_df(
        ev.select("event_id", text.alias("meminfo")), "meminfo")
    return out.select("event_id", "metric", "value")


def q_nginx_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_nginx_exporter_metrics stub_status parse, fleet-columnar
    (plugins/in_nginx_exporter_metrics/nginx.c:36-90 via
    hostmetrics.nginx_status_df): one status page per target row,
    malformed pages dropped like the reference's errored scrape."""
    from fluent_bit_spark.sources.hostmetrics import nginx_status_df

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    page = F.when(e % 13 == 0, F.lit("<html>busted</html>")).otherwise(
        F.concat(
            F.lit("Active connections: "), (e % 512).cast("string"),
            F.lit(" \nserver accepts handled requests\n "),
            (e * 3).cast("string"), F.lit(" "),
            (e * 3 - e % 7).cast("string"), F.lit(" "),
            (e * 11).cast("string"),
            F.lit(" \nReading: "), (e % 9).cast("string"),
            F.lit(" Writing: "), (e % 17).cast("string"),
            F.lit(" Waiting: "), (e % 33).cast("string"), F.lit(" \n"),
        ))
    return nginx_status_df(
        ev.select("event_id", page.alias("status")), "status")


def q_journal_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_systemd over the public journal EXPORT format (sd-journal
    API reader in plugins/in_systemd/systemd.c; field shaping
    :130-247 — duplicate keys collapse to arrays with the first dup
    converting string->[old,new], lowercase :164, ONE leading
    underscore stripped :390) via sources/journal.py: blank-line
    entry boundaries, FIELD=value lines, final entry flushed at
    EOF."""
    from fluent_bit_spark.sources.journal import parse_journal_export

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    data = F.concat(
        F.lit("__REALTIME_TIMESTAMP="),
        (F.lit(1_700_000_000_000_000).cast("long") + e).cast("string"),
        F.lit("\nMESSAGE=msg "), e.cast("string"),
        F.lit("\nPRIORITY="), (e % 8).cast("string"),
        F.lit("\n_PID="), (e % 500).cast("string"),
        F.lit("\nTAG=a\nTAG=b"), (e % 3).cast("string"),
        F.lit("\n\nMESSAGE=second "), e.cast("string"),
        F.lit("\nPRIORITY=3\n"),
    )
    out = parse_journal_export(
        ev.select("event_id", data.alias("data")), "data",
        lowercase=True, strip_underscores=True,
        keep_cols=[("event_id", "long")])
    return out.select(
        "event_id", "seq",
        F.get_json_object("record", "$.message").alias("message"),
        F.get_json_object("record", "$.priority").cast("long")
        .alias("priority"),
        F.get_json_object("record", "$.pid").cast("long").alias("pid"),
        F.get_json_object("record", "$.tag").alias("tag"),
        F.get_json_object("record", "$._realtime_timestamp")
        .cast("long").alias("rt"),
    )


def q_azure_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_azure Log Analytics body records (plugins/out_azure/
    azure.c:55-160): @timestamp prepended as epoch double, or ISO8601
    with 3-digit millis + Z under time_generated; record fields
    follow. The Authorization SharedKey HMAC is driver-side
    (test_azure_sky_plot.py pins it against a hand-computed HMAC)."""
    from fluent_bit_spark.functions.azure_out import to_azure_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", "event_type", F.lit("az.0").alias("tag"))
    plain = to_azure_record(ev, "ts")
    gen = to_azure_record(ev, "ts", time_generated=True)
    return ev.select(
        "event_id",
        F.round(F.get_json_object(plain, "$['@timestamp']")
                .cast("double"), 6).alias("ts_double"),
        F.get_json_object(gen, "$['@timestamp']").alias("ts_iso"),
        F.get_json_object(plain, "$.event_type").alias("event_type"),
    )


def q_cloudwatch_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_cloudwatch_logs PutLogEvents event encode (plugins/
    out_cloudwatch_logs/cloudwatch_api.c:245 write_event, :380
    add_event): ms timestamp (sec*1000+nsec/1e6), record-JSON message
    string-escaped into the event, log_key single-value variant.
    Fields are unescaped back out of the event for the oracle."""
    from fluent_bit_spark.functions.cloudwatch_out import (
        to_cloudwatch_event,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", "event_type", F.lit("cw.0").alias("tag"))
    full = to_cloudwatch_event(ev.drop("tag"), "ts")
    keyed = to_cloudwatch_event(ev.drop("tag"), "ts", log_key="event_type")
    msg = F.get_json_object(full, "$.message")
    return ev.select(
        F.get_json_object(full, "$.timestamp").cast("long").alias("ts_ms"),
        F.get_json_object(msg, "$.event_id").cast("long").alias("event_id"),
        F.get_json_object(msg, "$.event_type").alias("event_type"),
        F.get_json_object(keyed, "$.message").alias("keyed_message"),
    )


def q_mqtt_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_mqtt stream decode (plugins/in_mqtt/mqtt_prot.c:253 parser,
    :176 handle_publish, :76 data_append): CONNECT-first streams,
    varint remaining length, QoS packet-id skip, JSON-map-only
    payloads (non-JSON dropped), topic prepended to the record. Wire
    packets are assembled per event and decoded back; the oracle
    recomputes the surviving rows from event_id."""
    import pandas as pd

    from fluent_bit_spark.sources.mqtt import (
        decode_mqtt_streams,
        encode_connect,
        encode_publish,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select("event_id")

    def mk(batches):
        for pdf in batches:
            streams = []
            for e in pdf["event_id"]:
                e = int(e)
                if e % 5 == 0:  # not JSON -> dropped by the decoder
                    payload = b"not json at all"
                else:
                    payload = (
                        '{"event_id":%d,"n":%d}' % (e, e % 13)
                    ).encode()
                streams.append(
                    encode_connect()
                    + encode_publish(f"sensors/{e % 4}", payload,
                                     qos=1 if e % 7 == 0 else 0,
                                     packet_id=e % 65536))
            yield pd.DataFrame({"data": pd.Series(streams, dtype="object")})

    streams = ev.mapInPandas(mk, "data binary")
    rows = decode_mqtt_streams(streams)
    return rows.select(
        "topic",
        F.get_json_object("record", "$.event_id").cast("long")
        .alias("event_id"),
        F.get_json_object("record", "$.n").cast("long").alias("n"),
        F.get_json_object("record", "$.topic").alias("topic_in_record"),
    )


def q_http_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_http body records via the core flb_pack JSON formatter
    (plugins/out_http/http.c:437; src/flb_pack.c:930
    flb_pack_msgpack_to_json_format): json_date_key prefix in each of
    the date formats — double, epoch, epoch_ms, iso8601 (.%06u Z),
    java_sql_timestamp (.%06u). Fields extracted back from the record
    object; the oracle recomputes each date rendering from ts."""
    from fluent_bit_spark.functions.misc_out import to_http_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", "event_type",
        F.lit("http.0").alias("tag"),
    )
    cols = {}
    for fmt in ("double", "epoch", "epoch_ms", "iso8601",
                "java_sql_timestamp"):
        rec = to_http_record(ev, "ts", date_key="date", date_format=fmt)
        cols[fmt] = F.get_json_object(rec, "$.date")
    rec0 = to_http_record(ev, "ts", date_key=None)
    return ev.select(
        "event_id",
        F.round(cols["double"].cast("double"), 6).alias("d_double"),
        cols["epoch"].cast("long").alias("d_epoch"),
        cols["epoch_ms"].cast("long").alias("d_epoch_ms"),
        cols["iso8601"].alias("d_iso"),
        cols["java_sql_timestamp"].alias("d_sql"),
        F.get_json_object(rec0, "$.event_type").alias("event_type"),
        F.get_json_object(rec0, "$.date").alias("no_date"),
    )


def q_syslog_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_syslog UDP-mode parse (plugins/in_syslog/syslog_prot.c:230
    syslog_prot_process_udp): one datagram per record through the stock
    syslog-rfc5424 parser (default for udp, syslog_conf.c:164);
    unparseable datagrams are dropped; raw_message_key expansion kept.
    The oracle recomputes every header field arithmetically."""
    from fluent_bit_spark.sources.syslog_in import parse_syslog

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    line = F.when(e % 11 == 0, F.lit("not a syslog frame")).otherwise(
        F.concat(
            F.lit("<"), (e % 192).cast("string"), F.lit(">1 "),
            F.lit("2023-10-11T22:14:1"), (e % 10).cast("string"),
            F.lit(".00"), (e % 10).cast("string"), F.lit("Z "),
            F.lit("host"), (e % 5).cast("string"), F.lit(" "),
            F.lit("app"), (e % 3).cast("string"), F.lit(" "),
            (e % 7).cast("string"), F.lit(" "),
            F.lit("ID"), e.cast("string"), F.lit(" - "),
            F.lit("msg "), F.col("event_type"),
        )
    )
    out = parse_syslog(
        ev.select(line.alias("line")), mode="udp", raw_message_key="raw",
        default_time=F.lit("2000-01-01 00:00:00").cast("timestamp"),
    )
    return out.select(
        "pri", "host", "ident", "pid", "msgid", "message", "raw",
        F.round(F.col("event_time").cast("double"), 6).alias("ts6"),
    )


def q_stackdriver_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_stackdriver LogEntry encoding (plugins/out_stackdriver/
    stackdriver.c:1697 stackdriver_format): numeric severity enum from
    case-insensitive tokens (:1321), invalid-insertId records DROPPED
    (:2326), timestampSeconds/timestampNanos duo overriding the event
    time and stripped from the payload (stackdriver_timestamp.c:110),
    payload+config label merge (config wins, :1146), tag-based logName
    path, %09d-nanos RFC3339 timestamps; typed fields extracted back
    out of the entry JSON for the oracle."""
    from fluent_bit_spark.functions.stackdriver_out import (
        encode_stackdriver,
    )

    ev = _ep(_t(spark, sf_dir, "events"))
    e = F.col("event_id")
    sev = F.element_at(
        F.array(*[F.lit(x) for x in
                  ["info", "WARN", "error", "debug", "nonsense", "FATAL"]]),
        (e % 6 + 1).cast("int"),
    )
    rec = F.concat(
        F.lit('{"message":"'), F.col("event_type"),
        F.lit('","event_id":'), e.cast("string"),
        F.lit(',"logging.googleapis.com/severity":"'), sev, F.lit('"'),
        F.when(e % 7 == 0, F.lit(',"logging.googleapis.com/insertId":""'))
        .when(e % 7 == 1, F.concat(
            F.lit(',"logging.googleapis.com/insertId":"id-'),
            e.cast("string"), F.lit('"')))
        .otherwise(F.lit("")),
        F.when(e % 5 == 0, F.concat(
            F.lit(',"timestampSeconds":'),
            (F.lit(1600000000) + e % 1000).cast("string"),
            F.lit(',"timestampNanos":'), (e % 1000).cast("string")))
        .otherwise(F.lit("")),
        F.when(e % 4 == 0, F.concat(
            F.lit(',"logging.googleapis.com/labels":{"app":"'),
            F.col("event_type"), F.lit('"}'))).otherwise(F.lit("")),
        F.lit("}"),
    )
    src = ev.select(
        rec.alias("record"),
        F.concat(F.lit("sd."), (e % 3).cast("string")).alias("tag"),
        "ts",
    )
    out = encode_stackdriver(src, "proj", config_labels={"env": "test"})
    entry = F.col("entry")
    return out.select(
        F.get_json_object(entry, "$.jsonPayload.event_id")
        .cast("long").alias("event_id"),
        F.get_json_object(entry, "$.jsonPayload.message").alias("message"),
        F.get_json_object(entry, "$.severity").cast("int").alias("severity"),
        F.get_json_object(entry, "$.insertId").alias("insert_id"),
        F.get_json_object(entry, "$.logName").alias("log_name"),
        F.get_json_object(entry, "$.timestamp").alias("ts_str"),
        F.get_json_object(entry, "$.labels.app").alias("label_app"),
        F.get_json_object(entry, "$.labels.env").alias("label_env"),
    )


def q_collectd_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_collectd binary network protocol: wire packets are assembled
    per event (Arrow-batched struct packing), decoded back through the
    TLV part walk + TypesDB validation (plugins/in_collectd/netprot.c
    :236 netprot_to_msgpack, :57 netprot_pack_value), and aggregated
    per metric series. Exercises all three value encodings (LE-double
    gauge, be64 derive, be64 counter), header persistence, and the
    TIME_HR/INTERVAL_HR 2^-30 scaling — the oracle recomputes every
    decoded value arithmetically from event_id."""
    import pandas as pd

    from fluent_bit_spark.sources.collectd import (
        decode_collectd_packets,
        encode_packet,
        parse_typesdb,
    )

    tdb = parse_typesdb(
        "cpu value:DERIVE:0:U\n"
        "load shortterm:GAUGE:0:5000, midterm:GAUGE:0:5000, "
        "longterm:GAUGE:0:5000\n"
        "if_octets rx:COUNTER:0:U, tx:COUNTER:0:U\n"
    )
    ev = _ep(_t(spark, sf_dir, "events")).select("event_id")

    def mk(batches):
        for pdf in batches:
            pkts = []
            for e in pdf["event_id"]:
                e = int(e)
                if e % 3 == 0:  # 3-gauge value part, time + interval
                    pkts.append(encode_packet(
                        host=f"h{e % 5}", plugin="load", type_="load",
                        time_hr=1_700_000_000 + e % 100, interval_hr=10,
                        values=[(1, (e % 10) * 0.5),
                                (1, (e % 10) * 0.5 + 0.25),
                                (1, (e % 10) * 0.5 + 0.5)],
                    ))
                elif e % 3 == 1:  # derive, time, no interval
                    pkts.append(encode_packet(
                        host=f"h{e % 5}", plugin="cpu",
                        plugin_instance=str(e % 4), type_="cpu",
                        time_hr=1_700_000_000 + e % 100,
                        values=[(2, e * 7)],
                    ))
                else:  # two counters, headerless time
                    pkts.append(encode_packet(
                        host=f"h{e % 5}", plugin="interface",
                        type_="if_octets", values=[(0, e * 3), (0, e)],
                    ))
            yield pd.DataFrame({"packet": pkts})

    packets = ev.mapInPandas(mk, "packet binary")
    rows = decode_collectd_packets(packets, tdb)
    return (
        rows.groupBy("host", "plugin", "type", "field", "dstype")
        .agg(
            F.count("*").alias("n"),
            F.sum("value_int").alias("sum_int"),
            F.round(F.sum("value_gauge"), 6).alias("sum_gauge"),
            F.round(F.sum("time"), 6).alias("sum_time"),
        )
        .orderBy("host", "plugin", "field")
    )


def q_prom_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_prometheus_exporter exposition text
    (lib/cmetrics/src/cmt_encode_prometheus.c line shape): HELP/TYPE
    headers + name{label="v"} value samples — a counter family (count
    per event_type, integral rendering) and a gauge family (rounded
    sum, shortest-double rendering) over the same records."""
    from fluent_bit_spark.functions.prom_out import prometheus_text
    from fluent_bit_spark.operators.log_to_metrics import counter_metric

    ev = _ep(_t(spark, sf_dir, "events"))
    counts = counter_metric(ev, ["event_type"])
    sums = ev.groupBy("event_type").agg(
        F.round(F.sum("value"), 4).alias("value")
    )
    c = prometheus_text(
        spark, counts, "fb_events_total", "counter",
        "Total records per event type.", ["event_type"],
    )
    g = prometheus_text(
        spark, sums, "fb_events_value", "gauge",
        "Sum of event values.", ["event_type"],
    )
    return c.withColumn("family", F.lit("counter")).unionByName(
        g.withColumn("family", F.lit("gauge"))
    )


def q_statsd_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """in_statsd line parsing (plugins/in_statsd/statsd.c:155):
    bucket:value|type|@rate dispatch incl. the unknown-type->counter
    default, atof sample-rate semantics (0/absent -> 1.0), gauge
    incremental flag, and the reference's timer->set fallthrough bug
    (missing break, statsd.c:122 — kept by default)."""
    from fluent_bit_spark.sources.statsd import parse_statsd_lines

    ev = _ep(_t(spark, sf_dir, "events"))
    lines = ev.select(
        "event_id",
        F.concat(
            F.lit("b"), (F.col("event_id") % 20).cast("string"), F.lit(":"),
            F.when(F.col("event_id") % 11 == 0, F.lit("+")).otherwise(
                F.lit("")
            ),
            F.col("value").cast("string"),
            F.element_at(
                F.array(
                    F.lit("|c"), F.lit("|g"), F.lit("|ms"), F.lit("|s"),
                    F.lit("|x"),
                ),
                (F.col("event_id") % 5 + 1).cast("int"),
            ),
            F.when(F.col("event_id") % 3 == 0, F.lit("|@0.5")).otherwise(
                F.lit("")
            ),
        ).alias("line"),
    )
    out = parse_statsd_lines(lines, "line")
    return out.select(
        "event_id", "mtype", "bucket",
        F.round("value", 4).alias("value4"), "value_str",
        "sample_rate", "incremental",
    )


def q_builtin_parsers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stock parser pack (reference conf/parsers.conf shipped as
    fluent_bit_spark.parsers.builtin): synthesize apache-combined,
    syslog-rfc5424 and CRI lines from events, parse each with the
    named built-in (regex + Time_Format path), and return normalized
    extracted fields. Verifies the shipped regexes and time handling
    against an independent DuckDB re-extraction of the same lines."""
    from fluent_bit_spark.parsers import apply_parser
    from fluent_bit_spark.parsers.builtin import builtin_parsers

    ps = builtin_parsers()
    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", "user_id", "event_type",
        F.col("value").cast("int").alias("nbytes"),
    )
    apache_line = F.concat(
        F.lit("h"), (F.col("user_id") % 5).cast("string"),
        F.lit(" - u"), F.col("user_id").cast("string"),
        F.lit(" ["), F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss"),
        F.lit(' +0000] "GET /p'), F.col("event_id").cast("string"),
        F.lit(' HTTP/1.1" 200 '), F.col("nbytes").cast("string"),
        F.lit(' "-" "ua/'), F.col("event_type"), F.lit('"'),
    )
    syslog_line = F.concat(
        F.lit("<13>1 "), F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        F.lit("+0000 h"), (F.col("user_id") % 5).cast("string"),
        F.lit(" app"), (F.col("event_id") % 4).cast("string"),
        F.lit(" 77 MID - msg "), F.col("event_type"),
    )
    cri_line = F.concat(
        F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSS"),
        F.lit("+0000 "),
        F.when(F.col("event_id") % 2 == 0, F.lit("stdout")).otherwise(
            F.lit("stderr")
        ),
        F.lit(" F log "), F.col("event_type"),
    )

    def parsed(kind: str, line, parser: str, a, b, c, d):
        src = ev.select("event_id", "ts", line.alias("text"))
        out = apply_parser(src, "text", ps[parser])
        return out.select(
            F.lit(kind).alias("kind"),
            "event_id",
            F.col(a).alias("a"),
            F.col(b).alias("b"),
            F.col(c).cast("string").alias("c"),
            F.col(d).alias("d"),
            F.round(F.col("event_time").cast("double"), 3).alias("ts3"),
        )

    return (
        parsed("apache", apache_line, "apache", "host", "path", "code",
               "agent")
        .unionByName(
            parsed("rfc5424", syslog_line, "syslog-rfc5424", "host",
                   "ident", "pri", "message")
        )
        .unionByName(
            parsed("cri", cri_line, "cri", "stream", "logtag", "logtag",
                   "message")
        )
    )


def q_loki_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_loki entry encoding (plugins/out_loki/loki.c): stream label
    set from static + record-accessor labels with per-record
    empty-skip and name sanitization (pack_label_key :315), key_value
    line format (pack_format_line_value :1234 — raw-quoted strings,
    %.1f integral floats), ns-string timestamps (pack_timestamp)."""
    from fluent_bit_spark.functions.loki_out import to_loki

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        "ts",
        F.lit("app.log").alias("tag"),
        F.when(F.col("event_id") % 7 == 0, F.lit(""))
        .otherwise(F.col("event_type"))
        .alias("etype"),
        "user_id",
        "value",
        F.when(F.col("event_id") % 5 == 0, F.lit(None).cast("string"))
        .otherwise(F.col("props"))
        .alias("props"),
    )
    out = to_loki(
        ev, "ts", tag_col="tag",
        labels={"job": "fbs", "9type": "$etype"},
        line_format="key_value",
    )
    # event_id is in the line (kv) — keep it as the join/sort key too
    return out.select(
        F.regexp_extract("line", r"event_id=(\d+)", 1).cast("long").alias(
            "event_id"
        ),
        "stream", "ns", "line",
    )


def q_splunk_hec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_splunk HEC event JSON (plugins/out_splunk/splunk.c pack_map
    :408 + pack_map_meta :263): time as epoch double, record-accessor
    host, static source/sourcetype/index, fields map, event payload;
    fields extracted back out of the emitted JSON (same verification
    shape as the driver-green gelf row)."""
    from fluent_bit_spark.functions.hec_out import to_splunk_hec

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias(
            "host"
        ),
        "event_type", "value", "user_id",
    )
    line = to_splunk_hec(
        ev, "ts", event_cols=["event_id", "event_type", "value"],
        host=F.col("host"), source="fbs", sourcetype="_json", index="main",
        fields={"uid": "user_id"},
    )
    out = ev.select("event_id", line.alias("l"))
    return out.select(
        "event_id",
        F.round(F.get_json_object("l", "$.time").cast("double"), 3).alias(
            "time3"
        ),
        F.get_json_object("l", "$.host").alias("host"),
        F.get_json_object("l", "$.sourcetype").alias("sourcetype"),
        F.get_json_object("l", "$.fields.uid").cast("long").alias("uid"),
        F.get_json_object("l", "$.event.event_type").alias("etype"),
        F.round(F.get_json_object("l", "$.event.value").cast("double"), 4)
        .alias("value4"),
    )


def q_datadog_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_datadog intake object (plugins/out_datadog/datadog.c:146+):
    epoch-ms timestamp with half-up ns rounding (timestamp_format
    :54-62), tag under Tag_Key, dd_source/service statics, message-key
    rename, ddtags last; values extracted back from the JSON."""
    from fluent_bit_spark.functions.hec_out import to_datadog

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("dd."), (F.col("event_id") % 3).cast("string")).alias(
            "tag"
        ),
        F.col("event_type").alias("msg"),
        "value",
    )
    line = to_datadog(
        ev, "ts", message_col="msg", tag_col="tag", include_tag_key=True,
        tag_key="fb_tag", dd_source="spark", dd_service="pipeline",
        dd_tags="env:test",
    )
    out = ev.select("event_id", line.alias("l"))
    return out.select(
        "event_id",
        F.get_json_object("l", "$.timestamp").cast("long").alias("ts_ms"),
        F.get_json_object("l", "$.fb_tag").alias("fb_tag"),
        F.get_json_object("l", "$.ddsource").alias("ddsource"),
        F.get_json_object("l", "$.message").alias("message"),
        F.round(F.get_json_object("l", "$.value").cast("double"), 4).alias(
            "value4"
        ),
        F.get_json_object("l", "$.ddtags").alias("ddtags"),
    )


def q_gelf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GELF encoding (flb_pack_gelf.c): version/host/short_message/
    timestamp/level + '_'-prefixed extras, validated by extracting the
    fields back out of the emitted JSON line."""
    from fluent_bit_spark.functions.gelf import to_gelf

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.concat(F.lit("h"), (F.col("user_id") % 5).cast("string")).alias("host"),
        F.col("event_type").alias("msg"),
        F.col("ts").alias("event_time"),
        "event_type",
    )
    g = to_gelf(
        ev, "host", "msg", "event_time",
        level_col="event_type", extra_cols=["event_id"],
    )
    out = ev.select("event_id", g.alias("g"))
    return out.select(
        "event_id",
        F.get_json_object("g", "$.version").alias("version"),
        F.get_json_object("g", "$.host").alias("host"),
        F.get_json_object("g", "$.short_message").alias("short_message"),
        F.get_json_object("g", "$.level").cast("int").alias("level"),
        F.get_json_object("g", "$._event_id").cast("long").alias("x_event_id"),
        F.round(F.get_json_object("g", "$.timestamp").cast("double"), 3).alias(
            "ts3"
        ),
    )


def q_processor_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_sql: the reduced projection+filter SQL surface
    (plugins/processor_sql/sql.c — no aggregates/windows/GROUP BY)."""
    from fluent_bit_spark.operators.processor_sql import processor_sql

    ev = _t(spark, sf_dir, "events")
    return processor_sql(
        ev,
        "SELECT event_id AS id, event_type, value FROM STREAM:events "
        "WHERE value >= 50 AND event_type != 'view';",
        ts_col="ts",
    )


def q_checklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_checklist: set records on rows whose key appears in the
    (broadcast) lookup list (plugins/filter_checklist)."""
    from fluent_bit_spark.enrich import checklist

    docs = _t(spark, sf_dir, "documents")
    values = (
        docs.select("source").distinct().filter(F.col("source").endswith("1"))
    )
    out = checklist(docs, values, "source", records={"flagged": "yes"})
    return out.select("doc_id", "source", "flagged")


def q_throttle_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_throttle_size: running per-window byte budget."""
    from fluent_bit_spark.operators.throttle import throttle_size

    docs = _t(spark, sf_dir, "documents").withColumn(
        "event_time",
        F.to_timestamp(F.lit("2026-01-01 00:00:00"))
        + F.make_dt_interval(secs=F.col("doc_id")),
    )
    out = throttle_size(
        docs,
        "event_time",
        "n_chars",
        max_bytes=20_000,
        window_duration="1 minute",
        key_cols=["lang"],
    )
    return out.select("doc_id", "lang", "n_chars")


def q_type_converter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_type_converter: converted copies appended under to_key
    (type_converter.c rules 'from to type')."""
    from fluent_bit_spark.operators.type_converter import (
        ConvertRule,
        type_converter,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.get_json_object("props", "$.k").alias("k"),
    )
    out = type_converter(
        ev,
        [
            ConvertRule("user_id", "uid_str", "string"),
            ConvertRule("k", "k_int", "int"),
        ],
    )
    return out.select("event_id", "user_id", "k", "uid_str", "k_int")


def q_yaml_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A yaml config (the 2.x format) drives the pipeline: lib input
    with ATTACHED processors — a condition-gated content_modifier
    insert (flb_processor.c:311) then a grep filter-as-processor —
    loaded through parse_yaml_conf, no Match involved."""
    from fluent_bit_spark.classic import build_classic_pipeline, parse_yaml_conf

    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    yaml_text = """
pipeline:
  inputs:
    - name: lib
      tag: ev.lib
      processors:
        logs:
          - name: content_modifier
            action: insert
            key: severity
            value: high
            condition:
              op: and
              rules:
                - field: $event_type
                  op: eq
                  value: error
          - name: grep
            regex: event_type ^(click|error)$
  outputs:
    - name: counter
      match: '*'
"""
    pipe = build_classic_pipeline(
        spark, parse_yaml_conf(yaml_text), lib_inputs={"ev.lib": ev}
    )
    return pipe.records.select("tag", "event_id", "event_type", "value", "severity")


def q_classic_conf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A classic-mode fluent-bit.conf drives the whole pipeline
    (fluent_bit_spark.classic): lib input -> grep -> conditional
    modify -> rewrite_tag -> two Match-scoped outputs. The config is
    loaded from FILES through the meta-command path: a root conf with
    @SET variables and an @INCLUDE'd conf.d/ filter fragment
    (src/flb_meta.c, config_format/flb_cf_fluentbit.c semantics)."""
    import tempfile
    from pathlib import Path

    from fluent_bit_spark.classic import build_classic_pipeline, load_classic_conf

    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("event_time"), "event_id", "event_type", "value"
    )
    root = Path(tempfile.mkdtemp(prefix="fbs_classic_conf_"))
    (root / "conf.d").mkdir()
    (root / "conf.d" / "10-filters.conf").write_text(
        """
[FILTER]
    Name  grep
    Match ${scope}
    Regex event_type ^(click|error)$

[FILTER]
    Name      modify
    Match     ${scope}
    Condition Key_value_equals event_type error
    Set       severity high

[FILTER]
    Name  rewrite_tag
    Match ${scope}
    Rule  $event_type ^error$ alerts.$0 true
"""
    )
    (root / "fluent-bit.conf").write_text(
        """
@SET scope=ev.*
[INPUT]
    Name lib
    Tag  ev.in

@INCLUDE conf.d/*.conf

[OUTPUT]
    Name  null
    Match alerts.*

[OUTPUT]
    Name  null
    Match ${scope}
"""
    )
    sections = load_classic_conf(str(root / "fluent-bit.conf"))
    pipe = build_classic_pipeline(spark, sections, lib_inputs={"ev.in": ev})
    cols = ["tag", "event_id", "event_type", "severity"]
    a = pipe.outputs["null.0"].select(F.lit("null.0").alias("out_id"), *cols)
    b = pipe.outputs["null.1"].select(F.lit("null.1").alias("out_id"), *cols)
    return a.unionByName(b)


def q_sp_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sql = (
        "SELECT event_type, COUNT(*) AS records, SUM(value) AS sum_value, "
        "MIN(value) AS min_value, MAX(value) AS max_value, AVG(value) AS avg_value "
        "FROM STREAM:events GROUP BY event_type;"
    )
    out = run_query(sql, ev, ts_col="ts")
    return out.select(
        "event_type",
        "records",
        F.round("sum_value", 4).alias("sum_value"),
        "min_value",
        "max_value",
        F.round("avg_value", 4).alias("avg_value"),
    )


def q_sp_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sql = (
        "SELECT event_type, COUNT(*) AS records, SUM(value) AS sum_value "
        "FROM STREAM:events WINDOW TUMBLING (60 SECOND) "
        "WHERE value >= 10 GROUP BY event_type;"
    )
    out = run_query(sql, ev, ts_col="ts")
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "records",
        F.round("sum_value", 4).alias("sum_value"),
    )


def q_sp_hopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sql = (
        "SELECT event_type, COUNT(*) AS records FROM STREAM:events "
        "WINDOW HOPPING (120 SECOND, ADVANCE BY 60 SECOND) GROUP BY event_type;"
    )
    out = run_query(sql, ev, ts_col="ts")
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "records",
    )


def q_sp_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    sql = (
        "SELECT event_type, TIMESERIES_FORECAST(value, 600) AS forecast "
        "FROM STREAM:events GROUP BY event_type;"
    )
    out = run_query(sql, ev, ts_col="ts")
    return out.select("event_type", F.round("forecast", 2).alias("forecast"))


def q_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    out = throttle(
        ev, ts_col="ts", limit=5, window_duration="1 minute",
        key_cols=["event_type"], order_col="event_id",
    )
    return out.select("event_id")


def q_sample_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    h = P.spark_h32("cast(doc_id as string)")
    return docs.filter(F.expr(f"{h} % 100 < 10")).select("doc_id")


def q_json_props_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("k_sum"), F.count(F.lit(1)).alias("records"))
    )


def q_flowcounter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("event_type").alias("tag"),
            F.window("ts", "1 minute")["start"].cast("long").alias("window_start"),
        )
        .agg(
            F.count(F.lit(1)).alias("records"),
            F.sum(F.length("props")).alias("bytes"),
        )
    )


def q_time_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").filter(F.col("event_id") < 2000)
    formatted = F.date_format("ts", "dd/MMM/yyyy:HH:mm:ss")
    parsed = time_parse_col(formatted, "%d/%b/%Y:%H:%M:%S")
    return ev.select("event_id", parsed.cast("long").alias("epoch"))


# ---- training-data ops ----

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(_t(spark, sf_dir, "documents"))


def q_dedup_exact_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup run to completion: the documents table is
    replayed as two micro-batches (originals first, then a duplicated
    slice re-keyed past 1e9), maxFilesPerTrigger=1 so the duplicates
    genuinely cross the state store between batches. Survivors are
    deterministically the originals (mtime-ordered replay), and the
    documents table has no internal text dups, so the oracle is the
    identity projection of the batch table.
    """
    import tempfile

    from fluent_bit_spark.streaming.dedup import (
        dedup_available_now,
        write_duplicated_stream_input,
    )

    from pyspark.sql import Window

    # pre-dedup internal text duplicates deterministically (min doc_id
    # per text): the sf0.1 corpus HAS same-text documents, and a
    # within-micro-batch dropDuplicates survivor among them is not
    # deterministic — the state-store behavior under test is the
    # CROSS-batch dedup of the re-keyed replay slice, which survives
    # this intact, and the oracle stays exact at any scale
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "text", "lang")
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("text").orderBy(F.col("doc_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    d = tempfile.mkdtemp(prefix="dedup_stream_")
    write_duplicated_stream_input(
        docs, d, F.col("doc_id") % 10 == 0, id_col="doc_id"
    )
    out = dedup_available_now(
        spark,
        d,
        "doc_id long, text string, lang string",
        max_files_per_trigger=1,
    )
    return out.select("doc_id", "digest", "lang")


# ---- web-corpus curation ops (Gopher/C4-style, webtext axis) ----

def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import gopher_quality_cols

    return gopher_quality_cols(_t(spark, sf_dir, "documents")).select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "symbol_word_ratio",
        "alpha_word_ratio",
        "gopher_pass",
    )


def q_line_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import (
        line_repetition_cols,
        spark_chunk_lines,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "lines", F.expr(spark_chunk_lines("text"))
    )
    return line_repetition_cols(docs).select(
        "doc_id", "n_lines", "dup_line_frac", "dup_line_char_frac"
    )


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import (
        dedup_lines_cols,
        spark_chunk_lines,
    )

    docs = _t(spark, sf_dir, "documents").withColumn(
        "lines", F.expr(spark_chunk_lines("text"))
    )
    return dedup_lines_cols(docs).select(
        "doc_id",
        "n_lines_in",
        "n_lines_out",
        F.md5("clean_text").alias("clean_digest"),
    )


def q_top_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import top_ngram_coverage

    return top_ngram_coverage(_t(spark, sf_dir, "documents"), n=2)


def q_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import domain_cap

    return domain_cap(
        _t(spark, sf_dir, "documents"), max_per_domain=10
    ).withColumn("domain_rank", F.col("domain_rank").cast("long"))


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import stratified_sample

    return stratified_sample(
        _t(spark, sf_dir, "documents"), ["source"], n_per_stratum=5
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import token_budget_pack
    from fluent_bit_spark.textprep.textstats import token_count_cols

    docs = token_count_cols(_t(spark, sf_dir, "documents"))
    return token_budget_pack(
        docs, budget=500, key_cols=["lang"], token_col="ws_tokens"
    ).withColumn("ws_tokens", F.col("ws_tokens").cast("bigint"))


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import pii_scrub_cols

    # the fixture corpus has no PII; synthesize it deterministically
    # (same construction in the oracle) so the scrub has real work
    docs = _t(spark, sf_dir, "documents").withColumn(
        "text2",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1 (415) 555-01"),
            (F.col("doc_id") % 100).cast("string"),
            F.lit(" at 10.0."),
            (F.col("doc_id") % 256).cast("string"),
            F.lit(".7 end"),
        ),
    )
    return pii_scrub_cols(docs, "text2").select(
        "doc_id",
        "n_email",
        "n_ip",
        "n_phone",
        F.md5("scrubbed").alias("scrub_digest"),
    )


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import (
        c4_clean_cols,
        spark_chunk_lines,
    )

    # chunked pseudo-lines with content-keyed terminal punctuation so
    # the keep-rule has signal on the newline-free fixture corpus
    lines = spark_chunk_lines("text")
    docs = _t(spark, sf_dir, "documents").withColumn(
        "lines",
        F.expr(
            f"transform({lines}, l -> IF(length(l) % 3 = 0, concat(l, '.'), l))"
        ),
    )
    return c4_clean_cols(docs).select(
        "doc_id",
        "n_kept_lines",
        F.md5("clean_text").alias("clean_digest"),
        "c4_keep",
    )


def q_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.webfilters import benchmark_ngram_overlap

    docs = _t(spark, sf_dir, "documents")
    # deterministic stand-in benchmark corpus: every 50th document
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    return benchmark_ngram_overlap(docs, bench, n=8)


def q_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination: a 16 KB plan-literal bitset
    drops clean grams in codegen before any join; the exact confirm
    join makes the result identical to q_decontam (same oracle)."""
    from fluent_bit_spark.textprep.webfilters import benchmark_ngram_overlap_bloom

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 50 == 0).select("text")
    return benchmark_ngram_overlap_bloom(docs, bench, n=8)


def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor resize over REAL decoded pixels: per doc a
    vertical-gradient grayscale PNG (row y = (doc_id + y) % 256) is
    encoded in an Arrow UDF, decoded (zlib inflate + unfilter), and
    resized to 4x4. A gradient makes the resample itself checkable:
    the resized mean is avg over y in 0..3 of (doc_id + (y*h)//4) %
    256 — pure doc_id arithmetic for the oracle, but only if the
    floor index mapping picks exactly the right source rows."""
    from pyspark.sql import types as T

    from fluent_bit_spark.textprep.multimodal import decode_resize_stats

    @F.pandas_udf(T.BinaryType())
    def make_png(s: pd.Series) -> pd.Series:
        import struct
        import zlib

        def chunk(t: bytes, d: bytes) -> bytes:
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        out = []
        for did in s:
            did = int(did)
            w, h = did % 7 + 1, did % 16 + 1
            rows = b"".join(
                b"\x00" + bytes([(did + y) % 256]) * w for y in range(h)
            )
            out.append(
                b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))
                + chunk(b"IDAT", zlib.compress(rows))
                + chunk(b"IEND", b"")
            )
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    payloads = docs.select(
        F.col("doc_id").alias("id"), make_png("doc_id").alias("payload")
    )
    return decode_resize_stats(payloads, out_w=4, out_h=4)


def q_hash_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-hashing text vectorizer (hashing trick): 16-dim signed
    bucket counts, numpy bucket-add per Arrow batch (exact — every
    increment is ±1, so sums are order-independent integers).

    Gate shape: posexploded to (doc_id, dim, weight) scalars — the
    driver's pandas canonicalization cannot sort an array column
    (the r4 "unhashable type: 'list'" crash), and the exploded form
    compares every element exactly; weight casts to bigint because the
    bucket sums are integral by construction."""
    from fluent_bit_spark.textprep.simsearch import hash_embed

    emb = hash_embed(_t(spark, sf_dir, "documents"), dim=16)
    return emb.select(
        "doc_id", F.posexplode("embedding").alias("dim", "weight")
    ).withColumn("weight", F.col("weight").cast("bigint"))


def q_rag_chunk_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG indexing capstone: chunk the corpus (32 tokens, overlap 8),
    hash-embed every chunk, and retrieve exact cosine top-3 corpus
    chunks for each query-document chunk. Chunking and scoring are
    Catalyst; the embedding is one numpy bucket-add per Arrow batch;
    the query side broadcasts. Every stage is the already-oracled
    operator (doc_chunks + hash_embed + ann_cosine_topk), composed."""
    from fluent_bit_spark import cache
    from fluent_bit_spark.textprep.simsearch import cosine_topk, hash_embed
    from fluent_bit_spark.textprep.webfilters import chunk_documents

    from fluent_bit_spark.textprep.dedup import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    # persisted: the query-side collect and the corpus-side scoring
    # job would otherwise each recompute the chunk+embed lineage
    emb = cache.track(
        hash_embed(chunks, dim=16, text_col="chunk_text").withColumn(
            "vec_id", (F.col("doc_id") * 1000 + F.col("chunk_id")).cast("bigint")
        )
    )
    queries = emb.filter(F.col("doc_id") % 100 == 0)
    corpus = emb.filter(F.col("doc_id") % 100 != 0)
    return cosine_topk(corpus, queries, k=3)


def q_rag_chunk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB path of rag_chunk_topk: candidates restricted to the
    query chunk's hyperplane-LSH bucket (data bucketed once; at scale
    the chunk index is WRITTEN partitioned by bucket and each query
    probes one partition)."""
    from fluent_bit_spark import cache
    from fluent_bit_spark.textprep.simsearch import hash_embed, lsh_topk
    from fluent_bit_spark.textprep.webfilters import chunk_documents

    from fluent_bit_spark.textprep.dedup import ensure_parallelism

    docs = ensure_parallelism(_t(spark, sf_dir, "documents"))
    chunks = chunk_documents(docs, chunk_tokens=32, overlap=8)
    emb = cache.track(
        hash_embed(chunks, dim=16, text_col="chunk_text").withColumn(
            "vec_id", (F.col("doc_id") * 1000 + F.col("chunk_id")).cast("bigint")
        )
    )
    queries = emb.filter(F.col("doc_id") % 100 == 0)
    corpus = emb.filter(F.col("doc_id") % 100 != 0)
    return lsh_topk(corpus, queries, k=3, n_planes=6, dim=16)


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG/embedding prep: 32-token chunks with 8-token overlap —
    map-only generate+slice, zero shuffles at any corpus size."""
    from fluent_bit_spark.textprep.webfilters import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, overlap=8
    )


def q_multimodal_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio nearest-neighbor resampling over REAL decoded PCM: per doc
    a 16-bit sawtooth WAV (sample k = (doc_id + k) % 100 - 100) is
    encoded in an Arrow UDF, decoded (RIFF/fmt/data walk), resampled
    to 8 samples, and reduced to mean-square power — exact eighths
    arithmetic the oracle reproduces only if the floor index map picks
    exactly the right source samples."""
    from pyspark.sql import types as T

    from fluent_bit_spark.textprep.multimodal import decode_audio_resample_stats

    @F.pandas_udf(T.BinaryType())
    def make_wav(s: pd.Series) -> pd.Series:
        import struct

        out = []
        for did in s:
            did = int(did)
            n = did % 50 + 10
            rate = 8000
            data = b"".join(
                struct.pack("<h", (did + k) % 100 - 100) for k in range(n)
            )
            fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
            out.append(
                b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                + b"fmt " + struct.pack("<I", 16) + fmt
                + b"data" + struct.pack("<I", len(data)) + data
            )
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents")
    payloads = docs.select(
        F.col("doc_id").alias("id"), make_wav("doc_id").alias("payload")
    )
    return decode_audio_resample_stats(payloads, out_n=8)


def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: hash order + sharded read
    positions (one exchange + per-shard sort — the training-shard
    write plan)."""
    from fluent_bit_spark.textprep.webfilters import corpus_shuffle

    return corpus_shuffle(_t(spark, sf_dir, "documents"), n_shards=16, salt="ep0:")


def q_grok_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok front-end through the regex machinery: %{...} macros
    expand to the named-group regex the [PARSER] path already
    compiles (JVM regexp_extract, typed casts). The line is
    synthesized from events columns identically in both engines."""
    from fluent_bit_spark.parsers import apply_parser
    from fluent_bit_spark.parsers.grok import grok_parser

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.expr(
            "concat(event_type, ' ', cast(user_id as string), "
            "' path=/e/', cast(event_id as string))"
        ).alias("text"),
    )
    spec = grok_parser(
        "ev_grok", "%{WORD:etype} %{INT:uid:int} path=%{NOTSPACE:epath}"
    )
    return apply_parser(ev, "text", spec).select(
        "event_id", "etype", "uid", "epath"
    )


def q_grok_conf_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end classic-conf grok parity (VERDICT r3 #5): a [PARSER]
    Format grok with typed captures + Time_Key feeds filter_parser's
    multi-parser try-order (json first, grok fallback — the
    src/flb_parser.c:1044-1065 dispatch shape), the grok Types casts
    land as column types, and the parser-extracted time replaces the
    record time (tests/internal/data/parser/regex.conf matrix)."""
    from fluent_bit_spark.operators.parser_filter import filter_parser
    from fluent_bit_spark.parsers.config import parse_parsers_conf
    from fluent_bit_spark.textprep.dedup import ensure_parallelism

    conf = (
        "[PARSER]\n    Name j\n    Format json\n    Keys k\n"
        "[PARSER]\n"
        "    Name apache_grok\n"
        "    Format grok\n"
        "    Grok_Pattern %{WORD:verb} %{NOTSPACE:apath} "
        "code=%{INT:code:int} took=%{NUMBER:took:float} "
        "t=%{NOTSPACE:tstr}\n"
        "    Types verb:string\n"
        "    Time_Key tstr\n"
        "    Time_Format %d/%b/%Y:%H:%M:%S\n"
    )
    specs = parse_parsers_conf(conf)
    ev = ensure_parallelism(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.col("ts").alias("event_time"),
        F.when(F.col("event_id") % 3 == 0, F.col("props"))
        .otherwise(
            F.expr(
                "concat('get /p/', cast(user_id as string), "
                "' code=', cast(200 + event_id % 5 as string), "
                "' took=', cast(event_id % 97 as string), '.', "
                "cast(user_id % 10 as string), "
                "' t=', date_format(ts, 'dd/MMM/yyyy:HH:mm:ss'))"
            )
        )
        .alias("log"),
    )
    out = filter_parser(
        ev, "log", [specs["j"], specs["apache_grok"]], reserve_data=True
    )
    return out.select(
        "event_id",
        "k",
        "verb",
        "apath",
        "code",
        F.round(F.col("took"), 4).alias("took"),
        F.unix_timestamp("event_time").alias("epoch"),
    )


def q_kubernetes_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_kubernetes shape end-to-end WITHOUT the network: the
    reference tag regex (kube_regex.h:25) parses synthetic container
    log tags built from events, and the (namespace,pod) broadcast
    metadata join fills pod_id/host/labels — exactly what the live
    path does after KubeMetaClient fetches (fluent_bit_spark/k8s.py;
    the live client itself is pytest-verified against a real local
    HTTP API server in tests/test_k8s.py). Deterministic docker_id =
    md5(user_id) doubled to 64 hex chars in both engines."""
    from fluent_bit_spark.k8s import kubernetes_filter

    ev = _t(spark, sf_dir, "events")
    did = F.concat(F.md5(F.col("user_id").cast("string")),
                   F.md5(F.col("user_id").cast("string")))
    tagged = ev.select(
        F.concat(
            F.lit("kube.var.log.containers.pod-"),
            (F.col("user_id") % 20).cast("string"),
            F.lit("_ns"),
            (F.col("event_id") % 3).cast("string"),
            F.lit("_"),
            F.col("event_type"),
            F.lit("-"),
            did,
            F.lit(".log"),
        ).alias("tag"),
        "event_id",
        F.col("props").alias("log"),
    )
    meta = spark.range(0, 20).select(
        F.concat(F.lit("ns"), (F.col("id") % 3).cast("string")).alias(
            "namespace_name"
        ),
        F.concat(F.lit("pod-"), F.col("id").cast("string")).alias("pod_name"),
        F.md5(F.col("id").cast("string")).alias("pod_id"),
        F.create_map(F.lit("app"), F.concat(F.lit("app-"), (F.col("id") % 4).cast("string"))).alias("labels"),
        F.lit(None).cast("map<string,string>").alias("annotations"),
        F.concat(F.lit("node-"), (F.col("id") % 5).cast("string")).alias("host"),
        F.concat(F.lit("10.0.0."), F.col("id").cast("string")).alias("pod_ip"),
    )
    out = kubernetes_filter(tagged, metadata=meta)
    return out.select(
        "event_id",
        F.col("kubernetes.pod_name").alias("pod_name"),
        F.col("kubernetes.namespace_name").alias("namespace_name"),
        F.col("kubernetes.container_name").alias("container_name"),
        F.col("kubernetes.docker_id").alias("docker_id"),
        F.col("kubernetes.pod_id").alias("pod_id"),
        F.col("kubernetes.labels")["app"].alias("app_label"),
        F.col("kubernetes.host").alias("host"),
        F.col("kubernetes.pod_ip").alias("pod_ip"),
    )


def q_wasm_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_wasm with a REAL WebAssembly binary on the pure-Python
    wasm MVP interpreter (fluent_bit_spark.wasm), exercising the
    reference contract (plugins/filter_wasm/filter_wasm.c JSON mode,
    src/wasm/flb_wasm.c:249 call ABI): the module scans the record
    JSON for `"event_type":"view"` in a hand-assembled strstr loop and
    returns an empty string (skip), otherwise appends `,"wasm":1`
    before the closing brace and returns the new record pointer.
    Timestamps are always preserved (unlike lua, the wasm contract
    never replaces them)."""
    from fluent_bit_spark.operators.wasm_filter import wasm_filter_typed
    from fluent_bit_spark.wasm.builder import demo_filter_module

    ev = _ep(_t(spark, sf_dir, "events")).select(
        F.concat(F.lit("ev."), F.col("event_type")).alias("tag"),
        F.col("ts").cast("double").alias("event_time"),
        "event_id",
        "user_id",
        "event_type",
        "value",
    )
    out = wasm_filter_typed(
        ev,
        demo_filter_module(needle=b'"event_type":"view"'),
        extra_schema="wasm bigint",
    )
    return out.select(
        "tag",
        F.col("event_time").cast("long").alias("epoch"),
        "event_id",
        "user_id",
        "event_type",
        "value",
        "wasm",
    )


def q_lua_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_lua with a REAL Lua script on the pure-Python Lua 5.1
    interpreter (fluent_bit_spark.lua), exercising every return code
    of the reference contract (plugins/filter_lua/lua.c): -1 drop,
    2 replace-keep-timestamp, and 1 replace-with-new-timestamp plus
    a 1->2 array split emitting an audit record. The script runs in
    Arrow-batched mapInPandas (one interpreter per partition, AST
    parsed once on the driver); the oracle replays the same logic in
    SQL. Timestamps floor to whole seconds on both sides (DuckDB's
    double->bigint cast rounds, Spark's truncates)."""
    from fluent_bit_spark.operators.lua_filter import lua_filter_typed

    ev = _ep(_t(spark, sf_dir, "events")).select(
        F.concat(F.lit("ev."), F.col("event_type")).alias("tag"),
        F.col("ts").cast("double").alias("event_time"),
        "event_id",
        "user_id",
        "event_type",
        "value",
    )
    script = """
function cb_filter(tag, ts, record)
  if record["value"] < 1.0 then return -1, 0, 0 end
  if record["event_type"] == "purchase" then
    local audit = {event_id = record["event_id"],
                   user_id = record["user_id"],
                   event_type = "audit",
                   value = record["value"] * 2.0}
    record["flagged"] = string.upper(tag)
    return 1, ts + 1.0, {record, audit}
  end
  record["vbucket"] = math.floor(record["value"] / 10.0)
  return 2, ts, record
end
"""
    out = lua_filter_typed(
        ev, script, extra_schema="flagged string, vbucket bigint"
    )
    return out.select(
        "tag",
        F.col("event_time").cast("long").alias("epoch"),
        "event_id",
        "user_id",
        "event_type",
        "value",
        "flagged",
        "vbucket",
    )


def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical text for dedup/shingling: lowercase + accent fold +
    control strip + whitespace collapse, zero-shuffle codegen. The
    fixture text is already clean, so deterministic noise (case flips,
    accents, doubled spaces, a control char) is injected identically
    in both engines and must normalize back to a canonical form."""
    from fluent_bit_spark.textprep.textstats import normalize_text_col

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.expr(
            "concat(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END, "
            "CASE WHEN doc_id % 2 = 0 THEN '  Café\\tÑandú ' ELSE '' END, "
            "CASE WHEN doc_id % 5 = 0 THEN concat(chr(9), 'x', chr(1)) "
            "ELSE '' END)"
        ),
    )
    return normalize_text_col(docs).select("doc_id", "norm_text")


def q_length_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang corpus length card with EXACT percentiles (value-count
    map aggregation — scale-safe for bounded-cardinality measures)."""
    from fluent_bit_spark.textprep.textstats import length_quantile_card

    return length_quantile_card(_t(spark, sf_dir, "documents"))


def q_bpe_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed half of BPE training: one map-side-combinable
    word-count shuffle, capped with a deterministic order."""
    from fluent_bit_spark.textprep.bpe import word_counts

    return word_counts(_t(spark, sf_dir, "documents"), top_k=200)


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train BPE merges from the corpus word table, then tokenize the
    corpus (Arrow-batched, per-distinct-word cache). The within-word
    merge walk is iterative/data-dependent — not SQL-expressible, so
    this entry is rows-only; segmentation parity is pytest-golden
    against the classic reference algorithm (tests/test_bpe.py)."""
    from fluent_bit_spark.textprep.bpe import bpe_apply, bpe_train, word_counts

    docs = _t(spark, sf_dir, "documents")
    merges = bpe_train(word_counts(docs, top_k=10000), n_merges=200)
    return bpe_apply(docs, merges).select(
        "doc_id", F.col("n_bpe_tokens"), F.col("bpe_tokens")[0].alias("first_tok")
    )


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold=0.2)


def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH with the signature-estimate triage: est >= 0.325
    accepted on sigs alone, est <= 0.075 rejected, only the borderline
    band pays the exact shingle intersection (the oracle mirrors the
    identical decision rule)."""
    return minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.2, est_margin=0.125
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_col(_t(spark, sf_dir, "documents")).select("doc_id", "simhash")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair graph -> connected components -> one canonical doc per
    cluster (min-label propagation; oracle = recursive-CTE reachability)."""
    from fluent_bit_spark.textprep.clusters import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.2, est_margin=0.125).select(
        "id_a", "id_b"
    )
    # the label/edge tables are tiny next to the corpus: bound the
    # loop's per-round task count (None at real scale — see docstring)
    return dedup_clusters(docs, pairs, loop_partitions=8)


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-crawl-batch dedup against the accepted corpus index (exact
    digest anti-join + LSH band probe), never index x index."""
    from fluent_bit_spark.textprep.clusters import incremental_dedup

    docs = _t(spark, sf_dir, "documents")
    return incremental_dedup(
        docs.filter(F.col("doc_id") % 5 != 0),
        docs.filter(F.col("doc_id") % 5 == 0),
        sim_threshold=0.25,
    )


def _spans_docs(docs: DataFrame) -> DataFrame:
    # the fixture corpus has no repeated 8-gram runs; splice in
    # deterministic boilerplate (license suffix / newsletter prefix)
    # exactly as a real crawl would carry it, same construction in SQL
    suffix = (
        " end of document this content is licensed under the creative"
        " commons attribution license version four point zero"
    )
    prefix = "subscribe to our newsletter for updates and offers today "
    return docs.withColumn(
        "text",
        F.concat(
            F.when(F.col("doc_id") % 6 == 0, F.lit(prefix)).otherwise(F.lit("")),
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(suffix)).otherwise(F.lit("")),
        ),
    )


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated n-gram span removal (Lee et al. hashed
    approximation): count -> join-back -> per-doc span merge."""
    from fluent_bit_spark.textprep.spans import duplicated_spans

    docs = _spans_docs(_t(spark, sf_dir, "documents"))
    return duplicated_spans(docs, n=8, min_count=2, broadcast_dups=True)


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.lmscore import lm_score

    return lm_score(_t(spark, sf_dir, "documents"))


def _url_pages(docs: DataFrame) -> DataFrame:
    url = F.concat(
        F.lit("https://"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("www.")).otherwise(F.lit("")),
        F.col("source"),
        F.element_at(
            F.expr("array('.co.uk', '.com', '.org', '.net')"),
            (F.col("doc_id") % 4 + 1).cast("int"),
        ),
        F.lit("/"),
        F.col("lang"),
        F.lit("/doc"),
        F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 17 == 0, F.lit("/casino")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 == 0, F.lit("/")).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 7 == 0, F.lit("?utm_source=feed")).otherwise(
            F.lit("")
        ),
    )
    return docs.select("doc_id", url.alias("url"))


def q_url_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL gate: host/registrable-domain parse, normalization, broadcast
    blocklist join, path-keyword regex (C4/RefinedWeb-style)."""
    from fluent_bit_spark.textprep.urltools import url_filter

    docs = _t(spark, sf_dir, "documents")
    return url_filter(_url_pages(docs), _url_blocklist(docs)).select(
        "doc_id", "host", "reg_domain", "path", "norm_url",
        "blocked_domain", "blocked_path", "url_allow",
    )


def q_incremental_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming incremental dedup run to completion: a frozen index
    (doc_id %5 != 0) gates a two-micro-batch replay of the new batch
    (doc_id %5 == 0). Batch 0 carries the originals PLUS re-keyed
    copies of index documents (must be dropped by the stream-static
    digest join); batch 1 replays a re-keyed slice of the originals
    (must be dropped by the state store across micro-batches). The
    surviving set is deterministically the %5==0 originals — the
    oracle's identity projection."""
    import tempfile

    from fluent_bit_spark.streaming.dedup import (
        incremental_available_now,
        with_digest,
        write_duplicated_stream_input,
    )

    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    index = docs.filter(F.col("doc_id") % 5 != 0)
    # the sf0.1 corpus has genuine same-text docs, both inside the new
    # batch and straddling batch/index — those survivors are decided
    # by within-micro-batch ordering, not by the operators under test
    # (stream-static index join + cross-batch state store, which the
    # injected re-keyed copies exercise). Keep the batch text-unique
    # and index-disjoint so the oracle is exact at any scale.
    batch = (
        docs.filter(F.col("doc_id") % 5 == 0)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("text").orderBy(F.col("doc_id"))
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
        .join(index.select("text"), "text", "left_anti")
        .select("doc_id", "text", "lang")
    )
    inject = index.filter(F.col("doc_id") % 7 == 1).withColumn(
        "doc_id", F.col("doc_id") + F.lit(2_000_000_000)
    )
    d = tempfile.mkdtemp(prefix="incdedup_stream_")
    write_duplicated_stream_input(
        batch.unionByName(inject), d, F.col("doc_id") % 10 == 0, id_col="doc_id"
    )
    out = incremental_available_now(
        spark,
        d,
        "doc_id long, text string, lang string",
        with_digest(index).select("digest"),
    )
    return out.select("doc_id", "digest", "lang")


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topic-bucketing card: nearest-centroid assignment over the whole
    embedding table (Arrow path) + integer-safe per-cell stats.

    Centroids are ``fixed_centroids`` literals (data-independent,
    normalized driver-side) so the oracle consumes the IDENTICAL
    doubles — the r3 driver red row came from the oracle re-deriving
    seed centroids in SQL; this removes that derivation entirely,
    mirroring the literal-hyperplane pattern that is driver-green in
    dedup_embedding_lsh."""
    from fluent_bit_spark.textprep.simsearch import cluster_card, fixed_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return cluster_card(emb, 16, centroids=fixed_centroids(DIM, 16))


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): nearest-
    centroid cells (the fixed_centroids literals both engines consume
    verbatim) + within-cell exact cosine, dropping the higher-id
    member of every pair >= 0.35 (the synthetic embeddings are near-
    orthogonal random vectors — 0.35 splits the corpus meaningfully,
    cf. the 0.3 thresholds of the neardup family). Per-vector verdict
    rows."""
    from fluent_bit_spark.textprep.simsearch import fixed_centroids, semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(
        emb, 16, threshold=0.35, centroids=fixed_centroids(DIM, 16), dim=DIM
    )


def q_ann_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8-quantized cosine top-k: integer-exact pair math, 4x smaller
    index scan (same query/data split as ann_cosine_topk)."""
    from fluent_bit_spark.textprep.simsearch import quantized_topk

    emb = _t(spark, sf_dir, "embeddings")
    return quantized_topk(
        emb.filter(F.col("vec_id") >= 10), emb.filter(F.col("vec_id") < 10), k=5
    )


def _url_blocklist(docs: DataFrame) -> DataFrame:
    h = F.expr(P.spark_h32("source"))
    return (
        docs.select("source").distinct()
        .select(
            F.when(h % 5 == 0, F.concat(F.col("source"), F.lit(".com")))
            .when(h % 5 == 1, F.concat(F.col("source"), F.lit(".co.uk")))
            .alias("reg_domain")
        )
        .filter(F.col("reg_domain").isNotNull())
    )


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capstone curation composite: URL gate (blocklist + path words)
    -> corpus-wide duplicated-span gate -> unigram-LM quality gate ->
    exact dedup -> per-(registrable domain, lang) corpus card.

    Each stage's corpus is the previous stage's survivor set (the LM
    trains on span-gated docs, the span counts come from url-gated
    docs), exactly as chained in the SQL oracle. All gate thresholds
    compare values that are already rounded identically in both
    engines, and the card sums are integers — no float-order hazard.

    Scale notes: the gates are map-only over one scan + two broadcast
    joins (blocklist, dup-gram set) + one broadcast vocab join; the
    shuffles are the three corpus aggregations (gram count, vocab,
    card) and the dedup groupBy — all partial-agg combinable."""
    from fluent_bit_spark.textprep.curation import curate

    docs = _t(spark, sf_dir, "documents")
    pages = _url_pages(docs).join(docs.select("doc_id", "text", "lang"), "doc_id")
    return curate(pages, _url_blocklist(docs)).card


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy-concat packing of docs into fixed-length training
    sequences per language (seq id + offset + boundary-straddle flag)."""
    from fluent_bit_spark.textprep.webfilters import sequence_pack

    docs = token_count_cols(_t(spark, sf_dir, "documents"))
    return sequence_pack(docs, seq_len=256, key_cols=["lang"]).withColumn(
        "ws_tokens", F.col("ws_tokens").cast("bigint")
    )


def q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-aware train/val/test assignment (domain-hash buckets)
    with per-(split, lang) counts."""
    from fluent_bit_spark.textprep.webfilters import corpus_split_cols

    docs = corpus_split_cols(_t(spark, sf_dir, "documents"))
    return docs.groupBy("split", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_domains"),
    )


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination audit for split strategies: how many near-dup
    pairs straddle train/val/test under (a) per-document hashing,
    (b) per-domain hashing, (c) per-dup-cluster hashing. Cluster-keyed
    splitting is leakage-free BY CONSTRUCTION (both ends of every pair
    share a cluster) — the query proves it with a measured zero."""
    from fluent_bit_spark import cache
    from fluent_bit_spark.textprep.clusters import dedup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = cache.track(
        minhash_lsh_pairs(docs, threshold=0.2, est_margin=0.125).select(
            "id_a", "id_b"
        )
    )
    comp = dedup_clusters(docs, pairs, loop_partitions=8).select(
        "doc_id", "cluster_id"
    )

    def split_of(e) -> F.Column:
        b = e % 100
        return (
            F.when(b < 80, "train").when(b < 90, "val").otherwise("test")
        )

    meta = (
        docs.select("doc_id", "source")
        .join(comp, "doc_id")
        .select(
            "doc_id",
            split_of(F.expr(P.spark_h32("cast(doc_id as string)"))).alias("s_doc"),
            split_of(F.expr(P.spark_h32("source"))).alias("s_dom"),
            split_of(
                F.expr(P.spark_h32("cast(cluster_id as string)"))
            ).alias("s_clus"),
        )
    )
    a = meta.alias("a")
    b = meta.alias("b")
    j = (
        pairs.join(a, F.col("id_a") == F.col("a.doc_id"))
        .join(b, F.col("id_b") == F.col("b.doc_id"))
    )
    return j.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("a.s_doc") != F.col("b.s_doc")).cast("long")).alias(
            "cross_doc_split"
        ),
        F.sum((F.col("a.s_dom") != F.col("b.s_dom")).cast("long")).alias(
            "cross_domain_split"
        ),
        F.sum((F.col("a.s_clus") != F.col("b.s_clus")).cast("long")).alias(
            "cross_cluster_split"
        ),
    )


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return fingerprint_col(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return token_count_cols(_t(spark, sf_dir, "documents")).select(
        "doc_id", "ws_tokens", "bpe_tokens"
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_cols(_t(spark, sf_dir, "documents")).select(
        "doc_id", "n_chars", "n_tokens", "avg_token_len", "stopword_ratio", "alpha_ratio"
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lang_id_col(_t(spark, sf_dir, "documents")).select("doc_id", "pred_lang")


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    data = emb.filter(F.col("vec_id") >= 10)
    return cosine_topk(data, queries, k=5)


_IVF_CENTROID_CACHE: dict[str, list] = {}


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate top-k: nearest-centroid cells + n_probe probing
    (the partition-pruned 100 TB path next to the LSH variant). The
    centroid set is the index-build step — computed once per input
    and reused (at scale it is trained once and stored with the
    partitioned table, not rebuilt per query)."""
    from fluent_bit_spark.textprep.simsearch import ivf_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    data = emb.filter(F.col("vec_id") >= 10)
    cents = _IVF_CENTROID_CACHE.get(sf_dir)
    if cents is None:
        cents = _IVF_CENTROID_CACHE[sf_dir] = ivf_centroids(data, 16)
    return ivf_topk(data, queries, k=5, n_cells=16, n_probe=4, centroids=cents)


def q_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    data = emb.filter(F.col("vec_id") >= 10)
    return lsh_topk(data, queries, k=5, n_planes=6, dim=DIM)


def q_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text").cast("binary").alias("payload")
    )
    return binary_meta(docs, "payload").select(
        "doc_id", "media_bytes", "media_magic", "media_type"
    )


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("payload")
    )
    return extract_features(docs).select("id", "n_bytes", "width", "height")


def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL container decode round-trip: valid PNG / GIF / JPEG-SOF /
    RIFF-WAVE header bytes are assembled per doc in Catalyst, then
    `decode_meta` parses them back with the stdlib header decoder
    (multimodal.decode_header) — the oracle recomputes the embedded
    dimensions arithmetically."""
    from fluent_bit_spark.textprep.multimodal import decode_meta

    d = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 512 + 1).cast("long")
    h = ((F.col("doc_id") * 3) % 512 + 1).cast("long")
    ch = (F.col("doc_id") % 2 + 1).cast("long")
    rate = (F.lit(8000) + (F.col("doc_id") % 5) * 4000).cast("long")

    def be(c, n: int):  # big-endian hex, n bytes
        return F.lpad(F.lower(F.hex(c)), 2 * n, "0")

    def le(c, n: int):  # little-endian hex, n bytes
        return F.concat(
            *[be(F.shiftright(c, 8 * i).bitwiseAND(F.lit(255)), 1) for i in range(n)]
        )

    png = F.concat(
        F.lit("89504e470d0a1a0a0000000d49484452"), be(w, 4), be(h, 4),
        F.lit("08060000"),
    )
    gif = F.concat(F.lit("474946383961"), le(w, 2), le(h, 2), F.lit("00"))
    jpg = F.concat(F.lit("ffd8ffc0001108"), be(h, 2), be(w, 2), F.lit("03"))
    wav = F.concat(
        F.lit("524946462400000057415645666d7420100000000100"),
        le(ch, 2), le(rate, 4),
    )
    m = F.col("doc_id") % 4
    payload = F.unhex(
        F.when(m == 0, png).when(m == 1, gif).when(m == 2, jpg).otherwise(wav)
    )
    return decode_meta(d.select(F.col("doc_id").alias("id"), payload.alias("payload")))


def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("id"), F.col("text").cast("binary").alias("payload")
    )
    return sample_frames(docs, every_n_bytes=256, max_frames=8)


def q_multimodal_pixels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL pixel/sample decode round trip: per doc, a REAL solid-color
    PNG (zlib deflate + filter-0 scanlines), a REAL solid-color GIF
    (valid LZW stream + global color table), a REAL flat grayscale
    baseline JPEG (quant-1 DC-only blocks + canonical huffman), or a
    REAL PCM WAV is encoded in an Arrow UDF, then decode_pixel_stats
    inflates+unfilters the PNG / LZW-decompresses the GIF /
    huffman+IDCT-decodes the JPEG / walks the WAV chunks and reports
    pixel means / sample RMS. Solid color, flat blocks and constant
    amplitude make the expected stats pure doc_id arithmetic — the
    oracle recomputes them without touching any codec."""
    from pyspark.sql import types as T

    from fluent_bit_spark.textprep.multimodal import decode_pixel_stats

    @F.pandas_udf(T.BinaryType())
    def make_payload(s: pd.Series) -> pd.Series:
        import struct
        import zlib

        def chunk(t: bytes, d: bytes) -> bytes:
            return (
                struct.pack(">I", len(d)) + t + d
                + struct.pack(">I", zlib.crc32(t + d) & 0xFFFFFFFF)
            )

        def gif(w: int, h: int, rgb: bytes) -> bytes:
            # valid LZW stream, min code size 2: CLEAR before every
            # literal keeps the table empty and the code width at 3
            # bits — tiny and trivially spec-conformant
            acc = nacc = 0
            lzw = bytearray()
            for code in [4] + [0, 4] * (w * h - 1) + [0, 5]:
                acc |= code << nacc
                nacc += 3
                while nacc >= 8:
                    lzw.append(acc & 0xFF)
                    acc >>= 8
                    nacc -= 8
            if nacc:
                lzw.append(acc & 0xFF)
            blocks = b"".join(
                bytes([len(lzw[i : i + 255])]) + lzw[i : i + 255]
                for i in range(0, len(lzw), 255)
            )
            return (
                b"GIF89a" + struct.pack("<HHBBB", w, h, 0x81, 0, 0)
                + rgb + b"\x00" * 9  # 4-entry global color table
                + b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
                + b"\x02" + blocks + b"\x00\x3b"
            )

        def jpeg_gray(w: int, h: int, v: int) -> bytes:
            # baseline grayscale, quant all-1s, flat canonical huffman
            # tables (DC categories at 8 bits, full AC set at 16 bits);
            # a flat image is DC-only, so quant-1 decode is EXACTLY v
            dc = round(8 * (v - 128))
            out = bytearray()
            acc = nacc = 0

            def emit(code: int, ln: int):
                nonlocal acc, nacc
                for i in range(ln - 1, -1, -1):
                    acc = acc << 1 | (code >> i & 1)
                    nacc += 1
                    if nacc == 8:
                        out.append(acc)
                        if acc == 0xFF:
                            out.append(0)
                        acc = nacc = 0

            for b in range(-(-w // 8) * -(-h // 8)):
                diff = dc if b == 0 else 0
                t = abs(diff).bit_length()
                emit(t, 8)  # DC category code == category (flat table)
                if t:
                    emit(diff if diff > 0 else diff + (1 << t) - 1, t)
                emit(0, 16)  # EOB (first AC symbol)
            while nacc:
                emit(1, 1)
            ac_syms = bytes(
                [0x00, 0xF0] + [(r << 4) | sz for r in range(16) for sz in range(1, 11)]
            )
            return (
                b"\xff\xd8"
                + b"\xff\xdb" + (67).to_bytes(2, "big") + b"\x00" + bytes([1]) * 64
                + b"\xff\xc4" + (31).to_bytes(2, "big") + b"\x00"
                + bytes([0] * 7 + [12] + [0] * 8) + bytes(range(12))
                + b"\xff\xc4" + (181).to_bytes(2, "big") + b"\x10"
                + bytes([0] * 15 + [162]) + ac_syms
                + b"\xff\xc0" + (11).to_bytes(2, "big") + bytes([8])
                + h.to_bytes(2, "big") + w.to_bytes(2, "big")
                + bytes([1, 1, 0x11, 0])
                + b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, 1, 0x00, 0, 63, 0])
                + bytes(out) + b"\xff\xd9"
            )

        out = []
        for did in s:
            did = int(did)
            if did % 2 == 0:
                w = did % 16 + 1
                h = (did * 3) % 16 + 1
                rgb = bytes([did % 256, (did * 5) % 256, (did * 11) % 256])
                if did % 4 == 2:
                    out.append(gif(w, h, rgb))
                    continue
                if did % 8 == 4:
                    out.append(jpeg_gray(w, h, did % 256))
                    continue
                raw = (b"\x00" + rgb * w) * h
                ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
                out.append(
                    b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
                    + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
                )
            else:
                amp = did % 100 + 1
                n = did % 50 + 10
                rate = 8000 + (did % 5) * 4000
                data = struct.pack("<h", amp) * n
                fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
                out.append(
                    b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
                    + b"fmt " + struct.pack("<I", 16) + fmt
                    + b"data" + struct.pack("<I", len(data)) + data
                )
        return pd.Series(out)

    d = (
        _t(spark, sf_dir, "documents")
        .select("doc_id")
        .withColumn("payload", make_payload("doc_id"))
        .select(F.col("doc_id").alias("id"), "payload")
    )
    return decode_pixel_stats(d)


def q_ltm_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.log_to_metrics import counter_metric

    ev = _t(spark, sf_dir, "events")
    return counter_metric(ev, ["event_type"], match=F.col("value") >= 100)


def q_ltm_gauge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.log_to_metrics import gauge_metric

    ev = _t(spark, sf_dir, "events")
    return gauge_metric(ev, ["event_type"], "value", order_col="event_id")


def q_ltm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.log_to_metrics import histogram_metric

    ev = _t(spark, sf_dir, "events")
    out = histogram_metric(ev, ["event_type"], "value", buckets=[50.0, 100.0, 200.0])
    return out.select(
        "event_type", "le", "bucket_count",
        F.round("metric_sum", 4).alias("metric_sum"), "metric_count",
    )


def q_metrics_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_labels over a metrics table (labels.c:1871-1891
    callback order): delete -> update($TAG) -> upsert -> insert ->
    hash, all pure Catalyst map expressions."""
    from fluent_bit_spark.operators.metrics_processors import apply_labels, labels_str

    ev = _t(spark, sf_dir, "events")
    metrics = (
        ev.groupBy("event_type", (F.col("user_id") % 3).alias("h"))
        .agg(F.count(F.lit(1)).cast("double").alias("value"))
        .select(
            F.lit("fb_events_total").alias("metric_name"),
            F.concat(F.lit("metrics."), F.col("event_type")).alias("tag"),
            F.create_map(
                F.lit("type"), F.col("event_type"),
                F.lit("host"), F.concat(F.lit("h"), F.col("h")),
                F.lit("svc"), F.substring("event_type", 1, 2),
            ).alias("labels"),
            "value",
        )
    )
    out = apply_labels(
        metrics,
        delete=["host"],
        update=[("svc", "$TAG")],
        upsert=[("env", "prod")],
        insert=[("type", "ignored"), ("stage", "agg")],
        hash_keys=["svc"],
        tag_col="tag",
    )
    return out.select("metric_name", labels_str().alias("labels_str"), "value")


def q_metrics_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_metrics_selector (selector.c): regex include on
    fqname, then context=delete_label_value dropping one label pair."""
    from fluent_bit_spark.operators.metrics_processors import labels_str, select_metrics

    ev = _t(spark, sf_dir, "events")
    per_type = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.round(F.sum("value"), 4).alias("vsum"),
    )

    def series(name: str, value_col: str) -> DataFrame:
        return per_type.select(
            F.lit(name).alias("metric_name"),
            F.create_map(F.lit("type"), F.col("event_type")).alias("labels"),
            F.col(value_col).cast("double").alias("value"),
        )

    metrics = (
        series("fb_events_total", "cnt")
        .unionAll(series("fb_value_sum", "vsum"))
        .unionAll(series("node_up", "cnt").withColumn("value", F.lit(1.0)))
    )
    out = select_metrics(metrics, metric_name="/^fb_/", action="include")
    out = select_metrics(out, context="delete_label_value", label="type purchase")
    return out.select("metric_name", labels_str().alias("labels_str"), "value")


def q_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """North-rule extraction invariant: assemble adversarial HTML
    pages around documents.text (comments, style, a script whose body
    contains '<' and quotes, attributes, entities), run the pure-JVM
    extractor, and demand BYTE-IDENTICAL text back per doc."""
    from fluent_bit_spark.textprep.html import escape_html_col, html_to_text_col

    docs = _t(spark, sf_dir, "documents")
    page = F.concat(
        F.lit('<html><!-- crawler --><head><title>doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title><style>p{color:red}</style>'
              '<script>if(1<2){var x="</div>";}</script></head>'
              '<body><p class="t">&quot;'),
        escape_html_col(F.col("text")),
        F.lit('&quot; &amp; more</p></body></html>'),
    )
    assembled = docs.select("doc_id", page.cast("binary").alias("html"))
    return assembled.select(
        "doc_id",
        html_to_text_col(F.col("html"), keep="body").alias("extracted"),
    )


def q_corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite LLM-corpus-prep showcase over the north-rule page
    shape: synthesize (url, warc_ts, html, text, lang) pages, extract
    text from the raw html bytes (byte-identical invariant — the
    oracle starts from documents.text, so any extraction drift
    hash-mismatches), exact-dedup keeping the lexicographically first
    url per digest, apply integer quality gates (ws_tokens >= 3,
    alpha chars >= half the text), language-ID the survivors, and
    emit a per-language corpus card. All aggregates are integer sums
    so the comparison is exact (no float summation-order hazard).

    Scale notes: one digest-key shuffle for the dedup groupBy, one
    digest equi-join back (AQE-broadcastable when the survivor set is
    small), one pred_lang shuffle for the final card — everything
    else is whole-stage-codegen string work in a single pass."""
    from fluent_bit_spark.textprep.html import html_to_text_col

    docs = _t(spark, sf_dir, "documents")
    pages = _pages_from_documents(docs)
    base = pages.select(
        "url", html_to_text_col(F.col("html"), keep="body").alias("text")
    )
    groups = exact_dedup(base, text_col="text", id_col="url")
    kept = base.join(
        groups,
        (F.md5(base["text"]) == groups["digest"])
        & (base["url"] == groups["keep_id"]),
        "inner",
    ).select(base["url"], base["text"], groups["n_dups"])
    kept = lang_id_col(token_count_cols(kept))
    kept = kept.withColumn(
        "alpha_chars",
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).cast("bigint"),
    ).withColumn("n_chars", F.length("text").cast("bigint"))
    gated = kept.filter(
        (F.col("ws_tokens") >= 3) & (F.col("alpha_chars") * 2 >= F.col("n_chars"))
    )
    gated = gated.withColumn(
        "domain", F.regexp_extract("url", "https://([^/]+)/", 1)
    )
    return gated.groupBy("domain", "pred_lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_dups") - 1).alias("dups_removed"),
        F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("alpha_chars").alias("total_alpha_chars"),
    )


def q_corpus_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus pipeline under Structured Streaming: digest-unique
    originals (min-url survivor, matching the batch rule) replay as
    micro-batch 0, a re-keyed duplicated slice 30 minutes later as
    batch 1 (dropped by cross-batch dedup state, NOT by the
    watermark), and a far-future advancer page as batch 2 whose
    watermark finalizes every real card window. The oracle is the
    batch card over the digest-unique originals."""
    import tempfile

    from fluent_bit_spark.streaming.corpus import (
        corpus_card_available_now,
        write_replay_batches,
    )

    pages = _pages_from_documents(_t(spark, sf_dir, "documents"))
    w = Window.partitionBy(F.md5("text")).orderBy("url")
    originals = (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    dups = (
        originals.filter(F.crc32("url") % 4 == 0)
        .withColumn("url", F.concat("url", F.lit("?dup")))
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 MINUTES"))
    )
    adv = originals.limit(1).select(
        F.lit("https://adv.example/x").alias("url"),
        (F.col("warc_ts") + F.expr("INTERVAL 48 HOURS")).alias("warc_ts"),
        F.lit("<html><body><pre>advancer</pre></body></html>")
        .cast("binary")
        .alias("html"),
        F.lit("advancer").alias("text"),
        F.lit("en").alias("lang"),
    )
    d = tempfile.mkdtemp(prefix="corpus_stream_")
    write_replay_batches([originals, dups, adv], d)
    out = corpus_card_available_now(spark, d, max_files_per_trigger=1)
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "domain",
        "pred_lang",
        "n_docs",
        "total_ws_tokens",
        "total_chars",
        "total_alpha_chars",
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user (F.session_window; the
    window-family completion next to sp tumbling/hopping). Oracle is
    the classic gaps-and-islands SQL."""
    from fluent_bit_spark.operators.sessionize import sessionize

    # whole-second timestamps on both sides: sub-second precision
    # would make epoch casts (floor vs round) and gap comparisons
    # diverge between the engines
    ev = _t(spark, sf_dir, "events").withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    out = sessionize(
        ev,
        ["user_id"],
        ts_col="ts",
        gap="4 hours",
        aggs=[F.round(F.sum("value"), 4).alias("sum_value")],
    )
    return out.select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        F.col("session_end").cast("long").alias("session_end"),
        "n_events",
        "sum_value",
    )


def q_otel_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_opentelemetry_envelope marker-row form
    (otel_envelope.c envelop_init/envelop_end): one OTLP group per
    tag with start/end markers around the payload rows."""
    from fluent_bit_spark.operators.otel_envelope import otel_envelope_rows

    ev = _t(spark, sf_dir, "events")
    tagged = ev.filter(F.col("event_id") < 500).select(
        F.concat(F.lit("app."), F.col("event_type")).alias("tag"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    out = otel_envelope_rows(tagged, ["tag"])
    return out.select(
        "tag", "record_type", "otel_schema", "resource_id", "scope_id",
        "seq", "event_id", "value",
    )


def q_snapshot_flush(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.snapshot import snapshot_flush

    ev = _t(spark, sf_dir, "events")
    out = snapshot_flush(
        ev,
        F.col("value") >= 480,
        ts_col="ts",
        limit=3,
        partition_cols=["event_type"],
        id_col="event_id",
    )
    return out.select("trigger_id", "event_id", "event_type")


def q_sp_tumbling_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-Streaming tumbling window run to completion
    (availableNow + watermark) and compared to the batch oracle.

    The watermark (delay 0) finalizes every window whose end <=
    max(ts); the still-open trailing window is withheld — the oracle
    excludes it the same way. This is the deterministic harness for
    the streaming path (SURVEY §2.6 watermark upgrade over the
    reference's processing-time-only windows, flb_sp_window.c).
    """
    import os
    import tempfile

    from fluent_bit_spark.streaming.job import windowed_agg_available_now

    # FileStreamSource requires a directory; expose the single parquet
    # file through a symlinked temp dir
    d = tempfile.mkdtemp(prefix="sp_stream_")
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    out = windowed_agg_available_now(
        spark,
        d,
        schema,
        "ts",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("records"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        ],
        window_duration="1 minute",
        watermark_delay="0 seconds",
    )
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "records",
        "sum_value",
    )


def q_udf_hook(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.udf_hook import apply_hook

    ev = (
        _t(spark, sf_dir, "events")
        .filter(F.col("event_id") < 1000)
        .withColumn("tag", F.concat(F.lit("app."), F.col("event_type")))
    )

    def fn(tag, ts, record):
        v = record["value"]
        if v < 1:
            return -1, ts, None  # drop tiny values
        if v < 100:
            return 0, ts, None  # keep
        # split large events into two derived records (1->N)
        return 1, ts, [
            {"event_id": record["event_id"], "half": 1},
            {"event_id": record["event_id"], "half": 2},
        ]

    out = apply_hook(ev, fn, ts_col="ts", record_cols=["event_id", "value"])
    return out.select(
        "tag",
        F.col("ts").cast("long").alias("ts_sec"),
        F.get_json_object("record", "$.event_id").cast("long").alias("event_id"),
        F.get_json_object("record", "$.half").cast("int").alias("half"),
    )


def q_dedup_embedding_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.dedup import embedding_neardup_pairs

    return embedding_neardup_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.3)


def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.textprep.dedup import embedding_neardup_lsh

    return embedding_neardup_lsh(
        _t(spark, sf_dir, "embeddings"),
        threshold=0.3,
        n_planes=6,
        dim=DIM,
        max_bucket=1000,
    )


def q_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from fluent_bit_spark.operators.multiline import multiline_join

    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("file"),
        F.col("event_id").alias("seq"),
        F.when(
            F.col("value") >= 100, F.concat(F.lit("START "), F.col("event_type"))
        )
        .otherwise(F.concat(F.lit("  cont "), F.col("event_type")))
        .alias("line"),
    )
    out = multiline_join(ev, ["file"], "seq", "line", r"^START ")
    return out.select("file", "record_id", "n_lines", "first_seq")


def q_multiline_partial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter_multiline ``mode partial_message``: Docker split-message
    concat per (tag, partial_id) with packer epochs on id reuse
    (plugins/filter_multiline/ml.c:600-733, ml_concat.c). Synthetic
    fragments over events: 1/7 of rows are non-partial passthroughs,
    partial ids are deliberately REUSED so the epoch (running count of
    prior completed rows) splits groups exactly like packer
    destruction on emit."""
    from fluent_bit_spark.operators.multiline import partial_message_concat

    ev = _t(spark, sf_dir, "events").select(
        F.concat(F.lit("c."), (F.col("user_id") % 8).cast("string")).alias("tag"),
        F.col("event_id").alias("_seq"),
        F.concat(
            F.col("event_type"), F.lit("#"),
            (F.col("event_id") % 100).cast("string"), F.lit(";"),
        ).alias("log"),
        F.when(F.col("user_id") % 7 != 0, F.lit("true")).alias("partial_message"),
        (F.col("user_id") % 5).cast("string").alias("partial_id"),
        F.when(F.col("event_id") % 4 == 3, F.lit("true"))
        .otherwise(F.lit("false"))
        .alias("partial_last"),
    )
    out = partial_message_concat(
        ev, key_content="log", key_cols=["tag"], order_col="_seq"
    )
    return out.select("tag", "log", F.col("_seq").alias("first_seq"))


def _java_log_lines(
    spark: SparkSession, sf_dir: str, sentinel: bool = False
) -> DataFrame:
    """Synthesized java-stacktrace log lines over events: constrained
    alphabet (start / at-frame / caused-by / plain) keeps the DFA
    SQL-expressible. With ``sentinel``, each file gets a trailing
    plain line (seq beyond every event) that closes any pending
    record — making a streaming drain equal the batch join exactly."""
    uid = F.col("user_id").cast("string")
    m = F.col("event_id") % 10
    ev = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 50).alias("file"),
        F.col("event_id").alias("seq"),
        F.when(
            m <= 2,
            F.concat(
                F.lit("Exception in thread main "),
                F.col("event_type"),
                F.lit("Exception: code "),
                uid,
            ),
        )
        .when(
            m <= 7,
            F.concat(
                F.lit("     at com."),
                F.col("event_type"),
                F.lit(".Main(App.java:"),
                uid,
                F.lit(")"),
            ),
        )
        .when(m == 8, F.concat(F.lit("Caused by: timeout "), uid))
        .otherwise(F.concat(F.lit("plain "), F.col("event_type"), F.lit(" "), uid))
        .alias("line"),
    )
    if sentinel:
        tail = (
            ev.groupBy("file")
            .agg(F.max("seq").alias("_mx"))
            .select(
                "file",
                (F.col("_mx") + 1_000_000).alias("seq"),
                F.concat(F.lit("plain eof "), F.col("file").cast("string")).alias(
                    "line"
                ),
            )
        )
        ev = ev.unionByName(tail)
    return ev


def q_multiline_java(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Built-in java stacktrace state machine (flb_ml_parser_java.c)
    over synthesized log lines; the constrained line alphabet (start /
    at-frame / caused-by / plain) keeps the DFA SQL-expressible for the
    oracle: a continuation line attaches iff the most recent
    non-continuation line before it was an exception start."""
    from fluent_bit_spark.operators.multiline import ml_rules_join

    ev = _java_log_lines(spark, sf_dir)
    out = ml_rules_join(ev, ["file"], "seq", "line", "java")
    return out.select("file", "record_id", "n_lines", "first_seq", "record")


def q_multiline_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATEFUL STREAMING multiline (applyInPandasWithState pending
    buffer) drained with availableNow and verified against the same
    SQL oracle as the batch DFA: every file ends in a sentinel plain
    line, so no record is left pending and the streaming result is
    byte-equal to the batch join (flb_ml.c pending-buffer semantics)."""
    import tempfile
    import uuid as _uuid

    from fluent_bit_spark.streaming.multiline import streaming_multiline
    from fluent_bit_spark.streaming.job import run_stream_to_completion

    src = tempfile.mkdtemp(prefix="mls_src_")
    _java_log_lines(spark, sf_dir, sentinel=True).write.mode("overwrite").parquet(
        src
    )
    stream = (
        spark.readStream.schema("file bigint, seq bigint, line string")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    joined = streaming_multiline(
        stream, ["file"], "seq", "line", "java", flush_timeout_ms=None
    )
    name = "mls_" + _uuid.uuid4().hex[:10]
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    run_stream_to_completion(q)
    return spark.table(name).select(
        "file", "record_id", "n_lines", "first_seq", "record"
    )


def q_decoder_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decoder rule chaining inside a parser spec: json DEC_AS with
    try_next falls through to an escaped decode on invalid-json rows
    (flb_parser_decoder.c:392-520 chain semantics)."""
    from fluent_bit_spark.parsers.compile import apply_parser
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    conf = (
        "[PARSER]\n"
        "    Name chain\n"
        "    Format regex\n"
        "    Regex ^(?<etype>\\S+) (?<props>.*)$\n"
        "    Decode_Field_As json props try_next\n"
        "    Decode_Field_As escaped props\n"
    )
    spec = parse_parsers_conf(conf)["chain"]
    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.col("event_type"),
            F.lit(" "),
            F.when(F.col("event_id") % 3 == 0, F.lit(r"not-json\t")).otherwise(
                F.col("props")
            ),
        ).alias("text"),
    )
    out = apply_parser(ev, "text", spec)
    return out.select(
        "event_id",
        F.col("props").getItem("k").alias("k"),
        F.col("props_str").alias("props_str"),
    )


# ---- round-5 gate queries: the misc/out encoder family that had only
# pytest coverage through r4 (VERDICT r3 required every operator to
# carry BOTH a queries() entry and an oracle; these close the last 11)


def q_nats_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_nats publish element (plugins/out_nats/nats.c:81-140):
    ``[ts_double, {"tag": t, ...record}]`` — ts extracted back and
    rounded (Java double→string is scientific-notation formatted; the
    oracle compares the VALUE), the record object compared verbatim."""
    from fluent_bit_spark.functions.misc_out import to_nats_line

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("nats."), (F.col("event_id") % 3).cast("string"))
        .alias("tag"),
        "event_type", "user_id",
    )
    line = to_nats_line(ev, "ts")
    return ev.select(
        "event_id",
        F.round(F.regexp_extract(line, r"^\[([^,]+),", 1).cast("double"), 6)
        .alias("ts6"),
        F.regexp_extract(line, r"^\[[^,]+,(\{.*\})\]$", 1).alias("rec"),
    )


def q_logdna_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_logdna lines[] element (plugins/out_logdna/logdna.c:54-130):
    level picked from the record, file from config fallback, app from
    the "Fluent Bit" default, whole-second timestamp, and ``line`` the
    full record re-serialized as an escaped JSON string — compared as
    the complete encoded object."""
    from fluent_bit_spark.functions.misc_out import to_logdna_line

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id",
        F.col("event_type").alias("level"),
        "ts",
        F.lit("ld.0").alias("tag"),
    )
    return ev.select(
        "event_id",
        to_logdna_line(ev, "ts", file_conf="app.log").alias("line"),
    )


def q_slack_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_slack text line (plugins/out_slack/slack.c:150-235):
    ``["timestamp": <sec>.<9-digit nanos>, {"k"=>v, ...}]`` with
    msgpack_object_print value rendering (strings quoted, ints bare,
    doubles %f) — full line compared."""
    from fluent_bit_spark.functions.misc_out import to_slack_line

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("slack.0").alias("tag"),
        "event_type", "user_id", "value",
    )
    return ev.select(
        "event_id", to_slack_line(ev, "ts").alias("line")
    )


def q_td_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_td import row (plugins/out_td/td.c:44-100): the record with
    an appended epoch-seconds ``time`` key — full JSON compared."""
    from fluent_bit_spark.functions.misc_out import to_td_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("td.0").alias("tag"),
        "event_type", "user_id",
    )
    return ev.select(
        "event_id", to_td_record(ev, "ts").alias("rec")
    )


def q_nrlogs_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_nrlogs logs[] element (plugins/out_nrlogs/newrelic.c:55-145):
    ms timestamp, message sourced from ``log`` (which wins over
    ``message``), the loser and the rest under attributes — full JSON
    compared, exercising the precedence rule."""
    from fluent_bit_spark.functions.misc_out import to_newrelic_log

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("nr.0").alias("tag"),
        F.concat(F.lit("L"), F.col("event_id").cast("string")).alias("log"),
        F.concat(F.lit("m"), F.col("event_id").cast("string"))
        .alias("message"),
        "event_type",
    )
    return ev.select(
        "event_id", to_newrelic_log(ev, "ts").alias("rec")
    )


def q_skywalking_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_skywalking /v3/logs element (plugins/out_skywalking/
    skywalking.c:120-280): whole-second ms timestamp, service names,
    body.json.json carrying ONLY the string-typed record fields as an
    escaped JSON string (json-in-json, double escaping exercised via
    the props column's embedded quotes) — full JSON compared."""
    from fluent_bit_spark.functions.misc_out import to_skywalking_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("sw.0").alias("tag"),
        "event_type", "user_id", "props",
    )
    return ev.select(
        "event_id", to_skywalking_record(ev, "ts").alias("rec")
    )


def q_plot_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_plot gnuplot line (plugins/out_plot/plot.c:126-190):
    ``<%f epoch> <value>`` with the configured key (ints printed bare,
    doubles %f) — both the int-key and double-key renderings."""
    from fluent_bit_spark.functions.misc_out import to_plot_line

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("plot.0").alias("tag"),
        "user_id", "value",
    )
    return ev.select(
        "event_id",
        to_plot_line(ev, "ts", key="user_id").alias("line_int"),
        to_plot_line(ev, "ts", key="value").alias("line_dbl"),
    )


def q_kafka_rest_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_kafka_rest records[] element (plugins/out_kafka_rest/
    kafka.c:128-210): partition + static message key + value object
    led by the strftime'd whole-second @timestamp, record fields, and
    the include_tag_key tag under _flb-key — full JSON compared."""
    from fluent_bit_spark.functions.misc_out import to_kafka_rest_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("kr."), (F.col("event_id") % 2).cast("string"))
        .alias("tag"),
        "event_type", "user_id",
    )
    return ev.select(
        "event_id",
        to_kafka_rest_record(
            ev, "ts", message_key="mk", partition=7, include_tag_key=True
        ).alias("rec"),
    )


def q_pgsql_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_pgsql statement rendering (plugins/out_pgsql/pgsql.h:39-44):
    per-tag chunks aggregated into one JSON array body (order pinned
    by event_id) and wrapped in the exact INSERT ... SELECT
    to_timestamp(value->>'date') ... json_array_elements statement.
    The aggregation is one partial-agg groupBy on the tag; the body
    assembly is array_sort over (event_id, rec) structs so the chunk
    ordering is deterministic on any executor count."""
    from fluent_bit_spark.functions.misc_out import (
        pgsql_insert_col,
        to_http_record,
    )

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("pg."), (F.col("event_id") % 5).cast("string"))
        .alias("tag"),
        "event_type", "user_id",
    )
    rec = to_http_record(ev, "ts", date_key="date", date_format="epoch")
    grouped = (
        ev.select("tag", F.struct("event_id", rec.alias("rec")).alias("er"))
        .groupBy("tag")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("er")), lambda s: s["rec"]
                ),
                ",",
            ).alias("body")
        )
    )
    return grouped.select(
        "tag",
        pgsql_insert_col(
            "logs",
            F.col("tag"),
            F.concat(F.lit("["), F.col("body"), F.lit("]")),
        ).alias("insert_sql"),
    )


def q_kusto_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_azure_kusto ingestion record (plugins/out_azure_kusto/
    azure_kusto.c:990-1070): ISO8601+3-digit-ms timestamp, tag, and
    the record map under the log key — full JSON compared."""
    from fluent_bit_spark.functions.azure_out import to_kusto_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts",
        F.concat(F.lit("k."), (F.col("event_id") % 4).cast("string"))
        .alias("tag"),
        "event_type", "user_id",
    )
    return ev.select(
        "event_id", to_kusto_record(ev, "ts").alias("rec")
    )


def q_websocket_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """out_websocket frame body (plugins/out_websocket/websocket.c:
    flb_pack_msgpack_to_json_format with json_date_key/format, same
    core formatter as out_http): iso8601 date rendering compared as
    the FULL record string (http_encode extracts fields; this pins the
    byte-exact object)."""
    from fluent_bit_spark.functions.misc_out import to_http_record

    ev = _ep(_t(spark, sf_dir, "events")).select(
        "event_id", "ts", F.lit("ws.0").alias("tag"), "event_type",
    )
    return ev.select(
        "event_id",
        to_http_record(ev, "ts", date_key="date", date_format="iso8601")
        .alias("rec"),
    )


def _last_green_round() -> dict[str, int]:
    """Entry name -> the latest round whose CORRECTNESS artifact
    (``CORRECTNESS_r<round>.json`` beside this file) holds a
    hash-matched row for it."""
    import glob
    import json
    import re

    last: dict[str, int] = {}
    here = os.path.dirname(os.path.abspath(__file__))
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r[0-9]*.json")):
        rnd = int(re.search(r"_r(\d+)\.json$", path).group(1))
        with open(path) as fh:
            for name, row in json.load(fh).items():
                if isinstance(row, dict) and row.get("hash_match"):
                    last[name] = max(rnd, last.get(name, 0))
    return last


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry, ordered for the CORRECTNESS gate, which
    records only the first ~50 entries per round: entries never
    hash-verified come first, then the rest by the round they were last
    green in, oldest first. Ties keep registry order."""
    registry = {
        "remote_write_encode": q_remote_write_encode,
        "cmt_msgpack_encode": q_cmt_msgpack_encode,
        "ctr_msgpack_encode": q_ctr_msgpack_encode,
        "embedding_clusters": q_embedding_clusters,
        "hash_embed": q_hash_embed,
        "nats_encode": q_nats_encode,
        "logdna_encode": q_logdna_encode,
        "slack_encode": q_slack_encode,
        "td_encode": q_td_encode,
        "nrlogs_encode": q_nrlogs_encode,
        "skywalking_encode": q_skywalking_encode,
        "plot_encode": q_plot_encode,
        "kafka_rest_encode": q_kafka_rest_encode,
        "pgsql_insert": q_pgsql_insert,
        "kusto_encode": q_kusto_encode,
        "websocket_encode": q_websocket_encode,
        "semdedup": q_semdedup,
        "s3_key_format": q_s3_key_format,
        "host_cpu_percent": q_host_cpu_percent,
        "socket_framing": q_socket_framing,
        "hec_json_parse": q_hec_json_parse,
        "node_meminfo": q_node_meminfo,
        "nginx_status": q_nginx_status,
        "journal_export": q_journal_export,
        "bpe_tokenize": q_bpe_tokenize,
        "otlp_logs_encode": q_otlp_logs_encode,
        "kinesis_encode": q_kinesis_encode,
        "bigquery_encode": q_bigquery_encode,
        "http_in": q_http_in,
        "otlp_traces_in": q_otlp_traces_in,
        "otlp_traces_encode": q_otlp_traces_encode,
        "otlp_metrics_in": q_otlp_metrics_in,
        "otlp_metrics_encode": q_otlp_metrics_encode,
        "influx_metrics_encode": q_influx_metrics_encode,
        "splunk_metrics_encode": q_splunk_metrics_encode,
        "cloudwatch_emf_encode": q_cloudwatch_emf_encode,
        "cmt_text_encode": q_cmt_text_encode,
        "ctr_text_encode": q_ctr_text_encode,
        "json_escape": q_json_escape,
        "pack_dup_keys": q_pack_dup_keys,
        "incremental_dedup_stream": q_incremental_dedup_stream,
        "decontam_bloom": q_decontam_bloom,
        "text_normalize": q_text_normalize,
        "multimodal_resample": q_multimodal_resample,
        "rag_chunk_lsh": q_rag_chunk_lsh,
        "dedup_exact_stream": q_dedup_exact_stream,
        "grok_conf_parse": q_grok_conf_parse,
        "lua_script": q_lua_script,
        "wasm_filter": q_wasm_filter,
        "kubernetes_meta": q_kubernetes_meta,
        "multiline_partial": q_multiline_partial,
        "syslog_encode": q_syslog_encode,
        "influx_encode": q_influx_encode,
        "builtin_parsers": q_builtin_parsers,
        "statsd_parse": q_statsd_parse,
        "prom_text": q_prom_text,
        "kmsg_parse": q_kmsg_parse,
        "es_bulk": q_es_bulk,
        "kafka_encode": q_kafka_encode,
        "tf_infer": q_tf_infer,
        "nightfall_redact": q_nightfall_redact,
        "loki_encode": q_loki_encode,
        "splunk_hec": q_splunk_hec,
        "datadog_encode": q_datadog_encode,
        "collectd_decode": q_collectd_decode,
        "stackdriver_encode": q_stackdriver_encode,
        "syslog_parse": q_syslog_parse,
        "http_encode": q_http_encode,
        "mqtt_decode": q_mqtt_decode,
        "cloudwatch_encode": q_cloudwatch_encode,
        "azure_encode": q_azure_encode,
        "es_bulk_in": q_es_bulk_in,
        "forward_decode": q_forward_decode,
        "otlp_logs_in": q_otlp_logs_in,
        "prom_scrape": q_prom_scrape,
        "remote_write_decode": q_remote_write_decode,
        "k8s_events": q_k8s_events,
        "dedup_exact": q_dedup_exact,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "dedup_simhash": q_dedup_simhash,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "incremental_dedup": q_incremental_dedup,
        "substring_dedup": q_substring_dedup,
        "dedup_embedding_exact": q_dedup_embedding_exact,
        "dedup_embedding_lsh": q_dedup_embedding_lsh,
        "dedup_lines": q_dedup_lines,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_lsh_topk": q_ann_lsh_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "ann_quantized": q_ann_quantized,
        "rag_chunk_topk": q_rag_chunk_topk,
        "curation_pipeline": q_curation_pipeline,
        "corpus_prep": q_corpus_prep,
        "corpus_stream": q_corpus_stream,
        "corpus_split": q_corpus_split,
        "corpus_shuffle": q_corpus_shuffle,
        "split_leakage": q_split_leakage,
        "sequence_pack": q_sequence_pack,
        "token_budget": q_token_budget,
        "stratified_sample": q_stratified_sample,
        "doc_chunks": q_doc_chunks,
        "length_quantiles": q_length_quantiles,
        "bpe_word_counts": q_bpe_word_counts,
        "decontam": q_decontam,
        "lm_score": q_lm_score,
        "url_filter": q_url_filter,
        "gopher_quality": q_gopher_quality,
        "line_repetition": q_line_repetition,
        "top_bigram": q_top_bigram,
        "domain_cap": q_domain_cap,
        "pii_scrub": q_pii_scrub,
        "c4_line_filter": q_c4_line_filter,
        "html_extract": q_html_extract,
        "quality_score": q_quality_score,
        "lang_id": q_lang_id,
        "token_count": q_token_count,
        "multimodal_resize": q_multimodal_resize,
        "yaml_conf": q_yaml_conf,
        "grok_parse": q_grok_parse,
        "sessionize": q_sessionize,
        "metrics_labels": q_metrics_labels,
        "metrics_selector": q_metrics_selector,
        "otel_envelope": q_otel_envelope,
        "ltm_counter": q_ltm_counter,
        "ltm_gauge": q_ltm_gauge,
        "ltm_histogram": q_ltm_histogram,
        "snapshot_flush": q_snapshot_flush,
        "udf_hook": q_udf_hook,
        "sp_tumbling_stream": q_sp_tumbling_stream,
        "multiline": q_multiline,
        "multiline_java": q_multiline_java,
        "multiline_stream": q_multiline_stream,
        "decoder_chain": q_decoder_chain,
        "geoip2": q_geoip2,
        "multimodal_pixels": q_multimodal_pixels,
        "pipeline_e2e": q_pipeline_e2e,
        "q1_pricing_summary": q_q1_pricing_summary,
        "enrich_broadcast": q_enrich_broadcast,
        "grep_and": q_grep_and,
        "grep_legacy": q_grep_legacy,
        "modify_rules": q_modify_rules,
        "record_modifier": q_record_modifier,
        "content_modifier_hash": q_content_modifier_hash,
        "content_modifier_extract": q_content_modifier_extract,
        "nest_lift": q_nest_lift,
        "router_fanout": q_router_fanout,
        "rewrite_tag": q_rewrite_tag,
        "glob_route_match": q_glob_route_match,
        "sp_select_where": q_sp_select_where,
        "sp_key_key_compare": q_sp_key_key_compare,
        "sp_create_stream": q_sp_create_stream,
        "classic_conf": q_classic_conf,
        "filter_parser": q_filter_parser,
        "type_converter": q_type_converter,
        "processor_sql": q_processor_sql,
        "conditions": q_conditions,
        "gelf": q_gelf,
        "skew_salted_agg": q_skew_salted_agg,
        "sink_lines": q_sink_lines,
        "checklist": q_checklist,
        "throttle_size": q_throttle_size,
        "sp_aggregate": q_sp_aggregate,
        "sp_tumbling": q_sp_tumbling,
        "sp_hopping": q_sp_hopping,
        "sp_forecast": q_sp_forecast,
        "throttle": q_throttle,
        "sample_hash": q_sample_hash,
        "json_props_sum": q_json_props_sum,
        "flowcounter": q_flowcounter,
        "time_parse": q_time_parse,
        "fingerprint": q_fingerprint,
        "multimodal_meta": q_multimodal_meta,
        "multimodal_features": q_multimodal_features,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_frames": q_multimodal_frames,
    }
    green = _last_green_round()
    return dict(sorted(
        registry.items(),
        key=lambda kv: (kv[0] in green, green.get(kv[0], 0)),
    ))


# ------------------------------------------------------------ oracle SQL

def _duck_dot(a: str, b: str, dim: int = DIM) -> str:
    prods = (
        f"list_transform(generate_series(1,{dim}),"
        f" i -> cast({a}[i] as double) * cast({b}[i] as double))"
    )
    return f"list_reduce(list_prepend(cast(0 as double), {prods}), (acc, z) -> acc + z)"


def _duck_cos(a: str, b: str) -> str:
    return f"({_duck_dot(a, b)}) / sqrt(({_duck_dot(a, a)}) * ({_duck_dot(b, b)}))"


def _duck_topk_sql(bucketed: bool) -> str:
    """Shared top-k oracle; bucketed=True adds the LSH bucket equi-join."""
    from fluent_bit_spark.textprep.simsearch import hyperplanes

    if bucketed:
        planes = hyperplanes(DIM, 6)
        vals = ",".join(
            "({}, [{}])".format(pi, ",".join(f"cast({x!r} as double)" for x in row))
            for pi, row in enumerate(planes)
        )
        bucket_cte = (
            f"planes(pi, pv) AS (FROM (VALUES {vals}) t(pi, pv)), "
            "buckets AS (SELECT e.vec_id, e.embedding, "
            f"cast(sum(CASE WHEN ({_duck_dot('e.embedding', 'p.pv')}) >= 0 "
            "THEN power(2, p.pi) ELSE 0 END) as int) AS bucket "
            "FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding), "
            "q AS (SELECT vec_id, embedding, bucket FROM buckets WHERE vec_id < 10), "
            "d AS (SELECT vec_id, embedding, bucket FROM buckets WHERE vec_id >= 10), "
            "scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, "
            f"round({_duck_cos('q.embedding', 'd.embedding')}, 6) AS cos "
            "FROM q JOIN d ON q.bucket = d.bucket)"
        )
        return (
            "WITH " + bucket_cte + " SELECT query_id, rank, neighbor_id, cos FROM ("
            "SELECT *, row_number() OVER (PARTITION BY query_id "
            "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5"
        )
    return (
        "WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), "
        "d AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10), "
        "scored AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id, "
        f"round({_duck_cos('q.embedding', 'd.embedding')}, 6) AS cos FROM q CROSS JOIN d) "
        "SELECT query_id, rank, neighbor_id, cos FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored) WHERE rank <= 5"
    )



def _duck_ivf_sql(n_cells: int = 16, n_probe: int = 4, k: int = 5) -> str:
    """IVF oracle: same seeded centroids (lowest data ids, normalized
    with the same sequential-fold norm), same argmax assignment
    (first-index tie-break), same probe ranking."""
    dd = _duck_dot
    return (
        "WITH d0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 10), "
        "q0 AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 10), "
        f"seed AS (SELECT vec_id, embedding FROM d0 ORDER BY vec_id LIMIT {n_cells}), "
        "cents AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, "
        "list_transform(embedding, x -> cast(x as double) / "
        f"sqrt({dd('embedding', 'embedding')})) AS cv FROM seed), "
        f"dd AS (SELECT d.vec_id, d.embedding, c.ci, ({dd('d.embedding', 'c.cv')}) AS dt "
        "FROM d0 d CROSS JOIN cents c), "
        "assign AS (SELECT vec_id, embedding, ci AS cell FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, ci ASC) rn "
        "FROM dd) WHERE rn = 1), "
        f"qd AS (SELECT q.vec_id AS query_id, q.embedding AS qv, c.ci, "
        f"({dd('q.embedding', 'c.cv')}) AS dt FROM q0 q CROSS JOIN cents c), "
        "probes AS (SELECT query_id, qv, ci AS cell FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dt DESC, ci ASC) rn "
        f"FROM qd) WHERE rn <= {n_probe}), "
        "scored AS (SELECT p.query_id, a.vec_id AS neighbor_id, "
        f"round({_duck_cos('p.qv', 'a.embedding')}, 6) AS cos "
        "FROM probes p JOIN assign a ON p.cell = a.cell) "
        "SELECT query_id, rank, neighbor_id, cos FROM ("
        "SELECT *, row_number() OVER (PARTITION BY query_id "
        "ORDER BY cos DESC, neighbor_id ASC) AS rank FROM scored) "
        f"WHERE rank <= {k}"
    )


def _duck_embedding_clusters(n_cells: int = 16) -> str:
    """Cluster-card oracle. The centroids are the SAME Python-computed
    ``fixed_centroids`` literals the Spark query uses (VALUES rows, repr
    round-trip exact) — no SQL-side centroid derivation, no zero-norm
    guard divergence, no seed-row collect. The per-vector norm fold is
    length-agnostic (list_transform over the list itself), matching the
    Spark ``_NORM2`` aggregate bit-for-bit; vectors that are NULL or not
    ``DIM``-long get a NULL cell on both sides."""
    from fluent_bit_spark.textprep.simsearch import fixed_centroids

    cents = fixed_centroids(DIM, n_cells)
    vals = ",".join(
        "({}, [{}])".format(ci, ",".join(f"cast({x!r} as double)" for x in row))
        for ci, row in enumerate(cents)
    )
    dd = _duck_dot
    norm2 = (
        "list_reduce(list_prepend(cast(0 as double), "
        "list_transform(embedding, x -> cast(x as double) * cast(x as double))), "
        "(acc, z) -> acc + z)"
    )
    return (
        f"WITH cents(ci, cv) AS (SELECT * FROM (VALUES {vals}) t(ci, cv)), "
        f"v AS (SELECT vec_id, embedding, "
        f"(embedding IS NOT NULL AND len(embedding) = {DIM}) AS ok FROM embeddings), "
        f"dd AS (SELECT v.vec_id, c.ci, ({dd('v.embedding', 'c.cv')}) AS dt "
        "FROM v CROSS JOIN cents c WHERE v.ok), "
        "best AS (SELECT vec_id, ci AS cell FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, ci ASC) rn "
        "FROM dd) WHERE rn = 1), "
        "assign AS (SELECT v.vec_id, v.embedding, b.cell "
        "FROM v LEFT JOIN best b USING (vec_id)) "
        "SELECT cell, count(*)::bigint AS n_vectors, min(vec_id) AS min_vec_id, "
        # outer cast: DuckDB sum(BIGINT) returns HUGEINT, which the
        # driver's pandas canonicalization renders as float64 ("5e+15")
        # while Spark's bigint stays integral — the r3/r4 hash_match
        # false came from exactly this, not from the assignment math
        f"cast(sum(cast(round(sqrt({norm2}) * 1e6) as bigint)) as bigint) "
        "AS sum_norm_micros "
        "FROM assign GROUP BY cell"
    )


def _duck_semdedup(n_cells: int = 16, threshold: float = 0.35) -> str:
    """SemDeDup oracle: same fixed_centroids literals, same argmax
    (dot desc, ci asc) as _duck_embedding_clusters; pairs within a
    cell via the sequential-fold cosine rounded to 6, the higher id
    of any pair >= threshold marked dropped."""
    from fluent_bit_spark.textprep.simsearch import fixed_centroids

    cents = fixed_centroids(DIM, n_cells)
    vals = ",".join(
        "({}, [{}])".format(ci, ",".join(f"cast({x!r} as double)" for x in row))
        for ci, row in enumerate(cents)
    )
    dd = _duck_dot
    return (
        f"WITH cents(ci, cv) AS (SELECT * FROM (VALUES {vals}) t(ci, cv)), "
        f"v AS (SELECT vec_id, embedding, "
        f"(embedding IS NOT NULL AND len(embedding) = {DIM}) AS ok FROM embeddings), "
        f"dd AS (SELECT v.vec_id, c.ci, ({dd('v.embedding', 'c.cv')}) AS dt "
        "FROM v CROSS JOIN cents c WHERE v.ok), "
        "best AS (SELECT vec_id, ci AS cell FROM ("
        "SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dt DESC, ci ASC) rn "
        "FROM dd) WHERE rn = 1), "
        "assign AS (SELECT v.vec_id, v.embedding, b.cell "
        "FROM v LEFT JOIN best b USING (vec_id)), "
        "ok_cells AS (SELECT cell FROM assign WHERE cell IS NOT NULL "
        "GROUP BY cell HAVING count(*) BETWEEN 2 AND 100000), "
        "dups AS (SELECT DISTINCT b.vec_id AS id FROM assign a "
        "JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id "
        "JOIN ok_cells oc ON oc.cell = a.cell "
        f"WHERE round({_duck_cos('a.embedding', 'b.embedding')}, 6) "
        f">= {threshold}) "
        "SELECT a.vec_id, a.cell, (d.id IS NULL) AS kept "
        "FROM assign a LEFT JOIN dups d ON a.vec_id = d.id"
    )


def _duck_embedding_lsh_sql() -> str:
    from fluent_bit_spark.textprep.simsearch import hyperplanes

    planes = hyperplanes(DIM, 6)
    vals = ",".join(
        "({}, [{}])".format(pi, ",".join(f"cast({x!r} as double)" for x in row))
        for pi, row in enumerate(planes)
    )
    return (
        f"WITH planes(pi, pv) AS (SELECT * FROM (VALUES {vals}) t(pi, pv)), "
        "buckets AS (SELECT e.vec_id, e.embedding, "
        f"cast(sum(CASE WHEN ({_duck_dot('e.embedding', 'p.pv')}) >= 0 "
        "THEN power(2, p.pi) ELSE 0 END) as int) AS bucket "
        "FROM embeddings e CROSS JOIN planes p GROUP BY e.vec_id, e.embedding), "
        # max_bucket skew guard mirrored from embedding_neardup_lsh
        "ok AS (SELECT bucket FROM buckets GROUP BY bucket "
        "HAVING count(*) BETWEEN 2 AND 1000) "
        "SELECT a.vec_id AS id_a, b.vec_id AS id_b, "
        f"round({_duck_cos('a.embedding', 'b.embedding')}, 6) AS cos "
        "FROM buckets a JOIN buckets b ON a.bucket = b.bucket AND a.vec_id < b.vec_id "
        "JOIN ok ON ok.bucket = a.bucket "
        f"WHERE round({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.3"
    )


def _duck_substring_dedup() -> str:
    from fluent_bit_spark.textprep.spans import duck_duplicated_spans

    # same deterministic boilerplate splice as _spans_docs
    suffix = (
        " end of document this content is licensed under the creative"
        " commons attribution license version four point zero"
    )
    prefix = "subscribe to our newsletter for updates and offers today "
    src = (
        "(SELECT doc_id,"
        f" (CASE WHEN doc_id % 6 = 0 THEN '{prefix}' ELSE '' END)"
        " || text ||"
        f" (CASE WHEN doc_id % 4 = 0 THEN '{suffix}' ELSE '' END) AS text"
        " FROM documents)"
    )
    return duck_duplicated_spans(n=8, min_count=2, source=src)


def _duck_lm_score_sql() -> str:
    from fluent_bit_spark.textprep.lmscore import duck_lm_score

    return duck_lm_score()


def _duck_ann_quantized() -> str:
    from fluent_bit_spark.textprep.simsearch import duck_quantize_expr

    qe, n2t = duck_quantize_expr("embedding")
    n2 = n2t.format(q="q")
    dot = (
        "list_reduce(list_prepend(0::bigint,"
        f" list_transform(generate_series(1, {DIM}), i -> dq[i]*sq[i])),"
        " (acc, z) -> acc + z)"
    )
    return f"""
        WITH base AS (SELECT vec_id, {qe} AS q FROM embeddings),
        qq AS (SELECT vec_id, q, {n2} AS n2 FROM base),
        d AS (SELECT vec_id AS neighbor_id, q AS dq, n2 AS dn2 FROM qq WHERE vec_id >= 10),
        s AS (SELECT vec_id AS query_id, q AS sq, n2 AS sn2 FROM qq WHERE vec_id < 10),
        scored AS (
          SELECT query_id, neighbor_id,
                 round(cast(({dot}) as double)
                   / nullif(sqrt(cast(dn2 as double) * cast(sn2 as double)), 0.0),
                   6) AS qcos
          FROM d CROSS JOIN s
        ),
        ranked AS (
          SELECT query_id, neighbor_id, qcos,
                 row_number() OVER (PARTITION BY query_id
                     ORDER BY qcos DESC NULLS LAST, neighbor_id) AS rank
          FROM scored
        )
        SELECT query_id, rank::int AS rank, neighbor_id, qcos
        FROM ranked WHERE rank <= 5
    """


def _duck_sequence_pack_sql() -> str:
    from fluent_bit_spark.textprep import portable as PP
    from fluent_bit_spark.textprep.webfilters import duck_sequence_pack

    tokens = PP.duck_tokens("text")
    src = (
        f"(SELECT doc_id, lang, len({tokens})::bigint AS ws_tokens"
        " FROM documents)"
    )
    return duck_sequence_pack(seq_len=256, key_cols=["lang"], source=src)


def _duck_corpus_shuffle_sql() -> str:
    from fluent_bit_spark.textprep.webfilters import duck_corpus_shuffle

    return duck_corpus_shuffle(n_shards=16, salt="ep0:")


def _duck_doc_chunks_sql() -> str:
    from fluent_bit_spark.textprep.webfilters import duck_chunk_documents

    return duck_chunk_documents(chunk_tokens=32, overlap=8)


def _duck_chunk_embed_cte() -> str:
    """Shared CTE body: 32/8 chunking -> 16-dim hash embedding per
    chunk, ending with e(doc_id, vec_id, v)."""
    from fluent_bit_spark.textprep import portable as PP
    from fluent_bit_spark.textprep.simsearch import duck_hash_embed

    tokens = PP.duck_tokens("text")
    th = PP.duck_hash_array(PP.duck_tokens("chunk_text"))
    return f"""
        t AS (SELECT doc_id, {tokens} AS _tk FROM documents),
             s AS (
               SELECT doc_id, _tk,
                      unnest(generate_series(1, greatest(len(_tk), 1), 24))
                        AS start_token
               FROM t WHERE len(_tk) > 0
             ),
             c AS (
               SELECT doc_id, ((start_token - 1) // 24) AS chunk_id,
                      array_to_string(list_slice(_tk, start_token,
                          start_token + 31), ' ') AS chunk_text
               FROM s
             ),
             h AS (
               SELECT doc_id, (doc_id * 1000 + chunk_id)::bigint AS vec_id,
                      {th} AS _th
               FROM c
             ),
             e AS (SELECT doc_id, vec_id, {duck_hash_embed(16)} AS v FROM h)"""


def _duck_guarded_cos(a: str, b: str, dim: int) -> str:
    return (
        f"CASE WHEN ({_duck_dot(a, a, dim)}) * ({_duck_dot(b, b, dim)})"
        f" = 0 THEN 0.0::double ELSE ({_duck_dot(a, b, dim)}) / "
        f"sqrt(({_duck_dot(a, a, dim)}) * ({_duck_dot(b, b, dim)})) END"
    )


def _duck_text_normalize_sql() -> str:
    from fluent_bit_spark.textprep.textstats import duck_normalize_text

    noisy = (
        "concat(CASE WHEN doc_id % 3 = 0 THEN upper(text) ELSE text END, "
        "CASE WHEN doc_id % 2 = 0 THEN '  Café' || chr(9) || 'Ñandú ' "
        "ELSE '' END, "
        "CASE WHEN doc_id % 5 = 0 THEN chr(9) || 'x' || chr(1) "
        "ELSE '' END)"
    )
    return f"""
        WITH noisy AS (SELECT doc_id, {noisy} AS text FROM documents)
        SELECT doc_id, {duck_normalize_text('text')} AS norm_text FROM noisy
    """


def _duck_rag_chunk_topk_sql() -> str:
    cos = _duck_guarded_cos("qv", "dv", 16)
    return f"""
        WITH {_duck_chunk_embed_cte()},
             q AS (SELECT vec_id AS query_id, v AS qv FROM e
                   WHERE doc_id % 100 = 0),
             d AS (SELECT vec_id AS neighbor_id, v AS dv FROM e
                   WHERE doc_id % 100 <> 0),
             sc AS (SELECT query_id, neighbor_id, round({cos}, 6) AS cos
                    FROM d, q),
             r AS (SELECT query_id, neighbor_id, cos,
                          row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
                   FROM sc)
        SELECT query_id, rank::int AS rank, neighbor_id, cos
        FROM r WHERE rank <= 3
    """


def _duck_rag_chunk_lsh_sql() -> str:
    from fluent_bit_spark.textprep.simsearch import hyperplanes

    planes = hyperplanes(16, 6)
    vals = ",".join(
        "({}, [{}])".format(pi, ",".join(f"cast({x!r} as double)" for x in row))
        for pi, row in enumerate(planes)
    )
    cos = _duck_guarded_cos("q.v", "d.v", 16)
    return f"""
        WITH {_duck_chunk_embed_cte()},
             planes(pi, pv) AS (FROM (VALUES {vals}) t2(pi, pv)),
             buckets AS (
               SELECT e.doc_id, e.vec_id, e.v,
                      cast(sum(CASE WHEN ({_duck_dot('e.v', 'p.pv', 16)}) >= 0
                          THEN power(2, p.pi) ELSE 0 END) as int) AS bucket
               FROM e CROSS JOIN planes p GROUP BY e.doc_id, e.vec_id, e.v
             ),
             q AS (SELECT * FROM buckets WHERE doc_id % 100 = 0),
             d AS (SELECT * FROM buckets WHERE doc_id % 100 <> 0),
             sc AS (SELECT q.vec_id AS query_id, d.vec_id AS neighbor_id,
                           round({cos}, 6) AS cos
                    FROM q JOIN d ON q.bucket = d.bucket),
             r AS (SELECT query_id, neighbor_id, cos,
                          row_number() OVER (PARTITION BY query_id
                              ORDER BY cos DESC, neighbor_id) AS rank
                   FROM sc)
        SELECT query_id, rank::int AS rank, neighbor_id, cos
        FROM r WHERE rank <= 3
    """


def _duck_hash_embed_sql() -> str:
    from fluent_bit_spark.textprep import portable as PP
    from fluent_bit_spark.textprep.simsearch import duck_hash_embed

    th = PP.duck_hash_array(PP.duck_tokens("text"))
    return f"""
        WITH t AS (SELECT doc_id, {th} AS _th FROM documents),
             e AS (SELECT doc_id, {duck_hash_embed(16)} AS embedding FROM t)
        SELECT doc_id, generate_subscripts(embedding, 1) - 1 AS dim,
               cast(unnest(embedding) as bigint) AS weight
        FROM e
    """


def _duck_curation_pipeline() -> str:
    """Chained CTE oracle for q_curation_pipeline: every stage reads
    the previous stage's survivors, mirroring the Spark composite."""
    from fluent_bit_spark.textprep import portable as PP
    from fluent_bit_spark.textprep.urltools import duck_url_parts

    u = duck_url_parts("url")
    h32s = PP.duck_h32("source")
    tokens = PP.duck_tokens("text")
    n = 8
    return f"""
        WITH pages AS (
          SELECT doc_id, text, lang,
                 'https://'
                 || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                 || source
                 || (['.co.uk', '.com', '.org', '.net'])[(doc_id % 4 + 1)]
                 || '/' || lang || '/doc' || cast(doc_id as varchar)
                 || (CASE WHEN doc_id % 17 = 0 THEN '/casino' ELSE '' END)
                 || (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END)
                   AS url
          FROM documents
        ),
        bl AS (
          SELECT reg_domain FROM (
            SELECT CASE WHEN {h32s} % 5 = 0 THEN source || '.com'
                        WHEN {h32s} % 5 = 1 THEN source || '.co.uk' END AS reg_domain
            FROM (SELECT DISTINCT source FROM documents)
          ) WHERE reg_domain IS NOT NULL
        ),
        parsed AS (
          SELECT doc_id, text, lang, {u['reg_domain']} AS reg_domain,
                 {u['path']} AS path
          FROM pages
        ),
        g1 AS (
          SELECT p.doc_id, p.text, p.lang, p.reg_domain
          FROM parsed p LEFT JOIN bl ON p.reg_domain = bl.reg_domain
          WHERE bl.reg_domain IS NULL
            AND NOT regexp_matches(p.path, '{u['blocked_path_pat']}')
        ),
        tok1 AS (SELECT doc_id AS id, {tokens} AS tk FROM g1),
        ng AS (
          SELECT id, i AS start,
                 md5(array_to_string(tk[i : i + {n - 1}], ' ')) AS h
          FROM tok1, unnest(generate_series(1, greatest(0, len(tk) - {n - 1}))) AS uu(i)
        ),
        dupg AS (SELECT h FROM ng GROUP BY h HAVING count(*) >= 2),
        stt AS (
          SELECT id, list_sort(list(DISTINCT start)) AS starts
          FROM ng JOIN dupg USING (h) GROUP BY id
        ),
        cov AS (
          SELECT tok1.id, tok1.tk,
                 list_sort(list_distinct(flatten(list_transform(
                   coalesce(stt.starts, []),
                   p -> list_transform(generate_series(0, {n - 1}), j -> p + j)
                 )))) AS c
          FROM tok1 LEFT JOIN stt ON tok1.id = stt.id
        ),
        sp AS (
          SELECT id AS doc_id, len(tk)::bigint AS n_tokens,
                 len(c)::bigint AS dup_token_count,
                 round(len(c)::double / greatest(len(tk), 1), 6) AS frac
          FROM cov
        ),
        g2 AS (
          SELECT g1.*, sp.n_tokens, sp.dup_token_count
          FROM g1 JOIN sp USING (doc_id) WHERE sp.frac <= 0.5
        ),
        tok2 AS (SELECT doc_id AS id, {tokens} AS tk FROM g2),
        flat2 AS (SELECT id, uv.token FROM tok2, unnest(tk) AS uv(token)),
        vocab0 AS (SELECT token, count(*)::bigint AS cnt FROM flat2 GROUP BY token),
        tot AS (SELECT sum(cnt)::bigint AS n_total, count(*)::bigint AS v_size
                FROM vocab0),
        vocab AS (
          SELECT token,
                 cast(round(ln((cnt + 1)::double / (n_total + v_size)) * 1e9)
                      as bigint) AS lp_nanos,
                 cnt = 1 AS is_rare
          FROM vocab0 CROSS JOIN tot
        ),
        lmx AS (
          SELECT id AS doc_id,
                 round(sum(lp_nanos)::double / 1e9 / count(*), 6) AS avg_logprob,
                 round(sum(CASE WHEN is_rare THEN 1 ELSE 0 END)::double
                       / count(*), 6) AS rare_frac
          FROM flat2 JOIN vocab USING (token) GROUP BY id
        ),
        g3 AS (
          SELECT g2.* FROM g2 JOIN lmx USING (doc_id)
          WHERE lmx.avg_logprob >= -3.6 AND lmx.rare_frac <= 0.5
        ),
        grp AS (SELECT md5(text) AS dg, min(doc_id) AS keep_id
                FROM g3 GROUP BY md5(text)),
        kept AS (SELECT g3.* FROM g3 JOIN grp ON g3.doc_id = grp.keep_id)
        SELECT reg_domain, lang, count(*)::bigint AS n_docs,
               sum(n_tokens)::bigint AS total_tokens,
               sum(dup_token_count)::bigint AS total_dup_tokens
        FROM kept GROUP BY reg_domain, lang
    """


def _duck_url_filter() -> str:
    from fluent_bit_spark.textprep.urltools import duck_url_parts

    u = duck_url_parts("url")
    h32s = P.duck_h32("source")
    return f"""
        WITH pages AS (
          SELECT doc_id,
                 'https://'
                 || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
                 || source
                 || (['.co.uk', '.com', '.org', '.net'])[(doc_id % 4 + 1)]
                 || '/' || lang || '/doc' || cast(doc_id as varchar)
                 || (CASE WHEN doc_id % 17 = 0 THEN '/casino' ELSE '' END)
                 || (CASE WHEN doc_id % 11 = 0 THEN '/' ELSE '' END)
                 || (CASE WHEN doc_id % 7 = 0 THEN '?utm_source=feed' ELSE '' END)
                   AS url
          FROM documents
        ),
        bl AS (
          SELECT reg_domain FROM (
            SELECT CASE WHEN {h32s} % 5 = 0 THEN source || '.com'
                        WHEN {h32s} % 5 = 1 THEN source || '.co.uk' END AS reg_domain
            FROM (SELECT DISTINCT source FROM documents)
          ) WHERE reg_domain IS NOT NULL
        ),
        p AS (
          SELECT doc_id, {u['host']} AS host, {u['reg_domain']} AS reg_domain,
                 {u['path']} AS path, {u['norm_url']} AS norm_url
          FROM pages
        ),
        flagged AS (
          SELECT p.*, bl.reg_domain IS NOT NULL AS blocked_domain,
                 regexp_matches(p.path, '{u['blocked_path_pat']}') AS blocked_path
          FROM p LEFT JOIN bl ON p.reg_domain = bl.reg_domain
        )
        SELECT doc_id, host, reg_domain, path, norm_url,
               blocked_domain, blocked_path,
               (NOT blocked_domain AND NOT blocked_path) AS url_allow
        FROM flagged
    """


def oracle_sql() -> dict[str, str]:
    from fluent_bit_spark.textprep import webfilters as WF

    WF_G = WF.duck_gopher_quality("text")
    WF_L = WF.duck_line_repetition("lines")
    WF_DL = WF.duck_dedup_lines("lines")
    WF_P = WF.duck_pii_scrub("text2")
    WF_C = WF.duck_c4_clean("lines")
    h32_doc = "('0x'||substr(md5(cast(doc_id as varchar)),1,8))::bigint"
    tokens = P.duck_tokens("text")
    th = P.duck_hash_array(tokens)
    shingles = P.duck_shingles("text")
    hs = P.duck_hash_array(shingles)
    sig = P.duck_minhash_sig("hs")
    bands = P.duck_band_keys("sig")
    # minhash-LSH pair CTE chain, shared by dedup_minhash_lsh (plain
    # SELECT) and dedup_clusters (recursive-CTE connected components)
    mh_ctes = f"""s AS (SELECT doc_id AS id, {hs} AS hs FROM documents),
            sigs AS (SELECT id, hs, {sig} AS sig FROM s),
            bands AS (SELECT id, bi AS band, ({bands})[bi + 1] AS bkey
                      FROM sigs CROSS JOIN unnest(generate_series(0, {P.N_BANDS - 1})) AS t(bi)),
            sized AS (SELECT band, bkey FROM bands GROUP BY band, bkey HAVING count(*) <= 1000),
            b2 AS (SELECT bands.* FROM bands JOIN sized USING (band, bkey)),
            cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
                     FROM b2 a JOIN b2 b
                     ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id),
            scored AS (SELECT c.id_a, c.id_b,
                   len(list_filter(generate_series(1, {P.N_HASHES}),
                       i -> qa.sig[i] = qb.sig[i]))::double / {P.N_HASHES} AS est
                   FROM cand c JOIN sigs qa ON c.id_a = qa.id
                               JOIN sigs qb ON c.id_b = qb.id),
            mh_pairs AS MATERIALIZED (SELECT sc.id_a, sc.id_b,
                   CASE WHEN sc.est >= 0.325 THEN round(sc.est, 6)
                        ELSE round(len(list_intersect(sa.hs, sb.hs))::double
                             / len(list_distinct(list_concat(sa.hs, sb.hs))), 6)
                   END AS jacc
            FROM scored sc JOIN s sa ON sc.id_a = sa.id
                           JOIN s sb ON sc.id_b = sb.id
            WHERE sc.est >= 0.325
               OR (sc.est > 0.075 AND
                   round(len(list_intersect(sa.hs, sb.hs))::double
                         / len(list_distinct(list_concat(sa.hs, sb.hs))), 6) >= 0.2))"""
    # connected-components CTE chain over mh_pairs (recursive reach),
    # shared by dedup_clusters and split_leakage
    cc_ctes = """edges AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM mh_pairs
                      UNION ALL SELECT id_b, id_a FROM mh_pairs),
            reach(src, dst) AS (
              SELECT doc_id, doc_id FROM documents
              UNION
              SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
            ),
            labels AS (SELECT src AS doc_id, min(dst) AS cluster_id
                       FROM reach GROUP BY src)"""
    sw = ",".join(f"'{w}'" for w in STOPWORDS)
    langs = list(LANG_PROFILES)
    lang_arr = ",".join(f"'{x}'" for x in langs)
    lang_scores = ",".join(
        "len(list_filter(tk, t -> t in ({})))".format(
            ",".join(f"'{w}'" for w in LANG_PROFILES[lang])
        )
        for lang in langs
    )

    return {
        "ctr_msgpack_encode": """
            WITH base AS (
                SELECT event_id AS e FROM events
            )
            SELECT lpad(lower(hex(e + 1)), 32, '0') AS trace_id,
                   lpad(lower(hex(e * 7 + 1)), 16, '0') AS span_id,
                   CASE WHEN e % 5 = 0 THEN NULL
                        ELSE lpad(lower(hex(e * 3 + 2)), 16, '0')
                   END AS parent_span_id,
                   'op' || (e % 7) AS name,
                   CAST(e % 6 AS INT) AS kind,
                   CASE WHEN e % 4 = 0 THEN NULL
                        ELSE 'st=x' || (e % 4) END AS trace_state,
                   1700000000000000000 + e AS start_time_unix_nano,
                   1700000000000000000 + e + 1000
                       AS end_time_unix_nano,
                   CAST(e % 3 AS INT) AS status_code,
                   CASE WHEN e % 3 = 0 THEN NULL
                        ELSE 'm' || (e % 3) END AS status_message,
                   e % 4 AS dropped_attributes_count,
                   e % 2 AS dropped_events_count,
                   e % 3 AS dropped_links_count,
                   'p' || (e % 5) AS path,
                   CAST(e % 9 AS VARCHAR) AS n,
                   'h' || (e % 5) AS host,
                   'https://r' AS resource_schema_url,
                   e % 3 AS resource_dropped_attributes_count,
                   'svc' || (e % 3) AS scope_name,
                   't' || (e % 7) AS team,
                   1 AS scope_dropped_attributes_count,
                   'https://s' AS scope_schema_url,
                   CASE WHEN e % 2 = 0 THEN 'ev' END AS ev_name,
                   CASE WHEN e % 2 = 0 THEN
                       CAST(1700000000000000000 + e + 5 AS VARCHAR)
                   END AS ev_ts,
                   CASE WHEN e % 2 = 0 THEN CAST(e % 4 AS VARCHAR)
                   END AS ev_i,
                   CASE WHEN e % 2 = 0 THEN CAST(e % 3 AS VARCHAR)
                   END AS ev_dac,
                   CASE WHEN e % 3 = 0 THEN
                       lpad(lower(hex(e * 7 + 1)), 16, '0')
                   END AS lk_span,
                   CASE WHEN e % 3 = 0 THEN CAST(e % 2 AS VARCHAR)
                   END AS lk_dac
            FROM base
        """,
        "cmt_msgpack_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000 + event_id AS ts
                FROM events
            )
            SELECT 'counter' AS mtype, 'fb' AS ns, 'node' AS ss,
                   'req' AS name, 'requests' AS description,
                   2 AS aggregation_type,
                   CASE WHEN e % 10 = 0 THEN NULL
                        ELSE 'p' || (e % 5) END AS path,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS app,
                   CAST(NULL AS VARCHAR) AS shard,
                   e % 10 = 0 AS static, e % 10 = 0 AS hash_zero,
                   ts, round((e % 100) / 2.0, 6) AS value,
                   CAST(NULL AS BIGINT) AS b0,
                   CAST(NULL AS BIGINT) AS b1,
                   CAST(NULL AS BIGINT) AS b2,
                   CAST(NULL AS DOUBLE) AS bound1,
                   CAST(NULL AS DOUBLE) AS hist_sum,
                   CAST(NULL AS BIGINT) AS hist_count,
                   CAST(NULL AS DOUBLE) AS q1,
                   CAST(NULL AS DOUBLE) AS qv0,
                   CAST(NULL AS DOUBLE) AS qv1,
                   CAST(NULL AS DOUBLE) AS sum_sum,
                   CAST(NULL AS BIGINT) AS sum_count,
                   'fb' AS job
            FROM base
            UNION ALL
            SELECT 'gauge', 'fb', '', 'mem', '-', NULL,
                   NULL, 'h' || (e % 4), NULL, NULL,
                   FALSE, FALSE, ts, round((e % 50) * 1.25, 6),
                   NULL, NULL, NULL, NULL, NULL, NULL,
                   NULL, NULL, NULL, NULL, NULL, 'fb'
            FROM base
            UNION ALL
            SELECT 'summary', 'fb', 'node', 'rt', 'rt sum', NULL,
                   NULL, NULL, 'a' || (e % 2), NULL,
                   FALSE, FALSE, ts, NULL,
                   NULL, NULL, NULL, NULL, NULL, NULL,
                   0.99, round((e % 9) / 4.0, 6),
                   round((e % 9) / 2.0, 6),
                   round((e % 11) * 0.5, 6), e % 6, 'fb'
            FROM base
            UNION ALL
            SELECT 'histogram', 'fb', 'node', 'lat', 'lat h', NULL,
                   NULL, NULL, NULL, 's' || (e % 3),
                   FALSE, FALSE, ts, NULL,
                   e % 3, e % 4, e % 5, 2.0,
                   round((e % 10) * 1.5, 6), e % 9,
                   NULL, NULL, NULL, NULL, NULL, 'fb'
            FROM base
        """,
        "remote_write_encode": """
            WITH base AS (
                SELECT event_id AS e FROM events
            ), cnt AS (
                SELECT e, e % 32 AS chunk, 'p' || (e % 5) AS path,
                       CASE WHEN e % 997 = 13 THEN 1 ELSE 0 END
                           AS stale,
                       CASE WHEN e % 997 = 13
                            THEN 1700000000000000000 - 7200000000000
                            ELSE 1700000000000000000 + e * 1000
                       END AS ts
                FROM base
            ), cntw AS (
                SELECT *, row_number() OVER (
                    PARTITION BY chunk ORDER BY path, ts, e) AS rn
                FROM cnt
            ), cut AS (
                SELECT chunk,
                       min(CASE WHEN stale = 1 THEN rn END) AS cutrn
                FROM cntw GROUP BY chunk
            ), kept AS (
                SELECT c.* FROM cntw c JOIN cut USING (chunk)
                WHERE cut.cutrn IS NULL OR c.rn < cut.cutrn
            ), hist AS (
                SELECT e FROM base
                WHERE e % 17 <> 0 AND e % 19 <> 3
            ), nn AS (
                SELECT CAST(NULL AS VARCHAR) AS s
            )
            SELECT 'rw_req' AS name, 'fb' AS job, path,
                   CAST(NULL AS VARCHAR) AS host,
                   CAST(NULL AS VARCHAR) AS shard,
                   CAST(NULL AS VARCHAR) AS app,
                   CAST(NULL AS VARCHAR) AS le,
                   CAST(NULL AS VARCHAR) AS quantile,
                   round((e % 100) / 2.0, 6) AS value,
                   1700000000000 + e // 1000 AS ts_ms
            FROM kept
            UNION ALL
            SELECT 'rw_mem', 'fb', NULL, 'h' || (e % 4), NULL, NULL,
                   NULL, NULL, round((e % 50) * 1.25, 6),
                   1700000000000 + e // 1000
            FROM base
            UNION ALL
            SELECT 'rw_lat_count', 'fb', NULL, NULL, 's' || (e % 3),
                   NULL, NULL, NULL, CAST(e % 9 AS DOUBLE),
                   1700000000000 + e // 1000
            FROM hist
            UNION ALL
            SELECT 'rw_lat_sum', 'fb', NULL, NULL, 's' || (e % 3),
                   NULL, NULL, NULL, round((e % 10) * 1.5, 6),
                   1700000000000 + e // 1000
            FROM hist
            UNION ALL
            SELECT 'rw_lat_bucket', 'fb', NULL, NULL, 's' || (e % 3),
                   NULL, b.le, NULL, b.v,
                   1700000000000 + e // 1000
            FROM hist, LATERAL (
                SELECT * FROM (VALUES
                    ('0.5', CAST(e % 3 AS DOUBLE)),
                    ('2', CAST(e % 4 AS DOUBLE)),
                    ('+Inf', CAST(e % 5 AS DOUBLE))) AS t(le, v)
            ) AS b
            UNION ALL
            SELECT 'rw_rt_count', 'fb', NULL, NULL, NULL,
                   'a' || (e % 2), NULL, NULL, CAST(e % 6 AS DOUBLE),
                   1700000000000 + e // 1000
            FROM base
            UNION ALL
            SELECT 'rw_rt_sum', 'fb', NULL, NULL, NULL,
                   'a' || (e % 2), NULL, NULL,
                   round((e % 11) * 0.5, 6),
                   1700000000000 + e // 1000
            FROM base
            UNION ALL
            SELECT 'rw_rt', 'fb', NULL, NULL, NULL, 'a' || (e % 2),
                   NULL, q.cap, q.v, 1700000000000 + e // 1000
            FROM base, LATERAL (
                SELECT * FROM (VALUES
                    ('0.5', round((e % 9) / 4.0, 6)),
                    ('0.98999999999999999',
                     round((e % 9) / 2.0, 6))) AS t(cap, v)
            ) AS q
        """,
        "corpus_prep": f"""
            WITH pages AS (
              SELECT 'https://' || source || '.com/' || cast(doc_id as varchar) AS url,
                     text
              FROM documents
            ),
            grp AS (
              SELECT md5(text) AS digest, min(url) AS keep_url,
                     count(*)::bigint AS n_dups
              FROM pages GROUP BY md5(text)
            ),
            kept AS (
              SELECT p.url, p.text, g.n_dups
              FROM pages p
              JOIN grp g ON md5(p.text) = g.digest AND p.url = g.keep_url
            ),
            tok AS (
              SELECT url, n_dups, text, {tokens} AS tk,
                     length(text)::bigint AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::bigint
                       AS alpha_chars
              FROM kept
            ),
            scored AS (
              SELECT url, n_dups, len(tk)::int AS ws_tokens, n_chars, alpha_chars,
                     [{lang_scores}] AS scores
              FROM tok
            ),
            stats AS (
              SELECT url, n_dups, ws_tokens, n_chars, alpha_chars,
                     ([{lang_arr}])[list_position(scores, list_max(scores))]
                       AS pred_lang
              FROM scored
            )
            SELECT regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
                   pred_lang,
                   count(*)::bigint AS n_docs,
                   cast(sum(n_dups - 1) as bigint) AS dups_removed,
                   cast(sum(ws_tokens) as bigint) AS total_ws_tokens,
                   cast(sum(n_chars) as bigint) AS total_chars,
                   cast(sum(alpha_chars) as bigint) AS total_alpha_chars
            FROM stats
            WHERE ws_tokens >= 3 AND alpha_chars * 2 >= n_chars
            GROUP BY 1, 2
        """,
        "pipeline_e2e": """
            WITH routed AS (
              SELECT d.doc_id, d.lang, d.n_chars, s.sink
              FROM documents d
              CROSS JOIN unnest(['sink_all','sink_com'] ||
                (CASE WHEN d.lang = 'en' THEN ['sink_en'] ELSE [] END)) AS s(sink)
            )
            SELECT sink,
                   epoch(TIMESTAMP '2026-01-01 00:00:00')::bigint
                     + (doc_id // 60) * 60 AS window_start,
                   count(*)::bigint AS records,
                   cast(sum(n_chars) as bigint) AS bytes,
                   0::bigint AS parse_failures
            FROM routed GROUP BY 1, 2
        """,
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   count(*)::bigint AS count_order
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
            GROUP BY l_returnflag, l_linestatus
        """,
        "enrich_broadcast": """
            SELECT n.n_name AS nation_name, count(*)::bigint AS orders,
                   round(sum(o.o_totalprice), 2) AS total_price
            FROM orders o
            LEFT JOIN customer c ON o.o_custkey = c.c_custkey
            LEFT JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY n.n_name
        """,
        "geoip2": """
            SELECT event_id,
                   '10.' || (user_id % 4) || '.' || (event_id % 256) || '.'
                        || ((event_id * 7) % 256) AS remote_addr,
                   CASE user_id % 4 WHEN 0 THEN 'United States'
                        WHEN 1 THEN 'Germany' WHEN 2 THEN 'France' END
                       AS geo_country,
                   CASE user_id % 4 WHEN 0 THEN 'US'
                        WHEN 1 THEN 'DE' WHEN 2 THEN 'FR' END AS geo_iso
            FROM events
        """,
        "multimodal_pixels": """
            SELECT doc_id AS id,
              CASE WHEN doc_id % 2 = 0 THEN cast(doc_id % 16 + 1 as int) END AS width,
              CASE WHEN doc_id % 2 = 0 THEN cast((doc_id*3) % 16 + 1 as int) END AS height,
              CASE WHEN doc_id % 8 = 4 THEN 1
                   WHEN doc_id % 2 = 0 THEN 3 ELSE 1 END AS channels,
              CASE WHEN doc_id % 2 = 0 THEN cast(doc_id % 256 as double) END AS mean_r,
              CASE WHEN doc_id % 8 = 4 THEN cast(doc_id % 256 as double)
                   WHEN doc_id % 2 = 0 THEN cast((doc_id*5) % 256 as double) END AS mean_g,
              CASE WHEN doc_id % 8 = 4 THEN cast(doc_id % 256 as double)
                   WHEN doc_id % 2 = 0 THEN cast((doc_id*11) % 256 as double) END AS mean_b,
              CASE WHEN doc_id % 2 = 1 THEN cast(doc_id % 50 + 10 as bigint) END AS n_samples,
              CASE WHEN doc_id % 2 = 1 THEN cast(8000 + (doc_id % 5) * 4000 as int) END AS sample_rate,
              CASE WHEN doc_id % 2 = 1 THEN cast(doc_id % 100 + 1 as double) END AS rms
            FROM documents
        """,
        # mean of the 4 nearest-neighbor-selected gradient rows; the
        # arithmetic only matches if the resample's floor index map
        # picks source rows (y*h)//4
        "multimodal_resize": """
            SELECT doc_id AS id,
              cast(doc_id % 7 + 1 as int) AS src_w,
              cast(doc_id % 16 + 1 as int) AS src_h,
              cast(4 as int) AS out_w, cast(4 as int) AS out_h,
              ((  (doc_id + (0 * (doc_id % 16 + 1)) // 4) % 256
                + (doc_id + (1 * (doc_id % 16 + 1)) // 4) % 256
                + (doc_id + (2 * (doc_id % 16 + 1)) // 4) % 256
                + (doc_id + (3 * (doc_id % 16 + 1)) // 4) % 256
              ) / 4.0) AS mean_px
            FROM documents
        """,
        # mean square of the 8 nearest-neighbor-picked sawtooth samples;
        # exact eighths arithmetic, matching only if the index map is
        # (k*n)//8
        "multimodal_resample": """
            WITH p AS (SELECT doc_id, doc_id % 50 + 10 AS n FROM documents),
                 s AS (
                   SELECT doc_id, n, k,
                          ((doc_id + (k * n) // 8) % 100 - 100) AS v
                   FROM p, unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS t(k)
                 )
            SELECT doc_id AS id,
                   cast(any_value(n) as bigint) AS n_samples,
                   cast(8 as int) AS out_n,
                   sum(v * v) / 8.0 AS ms_power
            FROM s GROUP BY doc_id
        """,
        "grep_and": """
            SELECT doc_id, lang FROM documents
            WHERE regexp_matches(text, 'table') AND NOT regexp_matches(lang, '^de$')
        """,
        "grep_legacy": """
            SELECT doc_id, source FROM documents
            WHERE NOT regexp_matches(source, 'src1$') AND regexp_matches(text, 'scan')
        """,
        "modify_rules": """
            SELECT doc_id, source AS origin, 'fluent-bit-spark' AS engine FROM documents
        """,
        "record_modifier": """
            SELECT event_id, event_type, 'fbs' AS pipeline FROM events
        """,
        "content_modifier_hash": """
            SELECT doc_id, sha256(text) AS text FROM documents
        """,
        "content_modifier_extract": """
            SELECT event_id, CASE WHEN regexp_extract(props, '"k": (\\d+)', 1) <> ''
                   THEN regexp_extract(props, '"k": (\\d+)', 1) END AS kval
            FROM events
        """,
        "nest_lift": """
            SELECT event_id, user_id AS p_user_id, value AS p_value FROM events
        """,
        "router_fanout": """
            SELECT s.sink, e.event_id
            FROM events e CROSS JOIN unnest(
              ['sink_all'] ||
              (CASE WHEN e.event_type LIKE 'cl%' THEN ['sink_click'] ELSE [] END) ||
              (CASE WHEN e.event_type = 'error' THEN ['sink_err'] ELSE [] END)
            ) AS s(sink)
        """,
        "rewrite_tag": """
            SELECT 'sink_app' AS sink, count(*)::bigint AS records FROM events
            UNION ALL
            SELECT 'sink_hot', count(*)::bigint FROM events
            WHERE value >= 400 AND value < 500
        """,
        "glob_route_match": """
            SELECT doc_id, 'doc.' || source || '.' || lang AS tag FROM documents
            WHERE regexp_matches('doc.' || source || '.' || lang,
                                 '^doc\\.src1.*\\.e.*$')
        """,
        "sp_select_where": """
            SELECT event_id AS id, value AS v FROM events
            WHERE value >= 50 AND value <= 300
        """,
        "sp_key_key_compare": """
            WITH ev AS (
              SELECT event_id, event_type, user_id,
                     CASE WHEN value > 200 THEN 'error' ELSE 'click' END AS label,
                     CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR) AS vstr
              FROM events)
            SELECT event_id AS id, event_type AS et FROM ev
            WHERE event_type = label OR TRY_CAST(vstr AS DOUBLE) > user_id
        """,
        "sp_tumbling_stream": """
            SELECT epoch(date_trunc('minute', ts))::bigint AS window_start,
                   event_type, count(*)::bigint AS records,
                   round(sum(value), 4) AS sum_value
            FROM events
            GROUP BY 1, 2
            HAVING date_trunc('minute', min(ts)) + INTERVAL 1 MINUTE
                   <= (SELECT max(ts) FROM events)
        """,
        "skew_salted_agg": """
            SELECT event_type, count(*)::bigint AS records,
                   round(sum(value), 4) AS sum_value
            FROM events GROUP BY event_type
        """,
        "syslog_encode": r"""
            WITH base AS (
              SELECT event_id, ts,
                CASE WHEN event_id % 9 = 8 THEN 'warning'
                     ELSE CAST(event_id % 9 AS VARCHAR) END AS sev,
                CAST(event_id % 30 AS VARCHAR) AS fac,
                'h' || CAST(user_id % 5 AS VARCHAR) AS host,
                CASE WHEN event_id % 3 = 0 THEN 'web app'
                     ELSE 'nginx' END AS app,
                CASE WHEN event_id % 4 = 0 THEN NULL
                     ELSE CAST(user_id AS VARCHAR) END AS procid,
                'm' || CAST(event_id % 7 AS VARCHAR) AS msgid,
                CASE WHEN event_id % 17 = 0 THEN '<99>pre ' || event_type
                     ELSE event_type || ' says "' || props || '"' END AS msg,
                props AS sd_k, event_type AS sd_bad
              FROM events),
            num AS (
              SELECT *,
                -- severity: single digit 0-7 or name, else preset 6
                CASE WHEN sev = 'warning' THEN 4
                     WHEN length(sev) = 1 AND sev BETWEEN '0' AND '7'
                       THEN CAST(sev AS INT) ELSE 6 END AS sevn,
                -- facility: 1 digit, or 2 digits <= 23, else preset 1
                CASE WHEN length(fac) = 1 THEN CAST(fac AS INT)
                     WHEN length(fac) = 2 AND CAST(fac AS INT) <= 23
                       THEN CAST(fac AS INT) ELSE 1 END AS facn,
                '[meta@123 k="'
                  || regexp_replace(sd_k, '(["\\\]])', '\\\1', 'g')
                  || '" bad_key="'
                  || regexp_replace(sd_bad, '(["\\\]])', '\\\1', 'g')
                  || '"]' AS sd
              FROM base)
            SELECT event_id,
              substr(CASE WHEN msg LIKE '<%' THEN msg ELSE
                '<' || CAST(facn * 8 + sevn AS VARCHAR) || '>1 '
                || strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') || ' '
                || host || ' ' || app || ' ' || coalesce(procid, '-')
                || ' ' || msgid || ' ' || sd || ' ' || chr(65279) || msg
              END, 1, 2048) AS line_rfc5424,
              substr(CASE WHEN msg LIKE '<%' THEN msg ELSE
                '<' || CAST(facn * 8 + sevn AS VARCHAR) || '>'
                || strftime(ts, '%b') || printf(' %2d ', day(ts))
                || strftime(ts, '%H:%M:%S') || ' ' || host || ' '
                || app || CASE WHEN procid IS NULL THEN ''
                               ELSE '[' || procid || ']' END
                || ': ' || msg
              END, 1, 1024) || chr(10) AS line_rfc3164
            FROM num
        """,
        "influx_encode": r"""
            WITH base AS (
              SELECT event_id, epoch_us(ts) * 1000 AS ns,
                'ev.' || CAST(event_id % 3 AS VARCHAR) AS tag,
                event_type AS etype, value, user_id AS uid, props,
                'h ' || CAST(user_id % 5 AS VARCHAR) AS host
              FROM events),
            esc AS (
              SELECT *,
                row_number() OVER (PARTITION BY tag ORDER BY ns, event_id)
                  - 1 AS seq,
                -- string fields: JSON escape then '"'/'\' escape
                regexp_replace(regexp_replace(etype, '(["\\])', '\\\1', 'g'),
                               '(["\\])', '\\\1', 'g') AS etype_e,
                regexp_replace(regexp_replace(props, '(["\\])', '\\\1', 'g'),
                               '(["\\])', '\\\1', 'g') AS props_e,
                -- tag value: JSON escape then whitespace/,/=/\ escape
                regexp_replace(regexp_replace(host, '(["\\])', '\\\1', 'g'),
                               '([\s,=\\])', '\\\1', 'g') AS host_e
              FROM base)
            SELECT event_id,
              tag || ',_seq=' || CAST(CASE WHEN seq >= 100000 THEN 1
                                           ELSE seq END AS VARCHAR)
              || ',host=' || host_e || ' '
              || 'event_id=' || CAST(event_id AS VARCHAR) || 'i'
              || ',etype="' || etype_e || '"'
              || ',value=' || printf('%f', value)
              || ',uid=' || CAST(uid AS VARCHAR) || 'i'
              || ',props="' || props_e || '"'
              || ' ' || CAST(ns AS VARCHAR) AS line
            FROM esc
        """,
        "tf_infer": """
            -- SQL matmul of the integer-exact fake model: W[j,i] =
            -- (j*64 + i) %% 17 - 8 over q = floor(emb[i]/2*1000 + .5)
            WITH flat AS (
              SELECT e.vec_id, j.j AS j, i.i AS i,
                     ((j.j * 64 + i.i) % 17 - 8)
                     * CAST(floor(CAST(e.embedding[i.i + 1] AS DOUBLE)
                                  / 2.0 * 1000 + 0.5) AS BIGINT) AS term
              FROM embeddings e,
                   (SELECT unnest(range(4)) AS j) j,
                   (SELECT unnest(range(64)) AS i) i)
            SELECT vec_id,
                   sum(CASE WHEN j = 0 THEN term END)::bigint AS o0,
                   sum(CASE WHEN j = 1 THEN term END)::bigint AS o1,
                   sum(CASE WHEN j = 2 THEN term END)::bigint AS o2,
                   sum(CASE WHEN j = 3 THEN term END)::bigint AS o3
            FROM flat GROUP BY vec_id
        """,
        "kafka_encode": """
            SELECT event_id,
              CASE WHEN event_id % 7 = 0 THEN 'events_default'
                   WHEN event_id % 7 = 1 THEN 'events_hot'
                   ELSE 'dyn_' || event_type END AS topic,
              CASE WHEN event_id % 3 = 0 THEN event_type
                   ELSE 'fallback' END AS key,
              round(epoch(ts), 6) AS ts6,
              event_type AS etype,
              round(value, 4) AS value4
            FROM events
        """,
        "es_bulk": """
            SELECT event_id,
              '{"create":{"_index":"'
              || CASE WHEN event_id % 5 = 0 THEN event_type ELSE 'fb' END
              || '-' || strftime(ts, '%Y.%m.%d')
              || '","_id":"' || CAST(event_id AS VARCHAR) || '"}}'
                AS index_line,
              strftime(ts, '%Y-%m-%dT%H:%M:%S')
              || printf('.%03dZ', epoch_us(ts) % 1000000 // 1000) AS ts_str,
              'app.' || CAST(event_id % 3 AS VARCHAR) AS fb_tag,
              event_type AS etype,
              round(value, 4) AS value4
            FROM events
        """,
        "nightfall_redact": """
            -- the email token is fixed-width (2 digits + '@ex.com' =
            -- 9 chars at offset 6), so the masked text is constant-
            -- shaped; ints with findings become the 7-byte '******'
            -- + NUL literal (nightfall.c:431)
            SELECT event_id,
                   'mail: ' || repeat('*', 9) || ' (' || event_type || ')'
                     AS text,
                   CASE WHEN event_id % 4 = 0 THEN '******' || chr(0)
                        ELSE CAST(user_id AS VARCHAR) END AS num
            FROM events
        """,
        "k8s_events": """
            SELECT 'u' || (event_id % 500) AS uid,
                   max(event_id) AS resource_version,
                   round(epoch(date_trunc('second',
                               max_by(ts, event_id))), 6) AS ts6
            FROM events GROUP BY uid
        """,
        "nats_encode": """
            SELECT event_id, round(epoch(ts), 6) AS ts6,
                   '{"tag":"nats.' || (event_id % 3)
                   || '","event_id":' || event_id
                   || ',"event_type":"' || event_type
                   || '","user_id":' || user_id || '}' AS rec
            FROM events
        """,
        "logdna_encode": """
            SELECT event_id,
                   '{"level":"' || event_type
                   || '","file":"app.log","app":"Fluent Bit","timestamp":'
                   || (epoch_us(ts) // 1000000)
                   || ',"line":'
                   || to_json('{"event_id":' || event_id
                              || ',"level":"' || event_type || '"}')::VARCHAR
                   || '}' AS line
            FROM events
        """,
        "slack_encode": """
            SELECT event_id,
                   printf('["timestamp": %d.%09d, ',
                          epoch_us(ts) // 1000000,
                          (epoch_us(ts) % 1000000) * 1000)
                   || '{"event_id"=>' || event_id
                   || ', "event_type"=>"' || event_type
                   || '", "user_id"=>' || user_id
                   || ', "value"=>' || printf('%f', value) || '}]' AS line
            FROM events
        """,
        "td_encode": """
            SELECT event_id,
                   '{"event_id":' || event_id
                   || ',"event_type":"' || event_type
                   || '","user_id":' || user_id
                   || ',"time":' || (epoch_us(ts) // 1000000) || '}' AS rec
            FROM events
        """,
        "nrlogs_encode": """
            SELECT event_id,
                   '{"timestamp":' || (epoch_us(ts) // 1000)
                   || ',"message":"L' || event_id
                   || '","attributes":{"event_id":' || event_id
                   || ',"message":"m' || event_id
                   || '","event_type":"' || event_type || '"}}' AS rec
            FROM events
        """,
        "skywalking_encode": """
            WITH inner_rec AS (
              SELECT event_id,
                     '{"event_type":"' || event_type
                     || '","props":' || to_json(props)::VARCHAR || '}' AS body,
                     (epoch_us(ts) // 1000000) * 1000 AS ms
              FROM events)
            SELECT event_id,
                   '{"timestamp":' || ms
                   || ',"service":"sw-service",'
                   || '"serviceInstance":"fluent-bit",'
                   || '"body":{"json":{"json":'
                   || to_json(body)::VARCHAR || '}}}' AS rec
            FROM inner_rec
        """,
        "plot_encode": """
            SELECT event_id,
                   printf('%f', epoch(ts)) || ' ' || user_id AS line_int,
                   printf('%f', epoch(ts)) || ' '
                   || printf('%f', value) AS line_dbl
            FROM events
        """,
        "kafka_rest_encode": """
            SELECT event_id,
                   '{"partition":7,"key":"mk","value":{"@timestamp":"'
                   || strftime(ts, '%Y-%m-%dT%H:%M:%S')
                   || '","event_id":' || event_id
                   || ',"event_type":"' || event_type
                   || '","user_id":' || user_id
                   || ',"_flb-key":"kr.' || (event_id % 2) || '"}}' AS rec
            FROM events
        """,
        "pgsql_insert": """
            WITH recs AS (
              SELECT 'pg.' || (event_id % 5) AS tag, event_id,
                     '{"date":' || (epoch_us(ts) // 1000000)
                     || ',"event_id":' || event_id
                     || ',"event_type":"' || event_type
                     || '","user_id":' || user_id || '}' AS rec
              FROM events)
            SELECT tag,
                   'INSERT INTO logs SELECT ''' || tag
                   || ''', to_timestamp(CAST(value->>''date'' as FLOAT)),'
                   || ' * FROM json_array_elements(''['
                   || string_agg(rec, ',' ORDER BY event_id)
                   || ']'');' AS insert_sql
            FROM recs GROUP BY tag
        """,
        "kusto_encode": """
            SELECT event_id,
                   '{"timestamp":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S')
                   || printf('.%03dZ', (epoch_us(ts) % 1000000) // 1000)
                   || '","tag":"k.' || (event_id % 4)
                   || '","log":{"event_id":' || event_id
                   || ',"event_type":"' || event_type
                   || '","user_id":' || user_id || '}}' AS rec
            FROM events
        """,
        "websocket_encode": """
            SELECT event_id,
                   '{"date":"' || strftime(ts, '%Y-%m-%dT%H:%M:%S')
                   || printf('.%06dZ', epoch_us(ts) % 1000000)
                   || '","event_id":' || event_id
                   || ',"event_type":"' || event_type || '"}' AS rec
            FROM events
        """,
        "remote_write_decode": """
            SELECT 'ev_metric' AS name,
                   'j' || (event_id % 3) AS job,
                   round((event_id % 100) / 4.0, 6) AS value,
                   1700000000000 + event_id AS ts_ms
            FROM events
        """,
        "prom_scrape": """
            SELECT 'fb_events_total' AS name, event_type,
                   CAST(count(*) AS DOUBLE) AS value,
                   'counter' AS mtype
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 'fb_events_value', event_type,
                   round(sum(value), 4), 'gauge'
            FROM events GROUP BY event_type
        """,
        "otlp_logs_in": """
            SELECT event_id * 1000 + 5 AS time_unix_nano,
                   event_id % 25 AS severity_number,
                   event_type AS svc, event_id
            FROM events
        """,
        "otlp_traces_in": """
            SELECT lpad(lower(to_hex(event_id)), 32, '0') AS trace_id,
                   lpad(lower(to_hex(event_id % 100000)), 16, '0')
                       AS span_id,
                   CASE WHEN event_id % 3 = 0
                        THEN lpad(lower(to_hex(event_id // 2)), 16, '0')
                   END AS parent_span_id,
                   'op-' || (event_id % 7) AS name,
                   CASE WHEN event_id % 7 <= 5 THEN event_id % 7
                        ELSE 1 END AS kind,
                   1700000000000000000 + event_id * 1000 AS start_ns,
                   1700000000000000000 + event_id * 1000 + 500 AS end_ns,
                   event_id % 3 AS status_code,
                   'm' || (event_id % 3) AS status_message,
                   event_type AS host,
                   event_id % 50 AS attr_n,
                   CAST(NULL AS VARCHAR) AS attr_skipped,
                   'boot' AS event_name,
                   event_id * 1000 + 1 AS event_ns,
                   event_id % 4 AS dropped_events_count
            FROM events
        """,
        "otlp_traces_encode": """
            SELECT lpad(lower(to_hex(event_id)), 32, '0') AS trace_id,
                   lpad(lower(to_hex(event_id % 100000)), 16, '0')
                       AS span_id,
                   CASE WHEN event_id % 3 = 0
                        THEN lpad(lower(to_hex(event_id // 2)), 16, '0')
                   END AS parent_span_id,
                   'op-' || (event_id % 7) AS name,
                   CASE WHEN event_id % 7 <= 5 THEN event_id % 7
                        ELSE 1 END AS kind,
                   1700000000000000000 + event_id * 1000 AS start_ns,
                   1700000000000000000 + event_id * 1000 + 500 AS end_ns,
                   CASE WHEN event_id % 4 = 3 THEN 0
                        ELSE event_id % 4 END AS status_code,
                   CASE WHEN event_id % 4 = 3 THEN NULL
                        ELSE 'm' || (event_id % 3) END AS status_message,
                   event_type AS host,
                   'svc' AS scope_name,
                   '1' AS scope_version,
                   CAST(event_id % 50 AS VARCHAR) AS attr_n
            FROM events
        """,
        "otlp_metrics_in": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000 + event_id AS ts,
                       'h' || (event_id % 4) AS host
                FROM events
            )
            SELECT 'ev_hits' AS name, 'counter' AS mtype,
                   'hits' AS description,
                   CASE WHEN e % 2 = 1 THEN 'delta'
                        ELSE 'cumulative' END AS temporality,
                   (e % 3 = 0) AS allow_reset,
                   CAST(NULL AS VARCHAR) AS path,
                   CAST(NULL AS VARCHAR) AS code,
                   CAST(NULL AS VARCHAR) AS route,
                   ts, round((e % 100) / 2.0, 6) AS value,
                   CAST(NULL AS BIGINT) AS b0,
                   CAST(NULL AS BIGINT) AS b1,
                   CAST(NULL AS BIGINT) AS b2,
                   CAST(NULL AS DOUBLE) AS bound1,
                   CAST(NULL AS DOUBLE) AS hist_sum,
                   CAST(NULL AS BIGINT) AS hist_count,
                   CAST(NULL AS DOUBLE) AS q1,
                   CAST(NULL AS DOUBLE) AS qv0,
                   CAST(NULL AS DOUBLE) AS qv1,
                   CAST(NULL AS DOUBLE) AS sum_sum,
                   CAST(NULL AS BIGINT) AS sum_count,
                   host, 'svc' AS scope_name, '1' AS scope_version
            FROM base
            UNION ALL
            SELECT 'ev_hits', 'counter', 'hits',
                   CASE WHEN e % 2 = 1 THEN 'delta'
                        ELSE 'cumulative' END,
                   (e % 3 = 0),
                   'p' || (e % 5), CAST(e % 3 AS VARCHAR), NULL,
                   ts + 1,
                   CASE WHEN (e % 7) - 3 < 0 THEN 0.0
                        ELSE CAST((e % 7) - 3 AS DOUBLE) END,
                   NULL, NULL, NULL, NULL, NULL, NULL,
                   NULL, NULL, NULL, NULL, NULL,
                   host, 'svc', '1'
            FROM base
            UNION ALL
            SELECT 'ev_lat', 'histogram', '-', 'cumulative', NULL,
                   NULL, NULL, NULL,
                   ts, NULL,
                   e % 3, e % 4, e % 5, 2.0,
                   round((e % 10) * 1.5, 6), e % 9,
                   NULL, NULL, NULL, NULL, NULL,
                   host, 'svc', '1'
            FROM base
            UNION ALL
            SELECT 'ev_rt', 'summary', '-', NULL, NULL,
                   NULL, NULL, 'r' || (e % 2),
                   ts, NULL,
                   NULL, NULL, NULL, NULL, NULL, NULL,
                   0.99, round((e % 9) / 4.0, 6),
                   round((e % 9) / 2.0, 6),
                   round((e % 11) * 0.5, 6), e % 6,
                   host, 'svc', '1'
            FROM base
        """,
        "otlp_metrics_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000 + event_id AS ts
                FROM events
            )
            SELECT 'req_total' AS name, 'counter' AS mtype,
                   'requests' AS description,
                   'cumulative' AS temporality,
                   FALSE AS allow_reset,
                   CASE WHEN e % 10 = 0 THEN NULL
                        ELSE 'r' || (e % 5) END AS route,
                   CAST(NULL AS VARCHAR) AS shard,
                   ts, round((e % 100) / 2.0, 6) AS value,
                   CAST(NULL AS BIGINT) AS b0,
                   CAST(NULL AS BIGINT) AS b1,
                   CAST(NULL AS BIGINT) AS b2,
                   CAST(NULL AS DOUBLE) AS bound1,
                   CAST(NULL AS DOUBLE) AS hist_sum,
                   CAST(NULL AS BIGINT) AS hist_count
            FROM base
            UNION ALL
            SELECT 'lat', 'histogram', '-', 'unspecified', NULL,
                   NULL, 's' || (e % 3),
                   ts, NULL,
                   e % 3, e % 4, e % 5, 2.0,
                   round((e % 10) * 1.5, 6), e % 9
            FROM base
        """,
        "influx_metrics_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       CAST(1700000000000000000 + event_id AS VARCHAR)
                           AS ts_s,
                       1700000000000000000 + event_id AS ts
                FROM events
            ), r AS (
                SELECT *,
                       CASE WHEN (e % 100) / 2.0
                                 = floor((e % 100) / 2.0)
                            THEN CAST(CAST((e % 100) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 100) / 2.0 AS VARCHAR)
                       END AS v_counter,
                       CASE WHEN (e % 10) * 1.5 = floor((e % 10) * 1.5)
                            THEN CAST(CAST((e % 10) * 1.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 10) * 1.5 AS VARCHAR)
                       END AS v_hsum,
                       CASE WHEN (e % 9) / 4.0 = floor((e % 9) / 4.0)
                            THEN CAST(CAST((e % 9) / 4.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 4.0 AS VARCHAR)
                       END AS v_q50,
                       CASE WHEN (e % 9) / 2.0 = floor((e % 9) / 2.0)
                            THEN CAST(CAST((e % 9) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 2.0 AS VARCHAR)
                       END AS v_q99,
                       CASE WHEN (e % 11) * 0.5 = floor((e % 11) * 0.5)
                            THEN CAST(CAST((e % 11) * 0.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 11) * 0.5 AS VARCHAR)
                       END AS v_ssum
                FROM base
            )
            SELECT 'counter' AS mtype, 'requests_total' AS name, ts,
                   'fb_node,app=api,host=h' || (e % 4)
                   || ' requests_total=' || v_counter || ' ' || ts_s
                       AS line
            FROM r
            UNION ALL
            SELECT 'histogram', 'lat', ts,
                   'fb_node,app=api,shard=s' || (e % 3)
                   || ' 0.5=' || (e % 3) || ',2=' || (e % 4)
                   || ',+Inf=' || (e % 5)
                   || ',sum=' || v_hsum || ',count=' || (e % 9)
                   || ' ' || ts_s
            FROM r
            UNION ALL
            SELECT 'summary', 'rt', ts,
                   'fb_node,app=api 0.5=' || v_q50
                   || ',0.99=' || v_q99
                   || ',sum=' || v_ssum || ',count=' || (e % 6)
                   || ' ' || ts_s
            FROM r
        """,
        "splunk_metrics_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       '{"host":"web-1","time":1700000000.'
                       || lpad(CAST(event_id AS VARCHAR), 9, '0')
                       || ',"event":"metric","index":"main","fields":{'
                           AS h
                FROM events
            ), r AS (
                SELECT *,
                       CASE WHEN (e % 100) / 2.0
                                 = floor((e % 100) / 2.0)
                            THEN CAST(CAST((e % 100) / 2.0 AS BIGINT)
                                      AS VARCHAR) || '.0'
                            ELSE CAST((e % 100) / 2.0 AS VARCHAR)
                       END AS v_counter,
                       -- _sum passes through a uint64_t in the C
                       -- (format_histogram_bucket/_summary_metric),
                       -- truncating 10.75 -> "10.0"
                       CAST(CAST(floor((e % 10) * 1.5) AS BIGINT)
                            AS VARCHAR) || '.0' AS v_hsum,
                       CASE WHEN (e % 9) / 4.0 = floor((e % 9) / 4.0)
                            THEN CAST(CAST((e % 9) / 4.0 AS BIGINT)
                                      AS VARCHAR) || '.0'
                            ELSE CAST((e % 9) / 4.0 AS VARCHAR)
                       END AS v_q50,
                       CASE WHEN (e % 9) / 2.0 = floor((e % 9) / 2.0)
                            THEN CAST(CAST((e % 9) / 2.0 AS BIGINT)
                                      AS VARCHAR) || '.0'
                            ELSE CAST((e % 9) / 2.0 AS VARCHAR)
                       END AS v_q99,
                       CAST(CAST(floor((e % 11) * 0.5) AS BIGINT)
                            AS VARCHAR) || '.0' AS v_ssum,
                       ',"app":"api","shard":"s' || (e % 3)
                       || '","metric_type":"Histogram"}}' AS hl
                FROM base
            )
            SELECT h || '"metric_name:node.requests_total":'
                   || v_counter
                   || ',"app":"api","host":"h' || (e % 4) || '"}}'
                       AS event
            FROM r
            UNION ALL
            SELECT h || '"metric_name:lat_bucket":' || (e % 3)
                   || '.0,"le":"0.5"' || hl
                   || h || '"metric_name:lat_bucket":' || (e % 4)
                   || '.0,"le":"2.0"' || hl
                   || h || '"metric_name:lat_bucket":' || (e % 5)
                   || '.0,"le":"+Inf"' || hl
                   || h || '"metric_name:lat_sum":' || v_hsum || hl
                   || h || '"metric_name:lat_count":' || (e % 9)
                   || '.0' || hl
            FROM r
            UNION ALL
            SELECT h || '"metric_name:rt":' || v_q50
                   || ',"qt":"0.5","app":"api",'
                   || '"metric_type":"Summary"}}'
                   || h || '"metric_name:rt":' || v_q99
                   || ',"qt":"0.99","app":"api",'
                   || '"metric_type":"Summary"}}'
                   || h || '"metric_name:rt_sum":' || v_ssum
                   || ',"app":"api","metric_type":"Summary"}}'
                   || h || '"metric_name:rt_count":' || (e % 6)
                   || '.0,"app":"api","metric_type":"Summary"}}'
            FROM r
        """,
        "cmt_text_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000
                           + event_id * 999999937 AS ts
                FROM events
            ), r AS (
                SELECT *,
                       strftime(make_timestamp(
                                    (ts // 1000000000) * 1000000),
                                '%Y-%m-%dT%H:%M:%S.')
                       || printf('%09d', ts % 1000000000)
                       || 'Z ' AS tss,
                       CASE WHEN (e % 100) / 2.0
                                 = floor((e % 100) / 2.0)
                            THEN CAST(CAST((e % 100) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 100) / 2.0 AS VARCHAR)
                       END AS v_counter,
                       CASE WHEN (e % 10) * 1.5 = floor((e % 10) * 1.5)
                            THEN CAST(CAST((e % 10) * 1.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 10) * 1.5 AS VARCHAR)
                       END AS v_hsum,
                       CASE WHEN (e % 9) / 4.0 = floor((e % 9) / 4.0)
                            THEN CAST(CAST((e % 9) / 4.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 4.0 AS VARCHAR)
                       END AS v_q50,
                       CASE WHEN (e % 9) / 2.0 = floor((e % 9) / 2.0)
                            THEN CAST(CAST((e % 9) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 2.0 AS VARCHAR)
                       END AS v_q99,
                       CASE WHEN (e % 11) * 0.5 = floor((e % 11) * 0.5)
                            THEN CAST(CAST((e % 11) * 0.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 11) * 0.5 AS VARCHAR)
                       END AS v_ssum
                FROM base
            )
            SELECT 'counter' AS mtype, 'fb_requests_total' AS name,
                   ts,
                   tss || 'fb_requests_total{app="api",host="h'
                   || (e % 4) || '"} = ' || v_counter AS line
            FROM r
            UNION ALL
            SELECT 'histogram', 'lat', ts,
                   tss || 'lat{app="api",shard="s' || (e % 3)
                   || '"} = { buckets = { 0.5=' || (e % 3)
                   || ', 2=' || (e % 4) || ', +Inf=' || (e % 5)
                   || ' }, sum=' || v_hsum
                   || ', count=' || (e % 9) || ' }'
            FROM r
            UNION ALL
            SELECT 'summary', 'rt', ts,
                   tss || 'rt{app="api"} = { quantiles = { 0.5='
                   || v_q50 || ', 0.99=' || v_q99
                   || ' }, sum=' || v_ssum
                   || ', count=' || (e % 6) || ' }'
            FROM r
        """,
        "pack_dup_keys": """
            SELECT event_id,
                   CASE WHEN event_id % 2 = 0 THEN 'a,c,b'
                        ELSE 'a,b' END AS keys,
                   CASE WHEN event_id % 2 = 0
                        THEN (event_id % 3) || ',9,' || (event_id % 11)
                        ELSE (event_id % 3) || ',' || (event_id % 11)
                   END AS vals
            FROM events
        """,
        "json_escape": """
            WITH base AS (SELECT event_id AS e FROM events),
            d AS (
                SELECT e, e % 10 AS d1, (e // 10) % 10 AS d2,
                       (e // 100) % 10 AS d3
                FROM base
            ), m AS (
                SELECT e,
                    CASE d1 WHEN 0 THEN 'A' WHEN 1 THEN '\\"'
                        WHEN 2 THEN '\\\\' WHEN 3 THEN '\\n'
                        WHEN 4 THEN '\\u001b' WHEN 5 THEN '\\u007f'
                        WHEN 6 THEN '\\u00a9' WHEN 7 THEN '\\u263a'
                        WHEN 8 THEN '\\u9b5a'
                        ELSE '\\ud83d\\udd14' END AS e1,
                    CASE d2 WHEN 0 THEN 'A' WHEN 1 THEN '\\"'
                        WHEN 2 THEN '\\\\' WHEN 3 THEN '\\n'
                        WHEN 4 THEN '\\u001b' WHEN 5 THEN '\\u007f'
                        WHEN 6 THEN '\\u00a9' WHEN 7 THEN '\\u263a'
                        WHEN 8 THEN '\\u9b5a'
                        ELSE '\\ud83d\\udd14' END AS e2,
                    CASE d3 WHEN 0 THEN 'A' WHEN 1 THEN '\\"'
                        WHEN 2 THEN '\\\\' WHEN 3 THEN '\\n'
                        WHEN 4 THEN '\\u001b' WHEN 5 THEN '\\u007f'
                        WHEN 6 THEN '\\u00a9' WHEN 7 THEN '\\u263a'
                        WHEN 8 THEN '\\u9b5a'
                        ELSE '\\ud83d\\udd14' END AS e3
                FROM d
            )
            SELECT e AS event_id,
                   'log-' || e1 || e2 || e3 || '-' || (e % 7)
                       AS escaped
            FROM m
        """,
        "ctr_text_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000 + event_id * 1000 AS st
                FROM events
            ), r AS (
                SELECT *,
                       'svc.' || (e % 97) AS gid,
                       CASE WHEN (e % 9) / 4.0 = floor((e % 9) / 4.0)
                            THEN CAST(CAST((e % 9) / 4.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 4.0 AS VARCHAR)
                       END AS v_r
                FROM base
            ), sp AS (
                SELECT gid, e,
                    '         [span #'
                    || (row_number() OVER (PARTITION BY gid ORDER BY e)
                        - 1)
                    || ' ''op-' || (e % 7) || ''']' || chr(10)
                    || '             - trace_id                : '
                    || CASE WHEN e % 10 = 0
                            THEN '000000F1BI700000000000F1BI700000'
                            ELSE lpad(lower(to_hex(e)), 32, '0') END
                    || chr(10)
                    || '             - span_id                 : '
                    || lpad(lower(to_hex(e % 100000)), 16, '0')
                    || chr(10)
                    || '             - parent_span_id          : '
                    || CASE WHEN e % 3 = 0
                            THEN lpad(lower(to_hex(e // 2)), 16, '0')
                            ELSE 'undefined' END || chr(10)
                    || '             - kind                    : '
                    || (e % 7) || ' ('
                    || CASE (e % 7) WHEN 1 THEN 'internal'
                        WHEN 2 THEN 'server' WHEN 3 THEN 'client'
                        WHEN 4 THEN 'producer' WHEN 5 THEN 'consumer'
                        ELSE 'unspecified' END || ')' || chr(10)
                    || '             - start_time              : '
                    || st || chr(10)
                    || '             - end_time                : '
                    || (st + 500) || chr(10)
                    || '             - dropped_attributes_count: '
                    || (e % 4) || chr(10)
                    || '             - dropped_events_count    : '
                    || (e % 3) || chr(10)
                    || '             - dropped_links_count     : '
                    || (e % 2) || chr(10)
                    || '             - trace_state             : w3c='
                    || (e % 2) || chr(10)
                    || '             - status:' || chr(10)
                    || '                 - code    : ' || (e % 3)
                    || chr(10)
                    || CASE WHEN e % 3 = 2
                       THEN '                 - message : ''m'
                            || (e % 5) || '''' || chr(10)
                       ELSE '' END
                    || '             - attributes: ' || chr(10)
                    || '                 - evt: ''e' || (e % 5) || ''''
                    || chr(10)
                    || '                 - n: ' || (e % 50) || chr(10)
                    || '                 - r: ' || v_r || chr(10)
                    || '                 - f: '
                    || CASE WHEN e % 2 = 0 THEN 'true' ELSE 'false' END
                    || chr(10)
                    || CASE WHEN e % 5 = 0 THEN
                         '             - events: ' || chr(10)
                         || '                 - name: boot' || chr(10)
                         || '                     - timestamp       '
                         || '        : ' || (st + 1) || chr(10)
                         || '                     '
                         || '- dropped_attributes_count: ' || (e % 3)
                         || chr(10)
                         || '                     - attributes: none'
                         || chr(10)
                       ELSE '             - events: none' || chr(10)
                       END
                    || '             - [links]' || chr(10) AS span_text
                FROM r
            )
            SELECT gid,
                   '|-------------------- RESOURCE SPAN '
                   || '--------------------|' || chr(10)
                   || '  resource:' || chr(10)
                   || '     - attributes:' || chr(10)
                   || '            - service.name: ''' || gid || ''''
                   || chr(10)
                   || '     - dropped_attributes_count: 0' || chr(10)
                   || '     - schema_url: ""' || chr(10)
                   || '  [scope_span]' || chr(10)
                   || '    instrumentation scope:' || chr(10)
                   || '        - name                    : fb'
                   || chr(10)
                   || '        - version                 : v1'
                   || chr(10)
                   || '        - dropped_attributes_count: 0'
                   || chr(10)
                   || '        - attributes: undefined' || chr(10)
                   || '    schema_url: ""' || chr(10)
                   || '    [spans]' || chr(10)
                   || string_agg(span_text, '' ORDER BY e) AS text
            FROM sp
            GROUP BY gid
        """,
        "cloudwatch_emf_encode": """
            WITH base AS (
                SELECT event_id AS e,
                       1700000000000000000 + event_id * 1000000 AS ts,
                       CAST(1700000000000 + event_id AS VARCHAR) AS ms
                FROM events
            ), r AS (
                SELECT *,
                       CASE WHEN (e % 100) / 2.0
                                 = floor((e % 100) / 2.0)
                            THEN CAST(CAST((e % 100) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 100) / 2.0 AS VARCHAR)
                       END AS v_counter,
                       CASE WHEN (e % 10) * 1.5 = floor((e % 10) * 1.5)
                            THEN CAST(CAST((e % 10) * 1.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 10) * 1.5 AS VARCHAR)
                       END AS v_hsum,
                       CASE WHEN (e % 9) / 4.0 = floor((e % 9) / 4.0)
                            THEN CAST(CAST((e % 9) / 4.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 4.0 AS VARCHAR)
                       END AS v_q50,
                       CASE WHEN (e % 9) / 2.0 = floor((e % 9) / 2.0)
                            THEN CAST(CAST((e % 9) / 2.0 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 9) / 2.0 AS VARCHAR)
                       END AS v_q99,
                       CASE WHEN (e % 11) * 0.5 = floor((e % 11) * 0.5)
                            THEN CAST(CAST((e % 11) * 0.5 AS BIGINT)
                                      AS VARCHAR)
                            ELSE CAST((e % 11) * 0.5 AS VARCHAR)
                       END AS v_ssum,
                       (e % 3) + (e % 4) + (e % 5)
                           - least(e % 3, e % 4, e % 5)
                           - greatest(e % 3, e % 4, e % 5) AS mid,
                       least(e % 3, e % 4, e % 5) AS lo
                FROM base
            )
            SELECT 'counter' AS mtype, 'req_total' AS name, ts,
                   '{"_aws":{"Timestamp":' || ms
                   || ',"CloudWatchMetrics":[{"Namespace":"fb",'
                   || '"Dimensions":[["host","app"]],"Metrics":'
                   || '[{"Name":"req_total","Unit":"Counter",'
                   || '"StorageResolution":60}]}]},"host":"h'
                   || (e % 4) || '","app":"api",'
                   || '"prom_metric_type":"counter","req_total":'
                   || v_counter || '}' AS event
            FROM r
            UNION ALL
            SELECT 'histogram', 'lat', ts,
                   '{"_aws":{"Timestamp":' || ms
                   || ',"CloudWatchMetrics":[{"Namespace":"fb",'
                   || '"Dimensions":[["shard","app"]],"Metrics":'
                   || '[{"Name":"lat","StorageResolution":60}]}]},'
                   || '"shard":"s' || (e % 3) || '","app":"api",'
                   || '"prom_metric_type":"histogram","lat":'
                   || '{"Min":' || lo || ',"Max":' || mid
                   || ',"Sum":' || v_hsum || ',"Count":' || (e % 9)
                   || '}}'
            FROM r
            UNION ALL
            SELECT 'summary', 'rt', ts,
                   '{"_aws":{"Timestamp":' || ms
                   || ',"CloudWatchMetrics":[{"Namespace":"fb",'
                   || '"Dimensions":[["app"]],"Metrics":'
                   || '[{"Name":"rt","StorageResolution":60}]}]},'
                   || '"app":"api",'
                   || '"prom_metric_type":"summary","rt":'
                   || '{"Min":' || v_q50 || ',"Max":' || v_q99
                   || ',"Sum":' || v_ssum || ',"Count":' || (e % 6)
                   || '}}'
            FROM r
        """,
        "forward_decode": """
            SELECT 'fw.' || (event_id % 4) AS tag,
                   1700000000 + event_id % 100 AS sec,
                   (event_id % 1000) * 1000 AS nsec,
                   event_id
            FROM events
        """,
        "es_bulk_in": """
            SELECT 's' || (event_id % 3) AS tag, event_id,
                   event_id AS meta_i
            FROM events
        """,
        "otlp_logs_encode": """
            SELECT epoch_us(ts) * 1000 AS time_unix_nano,
                   CASE WHEN (event_id % 30) BETWEEN 1 AND 24
                        THEN event_id % 30 END AS severity_number,
                   upper(event_type) AS severity_text,
                   event_type AS svc,
                   CASE WHEN event_id % 2 = 0
                        THEN lpad(lower(to_hex(event_id)), 32, '0')
                   END AS trace_id,
                   event_id
            FROM events
        """,
        # kinesis pk halves: djb2('app.'||event_type) % 7919 (the
        # Python twin kinesis_partition_key is pytest-pinned against
        # the Catalyst fold; the five literals below are that hash
        # constant-folded per tag) and the uint64-wraparound time
        # product in HUGEINT
        "kinesis_encode": """
            SELECT event_id,
                   (CASE event_type
                        WHEN 'click' THEN '4897' WHEN 'error' THEN '5133'
                        WHEN 'purchase' THEN '2439' WHEN 'signup' THEN '108'
                        ELSE '7654' END)
                   || CAST((((5381::HUGEINT * (epoch_us(ts) // 1000000))
                             % 18446744073709551616)
                            * ((epoch_us(ts) % 1000000) * 1000))
                           % 18446744073709551616 % 7919 AS VARCHAR)
                   AS pk,
                   '{"n":' || event_id || ',"t":"'
                   || strftime(ts, '%Y-%m-%dT%H:%M:%S') || '"}'
                   || chr(10) AS data
            FROM events
        """,
        "bigquery_encode": """
            SELECT event_id,
                   '{"json":{"n":' || event_id || ',"event_type":"'
                   || event_type || '"}}' AS row
            FROM events
        """,
        "http_in": """
            SELECT 'T' || (event_id % 3) AS tag, event_type AS m,
                   CAST(NULL AS BIGINT) AS v
            FROM events
            UNION ALL
            SELECT 'logs_' || event_type, CAST(NULL AS VARCHAR), event_id
            FROM events
        """,
        "s3_key_format": """
            SELECT event_id,
                   '/logs/app/' || event_type || '/'
                   || strftime(ts, '%Y/%m/%d/%H') || '/app.'
                   || event_type || '-node' || (event_id % 7)
                   || '-' || (event_id % 100) || '-'
                   || substr(md5(CAST(event_id AS VARCHAR)), 1, 8)
                   -- missing $TAG[5]: the whole-$TAG pass rewrites
                   -- the token's prefix (no-boundary C replace)
                   || '-app.' || event_type || '-node' || (event_id % 7)
                   || '[5].gz' AS key
            FROM events
        """,
        "host_cpu_percent": """
            WITH s AS (
              SELECT event_id AS e,
                     'h' || (event_id % 16) AS host,
                     event_id % 5 AS cpu_idx, 4 AS n_cores,
                     (event_id % 1000) * 7 AS pu,
                     event_id % 97 AS pn,
                     (event_id % 211) * 3 AS ps
              FROM events),
            s2 AS (
              SELECT *,
                CASE WHEN e % 11 = 0 THEN pu
                     ELSE pu + (e % 13) * 5 END AS nu,
                CASE WHEN e % 11 = 0 THEN pn
                     ELSE pn + (e % 3) END AS nn,
                CASE WHEN e % 11 = 0 THEN ps
                     ELSE ps + (e % 17) * 2 END AS ns
              FROM s)
            SELECT e AS event_id, host, cpu_idx,
              round(CASE
                WHEN (pu+pn+ps) = (nu+nn+ns) THEN 0.0
                WHEN cpu_idx = 0 THEN
                  ((abs((nu+nn+ns)-(pu+pn+ps)) / 100.0 * 100)
                   / n_cores) / 1.0
                ELSE (abs((nu+nn+ns)-(pu+pn+ps)) * 100 / 100.0) / 1.0
              END, 6) AS p_cpu,
              round(CASE
                WHEN (pu+pn) = (nu+nn) THEN 0.0
                WHEN cpu_idx = 0 THEN
                  ((abs((nu+nn)-(pu+pn)) / 100.0 * 100) / n_cores) / 1.0
                ELSE (abs((nu+nn)-(pu+pn)) * 100 / 100.0) / 1.0
              END, 6) AS p_user,
              round(CASE
                WHEN ps = ns THEN 0.0
                WHEN cpu_idx = 0 THEN
                  ((abs(ns-ps) / 100.0 * 100) / n_cores) / 1.0
                ELSE (abs(ns-ps) * 100 / 100.0) / 1.0
              END, 6) AS p_system
            FROM s2
        """,
        "socket_framing": """
            SELECT event_id, 'r' || event_id || 'a' AS log FROM events
            UNION ALL
            SELECT event_id, '' FROM events WHERE event_id % 4 = 0
            UNION ALL
            SELECT event_id, 'r' || event_id || 'b' FROM events
        """,
        "nginx_status": """
            SELECT event_id,
                   event_id % 512 AS active,
                   event_id * 3 AS accepts,
                   event_id * 3 - event_id % 7 AS handled,
                   event_id * 11 AS requests,
                   event_id % 9 AS reading,
                   event_id % 17 AS writing,
                   event_id % 33 AS waiting
            FROM events WHERE event_id % 13 <> 0
        """,
        "node_meminfo": """
            SELECT event_id, 'node_memory_MemTotal_bytes' AS metric,
                   CAST((event_id % 4096) * 16 + 1024 AS DOUBLE) * 1024
                     AS value
            FROM events
            UNION ALL
            SELECT event_id, 'node_memory_MemFree_bytes',
                   CAST(event_id % 1000 AS DOUBLE) * 1024
            FROM events
            UNION ALL
            SELECT event_id, 'node_memory_HugePages_Total',
                   CAST(event_id % 5 AS DOUBLE)
            FROM events
            UNION ALL
            SELECT event_id, 'node_memory_Active_anon_bytes',
                   CAST((event_id % 333) * 4 AS DOUBLE) * 1024
            FROM events
        """,
        "journal_export": """
            SELECT event_id, 0 AS seq,
                   'msg ' || event_id AS message,
                   event_id % 8 AS priority,
                   event_id % 500 AS pid,
                   '["a","b' || (event_id % 3) || '"]' AS tag,
                   1700000000000000 + event_id AS rt
            FROM events
            UNION ALL
            SELECT event_id, 1, 'second ' || event_id, 3,
                   CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR),
                   CAST(NULL AS BIGINT)
            FROM events
        """,
        "hec_json_parse": """
            SELECT 'tg' || (event_id % 4) AS tag, event_id AS a,
                   CAST(NULL AS BIGINT) AS x, CAST(NULL AS BIGINT) AS p,
                   CAST(NULL AS BIGINT) AS q
            FROM events WHERE event_id % 3 = 0
            UNION ALL
            SELECT 'hec.' || event_type, NULL, event_id, NULL, NULL
            FROM events WHERE event_id % 3 = 1
            UNION ALL
            SELECT 'hec.' || event_type, NULL, event_id, NULL, NULL
            FROM events WHERE event_id % 3 = 1
            UNION ALL
            SELECT 'hec.' || event_type, NULL, NULL, event_id, NULL
            FROM events WHERE event_id % 3 = 2
            UNION ALL
            SELECT 'hec.' || event_type, NULL, NULL, NULL, event_id
            FROM events WHERE event_id % 3 = 2
        """,
        "azure_encode": """
            SELECT event_id,
                   round(epoch_us(ts) / 1000000.0, 6) AS ts_double,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S')
                     || printf('.%03dZ', (epoch_us(ts) % 1000000) // 1000)
                     AS ts_iso,
                   event_type
            FROM events
        """,
        "cloudwatch_encode": """
            SELECT epoch_us(ts) // 1000 AS ts_ms, event_id, event_type,
                   event_type AS keyed_message
            FROM events
        """,
        "mqtt_decode": """
            SELECT 'sensors/' || (event_id % 4) AS topic,
                   event_id, event_id % 13 AS n,
                   'sensors/' || (event_id % 4) AS topic_in_record
            FROM events WHERE event_id % 5 <> 0
        """,
        "http_encode": """
            SELECT event_id,
                   round(epoch_us(ts) / 1000000.0, 6) AS d_double,
                   epoch_us(ts) // 1000000 AS d_epoch,
                   epoch_us(ts) // 1000 AS d_epoch_ms,
                   strftime(ts, '%Y-%m-%dT%H:%M:%S')
                     || printf('.%06dZ', epoch_us(ts) % 1000000) AS d_iso,
                   strftime(ts, '%Y-%m-%d %H:%M:%S')
                     || printf('.%06d', epoch_us(ts) % 1000000) AS d_sql,
                   event_type,
                   NULL AS no_date
            FROM events
        """,
        "syslog_parse": """
            WITH e AS (SELECT event_id AS e, event_type FROM events
                       WHERE event_id % 11 <> 0)
            SELECT CAST(e % 192 AS VARCHAR) AS pri,
                   'host' || (e % 5) AS host,
                   'app' || (e % 3) AS ident,
                   CAST(e % 7 AS VARCHAR) AS pid,
                   'ID' || e AS msgid,
                   'msg ' || event_type AS message,
                   '<' || (e % 192) || '>1 2023-10-11T22:14:1' || (e % 10)
                     || '.00' || (e % 10) || 'Z host' || (e % 5)
                     || ' app' || (e % 3) || ' ' || (e % 7) || ' ID' || e
                     || ' - msg ' || event_type AS raw,
                   round(epoch(TIMESTAMP '2023-10-11 22:14:10')
                         + (e % 10) + (e % 10) / 1000.0, 6) AS ts6
            FROM e
        """,
        "stackdriver_encode": """
            SELECT event_id, event_type AS message,
                   (CASE event_id % 6 WHEN 0 THEN 200 WHEN 1 THEN 400
                        WHEN 2 THEN 500 WHEN 3 THEN 100 WHEN 5 THEN 600
                    END)::INT AS severity,
                   CASE WHEN event_id % 7 = 1
                        THEN 'id-' || event_id END AS insert_id,
                   'projects/proj/logs/sd.' || (event_id % 3) AS log_name,
                   CASE WHEN event_id % 5 = 0 THEN
                     strftime(make_timestamp(
                         (1600000000 + event_id % 1000) * 1000000),
                       '%Y-%m-%dT%H:%M:%S')
                     || printf('.%09dZ', event_id % 1000)
                   ELSE
                     strftime(ts, '%Y-%m-%dT%H:%M:%S')
                     || printf('.%09dZ', (epoch_us(ts) % 1000000) * 1000)
                   END AS ts_str,
                   CASE WHEN event_id % 4 = 0
                        THEN event_type END AS label_app,
                   'test' AS label_env
            FROM events WHERE event_id % 7 <> 0
        """,
        "collectd_decode": """
            WITH e AS (SELECT event_id AS e FROM events),
            rows AS (
              SELECT 'h' || (e % 5) AS host, 'load' AS plugin,
                     'load' AS type, f.field AS field,
                     'gauge' AS dstype, NULL::BIGINT AS value_int,
                     (e % 10) * CAST(0.5 AS DOUBLE)
                       + CAST(f.off AS DOUBLE) AS value_gauge,
                     CAST(1700000000 + e % 100 AS DOUBLE) AS time
              FROM e, (VALUES ('shortterm', 0.0), ('midterm', 0.25),
                              ('longterm', 0.5)) f(field, off)
              WHERE e % 3 = 0
              UNION ALL
              SELECT 'h' || (e % 5), 'cpu', 'cpu', 'value', 'derive',
                     e * 7, NULL,
                     CAST(1700000000 + e % 100 AS DOUBLE)
              FROM e WHERE e % 3 = 1
              UNION ALL
              SELECT 'h' || (e % 5), 'interface', 'if_octets', f.field,
                     'counter',
                     CASE f.field WHEN 'rx' THEN e * 3 ELSE e END,
                     NULL, NULL
              FROM e, (VALUES ('rx'), ('tx')) f(field)
              WHERE e % 3 = 2
            )
            SELECT host, plugin, type, field, dstype,
                   COUNT(*) AS n,
                   CAST(SUM(value_int) AS BIGINT) AS sum_int,
                   ROUND(SUM(value_gauge), 6) AS sum_gauge,
                   ROUND(SUM(time), 6) AS sum_time
            FROM rows
            GROUP BY host, plugin, type, field, dstype
            ORDER BY host, plugin, field
        """,
        "kmsg_parse": """
            WITH base AS (
              SELECT event_id,
                (event_id % 32) & 7 AS priority,
                event_id AS sequence,
                (event_id * 1013 % 10000000) AS usec_total,
                'kmsg ' || event_type ||
                  CASE WHEN event_id % 6 = 0 THEN '; tail' ELSE '' END AS msg
              FROM events)
            SELECT event_id, priority, sequence,
                   usec_total // 1000000 AS sec,
                   usec_total % 1000000 AS usec, msg,
                   round(1700000000 + usec_total / 1000000.0, 6) AS ts6
            FROM base WHERE priority <= 5
        """,
        "prom_text": """
            SELECT 0::bigint AS ord,
                   '# HELP fb_events_total Total records per event type.'
                     AS line, 'counter' AS family
            UNION ALL
            SELECT 1, '# TYPE fb_events_total counter', 'counter'
            UNION ALL
            SELECT 2, 'fb_events_total{event_type="' || event_type || '"} '
                   || CAST(count(*) AS VARCHAR), 'counter'
            FROM events GROUP BY event_type
            UNION ALL
            SELECT 0, '# HELP fb_events_value Sum of event values.', 'gauge'
            UNION ALL
            SELECT 1, '# TYPE fb_events_value gauge', 'gauge'
            UNION ALL
            SELECT 2, 'fb_events_value{event_type="' || event_type || '"} '
                   || CASE WHEN round(sum(value), 4)
                             = floor(round(sum(value), 4))
                           THEN CAST(CAST(round(sum(value), 4) AS BIGINT)
                                     AS VARCHAR)
                           ELSE CAST(round(sum(value), 4) AS VARCHAR) END,
                   'gauge'
            FROM events GROUP BY event_type
        """,
        "statsd_parse": """
            -- mirror of statsd.c:155 parse over the same synthesized
            -- lines: value is CAST(value AS VARCHAR) re-parsed, type
            -- cycles c,g,ms,s,x (x -> counter), rate |@0.5 every 3rd
            WITH base AS (
              SELECT event_id,
                'b' || CAST(event_id % 20 AS VARCHAR) AS bucket,
                CASE WHEN event_id % 11 = 0 THEN '+' ELSE '' END
                  || CAST(value AS VARCHAR) AS rawval,
                CASE event_id % 5 WHEN 0 THEN 'counter' WHEN 1 THEN 'gauge'
                     WHEN 2 THEN 'timer' WHEN 3 THEN 'set'
                     ELSE 'counter' END AS mtype0,
                -- ::double: a bare 0.5 literal makes this DECIMAL(2,1),
                -- which degrades through pandas in the driver compare
                CASE WHEN event_id % 3 = 0 THEN 0.5::double
                     ELSE 1.0::double END AS rate
              FROM events)
            SELECT event_id,
              CASE WHEN mtype0 = 'timer' THEN 'set' ELSE mtype0 END AS mtype,
              bucket,
              CASE WHEN mtype0 IN ('set', 'timer') THEN NULL
                   ELSE round(CAST(rawval AS DOUBLE), 4) END AS value4,
              CASE WHEN mtype0 IN ('set', 'timer') THEN rawval END
                AS value_str,
              CASE WHEN mtype0 IN ('counter', 'timer') THEN rate END
                AS sample_rate,
              CASE WHEN mtype0 = 'gauge' THEN
                CASE WHEN rawval LIKE '+%' OR rawval LIKE '-%'
                     THEN 1 ELSE 0 END END AS incremental
            FROM base
        """,
        "builtin_parsers": """
            SELECT 'apache' AS kind, event_id,
                   'h' || CAST(user_id % 5 AS VARCHAR) AS a,
                   '/p' || CAST(event_id AS VARCHAR) AS b,
                   '200' AS c, 'ua/' || event_type AS d,
                   round(epoch(date_trunc('second', ts)), 3) AS ts3
            FROM events
            UNION ALL
            SELECT 'rfc5424', event_id,
                   'h' || CAST(user_id % 5 AS VARCHAR),
                   'app' || CAST(event_id % 4 AS VARCHAR),
                   '13', 'msg ' || event_type,
                   round(epoch(date_trunc('millisecond', ts)), 3)
            FROM events
            UNION ALL
            SELECT 'cri', event_id,
                   CASE WHEN event_id % 2 = 0 THEN 'stdout'
                        ELSE 'stderr' END,
                   'F', 'F', 'log ' || event_type,
                   round(epoch(date_trunc('millisecond', ts)), 3)
            FROM events
        """,
        "loki_encode": r"""
            WITH base AS (
              SELECT event_id, ts, user_id, value,
                CASE WHEN event_id % 7 = 0 THEN '' ELSE event_type END
                  AS etype,
                CASE WHEN event_id % 5 = 0 THEN NULL ELSE props END AS props
              FROM events)
            SELECT event_id,
              CASE WHEN etype = '' THEN '{"job":"fbs"}'
                   ELSE '{"job":"fbs","_9type":"' || etype || '"}'
              END AS stream,
              CAST(epoch_us(ts) * 1000 AS VARCHAR) AS ns,
              'event_id=' || CAST(event_id AS VARCHAR)
              || ' user_id=' || CAST(user_id AS VARCHAR)
              || ' value=' || CASE WHEN value = floor(value)
                                   THEN printf('%.1f', value)
                                   ELSE CAST(value AS VARCHAR) END
              || ' props=' || CASE WHEN props IS NULL THEN 'null'
                                   ELSE '"' || props || '"' END AS line
            FROM base
        """,
        "splunk_hec": """
            SELECT event_id, round(epoch(ts), 3) AS time3,
                   'h' || CAST(user_id % 5 AS VARCHAR) AS host,
                   '_json' AS sourcetype, user_id AS uid,
                   event_type AS etype, round(value, 4) AS value4
            FROM events
        """,
        "datadog_encode": """
            SELECT event_id,
                   (epoch_us(ts) + 500) // 1000 AS ts_ms,
                   'dd.' || CAST(event_id % 3 AS VARCHAR) AS fb_tag,
                   'spark' AS ddsource, event_type AS message,
                   round(value, 4) AS value4, 'env:test' AS ddtags
            FROM events
        """,
        "gelf": """
            SELECT event_id, '1.1' AS version,
                   'h' || CAST(user_id % 5 AS VARCHAR) AS host,
                   event_type AS short_message,
                   (CASE WHEN event_type = 'error' THEN 3 ELSE 1 END)::int AS level,
                   event_id AS x_event_id,
                   round(epoch(ts), 3) AS ts3
            FROM events
        """,
        "conditions": r"""
            SELECT event_id, event_type, value FROM events
            WHERE event_type IN ('error', 'purchase')
               OR regexp_matches(props, '"k": 9\d')
               OR value >= 400
        """,
        "sink_lines": """
            SELECT event_id,
                   printf('%d.%09d', epoch_us(ts) // 1000000,
                          (epoch_us(ts) % 1000000) * 1000)
                   || ',"' || event_type || '",' || printf('%f', value) AS csv,
                   '"time":' || printf('%f', epoch(ts))
                   || chr(9) || '"event_type":"' || event_type || '"'
                   || chr(9) || '"value":' || printf('%f', value) AS ltsv
            FROM events
        """,
        "processor_sql": """
            SELECT event_id AS id, event_type, value FROM events
            WHERE value >= 50 AND event_type != 'view'
        """,
        "checklist": """
            SELECT doc_id, source,
                   CASE WHEN source LIKE '%1' THEN 'yes' END AS flagged
            FROM documents
        """,
        "throttle_size": """
            WITH t AS (SELECT doc_id, lang, n_chars,
                 TIMESTAMP '2026-01-01 00:00:00' + to_seconds(doc_id) AS et
                 FROM documents),
            r AS (SELECT *, sum(n_chars) OVER (
                    PARTITION BY date_trunc('minute', et), lang
                    ORDER BY et ROWS UNBOUNDED PRECEDING) AS run FROM t)
            SELECT doc_id, lang, n_chars FROM r WHERE run <= 20000
        """,
        "type_converter": """
            -- string->int follows flb_typecast.c:99-105: strtoimax
            -- leading-prefix parse, and a parsed 0 is a conversion
            -- ERROR (no value appended) — quirk included
            SELECT event_id, user_id,
                   json_extract_string(props, '$.k') AS k,
                   CAST(user_id AS VARCHAR) AS uid_str,
                   NULLIF(TRY_CAST(regexp_extract(
                       json_extract_string(props, '$.k'),
                       '^\\s*([+-]?[0-9]+)', 1) AS BIGINT), 0) AS k_int
            FROM events
        """,
        "filter_parser": """
            SELECT event_id, event_type,
                   CASE WHEN event_id % 3 = 0
                        THEN json_extract_string(props, '$.k') END AS k,
                   CASE WHEN event_id % 3 != 0 THEN event_type END AS level,
                   CASE WHEN event_id % 3 != 0
                        THEN 'm' || CAST(user_id AS VARCHAR) END AS msg
            FROM events
        """,
        "classic_conf": """
            WITH f AS (
              SELECT event_id, event_type,
                     CASE WHEN event_type = 'error' THEN 'high' END AS severity
              FROM events WHERE event_type IN ('click', 'error')),
            r AS (
              SELECT 'ev.in' AS tag, event_id, event_type, severity FROM f
              UNION ALL
              SELECT 'alerts.error' AS tag, event_id, event_type, severity
              FROM f WHERE event_type = 'error')
            SELECT 'null.0' AS out_id, tag, event_id, event_type, severity
            FROM r WHERE tag LIKE 'alerts.%'
            UNION ALL
            SELECT 'null.1' AS out_id, tag, event_id, event_type, severity
            FROM r WHERE tag LIKE 'ev.%'
        """,
        "sp_create_stream": """
            WITH alerts AS (
              SELECT user_id, value, ts FROM events
              WHERE (event_type = 'error' AND value > 5)
                 OR (event_type = 'click' AND value > 15))
            SELECT epoch(date_trunc('hour', ts))::bigint AS window_start,
                   user_id, count(*)::bigint AS records,
                   round(sum(value), 4) AS sum_value
            FROM alerts GROUP BY 1, 2
        """,
        "sp_aggregate": """
            SELECT event_type, count(*)::bigint AS records,
                   round(sum(value), 4) AS sum_value,
                   min(value) AS min_value, max(value) AS max_value,
                   round(sum(value) / count(*), 4) AS avg_value
            FROM events GROUP BY event_type
        """,
        "sp_tumbling": """
            SELECT epoch(date_trunc('minute', ts))::bigint AS window_start,
                   event_type, count(*)::bigint AS records,
                   round(sum(value), 4) AS sum_value
            FROM events WHERE value >= 10 GROUP BY 1, 2
        """,
        "sp_hopping": """
            SELECT epoch(date_trunc('minute', ts))::bigint - o.off AS window_start,
                   event_type, count(*)::bigint AS records
            FROM events CROSS JOIN unnest([0, 60]) AS o(off)
            GROUP BY 1, 2
        """,
        "sp_forecast": """
            SELECT event_type,
                   round(avg(value) - (covar_pop(epoch(ts), value) / var_pop(epoch(ts))) * avg(epoch(ts))
                         + (covar_pop(epoch(ts), value) / var_pop(epoch(ts))) * (max(epoch(ts)) + 600),
                         2) AS forecast
            FROM events GROUP BY event_type
        """,
        "throttle": """
            SELECT event_id FROM (
              SELECT event_id, row_number() OVER (
                PARTITION BY event_type, date_trunc('minute', ts)
                ORDER BY event_id) AS rn
              FROM events) WHERE rn <= 5
        """,
        "sample_hash": f"""
            SELECT doc_id FROM documents WHERE {h32_doc} % 100 < 10
        """,
        "json_props_sum": """
            SELECT event_type,
                   cast(sum(cast(json_extract_string(props, '$.k') as bigint)) as bigint) AS k_sum,
                   count(*)::bigint AS records
            FROM events GROUP BY event_type
        """,
        "flowcounter": """
            SELECT event_type AS tag,
                   epoch(date_trunc('minute', ts))::bigint AS window_start,
                   count(*)::bigint AS records,
                   cast(sum(len(props)) as bigint) AS bytes
            FROM events GROUP BY 1, 2
        """,
        "time_parse": """
            SELECT event_id,
                   epoch(strptime(strftime(ts, '%d/%b/%Y:%H:%M:%S'),
                                  '%d/%b/%Y:%H:%M:%S'))::bigint AS epoch
            FROM events WHERE event_id < 2000
        """,
        "dedup_exact": """
            SELECT min(doc_id) AS keep_id, count(*)::bigint AS n_dups,
                   md5(text) AS digest
            FROM documents GROUP BY md5(text)
        """,
        "dedup_exact_stream": """
            -- min doc_id per distinct text: the stream input is
            -- pre-deduped the same way (see q_dedup_exact_stream)
            SELECT doc_id, md5(text) AS digest, lang
            FROM (SELECT doc_id, text, lang,
                         row_number() OVER (PARTITION BY text
                                            ORDER BY doc_id) AS rn
                  FROM documents)
            WHERE rn = 1
        """,
        "corpus_stream": f"""
            WITH pages AS (
              SELECT doc_id,
                     'https://' || source || '.com/' || cast(doc_id as varchar)
                       AS url,
                     text
              FROM documents
            ),
            grp AS (
              SELECT md5(text) AS digest, min(url) AS keep_url
              FROM pages GROUP BY md5(text)
            ),
            kept AS (
              SELECT p.doc_id, p.url, p.text
              FROM pages p
              JOIN grp g ON md5(p.text) = g.digest AND p.url = g.keep_url
            ),
            tok AS (
              SELECT doc_id, url, text, {tokens} AS tk,
                     length(text)::bigint AS n_chars,
                     length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::bigint
                       AS alpha_chars
              FROM kept
            ),
            scored AS (
              SELECT doc_id, url, len(tk)::bigint AS ws_tokens, n_chars,
                     alpha_chars, [{lang_scores}] AS scores
              FROM tok
            ),
            stats AS (
              SELECT doc_id, url, ws_tokens, n_chars, alpha_chars,
                     ([{lang_arr}])[list_position(scores, list_max(scores))]
                       AS pred_lang
              FROM scored
              WHERE ws_tokens >= 3 AND alpha_chars * 2 >= n_chars
            )
            SELECT (e + doc_id - (e + doc_id) % 3600)::bigint AS window_start,
                   regexp_extract(url, 'https://([^/]+)/', 1) AS domain,
                   pred_lang,
                   count(*)::bigint AS n_docs,
                   cast(sum(ws_tokens) as bigint) AS total_ws_tokens,
                   cast(sum(n_chars) as bigint) AS total_chars,
                   cast(sum(alpha_chars) as bigint) AS total_alpha_chars
            FROM stats,
                 (SELECT epoch(TIMESTAMP '2026-01-01 00:00:00')::bigint AS e)
            GROUP BY 1, 2, 3
        """,
        "gopher_quality": f"""
            WITH sig AS (
                SELECT doc_id,
                       {WF_G["n_words"]} AS n_words,
                       {WF_G["mean_word_len"]} AS mean_word_len,
                       {WF_G["symbol_word_ratio"]} AS symbol_word_ratio,
                       {WF_G["alpha_word_ratio"]} AS alpha_word_ratio
                FROM (SELECT doc_id, {WF_G["prelude"]} FROM documents)
            )
            SELECT doc_id, n_words, mean_word_len, symbol_word_ratio,
                   alpha_word_ratio,
                   (n_words BETWEEN {WF.GOPHER_MIN_WORDS} AND {WF.GOPHER_MAX_WORDS}
                    AND mean_word_len BETWEEN {WF.GOPHER_MIN_MEAN_LEN} AND {WF.GOPHER_MAX_MEAN_LEN}
                    AND symbol_word_ratio <= {WF.GOPHER_MAX_SYMBOL_RATIO}
                    AND alpha_word_ratio >= {WF.GOPHER_MIN_ALPHA_RATIO}) AS gopher_pass
            FROM sig
        """,
        "line_repetition": f"""
            WITH l AS (SELECT doc_id, {WF.duck_chunk_lines("text")} AS lines
                       FROM documents),
                 s AS (SELECT doc_id, lines, {WF_L["prelude"]} FROM l)
            SELECT doc_id,
                   {WF_L["n_lines"]} AS n_lines,
                   {WF_L["dup_line_frac"]} AS dup_line_frac,
                   {WF_L["dup_line_char_frac"]} AS dup_line_char_frac
            FROM s
        """,
        "dedup_lines": f"""
            WITH l AS (SELECT doc_id, {WF.duck_chunk_lines("text")} AS lines
                       FROM documents),
                 k AS (SELECT doc_id, lines, {WF_DL["prelude"]} FROM l)
            SELECT doc_id,
                   {WF_DL["n_lines_in"]} AS n_lines_in,
                   {WF_DL["n_lines_out"]} AS n_lines_out,
                   md5({WF_DL["clean_text"]}) AS clean_digest
            FROM k
        """,
        "top_bigram": f"""
            WITH tk AS (SELECT doc_id, len(text)::bigint AS _len,
                               {tokens} AS _tk FROM documents),
                 g AS (SELECT doc_id, _len,
                              unnest([array_to_string(list_slice(_tk, i, i+1), ' ')
                                      for i in generate_series(1, greatest(len(_tk)-1, 1))]) AS gram
                       FROM tk),
                 c AS (SELECT doc_id, _len, gram, count(*)::bigint AS cnt
                       FROM g GROUP BY 1, 2, 3),
                 r AS (SELECT *, row_number() OVER (
                           PARTITION BY doc_id ORDER BY cnt DESC, gram ASC) AS rn
                       FROM c)
            SELECT doc_id, gram AS top_gram, cnt AS top_gram_count,
                   round((cnt * len(gram))::double / greatest(_len, 1), 6)
                       AS top_gram_char_frac
            FROM r WHERE rn = 1
        """,
        "domain_cap": """
            SELECT doc_id, source, domain_rank FROM (
                SELECT doc_id, source, row_number() OVER (
                    PARTITION BY source ORDER BY doc_id) AS domain_rank
                FROM documents
            ) WHERE domain_rank <= 10
        """,
        "pii_scrub": f"""
            WITH t AS (
                SELECT doc_id,
                       text || ' contact user' || doc_id::varchar ||
                       '@example.com or +1 (415) 555-01' || (doc_id % 100)::varchar ||
                       ' at 10.0.' || (doc_id % 256)::varchar || '.7 end' AS text2
                FROM documents
            )
            SELECT doc_id,
                   {WF_P["n_email"]} AS n_email,
                   {WF_P["n_ip"]} AS n_ip,
                   {WF_P["n_phone"]} AS n_phone,
                   md5({WF_P["scrubbed"]}) AS scrub_digest
            FROM t
        """,
        "sessionize": """
            WITH trunc AS (
                SELECT user_id, date_trunc('second', ts) AS ts, value
                FROM events
            ),
            ordered AS (
                SELECT user_id, ts, value,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_t
                FROM trunc
            ),
            marked AS (
                SELECT user_id, ts, value,
                       CASE WHEN prev_t IS NULL
                                 OR date_diff('second', prev_t, ts) > 14400
                            THEN 1 ELSE 0 END AS new_session
                FROM ordered
            ),
            islands AS (
                SELECT user_id, ts, value,
                       sum(new_session) OVER (
                           PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS sid
                FROM marked
            )
            SELECT user_id,
                   epoch(min(ts))::bigint AS session_start,
                   (epoch(max(ts)) + 14400)::bigint AS session_end,
                   count(*)::bigint AS n_events,
                   round(sum(value), 4) AS sum_value
            FROM islands GROUP BY user_id, sid
        """,
        "stratified_sample": f"""
            SELECT doc_id, source, sample_rank FROM (
                SELECT doc_id, source, row_number() OVER (
                    PARTITION BY source ORDER BY {h32_doc}, doc_id
                )::bigint AS sample_rank
                FROM documents
            ) WHERE sample_rank <= 5
        """,
        "token_budget": f"""
            WITH tok AS (
                SELECT doc_id, lang, len({tokens})::bigint AS ws_tokens
                FROM documents
            ),
            c AS (
                SELECT doc_id, lang, ws_tokens,
                       sum(ws_tokens) OVER (
                           PARTITION BY lang ORDER BY {h32_doc}, doc_id
                           ROWS UNBOUNDED PRECEDING)::bigint AS cum_tokens
                FROM tok
            )
            SELECT doc_id, lang, ws_tokens, cum_tokens
            FROM c WHERE cum_tokens <= 500
        """,
        "decontam": f"""
            WITH dt AS (SELECT doc_id, {tokens} AS _tk FROM documents),
                 dh AS (SELECT doc_id, {WF.duck_ngram_hash_list(8)} AS gs
                        FROM dt),
                 dg AS (SELECT doc_id, unnest(gs) AS gh FROM dh),
                 bg AS (SELECT DISTINCT unnest(gs) AS gh FROM dh
                        WHERE doc_id % 50 = 0)
            SELECT doc_id, count(*)::bigint AS n_hits
            FROM dg JOIN bg USING (gh) GROUP BY doc_id
        """,
        # the Bloom prefilter is exact-confirmed: same result, same oracle
        "decontam_bloom": f"""
            WITH dt AS (SELECT doc_id, {tokens} AS _tk FROM documents),
                 dh AS (SELECT doc_id, {WF.duck_ngram_hash_list(8)} AS gs
                        FROM dt),
                 dg AS (SELECT doc_id, unnest(gs) AS gh FROM dh),
                 bg AS (SELECT DISTINCT unnest(gs) AS gh FROM dh
                        WHERE doc_id % 50 = 0)
            SELECT doc_id, count(*)::bigint AS n_hits
            FROM dg JOIN bg USING (gh) GROUP BY doc_id
        """,
        # deterministic cap: both engines order (cnt DESC, word), so
        # the 200-row cut is identical even through count ties
        "bpe_word_counts": f"""
            WITH w AS (SELECT unnest({tokens}) AS word FROM documents)
            SELECT word, count(*)::bigint AS cnt
            FROM w GROUP BY word
            ORDER BY cnt DESC, word
            LIMIT 200
        """,
        # quantile_cont == Spark percentile (both linear interpolation)
        "length_quantiles": f"""
            WITH t AS (SELECT lang, len({tokens}) AS _t FROM documents)
            SELECT lang, count(*)::bigint AS docs,
                   quantile_cont(_t, 0.5)  AS p50_tokens,
                   quantile_cont(_t, 0.9)  AS p90_tokens,
                   quantile_cont(_t, 0.99) AS p99_tokens
            FROM t GROUP BY lang
        """,
        "c4_line_filter": f"""
            WITH l AS (
                SELECT doc_id,
                       list_transform({WF.duck_chunk_lines("text")},
                           l -> CASE WHEN len(l) % 3 = 0 THEN l || '.' ELSE l END)
                           AS lines
                FROM documents
            ),
                 k AS (SELECT doc_id, lines, {WF_C["prelude"]} FROM l)
            SELECT doc_id,
                   {WF_C["n_kept_lines"]} AS n_kept_lines,
                   md5({WF_C["clean_text"]}) AS clean_digest,
                   ({WF_C["c4_keep"]}) AS c4_keep
            FROM k
        """,
        "dedup_ngram_jaccard": f"""
            WITH s AS (SELECT doc_id AS id, lang, {hs} AS hs FROM documents)
            SELECT a.id AS id_a, b.id AS id_b,
                   round(len(list_intersect(a.hs, b.hs))::double
                         / len(list_distinct(list_concat(a.hs, b.hs))), 6) AS jacc
            FROM s a JOIN s b ON a.id < b.id AND a.lang = b.lang
            WHERE round(len(list_intersect(a.hs, b.hs))::double
                        / len(list_distinct(list_concat(a.hs, b.hs))), 6) >= 0.2
        """,
        "dedup_minhash_lsh": f"""
            WITH {mh_ctes}
            SELECT id_a, id_b, jacc FROM mh_pairs
        """,
        "dedup_clusters": f"""
            WITH RECURSIVE {mh_ctes},
            {cc_ctes}
            SELECT doc_id, cluster_id,
                   count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
                   doc_id = cluster_id AS keep
            FROM labels
        """,
        "split_leakage": f"""
            WITH RECURSIVE {mh_ctes},
            {cc_ctes},
            meta AS (
              SELECT d.doc_id,
                CASE WHEN {P.duck_h32('cast(d.doc_id as varchar)')} % 100 < 80 THEN 'train'
                     WHEN {P.duck_h32('cast(d.doc_id as varchar)')} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS s_doc,
                CASE WHEN {P.duck_h32('d.source')} % 100 < 80 THEN 'train'
                     WHEN {P.duck_h32('d.source')} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS s_dom,
                CASE WHEN {P.duck_h32('cast(l.cluster_id as varchar)')} % 100 < 80 THEN 'train'
                     WHEN {P.duck_h32('cast(l.cluster_id as varchar)')} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS s_clus
              FROM documents d JOIN labels l ON d.doc_id = l.doc_id
            )
            SELECT count(*)::bigint AS n_pairs,
                   sum(CASE WHEN a.s_doc != b.s_doc THEN 1 ELSE 0 END)::bigint
                     AS cross_doc_split,
                   sum(CASE WHEN a.s_dom != b.s_dom THEN 1 ELSE 0 END)::bigint
                     AS cross_domain_split,
                   sum(CASE WHEN a.s_clus != b.s_clus THEN 1 ELSE 0 END)::bigint
                     AS cross_cluster_split
            FROM mh_pairs p JOIN meta a ON p.id_a = a.doc_id
                            JOIN meta b ON p.id_b = b.doc_id
        """,
        "sequence_pack": _duck_sequence_pack_sql(),
        "corpus_shuffle": _duck_corpus_shuffle_sql(),
        "doc_chunks": _duck_doc_chunks_sql(),
        "hash_embed": _duck_hash_embed_sql(),
        "rag_chunk_topk": _duck_rag_chunk_topk_sql(),
        "rag_chunk_lsh": _duck_rag_chunk_lsh_sql(),
        "text_normalize": _duck_text_normalize_sql(),
        "grok_parse": r"""
            WITH l AS (
              SELECT event_id,
                     event_type || ' ' || user_id || ' path=/e/' || event_id
                       AS text
              FROM events
            )
            SELECT event_id,
                   CASE WHEN regexp_matches(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$')
                        THEN regexp_extract(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$', 1) END AS etype,
                   CASE WHEN regexp_matches(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$')
                        THEN regexp_extract(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$', 2)::bigint
                   END AS uid,
                   CASE WHEN regexp_matches(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$')
                        THEN regexp_extract(text,
                        '^(\w+) ([+-]?\d+) path=(\S+)$', 3) END AS epath
            FROM l
        """,
        "grok_conf_parse": """
            WITH l AS (
              SELECT event_id, ts, user_id,
                     CASE WHEN event_id % 3 = 0 THEN props
                          ELSE 'get /p/' || cast(user_id as varchar)
                               || ' code=' || cast(200 + event_id % 5 as varchar)
                               || ' took=' || cast(event_id % 97 as varchar)
                               || '.' || cast(user_id % 10 as varchar)
                               || ' t=' || strftime(ts, '%d/%b/%Y:%H:%M:%S')
                     END AS log
              FROM events)
            SELECT event_id,
                   CASE WHEN event_id % 3 = 0
                        THEN json_extract_string(log, '$.k') END AS k,
                   CASE WHEN event_id % 3 != 0 THEN 'get' END AS verb,
                   CASE WHEN event_id % 3 != 0
                        THEN '/p/' || cast(user_id as varchar) END AS apath,
                   CASE WHEN event_id % 3 != 0
                        THEN (200 + event_id % 5)::bigint END AS code,
                   CASE WHEN event_id % 3 != 0
                        THEN round((cast(event_id % 97 as varchar) || '.'
                             || cast(user_id % 10 as varchar))::double, 4)
                   END AS took,
                   CASE WHEN event_id % 3 = 0
                        THEN epoch(date_trunc('second', ts))::bigint
                        ELSE epoch(strptime(strftime(ts, '%d/%b/%Y:%H:%M:%S'),
                                            '%d/%b/%Y:%H:%M:%S'))::bigint
                   END AS epoch
            FROM l
        """,
        "lua_script": """
            WITH kept AS (
              SELECT 'ev.' || event_type AS tag, ts, event_id, user_id,
                     event_type, value
              FROM events WHERE value >= 1.0
            )
            SELECT tag, floor(epoch(ts))::bigint AS epoch, event_id, user_id,
                   event_type, value, CAST(NULL AS varchar) AS flagged,
                   floor(value / 10.0)::bigint AS vbucket
            FROM kept WHERE event_type <> 'purchase'
            UNION ALL
            SELECT tag, floor(epoch(ts))::bigint + 1 AS epoch, event_id,
                   user_id, event_type, value, upper(tag) AS flagged,
                   CAST(NULL AS bigint) AS vbucket
            FROM kept WHERE event_type = 'purchase'
            UNION ALL
            SELECT tag, floor(epoch(ts))::bigint + 1 AS epoch, event_id,
                   user_id, 'audit' AS event_type, value * 2.0 AS value,
                   CAST(NULL AS varchar) AS flagged,
                   CAST(NULL AS bigint) AS vbucket
            FROM kept WHERE event_type = 'purchase'
        """,
        "kubernetes_meta": """
            WITH meta AS (
              SELECT 'ns' || (i % 3)::varchar AS ns,
                     'pod-' || i::varchar AS pod,
                     md5(i::varchar) AS pod_id,
                     'app-' || (i % 4)::varchar AS app_label,
                     'node-' || (i % 5)::varchar AS host,
                     '10.0.0.' || i::varchar AS pod_ip
              FROM range(20) t(i)
            )
            SELECT e.event_id,
                   'pod-' || (e.user_id % 20)::varchar AS pod_name,
                   'ns' || (e.event_id % 3)::varchar AS namespace_name,
                   e.event_type AS container_name,
                   md5(e.user_id::varchar) || md5(e.user_id::varchar)
                       AS docker_id,
                   m.pod_id, m.app_label, m.host, m.pod_ip
            FROM events e
            LEFT JOIN meta m
              ON m.ns = 'ns' || (e.event_id % 3)::varchar
             AND m.pod = 'pod-' || (e.user_id % 20)::varchar
        """,
        "wasm_filter": """
            SELECT 'ev.' || event_type AS tag,
                   floor(epoch(ts))::bigint AS epoch, event_id, user_id,
                   event_type, value, 1::bigint AS wasm
            FROM events WHERE event_type <> 'view'
        """,
        "yaml_conf": """
            SELECT 'ev.lib' AS tag, event_id, event_type, value,
                   CASE WHEN event_type = 'error' THEN 'high' END AS severity
            FROM events
            WHERE regexp_matches(event_type, '^(click|error)$')
        """,
        "corpus_split": f"""
            WITH s AS (
              SELECT lang, source,
                CASE WHEN {P.duck_h32('source')} % 100 < 80 THEN 'train'
                     WHEN {P.duck_h32('source')} % 100 < 90 THEN 'val'
                     ELSE 'test' END AS split
              FROM documents
            )
            SELECT split, lang, count(*)::bigint AS n_docs,
                   count(DISTINCT source)::bigint AS n_domains
            FROM s GROUP BY split, lang
        """,
        "incremental_dedup": f"""
            WITH s AS (SELECT doc_id AS id, doc_id % 5 = 0 AS is_batch,
                              md5(text) AS digest, {hs} AS hs FROM documents),
            sigs AS (SELECT id, is_batch, digest, {sig} AS sig FROM s),
            ib AS (SELECT id AS iid, digest, sig FROM sigs WHERE NOT is_batch),
            nb AS (SELECT id AS nid, digest, sig FROM sigs WHERE is_batch),
            ibands AS (SELECT iid, bi AS band, ({bands})[bi + 1] AS bkey
                       FROM ib CROSS JOIN unnest(generate_series(0, {P.N_BANDS - 1})) AS t(bi)),
            iok AS (SELECT band, bkey FROM ibands GROUP BY band, bkey
                    HAVING count(*) <= 1000),
            ib2 AS (SELECT ibands.* FROM ibands JOIN iok USING (band, bkey)),
            nbands AS (SELECT nid, bi AS band, ({bands})[bi + 1] AS bkey
                       FROM nb CROSS JOIN unnest(generate_series(0, {P.N_BANDS - 1})) AS t(bi)),
            cand AS (SELECT DISTINCT n.nid, i.iid
                     FROM nbands n JOIN ib2 i USING (band, bkey)),
            near AS (SELECT c.nid, min(c.iid) AS near_dup_of
                     FROM cand c JOIN nb ON c.nid = nb.nid
                                 JOIN ib ON c.iid = ib.iid
                     WHERE len(list_filter(generate_series(1, {P.N_HASHES}),
                           i -> nb.sig[i] = ib.sig[i]))::double / {P.N_HASHES} >= 0.25
                     GROUP BY c.nid),
            idix AS (SELECT DISTINCT digest FROM ib)
            SELECT nb.nid AS doc_id,
                   idix.digest IS NULL AS is_new_exact,
                   near.near_dup_of,
                   (idix.digest IS NULL AND near.near_dup_of IS NULL) AS kept
            FROM nb LEFT JOIN idix ON nb.digest = idix.digest
                    LEFT JOIN near ON nb.nid = near.nid
        """,
        "substring_dedup": _duck_substring_dedup(),
        "lm_score": _duck_lm_score_sql(),
        "url_filter": _duck_url_filter(),
        "ann_quantized": _duck_ann_quantized(),
        "embedding_clusters": _duck_embedding_clusters(),
        "semdedup": _duck_semdedup(),
        "curation_pipeline": _duck_curation_pipeline(),
        # streaming run drains micro-batches; survivors are exactly
        # the text-unique, index-disjoint %5==0 originals (see
        # q_incremental_dedup_stream)
        "incremental_dedup_stream": """
            SELECT doc_id, md5(text) AS digest, lang
            FROM (SELECT doc_id, text, lang,
                         row_number() OVER (PARTITION BY text
                                            ORDER BY doc_id) AS rn
                  FROM documents WHERE doc_id % 5 = 0)
            WHERE rn = 1
              AND text NOT IN (SELECT text FROM documents
                               WHERE doc_id % 5 <> 0)
        """,
        "dedup_simhash": f"""
            WITH t AS (SELECT doc_id, {th} AS th FROM documents)
            SELECT doc_id, {P.duck_simhash('th')} AS simhash FROM t
        """,
        "fingerprint": f"""
            WITH t AS (SELECT doc_id, {th} AS th FROM documents)
            SELECT doc_id, {P.duck_fingerprint('th')} AS fingerprint FROM t
        """,
        "token_count": f"""
            SELECT doc_id,
                   len({tokens})::int AS ws_tokens,
                   len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::int AS bpe_tokens
            FROM documents
        """,
        "quality_score": f"""
            WITH t AS (SELECT doc_id, text, {tokens} AS tk FROM documents)
            SELECT doc_id,
                   len(text)::bigint AS n_chars,
                   len(tk)::bigint AS n_tokens,
                   round(list_reduce(list_prepend(cast(0 as double),
                         list_transform(tk, x -> cast(len(x) as double))),
                         (acc, z) -> acc + z) / greatest(len(tk), 1), 6) AS avg_token_len,
                   round(len(list_filter(tk, t -> t in ({sw})))::double
                         / greatest(len(tk), 1), 6) AS stopword_ratio,
                   round(len(regexp_replace(text, '[^A-Za-z]', '', 'g'))::double
                         / greatest(len(text), 1), 6) AS alpha_ratio
            FROM t
        """,
        "lang_id": f"""
            WITH t AS (SELECT doc_id, {tokens} AS tk FROM documents),
            s AS (SELECT doc_id, [{lang_scores}] AS scores FROM t)
            SELECT doc_id, ([{lang_arr}])[list_position(scores, list_max(scores))] AS pred_lang
            FROM s
        """,
        "ann_cosine_topk": _duck_topk_sql(bucketed=False),
        "ann_lsh_topk": _duck_topk_sql(bucketed=True),
        "ann_ivf_topk": _duck_ivf_sql(),
        "multimodal_meta": """
            SELECT doc_id,
                   octet_length(encode(text))::bigint AS media_bytes,
                   lower(hex(encode(substr(text, 1, 4)))) AS media_magic,
                   'unknown' AS media_type
            FROM documents
        """,
        "multimodal_features": """
            WITH t AS (SELECT doc_id AS id, text,
                coalesce(list_sum([ascii(substr(text, i, 1))
                    for i in generate_series(1, least(64, len(text)))]), 0) AS cs
                FROM documents)
            SELECT id, len(text)::bigint AS n_bytes,
                   (16 + cs % 64)::int AS width,
                   (16 + (cs * 7) % 64)::int AS height
            FROM t
        """,
        "multimodal_decode": """
            SELECT doc_id AS id,
                   CASE doc_id % 4 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                        WHEN 2 THEN 'jpeg' ELSE 'wav' END AS media_type,
                   (CASE WHEN doc_id % 4 < 3 THEN doc_id % 512 + 1 END)::int AS width,
                   (CASE WHEN doc_id % 4 < 3 THEN (doc_id * 3) % 512 + 1 END)::int AS height,
                   (CASE WHEN doc_id % 4 = 3 THEN doc_id % 2 + 1 END)::int AS channels,
                   (CASE WHEN doc_id % 4 = 3
                         THEN 8000 + (doc_id % 5) * 4000 END)::int AS sample_rate
            FROM documents
        """,
        "metrics_labels": """
            WITH m AS (
              SELECT event_type, (user_id % 3) AS h, count(*)::double AS value
              FROM events GROUP BY 1, 2)
            SELECT 'fb_events_total' AS metric_name,
                   'env=prod,stage=agg,svc=' || sha256('metrics.' || event_type)
                     || ',type=' || event_type AS labels_str,
                   value
            FROM m
        """,
        "metrics_selector": """
            WITH e AS (SELECT event_type, count(*)::double AS cnt,
                              round(sum(value), 4) AS vsum
                       FROM events GROUP BY 1)
            SELECT * FROM (
              SELECT 'fb_events_total' AS metric_name,
                     'type=' || event_type AS labels_str, cnt AS value FROM e
              UNION ALL
              SELECT 'fb_value_sum', 'type=' || event_type, vsum FROM e
              UNION ALL
              SELECT 'node_up', 'type=' || event_type, 1.0 FROM e
            ) WHERE metric_name LIKE 'fb_%' AND labels_str <> 'type=purchase'
        """,
        "html_extract": """
            SELECT doc_id, '"' || text || '" & more' AS extracted
            FROM documents
        """,
        "otel_envelope": """
            WITH tagged AS (
              SELECT 'app.' || event_type AS tag, event_id,
                     value::double AS value
              FROM events WHERE event_id < 500),
            g AS (SELECT DISTINCT tag FROM tagged)
            SELECT tag, 'group_start' AS record_type,
                   'otlp' AS otel_schema, 0::bigint AS resource_id,
                   0::bigint AS scope_id, 0 AS seq,
                   NULL::bigint AS event_id, NULL::double AS value
            FROM g
            UNION ALL
            SELECT tag, 'normal', NULL, NULL, NULL, 1, event_id, value
            FROM tagged
            UNION ALL
            SELECT tag, 'group_end', NULL, NULL, NULL, 2, NULL, NULL
            FROM g
        """,
        "ltm_counter": """
            SELECT event_type, count(*)::double AS value
            FROM events WHERE value >= 100 GROUP BY event_type
        """,
        "ltm_gauge": """
            SELECT event_type, value FROM (
              SELECT event_type, value,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY event_id DESC) AS rn
              FROM events) WHERE rn = 1
        """,
        "ltm_histogram": """
            WITH per AS (
              SELECT event_type, round(sum(value), 4) AS metric_sum,
                     count(*)::bigint AS metric_count,
                     sum(CASE WHEN value <= 50 THEN 1 ELSE 0 END)::bigint AS b0,
                     sum(CASE WHEN value <= 100 THEN 1 ELSE 0 END)::bigint AS b1,
                     sum(CASE WHEN value <= 200 THEN 1 ELSE 0 END)::bigint AS b2
              FROM events GROUP BY event_type)
            SELECT event_type, u.le,
                   CASE u.le WHEN '50.0' THEN b0 WHEN '100.0' THEN b1
                             WHEN '200.0' THEN b2 ELSE metric_count END AS bucket_count,
                   metric_sum, metric_count
            FROM per CROSS JOIN unnest(['50.0','100.0','200.0','+Inf']) AS u(le)
        """,
        "snapshot_flush": """
            WITH trig AS (SELECT event_type, event_id AS trigger_id
                          FROM events WHERE value >= 480)
            SELECT trigger_id, event_id, event_type FROM (
              SELECT t.trigger_id, e.event_id, e.event_type,
                     row_number() OVER (PARTITION BY e.event_type, t.trigger_id
                                        ORDER BY e.event_id DESC) AS rn
              FROM events e JOIN trig t
                ON e.event_type = t.event_type AND e.event_id <= t.trigger_id
            ) WHERE rn <= 3
        """,
        "udf_hook": """
            WITH base AS (SELECT 'app.' || event_type AS tag,
                                 floor(epoch(ts))::bigint AS ts_sec, event_id, value
                          FROM events WHERE event_id < 1000 AND value >= 1)
            SELECT tag, ts_sec, event_id, NULL::int AS half
            FROM base WHERE value < 100
            UNION ALL
            SELECT tag, ts_sec, event_id, h.half
            FROM base CROSS JOIN unnest([1, 2]) AS h(half)
            WHERE value >= 100
        """,
        "dedup_embedding_exact": f"""
            SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                   round({_duck_cos('a.embedding', 'b.embedding')}, 6) AS cos
            FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
            WHERE round({_duck_cos('a.embedding', 'b.embedding')}, 6) >= 0.3
        """,
        "dedup_embedding_lsh": _duck_embedding_lsh_sql(),
        "multiline": """
            WITH l AS (SELECT user_id % 50 AS file, event_id AS seq,
                CASE WHEN value >= 100 THEN 'START ' || event_type
                     ELSE '  cont ' || event_type END AS line FROM events),
            r AS (SELECT file, seq,
                sum(CASE WHEN line LIKE 'START %' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY file ORDER BY seq
                        ROWS UNBOUNDED PRECEDING) AS record_id FROM l)
            SELECT file, record_id::bigint AS record_id,
                   count(*)::bigint AS n_lines, min(seq) AS first_seq
            FROM r GROUP BY file, record_id
        """,
        "multiline_partial": """
            WITH l AS (SELECT 'c.' || (user_id % 8) AS tag,
                event_id AS seq,
                event_type || '#' || (event_id % 100) || ';' AS log,
                (user_id % 7 <> 0) AS isp,
                CAST(user_id % 5 AS VARCHAR) AS pid,
                (event_id % 4 = 3) AS islast FROM events),
            p AS (SELECT *, COALESCE(SUM(CASE WHEN islast THEN 1 ELSE 0 END)
                    OVER (PARTITION BY tag, pid ORDER BY seq
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS epoch
                  FROM l WHERE isp),
            g AS (SELECT tag, string_agg(log, '' ORDER BY seq) AS log,
                         min(seq) AS first_seq
                  FROM p GROUP BY tag, pid, epoch)
            SELECT tag, log, first_seq FROM g
            UNION ALL
            SELECT tag, log, seq AS first_seq FROM l WHERE NOT isp
        """,
        "multiline_stream": """
            WITH base AS (
              SELECT user_id % 50 AS file, event_id AS seq,
                     CASE WHEN event_id % 10 <= 2 THEN 'E'
                          WHEN event_id % 10 <= 7 THEN 'A'
                          WHEN event_id % 10 = 8 THEN 'C'
                          ELSE 'S' END AS cls,
                     CASE WHEN event_id % 10 <= 2 THEN
                            'Exception in thread main ' || event_type ||
                            'Exception: code ' || CAST(user_id AS VARCHAR)
                          WHEN event_id % 10 <= 7 THEN
                            '     at com.' || event_type || '.Main(App.java:'
                            || CAST(user_id AS VARCHAR) || ')'
                          WHEN event_id % 10 = 8 THEN
                            'Caused by: timeout ' || CAST(user_id AS VARCHAR)
                          ELSE 'plain ' || event_type || ' '
                               || CAST(user_id AS VARCHAR) END AS line
              FROM events),
            mx AS (SELECT file, max(seq) AS m FROM base GROUP BY file),
            l AS (SELECT file, seq, cls, line FROM base
                  UNION ALL
                  SELECT mx.file, mx.m + 1000000, 'S',
                         'plain eof ' || CAST(mx.file AS VARCHAR) FROM mx),
            c AS (SELECT *, cls IN ('A', 'C') AS is_cont FROM l),
            lnc AS (SELECT *,
                     max(CASE WHEN NOT is_cont THEN seq END)
                       OVER (PARTITION BY file ORDER BY seq
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_nc_seq
                    FROM c),
            j AS (SELECT a.*, b.cls AS prev_nc_cls
                  FROM lnc a LEFT JOIN c b
                    ON a.file = b.file AND a.prev_nc_seq = b.seq),
            st AS (SELECT *,
                     CASE WHEN NOT is_cont THEN 1
                          WHEN prev_nc_cls = 'E' THEN 0
                          ELSE 1 END AS is_start
                   FROM j),
            r AS (SELECT *,
                    sum(is_start) OVER (PARTITION BY file ORDER BY seq
                                        ROWS UNBOUNDED PRECEDING) - 1 AS rid
                  FROM st)
            SELECT file, rid::bigint AS record_id,
                   count(*)::bigint AS n_lines, min(seq) AS first_seq,
                   string_agg(line, chr(10) ORDER BY seq) AS record
            FROM r GROUP BY file, rid
        """,
        "multiline_java": """
            WITH l AS (
              SELECT user_id % 50 AS file, event_id AS seq,
                     event_id % 10 AS m,
                     CASE WHEN event_id % 10 <= 2 THEN 'E'
                          WHEN event_id % 10 <= 7 THEN 'A'
                          WHEN event_id % 10 = 8 THEN 'C'
                          ELSE 'S' END AS cls,
                     CASE WHEN event_id % 10 <= 2 THEN
                            'Exception in thread main ' || event_type ||
                            'Exception: code ' || CAST(user_id AS VARCHAR)
                          WHEN event_id % 10 <= 7 THEN
                            '     at com.' || event_type || '.Main(App.java:'
                            || CAST(user_id AS VARCHAR) || ')'
                          WHEN event_id % 10 = 8 THEN
                            'Caused by: timeout ' || CAST(user_id AS VARCHAR)
                          ELSE 'plain ' || event_type || ' '
                               || CAST(user_id AS VARCHAR) END AS line
              FROM events),
            c AS (SELECT *, cls IN ('A', 'C') AS is_cont FROM l),
            lnc AS (SELECT *,
                     max(CASE WHEN NOT is_cont THEN seq END)
                       OVER (PARTITION BY file ORDER BY seq
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prev_nc_seq
                    FROM c),
            j AS (SELECT a.*, b.cls AS prev_nc_cls
                  FROM lnc a LEFT JOIN c b
                    ON a.file = b.file AND a.prev_nc_seq = b.seq),
            st AS (SELECT *,
                     CASE WHEN NOT is_cont THEN 1
                          WHEN prev_nc_cls = 'E' THEN 0
                          ELSE 1 END AS is_start
                   FROM j),
            r AS (SELECT *,
                    sum(is_start) OVER (PARTITION BY file ORDER BY seq
                                        ROWS UNBOUNDED PRECEDING) - 1 AS rid
                  FROM st)
            SELECT file, rid::bigint AS record_id,
                   count(*)::bigint AS n_lines, min(seq) AS first_seq,
                   string_agg(line, chr(10) ORDER BY seq) AS record
            FROM r GROUP BY file, rid
        """,
        "decoder_chain": """
            SELECT event_id,
                   CASE WHEN event_id % 3 != 0
                        THEN json_extract_string(props, '$.k') END AS k,
                   CASE WHEN event_id % 3 = 0
                        THEN e'not-json\\t' END AS props_str
            FROM events
        """,
        "multimodal_frames": """
            WITH t AS (SELECT doc_id AS id, len(text) AS n,
                least(8, greatest(1, len(text) // 256)) AS nf FROM documents)
            SELECT id, i AS frame_idx,
                   least(256, n - i * 256)::bigint AS frame_bytes
            FROM t CROSS JOIN unnest(generate_series(0, 7)) AS u(i)
            WHERE i < nf
        """,
    }
