"""out_nats / out_logdna / out_slack / out_td / out_nrlogs / out_http
record encodings (the network transports are out of scope per SURVEY
§2.9; these produce the exact bytes each plugin would put on the
wire).

- out_nats (plugins/out_nats/nats.c:81-140): the publish payload is a
  JSON array of ``[ts_double, {"tag": <tag>, ...record}]`` pairs — the
  record map re-packed with the tag prepended.
- out_logdna (plugins/out_logdna/logdna.c:54-130,132-205): per record
  ``{level?, meta?, file?, app?, timestamp, line}``; level comes from
  the first ``level``/``severity`` key, file/app fall back to config
  values (app default "Fluent Bit"), ``timestamp`` is whole seconds
  (int cast of the double time) and ``line`` is the FULL record as a
  JSON string; the body is ``{"lines": [...]}``.
- out_slack (plugins/out_slack/slack.c:150-235): one text line per
  record — ``["timestamp": <sec>.<9-digit nanos>, <msgpack print>]``
  where the record map renders in msgpack_object_print format
  (``{"k"=>"v", "n"=>3}``, doubles %f, bools true/false, NULL nil);
  the webhook payload is ``{"text": <all lines \\n-joined>}``.
- out_td (plugins/out_td/td.c:44-100): each record map gets a
  ``time`` key (epoch seconds int) appended — Treasure Data's
  msgpack import row, rendered here as its JSON equivalent.
- out_nrlogs (plugins/out_nrlogs/newrelic.c:55-145,145-240): per
  record ``{timestamp: <ms>, message?: <log|message value>,
  attributes: {rest}}`` — ``log`` wins over ``message`` as the
  message source and the winner is removed from attributes; the MELT
  payload wraps logs in ``[{"common": {"attributes": {"plugin":
  {"type": "Fluent Bit", "version": ...}}}, "logs": [...]}]``.
- out_http (plugins/out_http/http.c:437-460 via src/flb_pack.c:930
  flb_pack_msgpack_to_json_format): body formats json (one array) /
  json_stream (concatenated objects) / json_lines (NDJSON), each
  record optionally prefixed with ``json_date_key`` in double /
  iso8601 (.%06u Z) / java_sql_timestamp (.%06u, space separator) /
  epoch / epoch_ms format.

All encoders are pure Catalyst column expressions over typed record
columns — whole-stage-codegen JSON assembly, no Python in the path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.sinks import _mp_print

_KEEP_NULLS = {"ignoreNullFields": "false"}


def _record_cols(df: DataFrame, exclude: tuple) -> list[str]:
    return [c for c in df.columns
            if c not in exclude and not c.startswith("_")]


def _ts_double(ts_col: str) -> Column:
    return F.unix_micros(F.col(ts_col)) / F.lit(1_000_000.0)


# ---------------------------------------------------------------- nats

def to_nats_line(df: DataFrame, ts_col: str, tag_col: str = "tag") -> Column:
    """``[ts, {"tag": t, ...record}]`` — one array element of the NATS
    publish payload (join with ',' inside '[' ']' per chunk)."""
    rec = F.to_json(
        F.struct(
            F.col(tag_col).alias("tag"),
            *[df[c] for c in _record_cols(df, (ts_col, tag_col))],
        ),
        _KEEP_NULLS,
    )
    return F.concat(
        F.lit("["), _ts_double(ts_col).cast("string"), F.lit(","),
        rec, F.lit("]"),
    )


def nats_payload(lines: list[str]) -> str:
    return "[" + ",".join(lines) + "]"


# -------------------------------------------------------------- logdna

def to_logdna_line(
    df: DataFrame,
    ts_col: str,
    tag_col: str = "tag",
    file_conf: str | None = None,
    app_conf: str = "Fluent Bit",
) -> Column:
    """One ``lines[]`` element. Primary keys are picked from the
    record (level|severity, meta, file, app — logdna.c:54-130), file/
    app fall back to config; ``line`` is the full record JSON."""
    cols = _record_cols(df, (ts_col, tag_col))
    parts: list[Column] = []
    level_src = next((c for c in cols if c in ("level", "severity")), None)
    if level_src is not None:
        parts.append(df[level_src].alias("level"))
    if "meta" in cols:
        parts.append(df["meta"].alias("meta"))
    if "file" in cols:
        parts.append(df["file"].alias("file"))
    elif file_conf is not None:
        parts.append(F.lit(file_conf).alias("file"))
    if "app" in cols:
        parts.append(df["app"].alias("app"))
    else:
        parts.append(F.lit(app_conf).alias("app"))
    parts.append(
        _ts_double(ts_col).cast("int").alias("timestamp"))
    parts.append(
        F.to_json(F.struct(*[df[c] for c in cols]), _KEEP_NULLS)
        .alias("line"))
    return F.to_json(F.struct(*parts), _KEEP_NULLS)


def logdna_payload(lines: list[str]) -> str:
    return '{"lines":[' + ",".join(lines) + "]}"


# --------------------------------------------------------------- slack

def to_slack_line(df: DataFrame, ts_col: str, tag_col: str = "tag") -> Column:
    """``["timestamp": <sec>.<9-nanos>, {"k"=>v, ...}]`` — slack.c
    prints the record with msgpack_object_print_buffer."""
    us = F.unix_micros(F.col(ts_col))
    head = F.format_string(
        '["timestamp": %d.%09d, ',
        ((us - us % 1_000_000) / 1_000_000).cast("long"),
        (us % 1_000_000) * 1000)
    inner: list[Column] = []
    for c in _record_cols(df, (ts_col, tag_col)):
        inner.append(F.concat(F.lit(f'"{c}"=>'), _mp_print(df, c)))
    body = F.concat_ws(", ", *inner) if inner else F.lit("")
    return F.concat(head, F.lit("{"), body, F.lit("}"), F.lit("]"))


def slack_payload(lines: list[str]) -> str:
    import json

    return json.dumps({"text": "\n".join(lines) + "\n"},
                      separators=(",", ":"))


# ------------------------------------------------------------------ td

def to_td_record(df: DataFrame, ts_col: str, tag_col: str = "tag") -> Column:
    """Record + ``time`` epoch-seconds int (td.c:78-98) — the JSON
    rendering of the msgpack import row."""
    return F.to_json(
        F.struct(
            *[df[c] for c in _record_cols(df, (ts_col, tag_col))],
            _ts_double(ts_col).cast("long").alias("time"),
        ),
        _KEEP_NULLS,
    )


# -------------------------------------------------------------- nrlogs

def to_newrelic_log(
    df: DataFrame, ts_col: str, tag_col: str = "tag"
) -> Column:
    """One ``logs[]`` element: ms timestamp, message from log|message
    (log wins), remaining keys under attributes."""
    cols = _record_cols(df, (ts_col, tag_col))
    msg_src = "log" if "log" in cols else (
        "message" if "message" in cols else None)
    us = F.unix_micros(F.col(ts_col))
    ms = ((us - us % 1000) / 1000).cast("long")
    parts: list[Column] = [ms.alias("timestamp")]
    if msg_src is not None:
        parts.append(df[msg_src].alias("message"))
        attrs = [c for c in cols if c != msg_src]
    else:
        attrs = cols
    parts.append(
        F.struct(*[df[c] for c in attrs]).alias("attributes"))
    return F.to_json(F.struct(*parts), _KEEP_NULLS)


def newrelic_payload(logs: list[str], version: str = "4.0.0") -> str:
    common = ('{"common":{"attributes":{"plugin":{"type":"Fluent Bit",'
              '"version":"%s"}}},"logs":[' % version)
    return "[" + common + ",".join(logs) + "]}]"


# ---------------------------------------------------------------- http

_ISO = "yyyy-MM-dd'T'HH:mm:ss"
_SQL = "yyyy-MM-dd HH:mm:ss"


def json_date_col(ts_col: str, date_format: str = "double") -> Column:
    """flb_pack date value variants (flb_pack.c:988-1017)."""
    us = F.unix_micros(F.col(ts_col))
    if date_format == "double":
        return us / F.lit(1_000_000.0)
    if date_format == "epoch":
        return ((us - us % 1_000_000) / 1_000_000).cast("long")
    if date_format == "epoch_ms":
        return ((us - us % 1000) / 1000).cast("long")
    if date_format == "iso8601":
        return F.concat(
            F.date_format(F.col(ts_col), _ISO),
            F.format_string(".%06dZ", us % 1_000_000))
    if date_format == "java_sql_timestamp":
        return F.concat(
            F.date_format(F.col(ts_col), _SQL),
            F.format_string(".%06d", us % 1_000_000))
    raise ValueError(f"unknown json_date_format {date_format!r}")


def to_http_record(
    df: DataFrame,
    ts_col: str,
    tag_col: str = "tag",
    date_key: str | None = "date",
    date_format: str = "double",
) -> Column:
    """One record object for out_http's json/json_stream/json_lines
    bodies; ``date_key None`` (config value 'false') omits the date."""
    parts: list[Column] = []
    if date_key is not None:
        parts.append(json_date_col(ts_col, date_format).alias(date_key))
    parts.extend(df[c] for c in _record_cols(df, (ts_col, tag_col)))
    return F.to_json(F.struct(*parts), _KEEP_NULLS)


def http_body(records: list[str], out_format: str = "json") -> str:
    """Assemble the HTTP body from per-record JSON objects."""
    if out_format == "json":
        return "[" + ",".join(records) + "]"
    if out_format == "json_stream":
        return "".join(records)
    if out_format == "json_lines":
        return "\n".join(records) + ("\n" if records else "")
    raise ValueError(f"unknown out_format {out_format!r}")


# ---------------------------------------------------------- skywalking

def to_skywalking_record(
    df: DataFrame,
    ts_col: str,
    tag_col: str = "tag",
    svc_name: str = "sw-service",
    ins_name: str = "fluent-bit",
) -> Column:
    """out_skywalking /v3/logs element (plugins/out_skywalking/
    skywalking.c:120-280): ``{timestamp: sec*1000 (whole-second ms,
    :126), service, serviceInstance, body: {json: {json: <record
    JSON>}}}`` — and ONLY string-keyed string-valued entries survive
    into the body (:180-183)."""
    str_cols = [c for c, t in df.dtypes
                if t == "string" and c not in (ts_col, tag_col)
                and not c.startswith("_")]
    body_json = F.to_json(
        F.struct(*[df[c] for c in str_cols]), _KEEP_NULLS)
    ms = ((F.unix_micros(F.col(ts_col))
           - F.unix_micros(F.col(ts_col)) % 1_000_000)
          / 1_000_000).cast("long") * 1000
    return F.to_json(
        F.struct(
            ms.alias("timestamp"),
            F.lit(svc_name).alias("service"),
            F.lit(ins_name).alias("serviceInstance"),
            F.struct(
                F.struct(body_json.alias("json")).alias("json")
            ).alias("body"),
        ),
        _KEEP_NULLS,
    )


# ---------------------------------------------------------------- plot

def to_plot_line(df: DataFrame, ts_col: str, key: str | None = None,
                 tag_col: str = "tag") -> Column:
    """out_plot gnuplot line (plugins/out_plot/plot.c:126-190):
    ``<ts %f> <value>`` — the configured ``key``'s value (or the
    FIRST record field when unset), ints printed as integers and
    doubles with %f."""
    cols = _record_cols(df, (ts_col, tag_col))
    src = key if key is not None else cols[0]
    if src not in cols:
        raise ValueError(f"unmatched key '{src}'")
    dtype = df.schema[src].dataType
    if isinstance(dtype, (T.DoubleType, T.FloatType)):
        val = F.format_string("%f", df[src])
    else:
        val = df[src].cast("long").cast("string")
    return F.concat(
        F.format_string(
            "%f", F.unix_micros(F.col(ts_col)) / F.lit(1_000_000.0)),
        F.lit(" "), val,
    )


# ----------------------------------------------------------- kafka_rest

def to_kafka_rest_record(
    df: DataFrame,
    ts_col: str,
    tag_col: str = "tag",
    time_key: str = "@timestamp",
    time_format: str = "yyyy-MM-dd'T'HH:mm:ss",
    message_key: str | None = None,
    partition: int | None = None,
    include_tag_key: bool = False,
    tag_key: str = "_flb-key",
) -> Column:
    """out_kafka_rest ``records[]`` element (plugins/out_kafka_rest/
    kafka.c:128-210): ``{partition?, key?, value: {<time_key>:
    <strftime'd WHOLE-SECOND gmtime>, ...record, <tag_key>?}}`` —
    time_key default @timestamp, format default %Y-%m-%dT%H:%M:%S
    (kafka.h:23-24; given here as the equivalent Java pattern)."""
    value_parts: list[Column] = [
        F.date_format(F.col(ts_col), time_format).alias(time_key)]
    value_parts += [df[c] for c in _record_cols(df, (ts_col, tag_col))]
    if include_tag_key:
        value_parts.append(F.col(tag_col).alias(tag_key))
    parts: list[Column] = []
    if partition is not None and partition >= 0:
        parts.append(F.lit(partition).cast("long").alias("partition"))
    if message_key is not None:
        parts.append(F.lit(message_key).alias("key"))
    parts.append(F.struct(*value_parts).alias("value"))
    return F.to_json(F.struct(*parts), _KEEP_NULLS)


def kafka_rest_payload(records: list[str]) -> str:
    return '{"records":[' + ",".join(records) + "]}"


# ---------------------------------------------------------------- pgsql

def pgsql_insert_sql(
    table: str,
    tag: str,
    json_body: str,
    timestamp_key: str = "date",
    cockroachdb: bool = False,
) -> str:
    """out_pgsql INSERT statement (pgsql.h:39-44): the chunk's records
    are one JSON array bound through json_array_elements, the tag a
    SQL-escaped literal, and the event time recovered from
    ``timestamp_key`` inside each element (epoch-double
    ``to_timestamp`` on PostgreSQL; INTERVAL + epoch date on
    CockroachDB)."""
    tag_lit = "'" + tag.replace("'", "''") + "'"
    body_lit = "'" + json_body.replace("'", "''") + "'"
    if cockroachdb:
        return (
            f"INSERT INTO {table} SELECT {tag_lit},"
            f"CAST(value->>'{timestamp_key}' AS INTERVAL) + "
            f"DATE'1970-01-01', * FROM json_array_elements({body_lit});"
        )
    return (
        f"INSERT INTO {table} SELECT {tag_lit}, "
        f"to_timestamp(CAST(value->>'{timestamp_key}' as FLOAT)),"
        f" * FROM json_array_elements({body_lit});"
    )


def pgsql_insert_col(
    table: str,
    tag_col: Column,
    body_col: Column,
    timestamp_key: str = "date",
) -> Column:
    """Column-expression form of :func:`pgsql_insert_sql` (PostgreSQL
    flavor) for rendering one INSERT per chunk/tag group inside a
    distributed job — same statement byte-for-byte, with the tag and
    JSON-array body SQL-escaped in Catalyst instead of Python."""
    esc_tag = F.concat(
        F.lit("'"), F.replace(tag_col, F.lit("'"), F.lit("''")), F.lit("'"))
    esc_body = F.concat(
        F.lit("'"), F.replace(body_col, F.lit("'"), F.lit("''")), F.lit("'"))
    return F.concat(
        F.lit(f"INSERT INTO {table} SELECT "), esc_tag,
        F.lit(", to_timestamp(CAST(value->>'"), F.lit(timestamp_key),
        F.lit("' as FLOAT)), * FROM json_array_elements("), esc_body,
        F.lit(");"),
    )


# ------------------------------------------------------------ bigquery

def to_bigquery_row(df: DataFrame, exclude: tuple = ("ts", "tag")) -> Column:
    """out_bigquery insertAll row element (plugins/out_bigquery/
    bigquery.c:916-938): ``{"json": {...record}}`` — no insertId (the
    reference doesn't support it yet, :929)."""
    return F.to_json(
        F.struct(
            F.struct(*[df[c] for c in _record_cols(df, exclude)])
            .alias("json"),
        ),
        _KEEP_NULLS,
    )


def bigquery_payload(
    rows: list[str],
    skip_invalid_rows: bool = False,
    ignore_unknown_values: bool = False,
) -> str:
    """tabledata.insertAll request body (bigquery.c:876-920):
    kind + the two config booleans + rows."""
    sk = "true" if skip_invalid_rows else "false"
    ig = "true" if ignore_unknown_values else "false"
    return (
        '{"kind":"bigquery#tableDataInsertAllRequest",'
        f'"skipInvalidRows":{sk},"ignoreUnknownValues":{ig},'
        '"rows":[' + ",".join(rows) + "]}"
    )
