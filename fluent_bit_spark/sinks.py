"""Sink encodings: out_file's line formats, re-expressed columnar.

Reference: /root/reference/plugins/out_file/file.c:97-135 (format
selection), :162 (csv), :199 (ltsv), :229-289 (template), plus the
JSON family of flb_pack_msgpack_to_json_format (src/flb_pack.c:918,
date formats include/fluent-bit/flb_pack.h:39-49).

Each encoder maps a DataFrame to a single ``line: string`` column (+
optional tag partitioning); ``write_lines_per_tag`` then delivers it
in out_file's file-per-tag layout with one partitioned pass. At scale
prefer columnar sinks (parquet/Iceberg); these text encoders exist for
reference-format parity.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def json_lines(df: DataFrame, ts_col: str | None = None, date_key: str = "date") -> Column:
    """'json_lines' format: one JSON object per record; the event time
    is injected under date_key as epoch double (flb_pack.h:39 double)."""
    cols = [c for c in df.columns if c != ts_col]
    fields = [F.col(c) for c in cols]
    if ts_col:
        return F.to_json(
            F.struct(F.col(ts_col).cast("double").alias(date_key), *fields)
        )
    return F.to_json(F.struct(*fields))


def _mp_print(df: DataFrame, c: str) -> Column:
    """Render one value the way msgpack_object_print does
    (lib/msgpack-c/src/objectc.c:144-188): strings wrapped in raw
    double quotes WITHOUT inner escaping (bug-compatible with the
    reference — a quote inside the value breaks the line format there
    too), floats printf-%f (6 decimals), bools true/false, nil for
    null."""
    dt = df.schema[c].dataType.simpleString()
    col = F.col(c)
    if dt == "string":
        rendered = F.concat(F.lit('"'), col, F.lit('"'))
    elif dt in ("double", "float"):
        rendered = F.format_string("%f", col.cast("double"))
    else:  # ints print bare; booleans cast to 'true'/'false'
        rendered = col.cast("string")
    return F.when(col.isNull(), F.lit("nil")).otherwise(rendered)


def _csv_time(ts_col: str) -> Column:
    """out_file csv time field: '%lld.%.09ld' sec.nanos
    (file.c:184-185)."""
    us = F.unix_micros(F.col(ts_col))
    return F.format_string(
        "%d.%09d", F.floor(us / 1_000_000).cast("long"), (us % 1_000_000) * 1000
    )


def csv_line(
    df: DataFrame,
    columns: list[str] | None = None,
    ts_col: str | None = None,
    delimiter: str = ",",
) -> Column:
    """out_file csv (file.c:162-197): timestamp first as sec.nanos,
    then values via msgpack_object_print — strings quoted, so a
    delimiter inside a string value stays inside its quotes."""
    cols = columns or [c for c in df.columns if c != ts_col]
    parts = [_mp_print(df, c) for c in cols]
    if ts_col:
        parts.insert(0, _csv_time(ts_col))
    return F.concat_ws(delimiter, *parts)


def ltsv_line(
    df: DataFrame,
    columns: list[str] | None = None,
    ts_col: str | None = None,
    label_delimiter: str = ":",
    delimiter: str = "\t",
) -> Column:
    """out_file ltsv (file.c:199-227): leading '"time":<epoch double>'
    then '"key":value' pairs — keys are msgpack strings and print
    QUOTED, exactly like the reference's msgpack_object_print on the
    key object."""
    cols = columns or [c for c in df.columns if c != ts_col]
    parts = [
        F.concat(F.lit(f'"{c}"{label_delimiter}'), _mp_print(df, c)) for c in cols
    ]
    if ts_col:
        t = F.format_string(
            "%f", F.unix_micros(F.col(ts_col)).cast("double") / 1_000_000
        )
        parts.insert(0, F.concat(F.lit(f'"time"{label_delimiter}'), t))
    return F.concat_ws(delimiter, *parts)


_TPL_VAR = re.compile(r"\{([A-Za-z0-9_.]+)\}")


def template_line(df: DataFrame, template: str, ts_col: str | None = None) -> Column:
    """out_file template: '{time} {key}...' substitution
    (file.c:229-289; unknown keys render literally, like the
    reference leaving '{missing}' in place)."""
    pieces: list[Column] = []
    pos = 0
    for m in _TPL_VAR.finditer(template):
        if m.start() > pos:
            pieces.append(F.lit(template[pos : m.start()]))
        name = m.group(1)
        if name == "time" and ts_col:
            pieces.append(F.col(ts_col).cast("double").cast("string"))
        elif name in df.columns:
            pieces.append(F.coalesce(F.col(name).cast("string"), F.lit("")))
        else:
            pieces.append(F.lit(m.group(0)))
        pos = m.end()
    if pos < len(template):
        pieces.append(F.lit(template[pos:]))
    return F.concat(*pieces) if pieces else F.lit("")


ENCODERS = {
    "json_lines": json_lines,
    "csv": csv_line,
    "ltsv": ltsv_line,
}


def check_delimiter(s: str | None, default: str) -> str:
    """out_file.c:60-75: Delimiter accepts the names tab/\\t, space,
    comma; anything else keeps the format default."""
    if s is None:
        return default
    low = s.lower()
    if low in ("\\t", "tab"):
        return "\t"
    if low == "space":
        return " "
    if low == "comma":
        return ","
    return default


def encode_line(
    df: DataFrame,
    fmt: str = "json_lines",
    template: str | None = None,
    ts_col: str | None = None,
    delimiter: str | None = None,
    label_delimiter: str | None = None,
) -> Column:
    """out_file's ``Format`` as the line column of each record."""
    if fmt == "template":
        if not template:
            raise ValueError("template format needs a template string")
        return template_line(df, template, ts_col)
    if fmt == "csv":
        return csv_line(df, ts_col=ts_col,
                        delimiter=check_delimiter(delimiter, ","))
    if fmt == "ltsv":
        return ltsv_line(
            df, ts_col=ts_col,
            delimiter=check_delimiter(delimiter, "\t"),
            label_delimiter=check_delimiter(label_delimiter, ":"),
        )
    if fmt in ENCODERS:
        return ENCODERS[fmt](df, ts_col=ts_col)
    raise ValueError(f"unknown format {fmt!r}")


def write_lines_per_tag(
    df: DataFrame, out_dir: str, tag_col: str = "tag", line_col: str = "line"
) -> None:
    """File-per-tag delivery of a pre-encoded line column in ONE
    partitioned pass (the out_file directory layout without N scans):
    ``<out_dir>/<tag_col>=<value>/part-*``. Every text-delivering
    output writes through here."""
    (
        df.select(F.col(tag_col), F.col(line_col).alias("value"))
        .write.mode("overwrite")
        .partitionBy(tag_col)
        .text(out_dir)
    )


def write_per_tag(
    df: DataFrame,
    out_dir: str,
    fmt: str = "json_lines",
    tag_col: str = "tag",
    template: str | None = None,
    ts_col: str | None = None,
    delimiter: str | None = None,
    label_delimiter: str | None = None,
) -> None:
    """out_file delivery: ``encode_line`` then ``write_lines_per_tag``."""
    line = encode_line(df, fmt, template, ts_col, delimiter, label_delimiter)
    write_lines_per_tag(df.select(tag_col, line.alias("line")), out_dir, tag_col)


def s3_key(
    format: str,
    time_epoch: int,
    tag: str,
    tag_delimiter: str = ".",
    seq_index: int = 0,
    uuid8: str | None = None,
) -> str:
    """out_s3 object-key template rendering (reference
    /root/reference/src/aws/flb_aws_util.c:814-1010 flb_get_s3_key):
    substitution order is ``$TAG[0..9]`` (tag split on any delimiter
    char, max 10 parts), ``$TAG`` (whole), ``$INDEX`` (sequence),
    ``$UUID`` (8 random alphanumerics), then strftime over the whole
    key with gmtime. Keys longer than 1024 chars only warn in the
    reference — same here (no truncation). ``uuid8`` is injectable
    for deterministic layouts/tests."""
    import re as _re
    import time as _time
    import uuid as _uuid
    import warnings

    key = format
    if len(key) > 1024:
        warnings.warn("[s3_key] Object key length is longer than the "
                      "1024 character limit.")
    parts = [p for p in _re.split(
        "[" + _re.escape(tag_delimiter) + "]", tag) if p != ""]
    for i, part in enumerate(parts[:10]):
        key = key.replace(f"$TAG[{i}]", part)
    key = key.replace("$TAG", tag)
    if "$INDEX" in key:
        key = key.replace("$INDEX", str(seq_index))
    if "$UUID" in key:
        rnd = uuid8 if uuid8 is not None else _uuid.uuid4().hex[:8]
        key = key.replace("$UUID", rnd)
    return _time.strftime(key, _time.gmtime(time_epoch))


# strftime -> Spark date_format token map covering the conversions S3
# key layouts use (the reference hands the whole key to strftime(3);
# tokens outside this map are kept literal — glibc's behavior for
# genuinely unknown conversions. %s is handled separately: epoch
# seconds have no date_format pattern)
_STRFTIME_JAVA = {
    "Y": "yyyy", "y": "yy", "m": "MM", "d": "dd",
    "H": "HH", "M": "mm", "S": "ss", "j": "DDD",
    "F": "yyyy-MM-dd", "T": "HH:mm:ss", "R": "HH:mm",
    "D": "MM/dd/yy", "b": "MMM", "a": "EEE", "B": "MMMM", "A": "EEEE",
    "p": "a",
}


def s3_key_col(
    format: str,
    ts_col: Column,
    tag_col: Column,
    tag_delimiter: str = ".",
    seq_index_col: Column | None = None,
    uuid_col: Column | None = None,
) -> Column:
    """Columnar ``s3_key`` — renders the out_s3 object-key template
    (/root/reference/src/aws/flb_aws_util.c:814-1010 flb_get_s3_key)
    per ROW so the partitioned object layout for a 10^12-row delivery
    is computed in-plan (whole-stage codegen, no driver loop):
    ``$TAG[0..9]`` from the tag split on any delimiter char (a token
    whose part doesn't exist stays literal, like the reference's
    replace-if-present), ``$TAG``, ``$INDEX`` from ``seq_index_col``,
    ``$UUID`` from ``uuid_col`` (injectable -> deterministic layouts),
    then the strftime pass over the template's literal segments
    (UTC, like the reference's gmtime).

    Deviations vs the driver-side twin: substituted VALUES are not
    re-scanned for tokens or strftime conversions (single-pass over
    the template; a tag containing ``%`` or ``$INDEX`` is kept
    verbatim) — the template itself drives the layout, as in every
    layout the reference ships; and a NULL tag/seq_index/uuid value
    nulls that row's key (concat semantics — filter dirty rows
    upstream; the driver twin raises on None instead)."""
    parts = F.split(tag_col, "[" + re.escape(tag_delimiter) + "]")
    # the reference drops empty split parts before indexing
    parts = F.filter(parts, lambda x: x != "")
    # render in UTC like the twin's gmtime, REGARDLESS of the
    # session timezone (date_format alone follows the session tz)
    ts_utc = F.convert_timezone(None, F.lit("UTC"), ts_col)

    def render_literal(seg: str) -> list[Column]:
        out: list[Column] = []
        lit_buf = []
        i = 0
        while i < len(seg):
            if seg[i] == "%" and i + 1 < len(seg):
                conv = seg[i + 1]
                if conv == "%":
                    lit_buf.append("%")
                    i += 2
                    continue
                if conv == "s":  # epoch seconds (no pattern letter)
                    if lit_buf:
                        out.append(F.lit("".join(lit_buf)))
                        lit_buf = []
                    out.append(
                        ts_col.cast("long").cast("string"))
                    i += 2
                    continue
                java = _STRFTIME_JAVA.get(conv)
                if java is not None:
                    if lit_buf:
                        out.append(F.lit("".join(lit_buf)))
                        lit_buf = []
                    out.append(F.date_format(ts_utc, java))
                    i += 2
                    continue
            lit_buf.append(seg[i])
            i += 1
        if lit_buf:
            out.append(F.lit("".join(lit_buf)))
        return out

    pieces: list[Column] = []
    for token in re.split(r"(\$TAG\[[0-9]\]|\$TAG|\$INDEX|\$UUID)", format):
        if not token:
            continue
        m = re.fullmatch(r"\$TAG\[([0-9])\]", token)
        if m:
            idx = int(m.group(1))
            # try_element_at: NULL (not an ANSI error) past the end.
            # A missing part leaves the token in place, and the later
            # whole-$TAG replacement then rewrites its PREFIX (the C
            # token replace has no word boundary) -> '<tag>[i]'
            pieces.append(F.coalesce(
                F.try_element_at(parts, F.lit(idx + 1)),
                F.concat(tag_col, F.lit(f"[{idx}]"))))
        elif token == "$TAG":
            pieces.append(tag_col)
        elif token == "$INDEX":
            pieces.append(
                seq_index_col.cast("string") if seq_index_col is not None
                else F.lit("$INDEX"))
        elif token == "$UUID":
            pieces.append(
                uuid_col if uuid_col is not None else F.lit("$UUID"))
        else:
            pieces.extend(render_literal(token))
    return F.concat(*pieces) if pieces else F.lit("")
