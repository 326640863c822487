"""Compile ParserSpecs into columnar Spark extraction plans.

The reference parses row-at-a-time msgpack (flb_parser_do,
/root/reference/src/flb_parser.c:1044-1065 dispatching to
flb_parser_regex.c / flb_parser_json.c / flb_parser_ltsv.c /
flb_parser_logfmt.c). Here each parser becomes a pure
DataFrame -> DataFrame function:

- regex:  builtin mode = one JVM `regexp_extract` per named group
          (whole-stage codegen, no Python); arrow mode = ONE
          Arrow-vectorized pandas UDF doing a single regex pass per row
          via pandas ``Series.str.extract`` (wins when group count is
          high). Mode 'auto' picks by group count.
- json:   `from_json` (PERMISSIVE) into a supplied schema or
          map<string,string>.
- ltsv:   pure Catalyst split/transform/map_from_entries with the
          reference's first-':' label split (flb_parser_ltsv.c:82-269).
- logfmt: Arrow-vectorized pandas UDF implementing the reference state
          machine (flb_parser_logfmt.c:63-326) — quoted values,
          backslash escapes, bare key => true.

Time fields follow flb_parser_time_lookup (see functions/timeparse.py);
Types casts follow flb_parser_typecast (src/flb_parser.c:1280-1350).
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from fluent_bit_spark.parsers.config import DecoderRule, ParserSpec
from fluent_bit_spark.functions.timeparse import time_parse_col

# ---------------------------------------------------------------- regex


def capture_group_indexes(pattern: str) -> dict[str, int]:
    """Map named capture -> Java regex group number (1-based).

    Named groups count in the same numbering as unnamed capturing
    groups; (?:...), lookarounds and inline flags don't capture.
    """
    out: dict[str, int] = {}
    idx = 0
    i = 0
    n = len(pattern)
    in_class = False
    while i < n:
        c = pattern[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
            i += 1
            continue
        if c == "[":
            in_class = True
            i += 1
            continue
        if c == "(":
            m = re.match(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", pattern[i:])
            if m:
                idx += 1
                out[m.group(1)] = idx
                i += m.end()
                continue
            if re.match(r"\(\?", pattern[i:]):
                # non-capturing / lookaround / flags
                i += 2
                continue
            idx += 1
        i += 1
    return out


def to_python_regex(pattern: str) -> str:
    """Onigmo/Java named groups -> Python (?P<name>...) syntax."""
    return re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", r"(?P<\1>", pattern)


def _regex_builtin_cols(source: Column, spec: ParserSpec) -> dict[str, Column]:
    """One regexp_extract per named group; '' for an unmatched optional
    group is normalized to null (the reference omits skipped fields —
    flb_parser_regex.c:182-199 map-size patching)."""
    groups = capture_group_indexes(spec.regex or "")
    java_rx = to_java_regex(spec.regex or "")
    matched = source.rlike(java_rx)
    cols: dict[str, Column] = {}
    for name, gi in groups.items():
        raw = F.regexp_extract(source, java_rx, gi)
        cols[name] = F.when(matched & (raw != ""), raw)
    return cols


def _regex_arrow_col(source: Column, spec: ParserSpec) -> Column:
    """Single-pass Arrow-vectorized extraction returning a struct."""
    fields = spec.named_groups()
    py_pat = to_python_regex(spec.regex or "")
    ret = T.StructType([T.StructField(f, T.StringType()) for f in fields])

    @F.pandas_udf(ret)
    def extract(it: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        pat = re.compile(py_pat)
        for s in it:
            df = s.str.extract(pat)  # one regex pass, all groups
            # keep only named groups (unnamed capturing groups get
            # integer column labels); unmatched -> NaN -> null
            yield df[fields]

    return extract(source)


# ----------------------------------------------------------------- ltsv

_LTSV_EXPR = """
map_from_entries(
  transform(
    filter(split({src}, '\t'), x -> instr(x, ':') > 0),
    x -> struct(
      substring_index(x, ':', 1) AS key,
      substring(x, instr(x, ':') + 1) AS value
    )
  )
)
"""


def ltsv_map_col(source: Column | str) -> Column:
    """LTSV line -> map<string,string>, splitting each TAB-separated
    field at its first ':' (label charset check relaxed; the reference
    only admits [0-9A-Za-z_.-] labels, flb_parser_ltsv.c:44-59)."""
    name = source if isinstance(source, str) else None
    if name is None:
        raise ValueError("ltsv_map_col requires a column name")
    return F.expr(_LTSV_EXPR.format(src=name))


# --------------------------------------------------------------- logfmt

_LOGFMT_BARE = "\x01true"  # sentinel for bare-key => boolean true


def _logfmt_parse_one(line: str, no_bare_keys: bool) -> dict[str, str] | None:
    """Port of logfmt_parser (flb_parser_logfmt.c:63-326).

    Returns key->value; bare keys map to the _LOGFMT_BARE sentinel so a
    downstream cast can recover the boolean-true semantics.
    """
    if line is None:
        return None
    out: dict[str, str] = {}
    n = len(line)
    i = 0

    def is_ident(ch: str) -> bool:
        # any byte > ' ' excluding '=' and '"' (flb_parser_logfmt.c:45-62);
        # multi-byte UTF-8 chars are all ident bytes in the reference
        return ch > " " and ch not in ('"', "=")

    while i < n:
        while i < n and not is_ident(line[i]):
            i += 1
        if i >= n:
            break
        k0 = i
        while i < n and is_ident(line[i]):
            i += 1
        key = line[k0:i]
        value = None
        value_set = False
        value_str = False
        value_escape = False
        if i < n and line[i] == "=":
            value_set = True
            i += 1
            if i < n:
                if line[i] == '"':
                    i += 1
                    v0 = i
                    value_str = True
                    while i < n:
                        if line[i] == "\\":
                            value_escape = True
                            i += 2
                        elif line[i] == '"':
                            break
                        else:
                            i += 1
                    value = line[v0 : min(i, n)]
                    if i < n and line[i] == '"':
                        i += 1
                else:
                    v0 = i
                    while i < n and is_ident(line[i]):
                        i += 1
                    value = line[v0:i]
        if key:
            if no_bare_keys and not value and not value_set:
                return {}
            if not value:
                out[key] = "" if value_str else _LOGFMT_BARE
            else:
                out[key] = _c_unescape(value) if value_escape else value
    return out


_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "a": "\a", "b": "\b", "f": "\f", "v": "\v"}


def _c_unescape(s: str) -> str:
    out: list[str] = []
    i = 0
    while i < len(s):
        if s[i] == "\\" and i + 1 < len(s):
            out.append(_ESCAPES.get(s[i + 1], s[i + 1]))
            i += 2
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def logfmt_map_col(source: Column, no_bare_keys: bool = False) -> Column:
    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def parse(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for s in it:
            yield s.map(lambda x: _logfmt_parse_one(x, no_bare_keys))

    return parse(source)


# JVM fast path for logfmt. One regex tokenization pass + per-token
# string ops, all inside whole-stage codegen — ~10-50x the Python UDF
# above on the pipeline hot path (the UDF remains the reference-exact
# fallback, incl. control-char idents and no_bare_keys).
#
# Token grammar mirrors logfmt_parser (flb_parser_logfmt.c:63-326):
#   key   = run of ident chars (not whitespace/'"'/'=')
#   value = '=' then quoted-with-escapes or ident run; missing/empty
#           unquoted value => bare sentinel; k="" => empty string.
# Escapes (\n \t \r \a \b \f \v, \\, \other) are unescaped only when a
# backslash is present, exactly like the value_escape flag in the C.
_LOGFMT_TOKEN_RX = (
    '[^\\\\s"=]+(?:=(?:"(?:[^"\\\\\\\\]|\\\\\\\\.)*"?|[^\\\\s"=]*))?'
)

# chr(92)=backslash chr(2)=placeholder; sequential replaces reproduce
# the C left-to-right escape scan (\\ first, then named, then \other)
_UNESC = (
    "replace(regexp_replace("
    "replace(replace(replace(replace(replace(replace(replace("
    "replace({v}, chr(92)||chr(92), chr(2)), "
    "chr(92)||'n', chr(10)), chr(92)||'t', chr(9)), chr(92)||'r', chr(13)), "
    "chr(92)||'a', chr(7)), chr(92)||'b', chr(8)), chr(92)||'f', chr(12)), "
    "chr(92)||'v', chr(11)), "
    "chr(92)||chr(92)||'(.)', '$1'), chr(2), chr(92))"
)

_LOGFMT_FAST_EXPR = """
map_from_entries(
  transform(
    regexp_extract_all({src}, '{tok}', 0),
    t -> named_struct(
      'key',
      CASE WHEN instr(t, '=') > 0 THEN substring(t, 1, instr(t, '=') - 1)
           ELSE t END,
      'value',
      CASE
        WHEN instr(t, '=') = 0 THEN '{bare}'
        WHEN substring(t, instr(t, '=') + 1) = '' THEN '{bare}'
        WHEN substring(t, instr(t, '=') + 1, 1) = '"' THEN
          CASE WHEN instr({inner}, chr(92)) > 0
               THEN {inner_unesc} ELSE {inner} END
        ELSE substring(t, instr(t, '=') + 1)
      END)))
"""

# inner = quoted value body: strip leading quote and (if present) the
# trailing quote; an unterminated quote keeps the tail (C behavior)
_INNER = (
    "CASE WHEN length(substring(t, instr(t, '=') + 1)) > 1 "
    "AND substring(t, -1, 1) = '\"' "
    "THEN substring(t, instr(t, '=') + 2, "
    "length(t) - instr(t, '=') - 2) "
    "ELSE substring(t, instr(t, '=') + 2) END"
)


def logfmt_map_fast_col(source: Column | str) -> Column:
    """Pure-Catalyst logfmt parse (see _LOGFMT_TOKEN_RX notes).

    Requires spark.sql.mapKeyDedupPolicy=LAST_WIN (duplicate keys:
    last occurrence wins, matching the C parser's dict overwrite).
    """
    name = source if isinstance(source, str) else None
    if name is None:
        raise ValueError("logfmt_map_fast_col requires a column name")
    expr = _LOGFMT_FAST_EXPR.format(
        src=name,
        tok=_LOGFMT_TOKEN_RX,
        bare=_LOGFMT_BARE,
        inner=_INNER,
        inner_unesc=_UNESC.format(v=_INNER),
    )
    return F.expr(expr)


# ------------------------------------------------------------ typecasts


def typecast_col(col: Column, ftype: str) -> Column:
    """flb_parser_typecast semantics (src/flb_parser.c:1280-1350)."""
    if ftype == "integer":
        return col.try_cast("long")
    if ftype == "float":
        return col.try_cast("double")
    if ftype == "bool":
        low = F.lower(col)
        return F.when(low.startswith("t"), F.lit(True)).when(
            low.startswith("f"), F.lit(False)
        )
    if ftype == "hex":
        return F.conv(col, 16, 10).try_cast("long")
    return col.cast("string")


# ------------------------------------------------------------- decoders


def unescape_col(col: Column) -> Column:
    r"""Decode_Field escaped/escaped_utf8: left-to-right C-unescape.

    Implemented JVM-side with the sentinel trick: '\\\\' is parked on a
    control char first so later single-escape replacements can't touch
    the freed backslashes, then restored.
    """
    c = F.regexp_replace(col, r"\\\\", "\x00")
    for esc, rep in [("n", "\n"), ("t", "\t"), ("r", "\r"), ("f", "\f"), ("b", "\b")]:
        c = F.regexp_replace(c, r"\\" + esc, rep)
    c = F.regexp_replace(c, r"\\(.)", r"$1")
    return F.regexp_replace(c, "\x00", r"\\")


def _mysql_unquote_col(col: Column) -> Column:
    c = F.regexp_replace(col, r"''", "'")
    return F.regexp_replace(c, r'""', '"')


_DEC_MAP = T.MapType(T.StringType(), T.StringType())


def apply_decoder_chain(
    df: DataFrame, key: str, rules: list[DecoderRule]
) -> DataFrame:
    """Apply a per-key decoder rule chain (flb_parser_decoder.c:392-520).

    Per row, rules run in order over a working string ``data``:
      - json failure: try_next / do_next -> continue; none -> stop.
      - string decoders (escaped / escaped_utf8 / mysql_quoted) always
        succeed; on success only do_next continues the chain.
      - Decode_Field_As (DEC_AS) success replaces BOTH the working data
        and the final value; a json DEC_AS yields an object, after
        which remaining rules are skipped (in_type != STRING guard).
      - Decode_Field (DEC_DEFAULT) success leaves the value and working
        data untouched and registers the decoded json keys as EXTRA
        record keys; a DEC_DEFAULT do_next rule is skipped if a prior
        DEC_DEFAULT already decoded (is_decoded guard).

    Typing divergence (documented): msgpack values are dynamically
    typed; Spark columns are not. When the chain holds a json DEC_AS,
    ``key`` becomes map<string,string> (null where the row never
    json-decoded) and ``<key>_str`` carries the final string for those
    rows; otherwise ``key`` stays string. DEC_DEFAULT extra keys land
    in ``<key>_decoded`` (map) — the merged-beside-original analog.

    All expressions are Catalyst/codegen; the chain unrolls statically
    (rule lists are tiny), so no Python runs per row.
    """
    if key not in df.columns:
        return df
    data = F.col(key).cast("string")
    stopped = F.lit(False)
    as_obj = F.lit(None).cast(_DEC_MAP)  # json DEC_AS result
    is_decoded_as = F.lit(False)
    extra = F.lit(None).cast(_DEC_MAP)  # DEC_DEFAULT json extra keys
    is_decoded = F.lit(False)
    has_json_as = any(r.decoder == "json" and r.mode == "as" for r in rules)

    for rule in rules:
        skip = stopped | as_obj.isNotNull()  # object value: in_type != STRING
        if rule.mode == "field" and rule.action == "do_next":
            skip = skip | is_decoded
        run = ~skip
        if rule.decoder == "json":
            parsed = F.from_json(data, _DEC_MAP)
            eff = run & parsed.isNotNull()
            if rule.mode == "as":
                as_obj = F.when(eff, parsed).otherwise(as_obj)
                is_decoded_as = is_decoded_as | eff
            else:
                extra = F.when(eff, parsed).otherwise(extra)
                is_decoded = is_decoded | eff
            if rule.action == "do_next":
                pass  # never stops
            elif rule.action == "try_next":
                stopped = stopped | eff  # success stops, failure continues
            else:
                stopped = stopped | run  # stops either way
        else:
            if rule.decoder in ("escaped", "escaped_utf8"):
                dec = unescape_col(data)
            elif rule.decoder == "mysql_quoted":
                dec = _mysql_unquote_col(data)
            else:
                continue
            if rule.mode == "as":
                data = F.when(run, dec).otherwise(data)
                is_decoded_as = is_decoded_as | run
            else:
                # DEC_DEFAULT + string output: "string type is not
                # allowed" as extra keys (flb_parser_decoder.c:515) —
                # only the is_decoded flag advances
                is_decoded = is_decoded | run
            if rule.action != "do_next":
                stopped = stopped | run  # always-success: try_next==none

    # final value packaging (flb_parser_decoder.c:494-510)
    final_str = F.when(is_decoded_as, data).otherwise(F.col(key).cast("string"))
    if has_json_as:
        df = df.withColumn(
            f"{key}_str", F.when(as_obj.isNull(), final_str)
        ).withColumn(key, as_obj)
    else:
        df = df.withColumn(key, final_str)
    if any(r.mode == "field" and r.decoder == "json" for r in rules):
        df = df.withColumn(f"{key}_decoded", extra)
    return df


# ------------------------------------------------------------ top level


def compile_parser(spec: ParserSpec, mode: str = "auto"):
    """Return fn(df, source_col) -> df with extracted/typed columns.

    Adds: one column per extracted field, ``event_time`` (when the spec
    has Time_Key/Time_Format), and ``_parse_ok`` boolean. The original
    source column is left in place (callers drop it). ``mode`` only
    affects regex parsing: 'builtin' | 'arrow' | 'auto' (arrow when >4
    groups — one regex pass beats N).
    """

    def apply_fn(df: DataFrame, source_col: str, ref_year: int | None = None) -> DataFrame:
        return apply_parser(df, source_col, spec, mode=mode, ref_year=ref_year)

    return apply_fn


def apply_parser(
    df: DataFrame,
    source_col: str,
    spec: ParserSpec,
    mode: str = "auto",
    ref_year: int | None = None,
    json_schema: T.StructType | None = None,
) -> DataFrame:
    src = F.col(source_col)

    if spec.format == "regex":
        groups = spec.named_groups()
        use_arrow = mode == "arrow" or (mode == "auto" and len(groups) > 4)
        if use_arrow:
            st = _regex_arrow_col(src, spec)
            df = df.withColumn("_extracted", st)
            for g in groups:
                df = df.withColumn(g, F.col(f"_extracted.{g}"))
            df = df.drop("_extracted")
            # str.extract yields NaN both for whole-line no-match and for
            # skipped optional groups, so _parse_ok needs the real test:
            df = df.withColumn("_parse_ok", F.coalesce(src.rlike(to_java_regex(spec.regex or "")), F.lit(False)))
        else:
            cols = _regex_builtin_cols(src, spec)
            for name, c in cols.items():
                df = df.withColumn(name, c)
            df = df.withColumn("_parse_ok", F.coalesce(src.rlike(to_java_regex(spec.regex or "")), F.lit(False)))
    elif spec.format == "json":
        schema = json_schema or T.MapType(T.StringType(), T.StringType())
        parsed = F.from_json(src, schema)
        df = df.withColumn("_json", parsed).withColumn("_parse_ok", parsed.isNotNull())
        if isinstance(schema, T.StructType):
            for f in schema.fieldNames():
                df = df.withColumn(f, F.col(f"_json.{f}"))
        else:
            df = df.withColumn("record_map", F.col("_json"))
        df = df.drop("_json")
    elif spec.format == "ltsv":
        df = df.withColumn("record_map", ltsv_map_col(source_col))
        df = df.withColumn("_parse_ok", F.size("record_map") > 0)
    elif spec.format == "logfmt":
        df = df.withColumn("record_map", logfmt_map_col(src))
        df = df.withColumn("_parse_ok", F.size("record_map") > 0)
    else:
        raise ValueError(f"unknown parser format {spec.format!r}")

    # Types casts (only for columns materialized as top-level fields)
    for k, t in spec.types.items():
        if k in df.columns:
            df = df.withColumn(k, typecast_col(F.col(k), t))

    # decoders: rules group into one chain per target key, first
    # appearance ordering (get_decoder_key_context, flb_parser_decoder.c)
    chains: dict[str, list[DecoderRule]] = {}
    for rule in spec.decoders:
        chains.setdefault(rule.key, []).append(rule)
    for key, rules in chains.items():
        df = apply_decoder_chain(df, key, rules)

    # time lookup
    if spec.time_key and spec.time_format:
        tk = spec.time_key
        time_src: Column | None = None
        if tk in df.columns:
            time_src = F.col(tk).cast("string")
        elif "record_map" in df.columns:
            time_src = F.element_at(F.col("record_map"), tk)
        if time_src is not None:
            df = df.withColumn(
                "event_time",
                time_parse_col(time_src, spec.time_format, ref_year=ref_year,
                               time_offset_sec=spec.time_offset),
            )
            if not spec.time_keep:
                if tk in df.columns:
                    df = df.drop(tk)
                elif "record_map" in df.columns:
                    df = df.withColumn(
                        "record_map",
                        F.map_filter("record_map", lambda k, _: k != F.lit(tk)),
                    )
    return df


def to_java_regex(pattern: str) -> str:
    """Onigmo pattern -> Java regex.

    Java named groups reject underscores ((?<request_length>...) is a
    PatternSyntaxException), so named groups become plain capturing
    groups — numbering is unchanged and builtin extraction is by group
    index. Lookbehinds ((?<=, (?<!) are left alone.
    """
    return re.sub(r"\(\?<([A-Za-z_][A-Za-z0-9_]*)>", "(", pattern)
