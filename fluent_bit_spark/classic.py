"""Classic-mode fluent-bit.conf loader: a reference user's config runs
the Spark pipeline.

Parses the [SERVICE]/[INPUT]/[FILTER]/[OUTPUT] ini-ish format
(src/flb_config.c classic mode; examples /root/reference/conf/*.conf)
and assembles the corresponding DataFrame pipeline: inputs become
tagged DataFrames, filters apply in config order to Match-ing tags,
outputs route by Match glob.

Supported plugin surface (the SURVEY §2 in-scope set):

- inputs: dummy (Dummy/Samples/Tag), tail (Path/Tag/Parser/Path_Key/
  multiline.parser java|go|python|ruby|cri|docker — lines join per
  file before the parser stage, the in_tail ml order;
  batch form reads the files, streaming handled by streaming/job.py),
  lib (caller-supplied DataFrame — the in_lib embedding analog, also
  the test harness hook)
- filters: grep, parser (Key_Name/Parser/Reserve_Data/Preserve_Key),
  modify, record_modifier, nest, rewrite_tag, throttle, expect,
  geoip2 (real mmdb Database + Record directives via enrich_mmdb),
  checklist, type_converter, multiline (mode partial_message),
  lua (REAL scripts on the in-repo Lua 5.1 interpreter), wasm (REAL
  binaries, json|msgpack event formats), kubernetes, stdout (no-op)
- outputs: file (json/csv/ltsv/template + Delimiter names), counter,
  flowcounter, null, stdout; encoder-backed outputs (bytes match the
  reference's wire format, delivery is file-per-tag — SURVEY §2.9):
  syslog, influxdb, gelf, loki, splunk, datadog, es, opensearch,
  stackdriver, nats, logdna, slack, td, nrlogs, http, websocket,
  kafka_rest

Match scoping is UNION-FREE: the Match predicate is pushed into each
operator row-wise (when(gate, new).otherwise(old); grep keeps
non-matching rows), so K scoped filters stay ONE scan — the
split-rows/apply/union alternative doubles the plan per filter
(2^K scans), a non-starter at the 100 TB target. A key removed for
one route reads as null there, the columnar rendering of a record
map lacking that key.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fluent_bit_spark.functions.globmatch import tag_match_col
from fluent_bit_spark.operators.expect import ExpectRule, expect
from fluent_bit_spark.operators.grep import GrepRule
from fluent_bit_spark.operators.modify import ModifyCondition, ModifyRule, modify
from fluent_bit_spark.operators.nest import lift, nest
from fluent_bit_spark.operators.record_modifier import record_modifier
from fluent_bit_spark.operators.throttle import throttle
from fluent_bit_spark.router import RewriteTagRule, apply_rewrite_tag
from fluent_bit_spark.parsers.compile import apply_parser
from fluent_bit_spark.parsers.config import ParserSpec


@dataclass
class Section:
    kind: str  # service | input | filter | output | parser
    props: list[tuple[str, str]] = field(default_factory=list)
    # yaml 2.x per-input processors (pipeline.inputs[].processors.logs):
    # applied to THIS input's records before union/routing, no Match
    processors: list["Section"] = field(default_factory=list)
    # processor condition block ({op, rules:[{field,op,value}]}),
    # flb_processor.c:311 flb_processor_unit_set_condition
    condition: dict | None = None

    def get(self, key: str, default: str | None = None) -> str | None:
        key = key.lower()
        for k, v in self.props:
            if k == key:
                return v
        return default

    def get_all(self, key: str) -> list[str]:
        key = key.lower()
        return [v for k, v in self.props if k == key]

    @property
    def name(self) -> str:
        return (self.get("name") or "").lower()


_VAR_RE = None  # compiled lazily


def _expand_vars(val: str, variables: dict[str, str]) -> str:
    """${VAR} translation: @SET variables first, then the process
    environment, else empty — flb_env_var_translate semantics
    (src/flb_env.c: env lookup with fallback to host environ)."""
    global _VAR_RE
    import os
    import re

    if "${" not in val:
        return val
    if _VAR_RE is None:
        _VAR_RE = re.compile(r"\$\{([^}]+)\}")
    return _VAR_RE.sub(
        lambda m: variables.get(m.group(1), os.environ.get(m.group(1), "")), val
    )


def parse_classic_conf(
    text: str,
    base_dir: str | None = None,
    variables: dict[str, str] | None = None,
    _seen: set[str] | None = None,
) -> list[Section]:
    """The classic-mode reader: '[SECTION]' headers, indented
    'Key Value' pairs (first whitespace run splits), '#' comments,
    case-insensitive repeatable keys (flb_config.c / mk_rconf).

    Meta commands (src/flb_meta.c, config_format/flb_cf_fluentbit.c):
    - ``@SET key=value`` registers a config variable (meta_cmd_set);
      values then expand ``${key}`` (vars beat host env, unknown -> "")
    - ``@INCLUDE path`` splices another file in place; a ``*`` makes it
      a glob (read_glob; sorted here for deterministic section order);
      relative paths resolve against the ROOT config's directory
      (ctx->root_path semantics), and reading the same file twice is an
      error (the reference's inode read-twice guard). ``base_dir`` must
      be set (use load_classic_conf for file-based configs).
    """
    import glob as globmod
    import os

    variables = variables if variables is not None else {}
    _seen = _seen if _seen is not None else set()
    sections: list[Section] = []
    cur: Section | None = None
    for raw in text.splitlines():
        line = raw.strip()
        if not line or line.startswith("#"):
            continue
        if line.startswith("@"):
            parts = line.split(None, 1)
            cmd = parts[0][1:].upper()
            params = parts[1].strip() if len(parts) > 1 else ""
            if cmd == "SET":
                key, eq, val = params.partition("=")
                if not eq:
                    raise ValueError(f"@SET needs key=value, got {params!r}")
                variables[key.strip()] = _expand_vars(val.strip(), variables)
            elif cmd == "INCLUDE":
                if not params:
                    raise ValueError("@INCLUDE needs a path")
                if base_dir is None:
                    raise ValueError(
                        "@INCLUDE requires a file-based config "
                        "(use load_classic_conf(path))"
                    )
                inc = _expand_vars(params, variables)
                if not os.path.isabs(inc):
                    inc = os.path.join(base_dir, inc)
                # glob(3) semantics like read_glob (flb_config.c):
                # '*', '?' and '[...]' all trigger expansion
                is_glob = any(ch in inc for ch in "*?[")
                paths = sorted(globmod.glob(inc)) if is_glob else [inc]
                if not paths:
                    raise ValueError(f"@INCLUDE glob matched nothing: {params!r}")
                for p in paths:
                    rp = os.path.realpath(p)
                    if rp in _seen:
                        raise ValueError(f"config file read twice: {p!r}")
                    _seen.add(rp)
                    with open(p) as fh:
                        inc_text = fh.read()
                    if p.endswith((".yaml", ".yml")):
                        sections.extend(
                            parse_yaml_conf(inc_text, base_dir, variables, _seen)
                        )
                    else:
                        sections.extend(
                            parse_classic_conf(inc_text, base_dir, variables, _seen)
                        )
                cur = None  # properties after an include need a section
            else:
                raise ValueError(f"unknown meta command @{cmd}")
            continue
        if line.startswith("[") and line.endswith("]"):
            cur = Section(kind=line[1:-1].strip().lower())
            sections.append(cur)
            continue
        if cur is None:
            raise ValueError(f"property outside any section: {line!r}")
        parts = line.split(None, 1)
        key = parts[0].lower()
        val = parts[1].strip() if len(parts) > 1 else ""
        cur.props.append((key, _expand_vars(val, variables)))
    return sections


def parse_yaml_conf(
    text: str,
    base_dir: str | None = None,
    variables: dict[str, str] | None = None,
    _seen: set[str] | None = None,
) -> list[Section]:
    """YAML config format (config_format/flb_cf_yaml.c): top-level
    ``env`` (variables, like @SET), ``includes`` (file list),
    ``service`` (map), ``pipeline.{inputs,filters,outputs}`` (lists of
    plugin maps). Scalars stringify; a list value repeats its key (the
    classic repeatable-key form); nested maps (processors) are out of
    the classic loader's scope and raise."""
    import os

    import yaml

    variables = variables if variables is not None else {}
    _seen = _seen if _seen is not None else set()
    doc = yaml.safe_load(text) or {}
    if not isinstance(doc, dict):
        raise ValueError("yaml config must be a mapping at top level")
    sections: list[Section] = []

    for k, v in (doc.get("env") or {}).items():
        variables[str(k)] = _expand_vars(str(v), variables)

    for inc in doc.get("includes") or []:
        inc = _expand_vars(str(inc), variables)
        if not os.path.isabs(inc):
            if base_dir is None:
                raise ValueError("includes: requires a file-based config")
            inc = os.path.join(base_dir, inc)
        rp = os.path.realpath(inc)
        if rp in _seen:
            raise ValueError(f"config file read twice: {inc!r}")
        _seen.add(rp)
        with open(inc) as fh:
            inc_text = fh.read()
        if inc.endswith((".yaml", ".yml")):
            sections.extend(parse_yaml_conf(inc_text, base_dir, variables, _seen))
        else:
            sections.extend(parse_classic_conf(inc_text, base_dir, variables, _seen))

    def to_section(kind: str, m: dict) -> Section:
        sec = Section(kind=kind)
        for k, v in m.items():
            key = str(k).lower()
            if key == "processors" and kind == "input":
                # fluent-bit 2.x per-input processors: only the logs
                # signal exists in this engine (flb_cf_yaml.c parses
                # logs/metrics/traces; metrics+traces have no analog
                # here — reject rather than silently drop)
                if not isinstance(v, dict):
                    raise ValueError("processors must map signal -> list")
                extra = set(v) - {"logs"}
                if extra:
                    raise ValueError(
                        f"unsupported processor signal(s) {sorted(extra)}; "
                        "only 'logs' is supported"
                    )
                for pm in v.get("logs") or []:
                    if not isinstance(pm, dict):
                        raise ValueError("each processor must be a mapping")
                    cond = pm.pop("condition", None)
                    psec = to_section("processor", pm)
                    if cond is not None:
                        if not isinstance(cond, dict) or not isinstance(
                            cond.get("rules"), list
                        ):
                            raise ValueError(
                                "condition must be a map with a 'rules' list"
                            )
                        psec.condition = cond
                    sec.processors.append(psec)
                continue
            vals = v if isinstance(v, list) else [v]
            for one in vals:
                if isinstance(one, (dict, list)):
                    raise ValueError(
                        f"nested value for {key!r} not supported by the "
                        "classic loader"
                    )
                sval = str(one)
                if isinstance(one, bool):
                    sval = sval.lower()  # yaml True -> fluent-bit 'true'
                sec.props.append((key, _expand_vars(sval, variables)))
        return sec

    if isinstance(doc.get("service"), dict):
        sections.append(to_section("service", doc["service"]))
    for m in doc.get("parsers") or []:
        sections.append(to_section("parser", m))
    # yaml stream-processor tasks: top-level name/exec list
    # (flb_sp.c:104 "the new Yaml parser expects the section names to
    # be stream_processor")
    for m in doc.get("stream_processor") or []:
        sections.append(to_section("stream_task", m))
    pipeline = doc.get("pipeline") or {}
    for plural, kind in (("inputs", "input"), ("filters", "filter"), ("outputs", "output")):
        for m in pipeline.get(plural) or []:
            sections.append(to_section(kind, m))

    known = {"env", "includes", "service", "parsers", "pipeline", "stream_processor"}
    unknown = set(doc) - known
    if unknown:
        raise ValueError(f"unsupported yaml top-level keys: {sorted(unknown)}")
    return sections


def load_classic_conf(path: str) -> list[Section]:
    """File loader: dispatches classic vs yaml by extension, resolves
    @INCLUDE/includes relative to the root config's directory, applies
    @SET/env variables in read order, and splices ``[SERVICE]
    Parsers_File`` definitions in as [PARSER] sections (flb_config.c
    service key; parser files are ordinary classic files whose
    sections are all [PARSER])."""
    import os

    with open(path) as fh:
        text = fh.read()
    base = os.path.dirname(os.path.abspath(path))
    seen = {os.path.realpath(path)}
    if path.endswith((".yaml", ".yml")):
        sections = parse_yaml_conf(text, base, {}, seen)
    else:
        sections = parse_classic_conf(text, base, {}, seen)
    for svc in (s for s in sections if s.kind == "service"):
        for pf in svc.get_all("parsers_file"):
            if not os.path.isabs(pf):
                pf = os.path.join(base, pf)
            rp = os.path.realpath(pf)
            if rp in seen:
                continue  # same parsers file referenced twice is fine
            seen.add(rp)
            with open(pf) as fh:
                sections.extend(parse_classic_conf(fh.read(), base, {}, seen))
        # [SERVICE] Streams_File: stream-processor task definitions
        # ([STREAM_TASK] name/exec sections — flb_sp.c:58 sp_config_file;
        # path resolution mirrors the reference: as-is, else conf dir)
        for sf in svc.get_all("streams_file"):
            if not os.path.isabs(sf):
                sf = os.path.join(base, sf)
            rp = os.path.realpath(sf)
            if rp in seen:
                continue
            seen.add(rp)
            with open(sf) as fh:
                sections.extend(parse_classic_conf(fh.read(), base, {}, seen))
    return sections


def parsers_from_sections(sections: list[Section]) -> dict[str, "ParserSpec"]:
    """[PARSER] sections -> ParserSpec dict (classic text round-trip
    through the parsers/config reader so semantics stay single-source)."""
    from fluent_bit_spark.parsers.config import parse_parsers_conf

    chunks = []
    for s in sections:
        if s.kind != "parser":
            continue
        chunks.append("[PARSER]")
        chunks.extend(f"    {k} {v}" for k, v in s.props)
    if not chunks:
        return {}
    return parse_parsers_conf("\n".join(chunks))


# ------------------------------------------------------------- inputs


def _expand_map(
    df: DataFrame,
    map_col: str = "record_map",
    sample_rows: int = 10_000,
    keys: list[str] | None = None,
) -> DataFrame:
    """Promote a parser's map column to top-level columns.

    ``keys`` (from the parser spec's ``Keys`` declaration) makes this
    a pure plan rewrite — zero jobs. Without it, map-producing parsers
    (logfmt/ltsv/json) can't know their keys at compile time; classic-
    mode filters address keys as columns, so the key set is inferred
    from a bounded sample (warned: a construction-time Spark job per
    config line — declare keys at scale), with the same caveat as
    spark.read.json inference (keys absent from the sample are
    dropped). Undeclared key order is sorted for a deterministic
    schema; declared order is preserved.
    """
    if map_col not in df.columns:
        return df
    if keys is None:
        import warnings

        warnings.warn(
            "classic config: inferring parser map keys from a "
            f"{sample_rows}-row sample (construction-time Spark job); "
            "declare them with 'Keys k1 k2 ...' in the [PARSER] spec",
            stacklevel=2,
        )
        keys = sorted(
            r[0]
            for r in df.limit(sample_rows)
            .select(F.explode(F.map_keys(F.col(map_col))).alias("k"))
            .distinct()
            .collect()
        )
    cols = [F.col(c) for c in df.columns if c != map_col]
    cols += [F.col(map_col).getItem(k).alias(k) for k in keys]
    return df.select(*cols)


def _input_df(
    spark: SparkSession,
    sec: Section,
    parsers: dict[str, ParserSpec],
    lib_inputs: dict[str, DataFrame],
) -> DataFrame:
    name = sec.name
    tag = sec.get("tag") or name
    if name == "dummy":
        # in_dummy property surface (plugins/in_dummy/in_dummy.c config
        # map + tests/runtime/in_dummy.c): Dummy JSON emitted Samples
        # times x Copies per tick; unparseable Dummy falls back to the
        # default message (in_dummy.c flb_pack_json failure path);
        # Fixed_Timestamp + Start_Time_Sec/Nsec pin event_time, else
        # records carry ingest time (the "today" check).
        payload = sec.get("dummy", '{"message":"dummy"}')
        samples = int(sec.get("samples", "1"))
        copies = int(sec.get("copies", "1"))
        import json

        try:
            parsed_payload = json.loads(payload)
            if not isinstance(parsed_payload, dict):
                raise ValueError
        except ValueError:
            payload = '{"message":"dummy"}'
            parsed_payload = {"message": "dummy"}
        fixed = (sec.get("fixed_timestamp", "off") or "").lower() in (
            "on", "true", "yes", "1",
        )
        if fixed:
            ts_col = F.timestamp_seconds(
                F.lit(
                    int(sec.get("start_time_sec", "0"))
                    + int(sec.get("start_time_nsec", "0")) / 1e9
                )
            )
        else:
            ts_col = F.current_timestamp()
        base = spark.range(samples * copies).select(
            F.lit(tag).alias("tag"),
            F.col("id").alias("_seq"),
            ts_col.alias("event_time"),
            F.lit(payload).alias("_json"),
        )
        def _struct_schema(obj: dict):
            from pyspark.sql import types as T

            return T.StructType(
                [
                    T.StructField(
                        k,
                        _struct_schema(v) if isinstance(v, dict) else T.StringType(),
                    )
                    for k, v in obj.items()
                ]
            )

        cols = [F.col("tag"), F.col("_seq"), F.col("event_time")]
        for k, v in parsed_payload.items():
            # bracket-quoted path: dummy keys may contain dots
            # (e.g. logging.googleapis.com/* special fields)
            raw = F.get_json_object(F.col("_json"), f"$['{k}']")
            if isinstance(v, dict):
                # nested msgpack maps keep their structure in the
                # reference; the columnar analog is a typed struct
                # (lets filter_nest LIFT and record accessors navigate)
                cols.append(F.from_json(raw, _struct_schema(v)).alias(k))
            else:
                cols.append(raw.alias(k))
        return base.select(*cols)
    if name == "tail":
        path = sec.get("path")
        if not path:
            raise ValueError("[INPUT] tail requires Path")
        # Path accepts a comma-separated glob list (tail_scan.c)
        paths = [p.strip() for p in path.split(",") if p.strip()]
        df = spark.read.text(paths).withColumnRenamed("value", "log")
        # Exclude_Path: comma-separated globs dropped from the set
        # (in_tail fnmatch semantics: '*' crosses separators)
        excl = sec.get("exclude_path")
        if excl:
            import fnmatch as _fn

            fname = F.input_file_name()
            for pat in (p.strip() for p in excl.split(",") if p.strip()):
                rx = _fn.translate(pat).replace(r"\Z", "$")
                hit = fname.rlike(rx)
                if "/" not in pat:  # basename patterns match basenames
                    hit = hit | F.element_at(F.split(fname, "/"), -1).rlike(
                        "^" + rx
                    )
                df = df.filter(~hit)
        # skip_empty_lines (tail_file.c:505-530): default OFF; when on,
        # lines that are empty or a lone CR are dropped
        if sec.get("skip_empty_lines", "false").lower() in (
            "true", "on", "yes", "1",
        ):
            df = df.filter(~F.col("log").isin("", "\r"))

        def tail_tag_col(fname: Column | None = None) -> Column:
            """Tag for this input's rows. With Tag_Regex the Tag is a
            template over the file path's named captures —
            tail_file.c:709-790 tag_compose: '<name>' placeholders
            fill from tag_regex matches, per file."""
            tag_rx = sec.get("tag_regex")
            if not tag_rx:
                return F.lit(tag)
            import re as _re2

            from fluent_bit_spark.parsers.compile import to_java_regex

            jrx = to_java_regex(tag_rx)
            g = 0
            names: dict[str, int] = {}
            for m in _re2.finditer(r"\(\?<(\w+)>|\((?!\?)", tag_rx):
                g += 1
                if m.group(1):
                    names[m.group(1)] = g
            parts: list[Column] = []
            pos = 0
            if fname is None:
                fname = F.input_file_name()
            for m in _re2.finditer(r"<(\w+)>", tag):
                if m.start() > pos:
                    parts.append(F.lit(tag[pos : m.start()]))
                gi = names.get(m.group(1))
                parts.append(
                    F.regexp_extract(fname, jrx, gi) if gi else F.lit("")
                )
                pos = m.end()
            if pos < len(tag):
                parts.append(F.lit(tag[pos:]))
            return F.concat(*parts) if parts else F.lit(tag)

        ml = sec.get("multiline.parser")
        if ml:
            # in_tail multiline (plugins/in_tail: multiline.parser
            # property): join lines per file BEFORE the parser stage,
            # exactly the reference's tail -> ml -> parser order.
            # Built-ins: java/go/python/ruby (rule DFAs), cri, docker.
            from fluent_bit_spark.operators.multiline import (
                BUILTIN_ML_RULES,
                cri_join,
                docker_join,
                ml_rules_join,
            )

            names = [m.strip().lower() for m in ml.split(",") if m.strip()]
            if len(names) != 1:
                raise ValueError(
                    "one multiline.parser per tail input is supported "
                    f"(got {names!r}); chain via a rewrite pass instead"
                )
            mlname = names[0]
            lined = df.withColumn("_file", F.input_file_name()).withColumn(
                "_seq", F.monotonically_increasing_id()
            )
            if mlname == "cri":
                joined = cri_join(lined, ["_file"], "_seq", "log")
            elif mlname == "docker":
                joined = docker_join(lined, ["_file"], "_seq", "log")
            elif mlname in BUILTIN_ML_RULES:
                joined = ml_rules_join(lined, ["_file"], "_seq", "log", mlname)
            else:
                raise ValueError(f"unknown multiline.parser {mlname!r}")
            # ml_rules_join emits 'record'; cri/docker joins keep the
            # original line column name
            rec = "record" if "record" in joined.columns else "log"
            keep = [F.col(rec).alias("log"), F.col("_file")]
            if "stream" in joined.columns:  # cri/docker carry a stream col
                keep.append(F.col("stream"))
            df = joined.select(*keep)
            if sec.get("path_key"):
                df = df.withColumn(sec.get("path_key"), F.col("_file"))
            df = df.withColumn(
                "tag", tail_tag_col(F.col("_file"))
            ).drop("_file")
            pname = sec.get("parser")
            if pname:
                if pname not in parsers:
                    raise ValueError(f"unknown parser {pname!r} (pass parsers=)")
                df = _expand_map(
                    apply_parser(df, "log", parsers[pname]),
                    keys=parsers[pname].declared_keys(),
                )
            return df
        if sec.get("path_key"):
            df = df.withColumn(sec.get("path_key"), F.input_file_name())
        df = df.withColumn("tag", tail_tag_col())
        pname = sec.get("parser")
        if pname:
            if pname not in parsers:
                raise ValueError(f"unknown parser {pname!r} (pass parsers=)")
            df = _expand_map(
                apply_parser(df, "log", parsers[pname]),
                keys=parsers[pname].declared_keys(),
            )
        return df
    if name == "lib":
        if tag not in lib_inputs:
            raise ValueError(
                f"[INPUT] lib needs a DataFrame for tag {tag!r} in lib_inputs"
            )
        return lib_inputs[tag].withColumn("tag", F.lit(tag))
    raise ValueError(
        f"input plugin {name!r} not supported in classic mode "
        "(supported: dummy, tail, lib)"
    )


# ------------------------------------------------------------- filters


def _match_gate(df: DataFrame, match: str):
    """(gate Column or None) — None means the filter applies to every
    row (no scoping needed)."""
    if match == "*":
        return None
    return tag_match_col("tag", match)


# Every Match-scoped filter applies ROW-WISE in one scan: the gate
# predicate is pushed INTO the operator (grep keeps non-matching rows,
# modify/record_modifier/nest compute when(gate, new).otherwise(old),
# rewrite_tag scopes its rule firing). The alternative — split rows by
# Match, apply, union back — doubles the plan tree per filter (2^K
# scans for K filters), which is a non-starter at the 100 TB target.


def _gated_record_modifier(
    df: DataFrame,
    gate,
    remove_keys: list[str] | None,
    allow_keys: list[str] | None,
    records: dict[str, str] | None,
    uuid_key: str | None,
) -> DataFrame:
    if gate is None:
        return record_modifier(df, remove_keys, allow_keys, records, uuid_key)
    drop = set(remove_keys or [])
    if allow_keys:
        keep = set(allow_keys) | {"tag", "event_time"}
        drop |= {c for c in df.columns if c not in keep}
    for k in drop:
        if k in df.columns:
            df = df.withColumn(k, F.when(gate, F.lit(None)).otherwise(F.col(k)))
    for k, v in (records or {}).items():
        old = F.col(k) if k in df.columns else F.lit(None).cast("string")
        df = df.withColumn(k, F.when(gate, F.lit(v)).otherwise(old))
    if uuid_key:
        df = df.withColumn(uuid_key, F.when(gate, F.expr("uuid()")))
    return df


def _gated_nest(df: DataFrame, gate, sec: Section) -> DataFrame:
    operation = (sec.get("operation") or "nest").lower()
    if gate is None:
        if operation == "nest":
            return nest(
                df, sec.get_all("wildcard"), sec.get("nest_under", "nested"),
                sec.get("remove_prefix"), sec.get("add_prefix"),
            )
        return lift(
            df, sec.get("nested_under", "nested"),
            sec.get("remove_prefix"), sec.get("add_prefix"),
        )
    # row-gated: nested struct only for gated rows; folded/lifted
    # source columns null out on those rows
    if operation == "nest":
        target = sec.get("nest_under", "nested")
        matched = [
            c for c in df.columns
            if any(_wild(c, w) for w in sec.get_all("wildcard"))
        ]
        fields = []
        for c in matched:
            name = c
            rp = sec.get("remove_prefix")
            if rp and name.startswith(rp):
                name = name[len(rp):]
            if sec.get("add_prefix"):
                name = sec.get("add_prefix") + name
            fields.append(F.col(c).alias(name))
        out = df.withColumn(target, F.when(gate, F.struct(*fields)))
        for c in matched:
            out = out.withColumn(c, F.when(gate, F.lit(None)).otherwise(F.col(c)))
        return out
    src = sec.get("nested_under", "nested")
    if src not in df.columns:
        return df
    out = df
    for fname in df.schema[src].dataType.fieldNames():
        name = fname
        rp = sec.get("remove_prefix")
        if rp and name.startswith(rp):
            name = name[len(rp):]
        if sec.get("add_prefix"):
            name = sec.get("add_prefix") + name
        old = F.col(name) if name in out.columns else F.lit(None)
        out = out.withColumn(
            name, F.when(gate, F.col(src).getField(fname)).otherwise(old)
        )
    return out.withColumn(src, F.when(gate, F.lit(None)).otherwise(F.col(src)))


def _wild(name: str, pattern: str) -> bool:
    from fluent_bit_spark.functions.globmatch import tag_glob_match

    return tag_glob_match(name, pattern)


def _two(v: str) -> tuple[str, str]:
    parts = v.split(None, 1)
    if len(parts) != 2:
        raise ValueError(f"expected 'KEY VALUE', got {v!r}")
    return parts[0], parts[1]


def _apply_processors(
    df: DataFrame, input_sec: Section, parsers: dict[str, ParserSpec] | None
) -> DataFrame:
    """Per-input yaml processors (fluent-bit 2.x): run in config order
    on THIS input's records only, before union/routing — processors
    have no Match, they are attached (flb_processor.c semantics).
    Native processors dispatch to their operators; any filter plugin
    also works as a processor (filters-as-processors), forced to
    match-all since attachment already scopes it."""
    for p in input_sec.processors:
        name = p.name
        if p.condition is not None and name != "content_modifier":
            raise ValueError(
                "processor condition is supported on content_modifier "
                f"(its native consumer), not {name!r}"
            )
        if name == "content_modifier":
            from fluent_bit_spark.operators.conditions import ConditionRule
            from fluent_bit_spark.operators.content_modifier import content_modifier

            rules, combine = [], "and"
            if p.condition is not None:
                combine = str(p.condition.get("op", "and")).lower()
                rules = [
                    ConditionRule(
                        field=str(r["field"]), op=str(r["op"]), value=r.get("value")
                    )
                    for r in p.condition["rules"]
                ]
            df = content_modifier(
                df,
                action=p.get("action") or "",
                key=p.get("key") or "",
                value=p.get("value"),
                converted_type=p.get("converted_type"),
                pattern=p.get("pattern"),
                conditions=rules,
                combine=combine,
                context=p.get("context"),
            )
        elif name == "opentelemetry_envelope":
            from fluent_bit_spark.operators.otel_envelope import otel_envelope_cols

            df = otel_envelope_cols(df)
        elif name == "sql":
            from fluent_bit_spark.operators.processor_sql import processor_sql

            df = processor_sql(df, p.get("query") or "")
        elif name == "sampling":
            from fluent_bit_spark.operators.sampling import sample_probabilistic

            df = sample_probabilistic(
                df, float(p.get("percentage") or p.get("sampling_percentage") or 100)
            )
        else:
            forced = Section(kind="filter", props=list(p.props))
            if forced.get("match") is None:
                forced.props.append(("match", "*"))
            df = _apply_filter(df, forced, parsers)
    return df


def _apply_filter(
    df: DataFrame, sec: Section, parsers: dict[str, ParserSpec] | None = None
) -> DataFrame:
    name = sec.name
    match = sec.get("match", "*")
    gate = _match_gate(df, match)

    if name == "grep":
        # rules evaluate in config-appearance order (legacy semantics)
        rules = [
            GrepRule(k, *_two(v))
            for k, v in sec.props
            if k in ("regex", "exclude")
        ]
        op = (sec.get("logical_op") or "legacy").lower()
        # grep.c:90-97: under AND/OR the rule types must not mix
        if op != "legacy" and len({r.action for r in rules}) > 1:
            raise ValueError("Both 'regex' and 'exclude' are set.")
        from fluent_bit_spark.operators.grep import grep_predicate

        keep = grep_predicate(df, rules, op)
        return df.filter(keep if gate is None else (~gate | keep))

    if name == "modify":
        rule_ops = (
            "set", "add", "remove", "remove_wildcard", "remove_regex",
            "rename", "hard_rename", "copy", "hard_copy", "move_to_start",
            "move_to_end",
        )
        rules: list[ModifyRule] = []
        conds: list[ModifyCondition] = []
        for k, v in sec.props:
            if k in rule_ops:
                if k in ("remove", "remove_wildcard", "remove_regex",
                         "move_to_start", "move_to_end"):
                    rules.append(ModifyRule(k, v))
                else:
                    rules.append(ModifyRule(k, *_two(v)))
            elif k == "condition":
                toks = v.split(None, 2)
                conds.append(
                    ModifyCondition(
                        toks[0].lower(), toks[1],
                        toks[2] if len(toks) > 2 else None,
                    )
                )
        return modify(df, rules, conds, gate=gate)

    if name == "checklist":
        # plugins/filter_checklist/checklist.c property surface:
        # file (one list entry per line, # comments), lookup_key,
        # record k v (repeatable), mode exact|partial, ignore_case
        from fluent_bit_spark.enrich import checklist as _checklist

        path = sec.get("file")
        if not path:
            raise ValueError("filter checklist: `file` is not set")
        with open(path) as fh:
            values = [
                ln.strip() for ln in fh
                if ln.strip() and not ln.lstrip().startswith("#")
            ]
        lookup = (sec.get("lookup_key") or "log").lstrip("$")
        recs = dict(_two(v) for v in sec.get_all("record")) or None
        out = _checklist(
            df if gate is None else df.filter(gate),
            values,
            lookup,
            records=recs,
            mode=(sec.get("mode") or "exact").lower(),
            ignore_case=sec.get("ignore_case", "false").lower()
            in ("true", "on", "yes", "1"),
        )
        if gate is None:
            return out
        return df.filter(~gate).unionByName(out, allowMissingColumns=True)

    if name == "record_modifier":
        records = dict(_two(v) for v in sec.get_all("record"))
        remove = sec.get_all("remove_key")
        allow = sec.get_all("allowlist_key") + sec.get_all("whitelist_key")
        uuid_key = sec.get("uuid_key")
        return _gated_record_modifier(
            df, gate, remove or None, allow or None, records or None, uuid_key
        )

    if name == "nest":
        return _gated_nest(df, gate, sec)

    if name == "rewrite_tag":
        rules = []
        for v in sec.get_all("rule"):
            key, pattern, new_tag, keep = v.split(None, 3)
            rules.append(
                RewriteTagRule(
                    key, pattern, new_tag,
                    keep.strip().lower() in ("true", "on", "1"),
                )
            )
        return apply_rewrite_tag(df, rules, scope=gate)

    if name == "throttle":
        rate = int(sec.get("rate", "5"))
        interval = sec.get("interval", "1s").rstrip("s") + " seconds"
        ts = sec.get("time_key", "event_time")
        if ts not in df.columns:
            raise ValueError(f"throttle needs a {ts!r} column (set Time_Key)")
        if gate is None:
            return throttle(df, ts, rate, interval, key_cols=["tag"])
        # gated: count ONLY matching rows in the running window total;
        # non-matching rows always pass (one scan, no branch)
        from pyspark.sql import Window

        win = F.window(F.col(ts), interval)["start"]
        w = (
            Window.partitionBy(win, F.col("tag"))
            .orderBy(F.col(ts))
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        cnt = F.sum(F.when(gate, 1).otherwise(0)).over(w)
        return df.withColumn("_thr", cnt).filter(
            ~gate | (F.col("_thr") <= rate)
        ).drop("_thr")

    if name == "geoip2":
        # plugins/filter_geoip2: Database (mmdb path), repeatable
        # Record 'KEY LOOKUP_KEY %{path}' directives; the mmdb bytes
        # broadcast once, lookups run Arrow-batched (enrich_mmdb)
        from fluent_bit_spark.enrich_mmdb import geoip2_filter

        db = sec.get("database")
        if not db:
            raise ValueError("[FILTER] geoip2 requires Database")
        with open(db, "rb") as fh:
            mmdb = fh.read()
        records = []
        for v in sec.get_all("record"):
            nk, lk, pat = v.split(None, 2)
            records.append((nk, lk, pat.strip()))
        if not records:
            raise ValueError("[FILTER] geoip2 requires at least one Record")
        out = geoip2_filter(df, mmdb, records)
        if gate is not None:
            for nk, _, _ in records:
                out = out.withColumn(nk, F.when(gate, F.col(nk)))
        return out

    if name == "expect":
        rules = []
        for k, v in sec.props:
            if k in ("key_exists", "key_not_exists", "key_val_is_null",
                     "key_val_is_not_null"):
                rules.append(ExpectRule(k, v))
            elif k in ("key_val_eq", "key_val_matches"):
                rules.append(ExpectRule(k, *_two(v)))
        action = (sec.get("action") or "exit").lower()
        if action == "result_key":
            out = expect(df, rules, "result_key", sec.get("result_key", "matched"))
            if gate is not None:
                rk = sec.get("result_key", "matched")
                out = out.withColumn(rk, F.when(gate, F.col(rk)))
            return out
        expect(df.filter(gate) if gate is not None else df, rules, "exit")
        return df

    if name == "parser":
        from fluent_bit_spark.operators.parser_filter import filter_parser

        key_name = sec.get("key_name")
        if not key_name:
            raise ValueError("[FILTER] parser requires Key_Name")
        pnames = sec.get_all("parser")
        specs = []
        for pn in pnames:
            if pn not in (parsers or {}):
                raise ValueError(f"unknown parser {pn!r} (pass parsers=)")
            specs.append(parsers[pn])
        return filter_parser(
            df,
            key_name,
            specs,
            reserve_data=(sec.get("reserve_data", "off").lower()
                          in ("on", "true", "1")),
            preserve_key=(sec.get("preserve_key", "off").lower()
                          in ("on", "true", "1")),
            gate=gate,
        )

    if name == "type_converter":
        from fluent_bit_spark.operators.type_converter import (
            ConvertRule,
            type_converter,
        )

        rules = []
        for k, v in sec.props:
            if k in ("int_key", "uint_key", "float_key", "str_key"):
                frm, to, typ = v.split(None, 2)
                rules.append(ConvertRule(frm, to, typ.strip()))
        return type_converter(df, rules, gate=gate)

    if name == "alter_size":
        from fluent_bit_spark.operators.alter_size import alter_size

        return alter_size(
            df,
            add=int(sec.get("add", "0")),
            remove=int(sec.get("remove", "0")),
            order_col=sec.get("order_key", "_seq"),
            gate=gate,
        )

    if name == "stdout":
        return df  # debugging passthrough

    if name == "lua":
        # plugins/filter_lua/lua_config.c:71-160 property surface:
        # script|code, call, type_int_key, type_array_key,
        # protected_mode, time_as_table, enable_flb_null.
        # result_schema is a Spark-first
        # extension (msgpack is schemaless; DataFrames are not) that
        # declares keys the script ADDS beyond the input columns.
        call = sec.get("call")
        if not call:
            # mandatory in the reference (lua_config.c:116)
            raise ValueError("filter lua: function name `call` is not set")
        code = sec.get("code")
        if code is None:
            path = sec.get("script")
            if not path:
                raise ValueError("filter lua requires `script` or `code`")
            with open(path) as fh:
                code = fh.read()
        from fluent_bit_spark.operators.lua_filter import lua_filter_typed

        return lua_filter_typed(
            df,
            code,
            call=call,
            gate=gate,
            extra_schema=sec.get("result_schema"),
            type_int_key=tuple(
                k for v in sec.get_all("type_int_key") for k in v.split()
            ),
            type_array_key=tuple(
                k for v in sec.get_all("type_array_key") for k in v.split()
            ),
            protected_mode=sec.get("protected_mode", "true").lower()
            not in ("false", "off", "no", "0"),
            time_as_table=sec.get("time_as_table", "false").lower()
            in ("true", "on", "yes", "1"),
            enable_flb_null=sec.get("enable_flb_null", "false").lower()
            in ("true", "on", "yes", "1"),
        )

    if name == "ecs":
        # plugins/filter_ecs/ecs.c: Add dest templates over agent
        # metadata, container short-id parsed from the tag after
        # ecs_tag_prefix (see ecs.py; agent endpoint injectable)
        from fluent_bit_spark.ecs import EcsAgentClient, filter_ecs

        add = {}
        for spec in sec.get_all("add"):
            parts = spec.split(None, 1)
            if len(parts) == 2:
                add[parts[0]] = parts[1]
        return filter_ecs(
            df,
            add=add,
            client=EcsAgentClient(),
            ecs_tag_prefix=sec.get("ecs_tag_prefix", ""),
            cluster_metadata_only=sec.get(
                "cluster_metadata_only", "false"
            ).lower() in ("true", "on"),
        )

    if name == "aws":
        # plugins/filter_aws/aws.c:1203-1264 config map: imds_version,
        # az (default on), ec2_instance_id (default on),
        # ec2_instance_type, private_ip, vpc_id, ami_id, account_id,
        # hostname, tags_enabled, tags_include, tags_exclude. One
        # driver-side IMDS fetch -> literal columns (see aws.py).
        from fluent_bit_spark.aws import ImdsClient, aws_filter, fetch_ec2_metadata

        def b(key: str, default: str) -> bool:
            return sec.get(key, default).lower() in ("true", "on", "yes", "1")

        want = {
            k for k, d in (
                ("az", "true"), ("ec2_instance_id", "true"),
                ("ec2_instance_type", "false"), ("private_ip", "false"),
                ("vpc_id", "false"), ("ami_id", "false"),
                ("account_id", "false"), ("hostname", "false"),
            ) if b(k, d)
        }
        inc = (sec.get("tags_include") or "").split(",")
        exc = (sec.get("tags_exclude") or "").split(",")
        meta = fetch_ec2_metadata(
            ImdsClient(imds_version=sec.get("imds_version", "v2")),
            want,
            tags_enabled=b("tags_enabled", "false"),
            tags_include=[t for t in inc if t] or None,
            tags_exclude=[t for t in exc if t] or None,
        )
        enriched = aws_filter(df.filter(gate) if gate is not None else df, meta)
        if gate is None:
            return enriched
        return df.filter(~gate).unionByName(enriched, allowMissingColumns=True)

    if name == "kubernetes":
        # plugins/filter_kubernetes/kube_conf.c property surface
        # (core subset): Kube_URL, Kube_Tag_Prefix, Kube_Token_File,
        # Kube_CA_File, tls.verify, Labels, Annotations, Merge_Log,
        # Merge_Log_Key, Keep_Log, Kube_Meta_Cache_TTL. The live
        # fetch happens on the driver at plan-build time (see
        # fluent_bit_spark.k8s docstring for the topology rationale).
        from fluent_bit_spark.k8s import (
            DEFAULT_KUBE_URL,
            DEFAULT_TAG_PREFIX,
            KubeMetaClient,
            kubernetes_filter,
        )

        def b(key: str, default: str) -> bool:
            return sec.get(key, default).lower() in ("true", "on", "yes", "1")

        client = KubeMetaClient(
            kube_url=sec.get("kube_url", DEFAULT_KUBE_URL),
            token_file=sec.get("kube_token_file"),
            ca_file=sec.get("kube_ca_file"),
            tls_verify=b("tls.verify", "true"),
            meta_cache_ttl=float(sec.get("kube_meta_cache_ttl", "0")),
        )
        matched = df.filter(gate) if gate is not None else df
        enriched = kubernetes_filter(
            matched,
            client,
            kube_tag_prefix=sec.get("kube_tag_prefix", DEFAULT_TAG_PREFIX),
            labels=b("labels", "true"),
            annotations=b("annotations", "false"),
            merge_log=b("merge_log", "false"),
            merge_log_key=sec.get("merge_log_key", "log_processed"),
            keep_log=b("keep_log", "true"),
        )
        if gate is None:
            return enriched
        return df.filter(~gate).unionByName(
            enriched, allowMissingColumns=True
        )

    if name == "multiline":
        # plugins/filter_multiline/ml.c config map: mode partial_message
        # concatenates Docker split messages; mode parser (regex concat)
        # is the in_tail multiline.parser path (input-side here, where
        # line order is data). Gate rows by Match like every filter.
        mode = (sec.get("mode") or "parser").lower()
        if mode != "partial_message":
            raise ValueError(
                "filter multiline: only mode partial_message is supported "
                "as a [FILTER]; use the input's multiline.parser for "
                "parser mode (line order is only data at the input)"
            )
        from fluent_bit_spark.operators.multiline import partial_message_concat

        key = sec.get("multiline.key_content", "log")
        order = "_seq" if "_seq" in df.columns else None
        if order is None:
            raise ValueError(
                "filter multiline partial_message needs the _seq arrival-"
                "order column (in_tail/in_dummy inputs provide it)"
            )
        if gate is None:
            return partial_message_concat(df, key_content=key, order_col=order)
        matched = partial_message_concat(
            df.filter(gate), key_content=key, order_col=order
        )
        return df.filter(~gate).unionByName(matched)

    if name == "wasm":
        # plugins/filter_wasm/filter_wasm.c:401-431 property surface:
        # wasm_path (mandatory), function_name (mandatory),
        # event_format json|msgpack (msgpack crosses the boundary as
        # raw msgpack both ways via wasm/mpack.py), wasm_heap_size.
        # accessible_paths / wasm_stack_size are accepted and ignored
        # (no WASI filesystem; Python recursion limit is the stack).
        # result_schema is the same Spark-first extension as lua.
        path = sec.get("wasm_path")
        if not path:
            raise ValueError("filter wasm: `wasm_path` is not set")
        fn = sec.get("function_name")
        if not fn:
            raise ValueError("filter wasm: `function_name` is not set")
        fmt = sec.get("event_format", "json").lower()
        with open(path, "rb") as fh:
            wasm_bytes = fh.read()
        heap = sec.get("wasm_heap_size")
        from fluent_bit_spark.operators.wasm_filter import wasm_filter_typed

        return wasm_filter_typed(
            df,
            wasm_bytes,
            function_name=fn,
            gate=gate,
            extra_schema=sec.get("result_schema"),
            heap_max_pages=(int(heap) + 65535) // 65536 if heap else 1024,
            event_format=fmt,
        )
    raise ValueError(f"filter plugin {name!r} not supported")


# ------------------------------------------------------------- assembly


@dataclass
class ClassicPipeline:
    """The assembled config: filtered stream + per-output DataFrames."""

    records: DataFrame  # post-filter, pre-routing (tag column present)
    outputs: dict[str, DataFrame]  # output id -> routed/transformed DF
    output_sections: dict[str, Section]
    # Streams_File / yaml stream_processor task results by task name;
    # routable CREATE STREAM results are ALSO re-ingested into the
    # routed record stream (in_stream_processor semantics)
    stream_results: dict[str, DataFrame] = field(default_factory=dict)

    def retry_limits(self) -> dict[str, int]:
        """Per-output parsed ``Retry_Limit`` (src/flb_output.c:874-896)
        — default 1, no_limits/false -> -1, no_retries -> 0. These are
        the limits ``run_classic_outputs`` hands to
        ``delivery.deliver_outputs`` for its delivering outputs."""
        from fluent_bit_spark.delivery import parse_retry_limit

        return {
            oid: parse_retry_limit(sec.get("retry_limit"))
            for oid, sec in self.output_sections.items()
        }


def build_classic_pipeline(
    spark: SparkSession,
    conf_text: str,
    parsers: dict[str, ParserSpec] | None = None,
    lib_inputs: dict[str, DataFrame] | None = None,
) -> ClassicPipeline:
    # accepts raw classic text or pre-parsed sections (load_classic_conf
    # output — the @INCLUDE/yaml path)
    sections = (
        conf_text if isinstance(conf_text, list) else parse_classic_conf(conf_text)
    )
    # built-in stock parsers < config-carried [PARSER] sections
    # (Parsers_File / yaml parsers:) < explicitly-passed specs —
    # the reference loads user parser files after its defaults
    from fluent_bit_spark.parsers.builtin import builtin_parsers

    parsers = {
        **builtin_parsers(),
        **parsers_from_sections(sections),
        **(parsers or {}),
    }
    lib_inputs = lib_inputs or {}

    inputs = [s for s in sections if s.kind == "input"]
    if not inputs:
        raise ValueError("config has no [INPUT] section")
    dfs = [
        _apply_processors(_input_df(spark, s, parsers, lib_inputs), s, parsers)
        for s in inputs
    ]
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)

    for s in (s for s in sections if s.kind == "filter"):
        df = _apply_filter(df, s, parsers)

    # stream-processor tasks ([STREAM_TASK] via Streams_File, or yaml
    # stream_processor:) run over the post-filter record stream;
    # routable CREATE STREAM results re-ingest for routing below
    stream_results: dict[str, DataFrame] = {}
    tasks = [s for s in sections if s.kind in ("stream_task", "stream_processor")]
    if tasks:
        from fluent_bit_spark.sp.engine import SpEngine
        from fluent_bit_spark.sp.parser import parse_sql

        eng = SpEngine()
        eng.register_input("classic", df)
        for t in tasks:
            tname, texec = t.get("name"), t.get("exec")
            if not tname or not texec:
                # flb_sp.c:118-131: both properties are mandatory
                raise ValueError("[STREAM_TASK] requires name and exec")
            out = eng.execute(texec)
            stream_results[tname] = out
            cmd = parse_sql(texec)
            if cmd.kind == "create_stream" and cmd.props.get(
                "routable", "true"
            ).lower() not in ("false", "off", "no", "0"):
                # the reference re-ingests routable stream output via
                # flb_input_log_append (in_stream_processor), so the
                # re-emitted records pass the [FILTER] chain again
                # under their stream tag before routing. Mirror that
                # one re-ingestion pass here; SP tasks themselves are
                # NOT re-triggered (they were registered against the
                # original record stream — matching the reference's
                # single sp engine instance, which does not cascade a
                # stream into itself).
                re_in = out
                for fs in (s for s in sections if s.kind == "filter"):
                    re_in = _apply_filter(re_in, fs, parsers)
                df = df.unionByName(re_in, allowMissingColumns=True)

    outputs: dict[str, DataFrame] = {}
    out_secs: dict[str, Section] = {}
    for i, s in enumerate(s for s in sections if s.kind == "output"):
        oid = f"{s.name}.{i}"
        match = s.get("match", "*")
        routed = df.filter(tag_match_col("tag", match))
        if s.name == "counter":
            # out_counter: running record count (counter.c:57)
            routed = routed.agg(F.count(F.lit(1)).alias("count"))
        elif s.name == "flowcounter":
            unit = s.get("unit", "minute")
            dur = {"second": "1 second", "minute": "1 minute",
                   "hour": "1 hour", "day": "1 day"}[unit]
            ts = "event_time" if "event_time" in routed.columns else None
            if ts is None:
                raise ValueError("flowcounter needs an event_time column")
            routed = routed.groupBy(
                F.col("tag"), F.window(ts, dur)["start"].alias("window_start")
            ).agg(F.count(F.lit(1)).alias("counts"))
        outputs[oid] = routed
        out_secs[oid] = s
    return ClassicPipeline(
        records=df,
        outputs=outputs,
        output_sections=out_secs,
        stream_results=stream_results,
    )


def start_classic_stream(
    spark: SparkSession,
    conf_text: str,
    out_dir: str,
    checkpoint_dir: str,
    parsers: dict[str, ParserSpec] | None = None,
    available_now: bool = True,
):
    """Streaming classic mode: tail inputs FOLLOW their paths.

    [INPUT] tail becomes readStream.text over Path (new files per
    micro-batch — in_tail's directory following with the checkpoint as
    the offset database, tail_sql.h analog); filters apply unchanged
    (they are pure plan builders); every output delivers via
    foreachBatch into parquet under ``out_dir/<output id>`` partitioned
    by tag, idempotent per batch_id. [SERVICE] Flush N maps to a
    processingTime trigger of N seconds when ``available_now`` is off.

    Streaming-unsupported pieces raise: dummy/lib inputs (batch
    generators), throttle (global row_number is not incremental —
    use streaming/job watermarked aggregation instead).
    """
    import os

    sections = (
        conf_text if isinstance(conf_text, list) else parse_classic_conf(conf_text)
    )
    parsers = {**parsers_from_sections(sections), **(parsers or {})}

    flush_sec = 1
    for s in sections:
        if s.kind == "service" and s.get("flush"):
            flush_sec = int(float(s.get("flush")))

    dfs = []
    for sec in (s for s in sections if s.kind == "input"):
        if sec.name != "tail":
            raise ValueError(
                f"streaming classic mode supports tail inputs only, got {sec.name!r}"
            )
        path = sec.get("path")
        tag = sec.get("tag") or "tail.0"
        if sec.get("multiline.parser"):
            raise ValueError(
                "streaming classic tail does not support multiline.parser "
                "(a text file stream has no stable per-line order key); "
                "use streaming/multiline.streaming_multiline with an "
                "explicit sequence column, or the batch classic mode"
            )
        stream = (
            spark.readStream.format("text")
            .option("recursiveFileLookup", "true")
            .load(path)
            .withColumnRenamed("value", "log")
            .withColumn("tag", F.lit(tag))
        )
        pname = sec.get("parser")
        if pname:
            spec = parsers[pname]
            parsed = apply_parser(stream, "log", spec)
            if "record_map" in parsed.columns:
                keys = spec.declared_keys()
                if keys is None:
                    # no Keys declaration: key inference needs a
                    # bounded batch sample of the same path (a stream
                    # can't be collected) — one extra batch read per
                    # undeclared parser; declare Keys to skip it
                    import warnings

                    warnings.warn(
                        f"streaming classic: sampling batch read of "
                        f"{path!r} to infer parser {pname!r} keys; "
                        "declare 'Keys k1 k2 ...' in the [PARSER] "
                        "spec to avoid it",
                        stacklevel=2,
                    )
                    batch = apply_parser(
                        spark.read.text(path).withColumnRenamed("value", "log"),
                        "log",
                        spec,
                    )
                    keys = sorted(
                        r[0]
                        for r in batch.limit(10_000)
                        .select(
                            F.explode(F.map_keys(F.col("record_map"))).alias("k")
                        )
                        .distinct()
                        .collect()
                    )
                cols = [F.col(c) for c in parsed.columns if c != "record_map"]
                cols += [F.col("record_map").getItem(k).alias(k) for k in keys]
                parsed = parsed.select(*cols)
            stream = parsed
        # yaml per-input processors work on streams too (all dispatch
        # targets are projections/filters — no aggregation)
        stream = _apply_processors(stream, sec, parsers)
        dfs.append(stream)
    if not dfs:
        raise ValueError("config has no [INPUT] section")
    df = dfs[0]
    for d in dfs[1:]:
        df = df.unionByName(d, allowMissingColumns=True)

    for s in (s for s in sections if s.kind == "filter"):
        if s.name == "throttle":
            raise ValueError(
                "filter throttle is batch-only in classic mode; use "
                "streaming/job.py watermarked aggregation"
            )
        df = _apply_filter(df, s, parsers)

    out_specs = [
        (f"{s.name}.{i}", s)
        for i, s in enumerate(s for s in sections if s.kind == "output")
    ]

    def write_batch(batch_df, batch_id: int) -> None:
        batch_df.persist()
        try:
            for oid, sec in out_specs:
                routed = batch_df.filter(tag_match_col("tag", sec.get("match", "*")))
                if sec.name in ("null", "stdout"):
                    continue
                if sec.name == "counter":
                    routed = routed.agg(F.count(F.lit(1)).alias("count"))
                (
                    routed.withColumn("batch_id", F.lit(batch_id))
                    .write.mode("overwrite")
                    .partitionBy("batch_id")
                    .option("partitionOverwriteMode", "dynamic")
                    .parquet(os.path.join(out_dir, oid))
                )
        finally:
            batch_df.unpersist()

    writer = df.writeStream.foreachBatch(write_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{flush_sec} seconds")
    return writer.start()


# outputs that deliver nothing: counting their records is their only action
_COUNT_ONLY = ("null", "stdout", "counter", "flowcounter")


def run_classic_outputs(pipe: ClassicPipeline, out_dir: str) -> dict[str, int]:
    """Deliver every output and return its delivered row count.

    Each delivering output is one (partition key, line) frame written
    by ``sinks.write_lines_per_tag`` under ``<out_dir>/<output id>``.
    The flushes run under the reference's retry contract
    (``delivery.deliver_outputs`` with each output's Retry_Limit): a
    failed write is retried with capped full-jitter backoff, and one
    failing output never blocks the others. The count is observed
    from the write itself (``metrics.observe_stage``), so a delivered
    output scans its input once; an output dropped after its retries
    reports 0. null/stdout/counter/flowcounter deliver nothing and
    report ``df.count()``.
    """
    import os

    from fluent_bit_spark import sinks
    from fluent_bit_spark.delivery import deliver_outputs
    from fluent_bit_spark.metrics import observe_stage

    flushes = {}
    observations = {}
    for oid, df in pipe.outputs.items():
        sec = pipe.output_sections[oid]
        if sec.name in _COUNT_ONLY:
            continue
        # plan only, on the driver: an unsupported plugin or a config
        # error (e.g. out_es without event_time) raises here instead of
        # failing every flush
        encode_output_lines(df, sec)

        def flush(df=df, sec=sec, oid=oid) -> None:
            # a fresh Observation per attempt: a failed write never
            # completes its own
            routed, observations[oid] = observe_stage(df, oid)
            frame = encode_output_lines(routed, sec)
            sinks.write_lines_per_tag(
                frame, os.path.join(out_dir, oid), tag_col=frame.columns[0])

        flushes[oid] = flush
    delivered = deliver_outputs(flushes, pipe.retry_limits())
    counts: dict[str, int] = {}
    for oid, df in pipe.outputs.items():
        if oid not in delivered:
            counts[oid] = df.count()
        elif delivered[oid].ok:
            counts[oid] = observations[oid].get["records"]
        else:
            counts[oid] = 0  # dropped after its retries
    return counts


def encode_output_lines(df, sec):
    """(partition key, line) DataFrame for every delivering output
    plugin, mapping each plugin's config keys onto the columnar
    encoders. The key is ``tag``, or ``topic`` for out_kafka. The
    network transport itself is out of scope (SURVEY §2.9) — delivery
    is file-per-key, but the bytes per record match what the reference
    would put on the socket."""
    if sec.name == "file":
        from fluent_bit_spark.sinks import encode_line

        fmt = (sec.get("format") or "json_lines").replace("out_file", "")
        line = encode_line(
            df, "json_lines" if fmt == "plain" else fmt,
            template=sec.get("template"),
            ts_col="event_time" if "event_time" in df.columns else None,
            delimiter=sec.get("delimiter"),
            label_delimiter=sec.get("label_delimiter"),
        )
        return df.select("tag", line.alias("line"))
    # '_'-prefixed columns are pipeline-internal (record order,
    # lineage) — never part of the user's record map in any format.
    # backtick-quoted, not bare names: keys may contain dots
    # (logging.googleapis.com/*)
    df = df.select(*[_bt(c) for c in df.columns if not c.startswith("_")])
    ts = "event_time" if "event_time" in df.columns else None
    if sec.name == "kafka":
        # (topic, key, value) records, one JSON line each — the file
        # analog of the Kafka sink's record shape
        from fluent_bit_spark.functions.kafka_out import to_kafka_records

        recs = to_kafka_records(
            df,
            "event_time",
            topics=(sec.get("topics") or "fluent-bit").split(","),
            topic_key=sec.get("topic_key"),
            dynamic_topic=(sec.get("dynamic_topic") or "off").lower()
            in ("on", "true"),
            message_key=sec.get("message_key"),
            message_key_field=sec.get("message_key_field"),
            timestamp_key=sec.get("timestamp_key") or "@timestamp",
            timestamp_format=sec.get("timestamp_format") or "double",
            fmt=(sec.get("format") or "json").lower(),
            raw_log_key=sec.get("raw_log_key"),
        )
        return recs.select(
            "topic", F.to_json(F.struct("key", "value")).alias("line"))
    if sec.name == "syslog":
        from fluent_bit_spark.functions.syslog_out import to_syslog

        if ts is None:
            raise ValueError("out_syslog needs an event_time column")
        sd_keys = [v for v in sec.get_all("syslog_sd_key") if v in df.columns]
        line = to_syslog(
            df, ts,
            syslog_format=sec.get("syslog_format") or "rfc5424",
            mode=sec.get("mode") or "udp",
            maxsize=int(sec.get("syslog_maxsize") or 0) or None,
            severity_col=_col_if(df, sec.get("syslog_severity_key")),
            severity_preset=int(sec.get("syslog_severity_preset") or 6),
            facility_col=_col_if(df, sec.get("syslog_facility_key")),
            facility_preset=int(sec.get("syslog_facility_preset") or 1),
            hostname_col=_col_if(df, sec.get("syslog_hostname_key")),
            appname_col=_col_if(df, sec.get("syslog_appname_key")),
            procid_col=_col_if(df, sec.get("syslog_procid_key")),
            msgid_col=_col_if(df, sec.get("syslog_msgid_key")),
            sd_cols={k: k for k in sd_keys} or None,
            message_col=_col_if(df, sec.get("syslog_message_key")),
        )
        return df.select("tag", line.alias("line"))
    if sec.name == "influxdb":
        from fluent_bit_spark.functions.influx_out import to_influx

        if ts is None:
            raise ValueError("out_influxdb needs an event_time column")
        seq = sec.get("sequence_tag")
        seq = "_seq" if seq is None else (None if seq.lower() == "off" else seq)
        return to_influx(
            df, "tag", ts,
            value_cols=[c for c in df.columns if c not in ("tag", ts)],
            tag_keys=(sec.get("tag_keys") or "").split() or None,
            auto_tags=(sec.get("auto_tags") or "false").lower() == "true",
            sequence_tag=seq,
            use_influxdb_integer=(
                (sec.get("add_integer_suffix") or "false").lower() == "true"
            ),
        ).select("tag", "line")
    if sec.name in ("es", "opensearch"):
        from fluent_bit_spark.functions.es_out import es_bulk_lines, to_es_bulk

        if ts is None:
            raise ValueError("out_es needs an event_time column")

        def b(key: str, default: str = "false") -> bool:
            return (sec.get(key) or default).lower() in ("on", "true")

        enc = to_es_bulk(
            df, ts,
            index=sec.get("index") or "fluent-bit",
            es_type=sec.get("type") or "_doc",
            suppress_type_name=b("suppress_type_name"),
            logstash_format=b("logstash_format"),
            logstash_prefix=sec.get("logstash_prefix") or "logstash",
            logstash_prefix_key=(
                (sec.get("logstash_prefix_key") or "").lstrip("$") or None
            ),
            logstash_prefix_separator=sec.get("logstash_prefix_separator")
            or "-",
            logstash_dateformat=sec.get("logstash_dateformat") or "%Y.%m.%d",
            time_key=sec.get("time_key") or "@timestamp",
            time_key_format=sec.get("time_key_format")
            or "%Y-%m-%dT%H:%M:%S",
            time_key_nanos=b("time_key_nanos"),
            include_tag_key=b("include_tag_key"),
            tag_key=sec.get("tag_key") or "_flb-key",
            id_key=(sec.get("id_key") or "").lstrip("$") or None,
            generate_id=b("generate_id"),
            write_operation=sec.get("write_operation") or "create",
            replace_dots=b("replace_dots"),
        )
        return enc.select(
            "tag",
            F.concat("index_line", F.lit("\n"), "doc_line").alias("line"),
        )

    if sec.name == "loki":
        from fluent_bit_spark.functions.loki_out import to_loki

        if ts is None:
            raise ValueError("out_loki needs an event_time column")
        labels: dict[str, str] = {}
        for spec in sec.get_all("labels"):
            for part in spec.split(","):
                part = part.strip()
                if "=" in part:
                    k, v = part.split("=", 1)
                    labels[k.strip()] = v.strip()
        label_keys = [
            v.strip().lstrip("$")
            for spec in sec.get_all("label_keys")
            for v in spec.split(",")
            if v.strip().lstrip("$") in df.columns
        ]
        remove = [
            v.strip().lstrip("$")
            for spec in sec.get_all("remove_keys")
            for v in spec.split(",")
        ]
        dsk = (sec.get("drop_single_key") or "off").lower()
        entries = to_loki(
            df, ts, tag_col="tag",
            labels=labels or None, label_keys=label_keys or None,
            remove_keys=remove or None,
            line_format=(sec.get("line_format") or "json").lower(),
            drop_single_key=(
                "raw" if dsk == "raw" else dsk in ("on", "true")
            ),
        )
        # deliver the wire line per stream; the push-payload batcher
        # (loki_push_payload) is the HTTP-body form of the same rows
        return entries.select(
            F.col("stream").alias("tag"),
            F.concat("ns", F.lit(" "), "line").alias("line"),
        )
    if sec.name == "splunk":
        from fluent_bit_spark.functions.hec_out import to_splunk_hec

        if ts is None:
            raise ValueError("out_splunk needs an event_time column")
        fields = {}
        for spec in sec.get_all("event_field"):
            parts = spec.split()
            if len(parts) == 2 and parts[1].lstrip("$") in df.columns:
                fields[parts[0]] = parts[1].lstrip("$")

        def _meta(key_opt: str, static_opt: str):
            key = sec.get(key_opt)
            if key and key.lstrip("$") in df.columns:
                static = sec.get(static_opt)
                col = F.col(key.lstrip("$"))
                return F.coalesce(col, F.lit(static)) if static else col
            return sec.get(static_opt)

        host = sec.get("event_host")
        line = to_splunk_hec(
            df, ts,
            event_cols=[c for c in df.columns if c not in ("tag", ts)],
            host=(
                F.col(host.lstrip("$"))
                if host and host.lstrip("$") in df.columns
                else host
            ),
            source=sec.get("event_source"),
            sourcetype=_meta("event_sourcetype_key", "event_sourcetype"),
            index=_meta("event_index_key", "event_index"),
            fields=fields or None,
            event_key=(
                (sec.get("event_key") or "").lstrip("$") or None
                if (sec.get("event_key") or "").lstrip("$") in df.columns
                else None
            ),
            send_raw=(sec.get("splunk_send_raw") or "off").lower()
            in ("on", "true"),
        )
        return df.select("tag", line.alias("line"))
    if sec.name in ("nats", "logdna", "slack", "td", "nrlogs", "http",
                    "websocket", "kafka_rest"):
        from fluent_bit_spark.functions import misc_out

        if ts is None:
            raise ValueError(f"out_{sec.name} needs an event_time column")
        if sec.name == "nats":
            line = misc_out.to_nats_line(df, ts)
        elif sec.name == "logdna":
            line = misc_out.to_logdna_line(
                df, ts, file_conf=sec.get("file"),
                app_conf=sec.get("app") or "Fluent Bit")
        elif sec.name == "slack":
            line = misc_out.to_slack_line(df, ts)
        elif sec.name == "td":
            line = misc_out.to_td_record(df, ts)
        elif sec.name == "nrlogs":
            line = misc_out.to_newrelic_log(df, ts)
        elif sec.name == "kafka_rest":
            line = misc_out.to_kafka_rest_record(
                df, ts,
                time_key=sec.get("time_key") or "@timestamp",
                message_key=sec.get("message_key"),
                partition=int(sec.get("partition") or -1),
                include_tag_key=(sec.get("include_tag_key") or "off")
                .lower() in ("on", "true"),
                tag_key=sec.get("tag_key") or "_flb-key",
            )
        else:  # http / websocket share the flb_pack body formats
            dk = sec.get("json_date_key") or "date"
            line = misc_out.to_http_record(
                df, ts,
                date_key=None if dk.lower() == "false" else dk,
                date_format=sec.get("json_date_format") or "double",
            )
        return df.select("tag", line.alias("line"))
    if sec.name in ("kinesis_streams", "kinesis_firehose"):
        from fluent_bit_spark.functions.cloudwatch_out import (
            DEFAULT_TIME_KEY_FORMAT,
            to_kinesis_record,
        )

        if ts is None:
            raise ValueError(f"out_{sec.name} needs an event_time column")
        lk = (sec.get("log_key") or "").lstrip("$") or None
        line = to_kinesis_record(
            df, ts,
            log_key=lk if lk in df.columns else None,
            time_key=sec.get("time_key"),
            time_key_format=(sec.get("time_key_format")
                             or DEFAULT_TIME_KEY_FORMAT),
            firehose=sec.name == "kinesis_firehose",
        )
        return df.select("tag", line.alias("line")).filter(
            F.col("line").isNotNull())
    if sec.name == "bigquery":
        from fluent_bit_spark.functions.misc_out import to_bigquery_row

        line = to_bigquery_row(df, exclude=(ts or "", "tag"))
        return df.select("tag", line.alias("line"))
    if sec.name == "stackdriver":
        from fluent_bit_spark.functions.stackdriver_out import (
            encode_stackdriver,
        )

        project_id = sec.get("project_id")
        if not project_id:
            # stackdriver.c:1303 — property 'project_id' is not set
            raise ValueError("out_stackdriver needs project_id")
        labels = {}
        for kv in sec.get_all("labels"):
            for pair in kv.split(","):
                k, _, v = pair.partition("=")
                if k.strip():
                    labels[k.strip()] = v.strip()
        record = F.to_json(
            F.struct(*[_bt(c).alias(c)
                       for c in df.columns if c not in ("tag", ts)]),
            {"ignoreNullFields": "false"},
        )
        src = df.select("tag", record.alias("record"),
                        *([ts] if ts else []))
        out = encode_stackdriver(
            src, project_id,
            record_col="record", tag_col="tag", ts_col=ts,
            export_to_project_id=sec.get("export_to_project_id"),
            severity_key=sec.get("severity_key")
            or "logging.googleapis.com/severity",
            log_name_key=sec.get("log_name_key")
            or "logging.googleapis.com/logName",
            text_payload_key=sec.get("text_payload_key"),
            autoformat_stackdriver_trace=(
                sec.get("autoformat_stackdriver_trace") or "false"
            ).lower() in ("on", "true"),
            config_labels=labels or None,
            k8s_resource=(sec.get("resource") or "").startswith("k8s_"),
        )
        return out.select("tag", F.col("entry").alias("line"))
    if sec.name == "datadog":
        from fluent_bit_spark.functions.hec_out import to_datadog

        if ts is None:
            raise ValueError("out_datadog needs an event_time column")
        line = to_datadog(
            df,
            ts,
            message_col=sec.get("dd_message_key"),
            tag_col="tag",
            include_tag_key=(sec.get("include_tag_key") or "false").lower()
            in ("on", "true"),
            tag_key=sec.get("tag_key") or "tagkey",
            dd_source=sec.get("dd_source"),
            dd_service=sec.get("dd_service"),
            dd_hostname=sec.get("dd_hostname"),
            dd_tags=sec.get("dd_tags"),
            date_key=sec.get("json_date_key") or "timestamp",
        )
        return df.select("tag", line.alias("line"))
    if sec.name != "gelf":
        raise ValueError(f"output plugin {sec.name!r} not supported")
    # out_gelf's gelf_* field keys; flb_pack_gelf.c rendering
    from fluent_bit_spark.functions.gelf import to_gelf

    msg_key = sec.get("gelf_short_message_key")
    if not msg_key or msg_key not in df.columns:
        raise ValueError("out_gelf needs Gelf_Short_Message_Key")
    host = _col_if(df, sec.get("gelf_host_key")) or msg_key
    reserved = {
        msg_key, host, ts, "tag",
        sec.get("gelf_level_key"), sec.get("gelf_timestamp_key"),
    }
    line = to_gelf(
        df, host, msg_key, sec.get("gelf_timestamp_key") or ts,
        level_col=_col_if(df, sec.get("gelf_level_key")),
        extra_cols=[c for c in df.columns if c not in reserved],
    )
    return df.select("tag", line.alias("line"))


def _bt(name):
    """Backtick-quoted column ref — record keys may contain dots
    (logging.googleapis.com/*), which bare-name resolution parses as
    struct access."""
    return F.col("`" + name.replace("`", "``") + "`")


def _col_if(df, name):
    return name if name and name in df.columns else None
