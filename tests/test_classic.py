"""Classic-mode fluent-bit.conf loading: a reference user's config
assembles the Spark pipeline (flb_config.c classic format; plugin
property names per the reference plugins)."""

import datetime

import pytest
from conftest import job_group, sql_executions
from pyspark.sql import functions as F

from fluent_bit_spark.classic import (
    build_classic_pipeline,
    parse_classic_conf,
    run_classic_outputs,
)
from fluent_bit_spark.parsers.config import parse_parsers_conf


def test_parse_classic_sections():
    secs = parse_classic_conf(
        """
# a comment
[SERVICE]
    Flush 1
[INPUT]
    Name   dummy
    Dummy  {"k":"v"}
[FILTER]
    Name  grep
    Match *
    Regex k ^v$
    Exclude k ^x$
"""
    )
    assert [s.kind for s in secs] == ["service", "input", "filter"]
    assert secs[1].get("dummy") == '{"k":"v"}'
    assert secs[2].get_all("regex") == ["k ^v$"]
    # keys are case-insensitive and ordered
    assert [k for k, _ in secs[2].props] == ["name", "match", "regex", "exclude"]


def test_dummy_input_and_outputs(spark, tmp_path):
    conf = """
[INPUT]
    Name    dummy
    Tag     dummy.data
    Dummy   {"message":"hello","level":"info"}
    Samples 5

[FILTER]
    Name  record_modifier
    Match dummy.*
    Record hostname h1

[OUTPUT]
    Name  file
    Match dummy.*

[OUTPUT]
    Name  counter
    Match *
"""
    pipe = build_classic_pipeline(spark, conf)
    rows = pipe.records.collect()
    assert len(rows) == 5
    assert rows[0]["message"] == "hello" and rows[0]["hostname"] == "h1"
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts["file.0"] == 5
    assert pipe.outputs["counter.1"].first()["count"] == 5


_TWO_DELIVERING_AND_COUNTER = """
[INPUT]
    Name    dummy
    Tag     app.log
    Dummy   {"message":"boot ok","level":"err"}
    Samples 4

[OUTPUT]
    Name  file
    Match app.*
    %s

[OUTPUT]
    Name  loki
    Match app.*

[OUTPUT]
    Name  counter
    Match *
"""


def test_delivering_outputs_scan_once(spark, tmp_path):
    """One write per delivering output and one count for the counter:
    the delivered counts come from the writes, not a second scan."""
    conf = _TWO_DELIVERING_AND_COUNTER % ""
    pipe = build_classic_pipeline(spark, conf)
    group = f"classic-scan-once-{id(pipe)}"
    with job_group(spark, group):
        counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"file.0": 4, "loki.1": 4, "counter.2": 1}
    assert len(sql_executions(spark, group)) == 3


def test_dropped_output_reports_zero(spark, tmp_path, monkeypatch):
    """An output whose write fails under Retry_Limit no_retries is
    dropped and reports 0; the other output is still delivered."""
    from fluent_bit_spark import sinks

    write = sinks.write_lines_per_tag

    def flaky(df, out_dir, *args, **kwargs):
        if out_dir.endswith("file.0"):
            raise OSError("endpoint unavailable")
        write(df, out_dir, *args, **kwargs)

    monkeypatch.setattr(sinks, "write_lines_per_tag", flaky)
    conf = _TWO_DELIVERING_AND_COUNTER % "Retry_Limit no_retries"
    pipe = build_classic_pipeline(spark, conf)
    counts = run_classic_outputs(pipe, str(tmp_path))
    assert counts == {"file.0": 0, "loki.1": 4, "counter.2": 1}
    assert not (tmp_path / "file.0").exists()
    lines = [
        ln for p in (tmp_path / "loki.1").glob("*/part-*")
        for ln in p.read_text().splitlines()
    ]
    assert len(lines) == 4


def test_tail_with_parser_grep_rewrite(spark, tmp_path):
    log = tmp_path / "app.log"
    log.write_text(
        "\n".join(
            [
                'key1=a key2=1 status=ok',
                'key1=b key2=2 status=err',
                'key1=c key2=3 status=ok',
            ]
        )
    )
    parsers = parse_parsers_conf(
        "[PARSER]\n    Name applog\n    Format logfmt\n"
    )
    conf = f"""
[INPUT]
    Name   tail
    Path   {log}
    Tag    app.log
    Parser applog

[FILTER]
    Name  grep
    Match app.*
    Exclude key1 ^c$

[FILTER]
    Name  rewrite_tag
    Match app.*
    Rule  $status ^err$ alerts.err true

[OUTPUT]
    Name  null
    Match alerts.*

[OUTPUT]
    Name  null
    Match app.*
"""
    pipe = build_classic_pipeline(spark, conf, parsers=parsers)
    alerts = pipe.outputs["null.0"].collect()
    apps = pipe.outputs["null.1"].collect()
    assert len(alerts) == 1 and alerts[0]["key1"] == "b"
    assert len(apps) == 2  # c excluded; err kept (keep true)


def test_modify_with_condition_and_nest(spark):
    conf = """
[INPUT]
    Name    dummy
    Dummy   {"a":"1","b":"2","kind":"x"}
    Samples 2

[FILTER]
    Name      modify
    Match     *
    Condition Key_value_equals kind x
    Set       seen yes
    Rename    b bee

[FILTER]
    Name       nest
    Match      *
    Operation  nest
    Wildcard   a
    Wildcard   bee
    Nest_under data
"""
    pipe = build_classic_pipeline(spark, conf)
    r = pipe.records.first()
    assert r["seen"] == "yes"
    assert r["data"]["a"] == "1" and r["data"]["bee"] == "2"
    # conditional rename nulls the source rather than dropping the
    # column (modify() keeps the schema when gated by Condition)
    assert r["b"] is None


def test_lib_input_and_match_scoping(spark):
    df = spark.createDataFrame(
        [(datetime.datetime(2026, 1, 1), "click", 1.0)],
        "event_time timestamp, event_type string, value double",
    )
    conf = """
[INPUT]
    Name lib
    Tag  ev.in

[FILTER]
    Name  record_modifier
    Match other.*
    Record nope true

[OUTPUT]
    Name  null
    Match ev.*
"""
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"ev.in": df})
    r = pipe.outputs["null.0"].first()
    # the non-matching filter must NOT have touched ev.* rows
    assert r["event_type"] == "click"
    assert r["nope"] is None or "nope" not in pipe.outputs["null.0"].columns


def test_unsupported_plugins_error(spark):
    with pytest.raises(ValueError, match="not supported"):
        build_classic_pipeline(spark, "[INPUT]\n    Name syslog\n")
    with pytest.raises(ValueError, match="lua"):
        build_classic_pipeline(
            spark,
            "[INPUT]\n    Name dummy\n[FILTER]\n    Name lua\n    Match *\n",
        )


def _delivered_lines(out_dir, pattern: str = "**") -> list[str]:
    """Every line written under ``out_dir`` (recursively), sorted."""
    import pathlib

    return sorted(
        ln
        for p in pathlib.Path(out_dir).glob(f"{pattern}/part-*")
        for ln in p.read_text().splitlines()
    )


def test_streaming_classic_tail_follow(spark, tmp_path):
    """Streaming classic mode: tail follows the path; new files land
    in new batches through the same filters (in_tail + checkpoint)."""
    import json

    from fluent_bit_spark.classic import start_classic_stream
    from fluent_bit_spark.streaming.job import run_stream_to_completion

    src = tmp_path / "logs"
    src.mkdir()
    out, ckpt = tmp_path / "out", str(tmp_path / "ckpt")
    (src / "a.log").write_text("key=1 lvl=info\nkey=2 lvl=err\n")
    parsers = parse_parsers_conf("[PARSER]\n    Name lf\n    Format logfmt\n")
    conf = f"""
[SERVICE]
    Flush 1

[INPUT]
    Name   tail
    Path   {src}
    Tag    t.log
    Parser lf

[FILTER]
    Name  grep
    Match t.*
    Regex lvl ^err$

[OUTPUT]
    Name  file
    Match t.*
"""

    def keys(batch_id: int) -> list[str]:
        lines = _delivered_lines(out / f"batch_id={batch_id}" / "file.0")
        return [json.loads(ln)["key"] for ln in lines]

    q = start_classic_stream(spark, conf, str(out), ckpt, parsers=parsers)
    run_stream_to_completion(q)
    assert keys(0) == ["2"]

    # follow: a new file arrives; restart picks up ONLY the new one
    (src / "b.log").write_text("key=3 lvl=err\n")
    q2 = start_classic_stream(spark, conf, str(out), ckpt, parsers=parsers)
    run_stream_to_completion(q2)
    assert keys(1) == ["3"]
    assert sorted(p.name for p in out.iterdir()) == ["batch_id=0", "batch_id=1"]


def test_streaming_classic_matches_batch(spark, tmp_path):
    """Each micro-batch runs the batch plan and delivery: summed over
    the batch_id dirs, streaming delivers the lines batch mode does
    for every output, with the tail properties and built-in parsers."""
    from fluent_bit_spark.classic import start_classic_stream
    from fluent_bit_spark.streaming.job import run_stream_to_completion

    for d in ("a", "b", "web"):
        (tmp_path / d).mkdir()
    (tmp_path / "a" / "one.log").write_text(
        "lvl=info msg=hello n=1\n\nlvl=err msg=bad n=2\n")
    (tmp_path / "b" / "two.log").write_text("lvl=info msg=x n=3\n")
    (tmp_path / "b" / "skip.log").write_text("lvl=info msg=skipped n=4\n")
    access = '1.2.3.{} - u [10/Oct/2000:13:55:3{} -0700] "GET /{} HTTP/1.0" 200 5\n'
    (tmp_path / "web" / "shop.log").write_text(
        access.format(4, 6, "a") + access.format(5, 7, "b"))
    (tmp_path / "web" / "api.log").write_text(access.format(6, 8, "c"))
    conf = f"""
[INPUT]
    Name             tail
    Path             {tmp_path}/a/*.log, {tmp_path}/b/*.log
    Exclude_Path     *skip*
    Skip_Empty_Lines on
    Parser           logfmt
    Tag              app.kv

[INPUT]
    Name      tail
    Path      {tmp_path}/web
    Tag       t.<name>
    Tag_Regex (?<name>[a-z]+)\\.log$
    Path_Key  file
    Parser    apache

[FILTER]
    Name    grep
    Match   app.*
    Exclude lvl ^err$

[OUTPUT]
    Name  file
    Match *

[OUTPUT]
    Name  loki
    Match t.*

[OUTPUT]
    Name  counter
    Match *
"""
    counts = run_classic_outputs(
        build_classic_pipeline(spark, conf), str(tmp_path / "batch"))
    assert counts == {"file.0": 5, "loki.1": 3, "counter.2": 1}

    out = tmp_path / "stream"
    q = start_classic_stream(spark, conf, str(out), str(tmp_path / "ckpt"))
    run_stream_to_completion(q)
    for oid in ("file.0", "loki.1"):
        streamed = _delivered_lines(out, f"batch_id=*/{oid}/*")
        assert streamed == _delivered_lines(tmp_path / "batch" / oid)
    assert len(_delivered_lines(out, "batch_id=*/file.0/tag=t.shop")) == 2


@pytest.mark.parametrize(
    "piece",
    [
        "[INPUT]\n    Name dummy\n",
        "[INPUT]\n    Name tail\n    Path {src}\n    multiline.parser java\n",
        "[FILTER]\n    Name throttle\n    Match *\n    Rate 1\n",
        "[STREAM_TASK]\n    Name w\n    Exec SELECT COUNT(*) FROM TAG:'*' "
        "WINDOW TUMBLING (5 SECOND);\n",
    ],
    ids=["dummy", "multiline", "throttle", "window"],
)
def test_streaming_classic_refuses_cross_batch_state(spark, tmp_path, piece):
    """Pieces whose state would span micro-batches raise at start."""
    from fluent_bit_spark.classic import start_classic_stream

    conf = f"[INPUT]\n    Name tail\n    Path {tmp_path}\n" + piece.format(
        src=tmp_path)
    with pytest.raises(ValueError):
        start_classic_stream(
            spark, conf, str(tmp_path / "out"), str(tmp_path / "ckpt"))
    assert not (tmp_path / "ckpt").exists()


def test_run_classic_job(spark, tmp_path, monkeypatch, capsys):
    """jobs/run_classic.py in-process: batch prints its counts, and
    --streaming delivers the same lines under batch_id=<n>."""
    import json

    import jobs.run_classic as job

    (tmp_path / "logs").mkdir()
    (tmp_path / "logs" / "a.log").write_text("k=1 lvl=err\nk=2 lvl=info\n")
    conf = tmp_path / "fluent-bit.conf"
    conf.write_text(f"""
[INPUT]
    Name   tail
    Path   {tmp_path / "logs"}
    Tag    app.log
    Parser logfmt

[OUTPUT]
    Name  file
    Match app.*

[OUTPUT]
    Name  counter
    Match *
""")
    # main() imports get_spark from the session module at call time
    monkeypatch.setattr(
        "fluent_bit_spark.session.get_spark", lambda *a, **k: spark
    )

    def run(*args: str) -> dict:
        monkeypatch.setattr(
            "sys.argv", ["run_classic.py", "--conf", str(conf), *args])
        job.main()
        return json.loads(capsys.readouterr().out.strip().splitlines()[-1])

    batch, stream = tmp_path / "batch", tmp_path / "stream"
    assert run("--out-dir", str(batch)) == {
        "mode": "batch", "counts": {"file.0": 2, "counter.1": 1}}
    assert run(
        "--out-dir", str(stream), "--streaming",
        "--checkpoint", str(tmp_path / "ckpt"),
    ) == {"mode": "streaming", "out_dir": str(stream)}
    assert _delivered_lines(stream, "batch_id=*/file.0/*") == (
        _delivered_lines(batch / "file.0"))
    assert len(_delivered_lines(batch / "file.0")) == 2

    with pytest.raises(SystemExit):
        run("--out-dir", str(stream), "--streaming")
    assert "--streaming requires --checkpoint" in capsys.readouterr().err


def test_partial_match_filters_single_scan(spark):
    """K Match-scoped filters must NOT branch the plan: the gated
    row-wise formulation keeps ONE scan of the source (the split-union
    alternative is 2^K scans — a 100 TB non-starter)."""
    df = spark.createDataFrame(
        [("a.x", "1", "k"), ("b.y", "2", "k")], "tag string, v string, k string"
    )
    conf = """
[INPUT]
    Name lib
    Tag  a.x

[FILTER]
    Name  grep
    Match a.*
    Regex v ^1$

[FILTER]
    Name  modify
    Match a.*
    Set   m yes

[FILTER]
    Name  record_modifier
    Match b.*
    Record r z

[FILTER]
    Name  rewrite_tag
    Match a.*
    Rule  $v ^1$ c.z true
"""
    from fluent_bit_spark.classic import build_classic_pipeline

    pipe = build_classic_pipeline(spark, conf, lib_inputs={"a.x": df})
    plan = pipe.records._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LogicalRDD") == 1


def test_gated_nest_and_throttle(spark):
    """Partial-Match nest and throttle apply row-wise: non-matching
    tags pass untouched, matching tags fold/limit — all in one scan."""
    import datetime

    T0 = datetime.datetime(2026, 1, 1)
    rows = [
        (T0 + datetime.timedelta(seconds=i), i, f"v{i}") for i in range(6)
    ]
    df = spark.createDataFrame(rows, "event_time timestamp, n long, s string")
    dfb = spark.createDataFrame(
        [(T0, 99, "keep")], "event_time timestamp, n long, s string"
    )
    conf = """
[INPUT]
    Name lib
    Tag  a.x

[INPUT]
    Name lib
    Tag  b.y

[FILTER]
    Name       nest
    Match      a.*
    Operation  nest
    Wildcard   s
    Nest_under data

[FILTER]
    Name     throttle
    Match    a.*
    Rate     3
    Interval 60s
"""
    from fluent_bit_spark.classic import build_classic_pipeline

    pipe = build_classic_pipeline(
        spark, conf, lib_inputs={"a.x": df, "b.y": dfb}
    )
    out = pipe.records.collect()
    a = sorted((r["n"] for r in out if r["tag"] == "a.x"))
    b = [r for r in out if r["tag"] == "b.y"]
    assert a == [0, 1, 2]  # throttled to Rate=3 per 60s window
    assert len(b) == 1 and b[0]["s"] == "keep"  # untouched: not nested
    assert b[0]["data"] is None
    a0 = [r for r in out if r["n"] == 0][0]
    assert a0["data"]["s"] == "v0" and a0["s"] is None  # folded + nulled


# ---- meta commands (@INCLUDE/@SET), variables, yaml format ----------


def test_set_variable_expansion():
    secs = parse_classic_conf(
        """
@SET app_tag=web.log
@SET msg={"message":"${app_tag}"}
[INPUT]
    Name  dummy
    Tag   ${app_tag}
    Dummy ${msg}
"""
    )
    assert secs[0].get("tag") == "web.log"
    # @SET values themselves expand earlier variables (read order)
    assert secs[0].get("dummy") == '{"message":"web.log"}'


def test_unknown_variable_expands_empty(monkeypatch):
    monkeypatch.delenv("FBS_NOT_SET", raising=False)
    secs = parse_classic_conf("[INPUT]\n  Name dummy\n  Tag a.${FBS_NOT_SET}.b\n")
    assert secs[0].get("tag") == "a..b"


def test_environment_variable_expansion(monkeypatch):
    monkeypatch.setenv("FBS_TEST_TAG", "envtag")
    secs = parse_classic_conf("[INPUT]\n  Name dummy\n  Tag ${FBS_TEST_TAG}\n")
    assert secs[0].get("tag") == "envtag"


def test_include_glob_and_set(tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "conf.d").mkdir()
    (tmp_path / "conf.d" / "10-filter.conf").write_text(
        "[FILTER]\n  Name grep\n  Match ${scope}\n  Regex k ^v$\n"
    )
    (tmp_path / "conf.d" / "20-out.conf").write_text(
        "[OUTPUT]\n  Name file\n  Match *\n"
    )
    main = tmp_path / "fluent-bit.conf"
    main.write_text(
        "@SET scope=app.*\n"
        "[SERVICE]\n  Flush 1\n"
        "[INPUT]\n  Name dummy\n  Tag app.x\n"
        "@INCLUDE conf.d/*.conf\n"
    )
    secs = load_classic_conf(str(main))
    kinds = [s.kind for s in secs]
    assert kinds == ["service", "input", "filter", "output"]
    # glob order is sorted (deterministic), variables cross files
    assert secs[2].get("match") == "app.*"


def test_include_read_twice_errors(tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "inc.conf").write_text("[FILTER]\n  Name grep\n  Match *\n")
    main = tmp_path / "main.conf"
    main.write_text(
        "[INPUT]\n  Name dummy\n@INCLUDE inc.conf\n@INCLUDE inc.conf\n"
    )
    with pytest.raises(ValueError, match="read twice"):
        load_classic_conf(str(main))


def test_include_without_base_dir_errors():
    with pytest.raises(ValueError, match="file-based"):
        parse_classic_conf("@INCLUDE other.conf\n")


def test_yaml_pipeline_end_to_end(spark, tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
env:
  tag_prefix: app
service:
  flush: 1
pipeline:
  inputs:
    - name: dummy
      tag: ${tag_prefix}.log
      dummy: '{"message":"hello","level":"info"}'
      samples: 4
  filters:
    - name: grep
      match: '${tag_prefix}.*'
      regex: level info
  outputs:
    - name: counter
      match: '*'
"""
    )
    secs = load_classic_conf(str(conf))
    pipe = build_classic_pipeline(spark, secs)
    assert pipe.records.count() == 4
    assert pipe.outputs["counter.0"].first()["count"] == 4


def test_yaml_per_input_processors(spark, tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
pipeline:
  inputs:
    - name: dummy
      tag: app.a
      dummy: '{"message":"keep me","level":"info"}'
      samples: 3
      processors:
        logs:
          - name: content_modifier
            action: insert
            key: stage
            value: processed
          - name: grep
            regex: level info
    - name: dummy
      tag: app.b
      dummy: '{"message":"other","level":"warn"}'
      samples: 2
  outputs:
    - name: counter
      match: '*'
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(conf)))
    rows = pipe.records.collect()
    a = [r for r in rows if r["tag"] == "app.a"]
    b = [r for r in rows if r["tag"] == "app.b"]
    # processors are attached: input a gets the insert + grep, input b
    # is untouched (no Match involved)
    assert len(a) == 3 and all(r["stage"] == "processed" for r in a)
    assert len(b) == 2 and all(r["stage"] is None for r in b)


def test_yaml_processor_condition_gates_per_record(spark, tmp_path):
    """flb_processor.c:311 condition blocks: op + rules[{field,op,value}],
    gating the processor per record ($level eq info only)."""
    from fluent_bit_spark.classic import load_classic_conf

    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
pipeline:
  inputs:
    - name: dummy
      tag: app.a
      dummy: '{"message":"m","level":"info"}'
      samples: 2
      processors:
        logs:
          - name: content_modifier
            action: insert
            key: flagged
            value: "yes"
            condition:
              op: and
              rules:
                - field: $level
                  op: eq
                  value: info
    - name: dummy
      tag: app.b
      dummy: '{"message":"m","level":"warn"}'
      samples: 2
      processors:
        logs:
          - name: content_modifier
            action: insert
            key: flagged
            value: "yes"
            condition:
              op: and
              rules:
                - field: $level
                  op: eq
                  value: info
  outputs:
    - name: counter
      match: '*'
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(conf)))
    rows = pipe.records.collect()
    a = [r for r in rows if r["tag"] == "app.a"]
    b = [r for r in rows if r["tag"] == "app.b"]
    assert all(r["flagged"] == "yes" for r in a)  # condition true
    assert all(r["flagged"] is None for r in b)  # condition false


def test_yaml_processors_reject_non_logs_signal(tmp_path):
    import pytest as _pytest

    from fluent_bit_spark.classic import parse_yaml_conf

    bad = """
pipeline:
  inputs:
    - name: dummy
      processors:
        metrics:
          - name: labels
"""
    with _pytest.raises(ValueError, match="only 'logs'"):
        parse_yaml_conf(bad)


def test_streams_file_stream_task(spark, tmp_path):
    """[SERVICE] Streams_File -> [STREAM_TASK] name/exec (flb_sp.c:58):
    the task runs over the post-filter records; a routable CREATE
    STREAM re-ingests under its WITH(tag=...) for routing."""
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "streams.conf").write_text(
        """
[STREAM_TASK]
    Name counted
    Exec CREATE STREAM counted WITH(tag='sp.count') AS SELECT COUNT(*) AS total FROM TAG:'app.*';
"""
    )
    (tmp_path / "fb.conf").write_text(
        """
[SERVICE]
    Streams_File streams.conf
[INPUT]
    Name dummy
    Tag app.a
    Dummy {"message":"x","level":"info"}
    Samples 5
[OUTPUT]
    Name counter
    Match sp.*
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(tmp_path / "fb.conf")))
    assert set(pipe.stream_results) == {"counted"}
    assert pipe.stream_results["counted"].first()["total"] == 5
    # re-ingested under the stream tag and routed to the sp.* output
    assert pipe.outputs["counter.0"].first()["count"] == 1
    tags = {r["tag"] for r in pipe.records.select("tag").distinct().collect()}
    assert tags == {"app.a", "sp.count"}


def test_yaml_stream_processor_tasks(spark, tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
stream_processor:
  - name: counted
    exec: "CREATE STREAM counted WITH(tag='sp.count') AS SELECT COUNT(*) AS total FROM TAG:'app.*';"
pipeline:
  inputs:
    - name: dummy
      tag: app.a
      dummy: '{"message":"x"}'
      samples: 3
  outputs:
    - name: counter
      match: 'sp.*'
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(conf)))
    assert pipe.stream_results["counted"].first()["total"] == 3
    assert pipe.outputs["counter.0"].first()["count"] == 1


def test_yaml_includes_classic_fragment(tmp_path):
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "extra.conf").write_text("[FILTER]\n  Name grep\n  Match *\n")
    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
includes:
  - extra.conf
pipeline:
  inputs:
    - name: dummy
      tag: t
"""
    )
    secs = load_classic_conf(str(conf))
    assert [s.kind for s in secs] == ["filter", "input"]


def test_yaml_repeated_key_as_list(tmp_path):
    from fluent_bit_spark.classic import parse_yaml_conf

    secs = parse_yaml_conf(
        """
pipeline:
  filters:
    - name: record_modifier
      match: '*'
      record:
        - hostname h1
        - dc us-east-1
"""
    )
    assert secs[0].get_all("record") == ["hostname h1", "dc us-east-1"]


def test_yaml_unknown_top_key_errors():
    from fluent_bit_spark.classic import parse_yaml_conf

    with pytest.raises(ValueError, match="unsupported yaml"):
        parse_yaml_conf("pipeline: {}\nbogus: 1\n")


def test_declared_keys_no_construction_jobs(spark, tmp_path):
    """With a Keys declaration, building the pipeline runs ZERO Spark
    jobs (pure plan rewrite); without it, inference samples (warns)."""
    log = tmp_path / "app.log"
    log.write_text("a=1 b=x\na=2 b=y\n")
    parsers = parse_parsers_conf(
        "[PARSER]\n  Name kv\n  Format logfmt\n  Keys a b\n"
    )
    conf = f"""
[INPUT]
    Name   tail
    Path   {log}
    Tag    app.log
    Parser kv
[OUTPUT]
    Name  null
    Match *
"""
    sc = spark.sparkContext
    sc.setJobGroup("construct", "pipeline build")
    try:
        pipe = build_classic_pipeline(spark, conf, parsers=parsers)
    finally:
        sc.setJobGroup(None, None)
    assert list(sc.statusTracker().getJobIdsForGroup("construct")) == []
    rows = {(r["a"], r["b"]) for r in pipe.records.collect()}
    assert rows == {("1", "x"), ("2", "y")}


def test_undeclared_keys_sampling_warns(spark, tmp_path):
    log = tmp_path / "app.log"
    log.write_text("a=1 b=x\n")
    parsers = parse_parsers_conf("[PARSER]\n  Name kv\n  Format logfmt\n")
    conf = f"""
[INPUT]
    Name   tail
    Path   {log}
    Tag    app.log
    Parser kv
[OUTPUT]
    Name  null
    Match *
"""
    with pytest.warns(UserWarning, match="inferring parser map keys"):
        pipe = build_classic_pipeline(spark, conf, parsers=parsers)
    assert pipe.records.first()["a"] == "1"


def test_classic_geoip2_filter(spark, tmp_path):
    """A real fluent-bit geoip2 config section drives the mmdb enrich:
    Database points at an actual MaxMind-DB binary (built by the
    fixture writer), Record directives add looked-up fields."""
    from fluent_bit_spark.enrich_mmdb import MMDBWriter

    w = MMDBWriter()
    w.insert("10.0.0.0/16", {"country": {"names": {"en": "United States"}}})
    w.insert("10.1.0.0/16", {"country": {"names": {"en": "Germany"}}})
    db = tmp_path / "geo.mmdb"
    db.write_bytes(w.to_bytes())
    ev = spark.createDataFrame(
        [("web.a", "10.0.1.1"), ("web.b", "10.1.2.2"), ("web.c", "10.9.0.1")],
        ["tag", "remote_addr"],
    )
    conf = f"""
[INPUT]
    Name lib
    Tag  web.in
[FILTER]
    Name       geoip2
    Match      web.*
    Database   {db}
    Lookup_key remote_addr
    Record     country remote_addr %{{country.names.en}}
[OUTPUT]
    Name  null
    Match *
"""
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"web.in": ev})
    got = {r["remote_addr"]: r["country"] for r in pipe.records.collect()}
    assert got == {
        "10.0.1.1": "United States",
        "10.1.2.2": "Germany",
        "10.9.0.1": None,
    }


def test_parsers_file_and_yaml_parsers(spark, tmp_path):
    """[SERVICE] Parsers_File loads [PARSER] specs from a side file
    (flb_config.c); yaml 'parsers:' carries them inline — both feed
    the same pipeline builder with no parsers= argument."""
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "parsers.conf").write_text(
        "[PARSER]\n  Name kv\n  Format logfmt\n  Keys a b\n"
    )
    log = tmp_path / "app.log"
    log.write_text("a=1 b=x\n")
    main = tmp_path / "fluent-bit.conf"
    main.write_text(
        f"""
[SERVICE]
    Flush        1
    Parsers_File parsers.conf
[INPUT]
    Name   tail
    Path   {log}
    Tag    app.log
    Parser kv
[OUTPUT]
    Name  null
    Match *
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(main)))
    assert pipe.records.first()["a"] == "1"

    yconf = tmp_path / "fb.yaml"
    yconf.write_text(
        f"""
parsers:
  - name: kv2
    format: logfmt
    keys: a b
pipeline:
  inputs:
    - name: tail
      path: {log}
      tag: app.log
      parser: kv2
  outputs:
    - name: "null"
      match: '*'
"""
    )
    pipe2 = build_classic_pipeline(spark, load_classic_conf(str(yconf)))
    assert pipe2.records.first()["b"] == "x"


def test_tail_multiline_parser_java(spark, tmp_path):
    """[INPUT] tail with multiline.parser java: stacktrace lines join
    into one record BEFORE the filter chain (in_tail multiline order)."""
    log = tmp_path / "app.log"
    log.write_text(
        "plain one\n"
        "Exception in thread main java.lang.RuntimeException: boom\n"
        "     at com.example.A.run(A.java:1)\n"
        "     at com.example.B.run(B.java:2)\n"
        "plain two\n"
    )
    conf = f"""
[INPUT]
    Name              tail
    Path              {log}
    Tag               app.log
    multiline.parser  java
[OUTPUT]
    Name  null
    Match *
"""
    pipe = build_classic_pipeline(spark, conf)
    recs = [r["log"] for r in pipe.records.orderBy("log").collect()]
    assert len(recs) == 3
    stack = [r for r in recs if r.startswith("Exception")][0]
    assert stack.count("\n") == 2 and "B.run" in stack


def test_tail_multiline_parser_cri(spark, tmp_path):
    log = tmp_path / "cri.log"
    log.write_text(
        "2024-01-01T00:00:00.0Z stdout P partial \n"
        "2024-01-01T00:00:01.0Z stdout F line\n"
        "2024-01-01T00:00:02.0Z stdout F full\n"
    )
    conf = f"""
[INPUT]
    Name              tail
    Path              {log}
    Tag               cri.log
    multiline.parser  cri
[OUTPUT]
    Name  null
    Match *
"""
    pipe = build_classic_pipeline(spark, conf)
    recs = sorted(r["log"] for r in pipe.records.collect())
    assert recs == ["full", "partial line"]


def test_include_question_mark_glob(tmp_path):
    """'?' and '[...]' are glob triggers like the reference's glob(3)
    read_glob, not just '*'."""
    from fluent_bit_spark.classic import load_classic_conf

    (tmp_path / "conf.d").mkdir()
    (tmp_path / "conf.d" / "filter-1.conf").write_text(
        "[FILTER]\n  Name grep\n  Match *\n  Regex k ^a$\n"
    )
    (tmp_path / "conf.d" / "filter-2.conf").write_text(
        "[FILTER]\n  Name grep\n  Match *\n  Regex k ^b$\n"
    )
    main = tmp_path / "main.conf"
    main.write_text(
        "[INPUT]\n  Name dummy\n@INCLUDE conf.d/filter-?.conf\n"
    )
    secs = load_classic_conf(str(main))
    assert [s.kind for s in secs] == ["input", "filter", "filter"]


def test_multiline_filter_partial_message_conf(spark):
    # tests/runtime/filter_multiline.c partial_message cases driven
    # from a classic [FILTER] Name multiline section
    df = spark.createDataFrame(
        [
            ("d.log", 0, "one..", "true", "1", "false"),
            ("d.log", 1, "two..", "true", "1", "true"),
            ("d.log", 2, "plain", None, None, None),
        ],
        "tag string, _seq long, log string, partial_message string, "
        "partial_id string, partial_last string",
    )
    conf = """
[INPUT]
    Name lib
    Tag  d.log

[FILTER]
    Name multiline
    Match d.*
    mode partial_message
    multiline.key_content log

[OUTPUT]
    Name null
    Match *
"""
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"d.log": df})
    logs = sorted(r.log for r in pipe.outputs["null.0"].collect())
    assert logs == ["one..two..", "plain"]


def test_multiline_filter_parser_mode_rejected(spark):
    with pytest.raises(ValueError, match="partial_message"):
        build_classic_pipeline(
            spark,
            "[INPUT]\n    Name lib\n    Tag t\n"
            "[FILTER]\n    Name multiline\n    Match *\n    mode parser\n"
            "[OUTPUT]\n    Name null\n    Match *\n",
            lib_inputs={"t": spark.range(1).selectExpr(
                "'t' tag", "id _seq", "'x' log")},
        )


def test_in_dummy_runtime_goldens(spark):
    # tests/runtime/in_dummy.c flb_test_in_dummy_flush matrix
    def run(conf_input_props):
        conf = ("[INPUT]\n    Name dummy\n    Tag t\n" + conf_input_props
                + "[OUTPUT]\n    Name null\n    Match *\n")
        return build_classic_pipeline(spark, conf).outputs["null.0"]

    # default payload {"message":"dummy"}
    r = run("").collect()
    assert len(r) == 1 and r[0].message == "dummy"
    # custom payload
    r = run('    Dummy {"new_key": "new_value"}\n').collect()
    assert r[0].new_key == "new_value"
    # bad JSON -> default fallback (in_dummy.c pack-failure path)
    r = run('    Dummy {"bad_json}\n').collect()
    assert r[0].message == "dummy"
    # fixed_timestamp + start_time_sec/nsec (1234 and 1999 cases)
    for sec in (1234, 1999):
        r = run(
            f"    Start_Time_Sec {sec}\n    Start_Time_Nsec {sec}\n"
            "    Fixed_Timestamp on\n"
        ).collect()
        import calendar

        assert calendar.timegm(r[0].event_time.timetuple()) == sec
    # copies multiplies emitted records
    assert run("    Samples 2\n    Copies 5\n").count() == 10


def test_out_file_delimiter_names(spark, tmp_path):
    # tests/runtime/out_file.c delimiter_csv / delimiter_ltsv /
    # label_delimiter: Delimiter accepts tab/space/comma NAMES
    # (out_file.c:60-75 check_delimiter); unknown keeps the default
    import glob

    df = spark.createDataFrame([("t", "a", "b")], "tag string, k string, v string")
    conf = """
[INPUT]
    Name lib
    Tag t

[OUTPUT]
    Name file
    Match *
    Format csv
    Delimiter space

[OUTPUT]
    Name file
    Match *
    Format ltsv
    Delimiter comma
    Label_Delimiter tab
"""
    pipe = build_classic_pipeline(spark, conf, lib_inputs={"t": df})
    from fluent_bit_spark.classic import run_classic_outputs

    run_classic_outputs(pipe, str(tmp_path))

    def read_one(oid):
        files = glob.glob(str(tmp_path / oid / "**" / "*.txt"), recursive=True)
        return open(files[0]).read().strip()

    assert read_one("file.0") == '"t" "a" "b"'
    assert read_one("file.1") == '"tag"\t"t","k"\t"a","v"\t"b"'


def test_yaml_otel_envelope_processor_chain(spark, tmp_path):
    # the group-processor pipeline from tests/runtime/filter_lua.c
    # (flb_test_group_lua_processor_*) as a yaml processors chain:
    # opentelemetry_envelope -> content_modifier on the OTel attribute
    # contexts -> lua unit seeing only the log body
    from fluent_bit_spark.classic import load_classic_conf

    conf = tmp_path / "fb.yaml"
    conf.write_text(
        """
pipeline:
  inputs:
    - name: dummy
      tag: test
      dummy: '{"message":"Hello, Fluent Bit!"}'
      processors:
        logs:
          - name: opentelemetry_envelope
          - name: content_modifier
            context: otel_resource_attributes
            action: insert
            key: my_res_attr
            value: my_value
          - name: content_modifier
            context: otel_scope_attributes
            action: insert
            key: my_scope_attr
            value: my_value
  outputs:
    - name: "null"
      match: '*'
"""
    )
    pipe = build_classic_pipeline(spark, load_classic_conf(str(conf)))
    r = pipe.outputs["null.0"].collect()[0]
    assert r.message == "Hello, Fluent Bit!"
    assert (r.otel_schema, r.resource_id, r.scope_id) == ("otlp", 0, 0)
    assert r.resource == {"my_res_attr": "my_value"}
    assert r.scope == {"my_scope_attr": "my_value"}
