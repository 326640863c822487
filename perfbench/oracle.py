"""Expected outputs, computed by DuckDB straight from the generated
input files, and checks of what the program delivered.

The routing rules restate the flagship defaults (tag
``web.<lang>.<tld>``; a 5xx code re-emits the record as
``errors.<lang>`` and keeps the original; sinks ``*``, ``web.en.*``,
``*.com`` and ``errors.*``) and the classic conf written by
``gen.CLASSIC_CONF`` in SQL of their own.
"""

from __future__ import annotations

import glob
import os

import duckdb

SINKS = {
    "sink_all": "true",
    "sink_en": "tag LIKE 'web.en.%'",
    "sink_com": "tag LIKE '%.com'",
    "sink_errors": "tag LIKE 'errors.%'",
}

# text of a page recovered from its html: the <body> content without
# tags and with the three escaped characters restored (amp last)
HTML_TEXT = """
replace(replace(replace(regexp_replace(
  regexp_extract(decode(html), '(?s)<body[^>]*>(.*?)</body', 1),
  '<[^>]+>', '', 'g'), '&lt;', '<'), '&gt;', '>'), '&amp;', '&')
"""


def _con() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=2")
    return con


def _routed_sql(files: list[str], text_expr: str) -> str:
    """One row per (record, tag, sink) that the pipeline delivers."""
    sinks = " UNION ALL ".join(
        f"SELECT '{name}' AS sink, * FROM tagged WHERE {pred}"
        for name, pred in SINKS.items()
    )
    return f"""
    WITH pages AS (
      SELECT url, warc_ts, lang, {text_expr} AS text
      FROM read_parquet({files!r})
    ), fmt AS (
      SELECT *, CASE
        WHEN starts_with(text, '{{') THEN 'json'
        WHEN starts_with(text, '<') THEN 'syslog'
        WHEN contains(text, chr(9)) THEN 'ltsv'
        WHEN regexp_matches(text, '^\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}} ')
          THEN 'apache'
        ELSE 'logfmt' END AS fmt
      FROM pages
    ), coded AS (
      SELECT *, CASE fmt
        WHEN 'apache' THEN regexp_extract(text, '" (\\d+) ', 1)
        WHEN 'ltsv' THEN regexp_extract(text, 'status:(\\d+)', 1)
        WHEN 'logfmt' THEN regexp_extract(text, 'status=(\\d+)', 1)
        END AS code,
        'web.' || lang || '.' || string_split(split_part(url, '/', 3), '.')[-1]
          AS base_tag
      FROM fmt
    ), tagged AS (
      SELECT url, warc_ts, text, base_tag AS tag FROM coded
      UNION ALL
      SELECT url, warc_ts, text, 'errors.' || lang AS tag FROM coded
      WHERE regexp_matches(coalesce(code, ''), '^5\\d\\d$')
    )
    {sinks}
    """


def pages_expected(pages_dir: str) -> tuple[dict[str, int], set[tuple]]:
    """Flagship: per-sink counts, and (sink, window start epoch s,
    records, bytes) per 1-minute window of warc_ts."""
    files = sorted(glob.glob(os.path.join(pages_dir, "*.parquet")))
    con = _con()
    con.execute(f"CREATE TEMP VIEW routed AS {_routed_sql(files, HTML_TEXT)}")
    counts = dict(con.execute("SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    windows = set(con.execute("""
        SELECT sink, epoch(time_bucket(INTERVAL 1 minute, warc_ts))::BIGINT,
               count(*), sum(length(text))
        FROM routed GROUP BY ALL""").fetchall())
    return counts, windows


def aggregates_delivered(agg_dir: str) -> set[tuple]:
    con = _con()
    return set(con.execute(f"""
        SELECT sink, epoch(window_start)::BIGINT, records, bytes
        FROM read_parquet('{agg_dir}/*.parquet')""").fetchall())


def stream_check(in_dir: str, sinks_dir: str, rows_per_file: int,
                 names: list[str]) -> tuple[dict, dict, list[str]]:
    """Streaming: (delivered rows per sink, expected rows per sink,
    files whose delivered rows differ from the expected ones -- lost
    or duplicated)."""
    files = [os.path.join(in_dir, n) for n in names]
    con = _con()
    con.execute(f"CREATE TEMP VIEW routed AS {_routed_sql(files, 'text')}")
    file_of = f"regexp_extract(url, '/page/(\\d+)$', 1)::BIGINT // {rows_per_file}"
    expected = dict(con.execute(
        f"SELECT {file_of}, count(*) FROM routed GROUP BY ALL").fetchall())
    parts = glob.glob(os.path.join(sinks_dir, "**", "*.parquet"), recursive=True)
    exp_sink = dict(con.execute(
        "SELECT sink, count(*) FROM routed GROUP BY sink").fetchall())
    delivered: dict[int, int] = {}
    per_sink: dict[str, int] = {}
    if parts:
        con.execute(f"""CREATE TEMP VIEW got AS SELECT * FROM
            read_parquet({parts!r}, hive_partitioning = true)""")
        delivered = dict(con.execute(
            f"SELECT {file_of}, count(*) FROM got GROUP BY ALL").fetchall())
        per_sink = dict(con.execute(
            "SELECT sink, count(*) FROM got GROUP BY sink").fetchall())
    index = {int(n.split(".")[0][1:]): n for n in names}
    bad = [index[i] for i in sorted(index) if expected.get(i, 0) != delivered.get(i, 0)]
    return per_sink, exp_sink, bad


def classic_expected(apache_dir: str, logfmt_dir: str) -> dict[str, int]:
    """Per-output row counts of the classic conf; ``counter.3`` maps to
    the number of records it counts."""
    con = _con()
    rows = con.execute(f"""
      WITH lines AS (
        SELECT 'apache' AS tag,
               regexp_extract(line, '" (\\d+) ', 1) AS code
        FROM (SELECT unnest(string_split(content, chr(10))) AS line
              FROM read_text('{apache_dir}/*.log')) WHERE line <> ''
        UNION ALL
        SELECT 'logfmt', regexp_extract(line, 'code=(\\d+)', 1)
        FROM (SELECT unnest(string_split(content, chr(10))) AS line
              FROM read_text('{logfmt_dir}/*.log')) WHERE line <> ''
      ), kept AS (
        SELECT CASE WHEN regexp_matches(code, '^5\\d\\d$') THEN 'errors'
               ELSE tag END AS tag
        FROM lines WHERE NOT regexp_matches(code, '^[23]')
      )
      SELECT count(*) FILTER (WHERE tag = 'apache'), count(*),
             count(*) FILTER (WHERE tag = 'logfmt'),
             count(*) FILTER (WHERE tag = 'errors')
      FROM kept""").fetchone()
    return dict(zip(["file.0", "loki.1", "es.2", "counter.3"], rows))


def delivered_lines(out_dir: str) -> int:
    """Lines in the text part files under one output directory."""
    n = 0
    for path in glob.glob(os.path.join(out_dir, "**", "part-*"), recursive=True):
        with open(path, "rb") as fh:
            n += fh.read().count(b"\n")
    return n
