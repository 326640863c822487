"""Seeded input generators for the benchmark workloads.

Every input is a pure function of ``--seed`` (and a file index), built
with NumPy's PCG64 generator and written with pyarrow, so the program
under test only ever receives files. The page shape follows the
library's ingest table (url, warc_ts, html, text, lang); the text of
each page is one log line in one of five formats.
"""

from __future__ import annotations

import datetime as _dt
import html as _html
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DOMAINS = 1000
LANGS = ["en", "es", "de", "fr", "ja"]
TLDS = ["com", "org", "net", "io", "dev"]
USERS = ["alice", "bob", "carol", "-", "dave"]
METHODS = ["GET", "GET", "GET", "POST", "PUT", "DELETE"]
LEVELS = ["info", "warn", "error", "debug"]
PAGE_CODES = ["200", "200", "200", "200", "301", "404", "500", "503"]
# classic workload: the grep filter keeps 4xx/5xx, about 15% of lines
CLASSIC_CODES = ["200"] * 14 + ["301"] * 3 + ["404", "500", "503"]
BASE_EPOCH = int(_dt.datetime(2026, 1, 1, tzinfo=_dt.timezone.utc).timestamp())
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun",
          "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()),
    ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()),
    ("text", pa.string()),
    ("lang", pa.string()),
])


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _pick(rng: np.random.Generator, values: list[str], n: int) -> list[str]:
    return [values[i] for i in rng.integers(0, len(values), n)]


def _ips(rng: np.random.Generator, n: int) -> list[str]:
    octets = rng.integers(0, 255, (n, 4))
    octets[:, 0] = octets[:, 0] % 223 + 1
    return [f"{a}.{b}.{c}.{d}" for a, b, c, d in octets.tolist()]


def _times(epochs_ms: np.ndarray) -> list[_dt.datetime]:
    base = _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
    return [base + _dt.timedelta(milliseconds=int(ms)) for ms in epochs_ms]


def _apache_time(t: _dt.datetime) -> str:
    return f"{t.day:02d}/{MONTHS[t.month - 1]}/{t.year}:{t:%H:%M:%S} +0000"


def _iso(t: _dt.datetime) -> str:
    return f"{t:%Y-%m-%dT%H:%M:%S}.{t.microsecond // 1000:03d}Z"


def pages_table(seed: int, n: int, first_id: int = 0, stream: int = 0) -> pa.Table:
    """``n`` pages with ids ``first_id..first_id+n-1``; ``stream``
    separates independent draws of the same seed (one per file)."""
    rng = _rng(seed, stream)
    rid = np.arange(first_id, first_id + n)
    dom = np.floor(rng.random(n) ** 3 * N_DOMAINS).astype(int)
    tld = _pick(rng, TLDS, n)
    lang = _pick(rng, LANGS, n)
    ts_ms = (BASE_EPOCH + rid % 3600) * 1000 + rng.integers(0, 1000, n)
    times = _times(ts_ms)
    ips = _ips(rng, n)
    user = _pick(rng, USERS, n)
    method = _pick(rng, METHODS, n)
    p1 = _pick(rng, ["api", "static", "blog", "img"], n)
    p2 = rng.integers(0, 500, n)
    code = _pick(rng, PAGE_CODES, n)
    size = rng.integers(64, 50064, n)
    level = _pick(rng, LEVELS, n)
    pri = rng.integers(0, 191, n)
    hostn = rng.integers(0, 20, n)
    pid = rng.integers(0, 32768, n)
    stream_name = _pick(rng, ["stdout", "stderr"], n)
    fmt = rng.integers(0, 5, n)

    urls, texts, htmls = [], [], []
    for i in range(n):
        fqdn = f"site{dom[i]}.{tld[i]}"
        t = times[i]
        path = f"/{p1[i]}/{p2[i]}"
        f = fmt[i]
        if f == 0:
            line = (f'{ips[i]} - {user[i]} [{_apache_time(t)}] "{method[i]} {path} '
                    f'HTTP/1.1" {code[i]} {size[i]} "-" "Mozilla/5.0"')
        elif f == 1:
            line = (f"<{pri[i]}>{MONTHS[t.month - 1]} {t.day:02d} {t:%H:%M:%S} "
                    f"host{hostn[i]} app-{level[i]}[{pid[i]}]: {method[i]} "
                    f"request {path} handled")
        elif f == 2:
            line = (f'{{"log":"{method[i]} {path} -> {code[i]}",'
                    f'"stream":"{stream_name[i]}","time":"{_iso(t)}"}}')
        elif f == 3:
            line = (f"time:{_iso(t)}\thost:{ips[i]}\tstatus:{code[i]}"
                    f"\tsize:{size[i]}\tpath:{path}")
        else:
            line = (f'ts={_iso(t)} level={level[i]} msg="{method[i]} {path}" '
                    f"status={code[i]} bytes={size[i]}")
        urls.append(f"https://{fqdn}/page/{rid[i]}")
        texts.append(line)
        htmls.append(
            (f"<html><head><title>{fqdn}</title></head><body><pre>"
             f"{_html.escape(line, quote=False)}</pre></body></html>").encode()
        )
    return pa.Table.from_arrays(
        [pa.array(urls), pa.array(times, PAGES_SCHEMA.field("warc_ts").type),
         pa.array(htmls, pa.binary()), pa.array(texts), pa.array(lang)],
        schema=PAGES_SCHEMA,
    )


def write_pages(path: str, seed: int, n: int, files: int) -> int:
    """The batch input: ``n`` pages split over ``files`` parquet files
    in directory ``path``. Returns the bytes written."""
    os.makedirs(path, exist_ok=True)
    per = -(-n // files)
    for k in range(files):
        lo = k * per
        pq.write_table(pages_table(seed, min(per, n - lo), lo, stream=k),
                       os.path.join(path, f"part-{k:05d}.parquet"))
    return dir_bytes(path)


def write_page_file(path: str, seed: int, rows: int, index: int) -> None:
    """One streaming input file (file ``index`` of the run)."""
    pq.write_table(pages_table(seed, rows, index * rows, stream=index), path)


def classic_lines(seed: int, n: int) -> tuple[list[str], list[str]]:
    """(apache lines, logfmt lines) for the classic workload: ``n``
    lines each, HTTP codes skewed so that a grep on 4xx/5xx is
    selective."""
    rng = _rng(seed, 1_000_000)
    times = _times((BASE_EPOCH + np.arange(n) % 3600) * 1000
                   + rng.integers(0, 1000, n))
    ips = _ips(rng, 2 * n)
    user = _pick(rng, USERS, n)
    method = _pick(rng, METHODS, 2 * n)
    p2 = rng.integers(0, 500, 2 * n)
    code = _pick(rng, CLASSIC_CODES, 2 * n)
    size = rng.integers(64, 50064, 2 * n)
    level = _pick(rng, LEVELS, n)
    apache = [
        f'{ips[i]} - {user[i]} [{_apache_time(times[i])}] "{method[i]} /api/{p2[i]} '
        f'HTTP/1.1" {code[i]} {size[i]} "-" "Mozilla/5.0"'
        for i in range(n)
    ]
    logfmt = [
        f'ts={_iso(times[i])} level={level[i]} host={ips[n + i]} '
        f'msg="{method[n + i]} /api/{p2[n + i]}" code={code[n + i]} '
        f"bytes={size[n + i]}"
        for i in range(n)
    ]
    return apache, logfmt


def write_lines(path: str, lines: list[str], files: int) -> None:
    os.makedirs(path, exist_ok=True)
    per = -(-len(lines) // files)
    for k in range(files):
        with open(os.path.join(path, f"part-{k:05d}.log"), "w") as fh:
            fh.write("".join(s + "\n" for s in lines[k * per:(k + 1) * per]))


# the mmdb covers the first octets 1..222 with one /8 per country code
GEO_COUNTRIES = ["US", "DE", "JP", "BR", "IN", "FR", "GB", "CA"]


def write_mmdb(path: str) -> None:
    from fluent_bit_spark.enrich_mmdb import MMDBWriter

    w = MMDBWriter()
    for octet in range(1, 223):
        cc = GEO_COUNTRIES[octet % len(GEO_COUNTRIES)]
        w.insert(f"{octet}.0.0.0/8", {"country": {"iso_code": cc}})
    with open(path, "wb") as fh:
        fh.write(w.to_bytes())


CLASSIC_PARSERS = {"apache": "apache2", "logfmt": "logfmt"}
CLASSIC_FILTERS = [
    ("grep", "Exclude code ^[23]"),
    ("modify", "Add pipeline perfbench"),
    ("geoip2", "Database {mmdb}\n    Record country host %{{country.iso_code}}"),
    ("rewrite_tag", "Rule $code ^5\\d\\d$ errors false"),
]
CLASSIC_OUTPUTS = [
    ("file", "apache", "Format json_lines"),
    ("loki", "*", "Labels job=perfbench"),
    ("es", "logfmt", ""),
    ("counter", "errors", ""),
]
# the ids run_classic_outputs gives the outputs: <name>.<position>
CLASSIC_OUTPUT_IDS = [f"{name}.{i}" for i, (name, _, _) in enumerate(CLASSIC_OUTPUTS)]


def classic_conf(base: str, inputs=("apache", "logfmt"), parsed: bool = True,
                 filters: int = len(CLASSIC_FILTERS), outputs: bool = True) -> str:
    """The classic workload's conf text. The defaults give the full
    conf; the arguments cut it down to a prefix of its stages."""
    parts = ["[SERVICE]\n    Flush 1\n"]
    for tag in inputs:
        parts.append(f"[INPUT]\n    Name tail\n    Path {os.path.join(base, tag)}\n"
                     f"    Tag  {tag}\n")
        if parsed:
            parts[-1] += f"    Parser {CLASSIC_PARSERS[tag]}\n"
    for name, body in CLASSIC_FILTERS[:filters]:
        body = body.format(mmdb=os.path.join(base, "geo.mmdb"))
        parts.append(f"[FILTER]\n    Name {name}\n    Match *\n    {body}\n")
    for name, match, body in CLASSIC_OUTPUTS if outputs else []:
        parts.append(f"[OUTPUT]\n    Name {name}\n    Match {match}\n    {body}\n")
    return "\n".join(parts)


def write_classic_inputs(base: str, seed: int, n: int, files: int) -> str:
    """Inputs, geoip database and conf for the classic workload;
    returns the conf path."""
    apache, logfmt = classic_lines(seed, n)
    write_lines(os.path.join(base, "apache"), apache, files)
    write_lines(os.path.join(base, "logfmt"), logfmt, files)
    write_mmdb(os.path.join(base, "geo.mmdb"))
    conf = os.path.join(base, "fluent-bit.conf")
    with open(conf, "w") as fh:
        fh.write(classic_conf(base))
    return conf


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total
