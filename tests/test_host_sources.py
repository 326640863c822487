"""in_cpu/in_mem/in_disk/in_netif/in_thermal snapshot math, in_statsd
line parsing, in_head/in_random/in_exec local sources."""

from __future__ import annotations

import pytest

from fluent_bit_spark.sources.hostmetrics import (
    cpu_percent_record,
    disk_record,
    mem_record,
    netif_record,
    thermal_records,
)

STAT_PRE = """cpu  100 10 50 1000 0 0 0 0 0 0
cpu0 60 5 30 500 0 0 0 0 0 0
cpu1 40 5 20 500 0 0 0 0 0 0
intr 12345
"""
STAT_NOW = """cpu  180 20 90 1800 0 0 0 0 0 0
cpu0 100 10 50 900 0 0 0 0 0 0
cpu1 80 10 40 900 0 0 0 0 0 0
intr 23456
"""


def test_cpu_percent_record():
    rec = cpu_percent_record(STAT_PRE, STAT_NOW, interval_sec=1.0,
                             cpu_ticks=100)
    # system-average: diff/(ticks) * 100 / n_cores / interval
    # total: (290-160)=130 -> 130/100*100/2 = 65.0
    assert rec["cpu_p"] == pytest.approx(65.0)
    # user+nice: (200-110)=90 -> 45.0 ; system: (90-50)=40 -> 20.0
    assert rec["user_p"] == pytest.approx(45.0)
    assert rec["system_p"] == pytest.approx(20.0)
    # per-core usage is NOT divided by core count (cpu.h:113)
    # core0 total: (160-95)=65 -> 65.0
    assert rec["cpu0.p_cpu"] == pytest.approx(65.0)
    assert rec["cpu1.p_user"] == pytest.approx(45.0)
    assert rec["cpu1.p_system"] == pytest.approx(20.0)
    # equal counters short-circuit to 0.0
    same = cpu_percent_record(STAT_PRE, STAT_PRE)
    assert same["cpu_p"] == 0.0 and same["cpu0.p_cpu"] == 0.0


MEMINFO = """MemTotal:       16384000 kB
MemFree:         4096000 kB
MemAvailable:   11096000 kB
SwapTotal:       2097148 kB
SwapFree:        2097000 kB
"""


def test_mem_record():
    rec = mem_record(MEMINFO)
    assert rec == {
        "Mem.total": 16384000, "Mem.used": 12288000, "Mem.free": 4096000,
        "Swap.total": 2097148, "Swap.used": 148, "Swap.free": 2097000,
    }


DISK_PRE = (
    " 259 0 nvme0n1 100 0 1000 0 50 0 2000 0 0 0 0\n"
    " 8 0 sda 10 0 500 0 5 0 100 0 0 0 0\n"
)
DISK_NOW = (
    " 259 0 nvme0n1 120 0 1500 0 60 0 2600 0 0 0 0\n"
    " 8 0 sda 12 0 700 0 6 0 150 0 0 0 0\n"
)


def test_disk_record():
    rec = disk_record(DISK_PRE, DISK_NOW)
    # sectors: read (1500-1000)+(700-500)=700; write (600+50)=650
    assert rec == {"read_size": 700 * 512, "write_size": 650 * 512}
    only = disk_record(DISK_PRE, DISK_NOW, dev_name="sda")
    assert only == {"read_size": 200 * 512, "write_size": 50 * 512}


NETDEV_PRE = """Inter-|   Receive                                                |  Transmit
 face |bytes    packets errs drop fifo frame compressed multicast|bytes    packets errs drop fifo colls carrier compressed
    lo:  1000     10    0    0    0     0          0         0     1000     10    0    0    0     0       0          0
  eth0:  5000     50    1    2    0     0          0         0     7000     70    3    4    0     0       0          0
"""
NETDEV_NOW = NETDEV_PRE.replace("  5000     50    1", "  6500     65    2").replace(
    "  7000     70    3", "  9000     90    5"
)


def test_netif_record():
    rec = netif_record("eth0", NETDEV_PRE, NETDEV_NOW)
    assert rec == {
        "eth0.rx.bytes": 1500, "eth0.rx.packets": 15, "eth0.rx.errors": 1,
        "eth0.tx.bytes": 2000, "eth0.tx.packets": 20, "eth0.tx.errors": 2,
    }
    verbose = netif_record("eth0", NETDEV_PRE, NETDEV_NOW, verbose=True)
    assert len(verbose) == 16 and verbose["eth0.rx.drop"] == 0
    # reference typo preserved: tx.compressepd (in_netif.c:44)
    assert "eth0.tx.compressepd" in verbose


def test_thermal_records():
    recs = thermal_records({"thermal_zone0": ("x86_pkg_temp", 45500)})
    assert recs == [
        {"name": "thermal_zone0", "type": "x86_pkg_temp", "temp": 45.5}
    ]


def test_statsd_parse(spark):
    from fluent_bit_spark.sources.statsd import parse_statsd_lines

    lines = [
        ("gorets:1|c",),
        ("glork:320|ms|@0.1",),
        ("gaugor:+333|g",),
        ("uniques:765|s",),
        ("kpi:42.5|c|@0.5",),
        ("noatrate:7|c|@abc",),   # atof('abc')=0 -> 1.0
        ("badline_nocolon",),     # dropped
        ("nopipe:3",),            # dropped
        ("weird:9|x",),           # unknown type -> counter
    ]
    df = spark.createDataFrame(lines, ["line"])
    out = parse_statsd_lines(df).collect()
    by = {r["bucket"]: r for r in out}
    assert len(out) == 7
    assert by["gorets"]["mtype"] == "counter" and by["gorets"]["value"] == 1.0
    assert by["gorets"]["sample_rate"] == 1.0
    # timer FALLTHROUGH bug (statsd.c:122 missing break): arrives as a
    # set with the raw string value, timer sample_rate retained
    g = by["glork"]
    assert g["mtype"] == "set" and g["value_str"] == "320"
    assert g["sample_rate"] == 0.1 and g["value"] is None
    assert by["gaugor"]["mtype"] == "gauge"
    assert by["gaugor"]["incremental"] == 1
    assert by["gaugor"]["value"] == 333.0
    assert by["uniques"]["mtype"] == "set"
    assert by["uniques"]["value_str"] == "765"
    assert by["kpi"]["sample_rate"] == 0.5
    assert by["noatrate"]["sample_rate"] == 1.0
    assert by["weird"]["mtype"] == "counter"

    fixed = {
        r["bucket"]: r
        for r in parse_statsd_lines(df, timer_fallthrough=False).collect()
    }
    assert fixed["glork"]["mtype"] == "timer"
    assert fixed["glork"]["value"] == 320.0


def test_local_sources(spark, tmp_path):
    from fluent_bit_spark.sources.local import (
        exec_records,
        head_records,
        random_records,
    )

    p = tmp_path / "f.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    one = head_records(spark, str(p), buf_size=8).first()
    assert one["head"] == "alpha\nbe"
    split = head_records(
        spark, str(p), lines=2, split_line=True, add_path=True
    ).collect()
    assert [r["head"] for r in split] == ["alpha", "beta"]
    assert all(r["path"] == str(p) for r in split)

    r = random_records(spark, samples=5, seed=1)
    vals = [x["rand_value"] for x in r.collect()]
    assert len(vals) == 5
    assert vals == [x["rand_value"] for x in random_records(spark, 5, 1).collect()]

    ex = exec_records(spark, "printf 'a b\\nc d\\n'")
    assert [x["exec"] for x in ex.collect()] == ["a b", "c d"]
    from fluent_bit_spark.parsers.builtin import builtin_parsers

    parsed = exec_records(
        spark, "echo 'k1=v1 k2=2'", parser=builtin_parsers()["logfmt"]
    ).first()
    # dynamic-key formats land in record_map (parsers/compile.py)
    assert parsed["record_map"]["k1"] == "v1" and parsed["_parse_ok"]


def test_prometheus_text(spark):
    from fluent_bit_spark.functions.prom_out import prometheus_text

    df = spark.createDataFrame(
        [("api\\v1", 3.0), ('say "hi"\nx', 2.5)], "route string, value double"
    )
    out = prometheus_text(
        spark, df, "hits", "counter", "Hits per route.", ["route"]
    )
    lines = [r["line"] for r in out.orderBy("ord", "line").collect()]
    assert lines[0] == "# HELP hits Hits per route."
    assert lines[1] == "# TYPE hits counter"
    # backslash, newline, quote escaped in label values; integral
    # value prints as integer, non-integral as shortest double
    assert 'hits{route="api\\\\v1"} 3' in lines
    assert 'hits{route="say \\"hi\\"\\nx"} 2.5' in lines

    nolabel = prometheus_text(
        spark, df.limit(1), "up", "gauge", "Up.", []
    ).collect()
    assert [r["line"] for r in nolabel if r["ord"] == 2] == ["up 3"]

    import pytest as _pytest

    with _pytest.raises(ValueError):
        prometheus_text(spark, df, "x", "nope", "h", [])


def test_kmsg_parse(spark):
    from fluent_bit_spark.sources.kmsg import parse_kmsg_lines

    lines = [
        ("6,1001,123456789,-;usb 1-1: new device",),
        ("14,1002,2000001,-;audit: rule added; with semicolon",),
        ("3,1003,5000000,c;disk error",),
        ("garbage line",),
        ("30,1004,1,-;dropped by prio filter",),  # 30&7=6 kept... see below
    ]
    df = spark.createDataFrame(lines, ["line"])
    out = parse_kmsg_lines(df, boot_time_sec=1_700_000_000, prio_level=8)
    rows = {r["sequence"]: r for r in out.collect()}
    assert len(rows) == 4  # garbage dropped
    r = rows[1001]
    # prival 6 & 7 = 6; usec split 123.456789s
    assert r["priority"] == 6 and r["sec"] == 123 and r["usec"] == 456789
    assert r["msg"] == "usb 1-1: new device"
    assert str(r["event_time"]).startswith("2023-11-14")
    # only the FIRST ';' separates header from message (split limit 2)
    assert rows[1002]["msg"] == "audit: rule added; with semicolon"
    # prival 14 & 7 = 6 (facility bits masked off, FLB_KLOG_PRI)
    assert rows[1002]["priority"] == 6
    # prio_level drop: priority 3 kept under level 3, 6 dropped
    strict = parse_kmsg_lines(df, prio_level=3).collect()
    assert {r["sequence"] for r in strict} == {1003}


CID_A = "a" * 64
CID_B = "b" * 64


def _mk_v1_tree(root, cid, cpu=5_000_000, used=1024, limit=4096):
    import os
    for ctl in ("cpu", "memory"):
        os.makedirs(os.path.join(root, ctl, "docker", cid), exist_ok=True)
    with open(os.path.join(root, "cpu", "docker", cid, "cpuacct.usage"), "w") as fh:
        fh.write(f"{cpu}\n")
    mdir = os.path.join(root, "memory", "docker", cid)
    with open(os.path.join(mdir, "memory.usage_in_bytes"), "w") as fh:
        fh.write(f"{used}\n")
    with open(os.path.join(mdir, "memory.limit_in_bytes"), "w") as fh:
        fh.write(f"{limit}\n")


def _mk_name(containers, cid, name):
    import json as _json
    import os
    d = os.path.join(containers, cid)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "config.v2.json"), "w") as fh:
        _json.dump({"Name": f"/{name}"}, fh)


def test_docker_v1_snapshots(tmp_path):
    """cgroup v1 layout (reference cgroup_v1.c:44 sysfs/cpu/docker/<id>)."""
    from fluent_bit_spark.sources.docker_metrics import docker_snapshots

    sysfs = str(tmp_path / "sys")
    containers = str(tmp_path / "containers")
    _mk_v1_tree(sysfs, CID_A, cpu=7_000_000, used=2048, limit=8192)
    _mk_v1_tree(sysfs, CID_B)
    _mk_name(containers, CID_A, "web")

    recs = docker_snapshots(sysfs_path=sysfs, containers_path=containers)
    assert [r["id"] for r in recs] == [CID_A[:12], CID_B[:12]]
    a = recs[0]
    assert a == {"id": CID_A[:12], "name": "web", "cpu_used": 7_000_000,
                 "mem_used": 2048, "mem_limit": 8192}
    assert recs[1]["name"] is None  # no config.v2.json

    # include/exclude filter by short id (docker.c:206-260)
    only_b = docker_snapshots(sysfs_path=sysfs, containers_path=containers,
                              exclude=[CID_A])
    assert [r["id"] for r in only_b] == [CID_B[:12]]
    only_a = docker_snapshots(sysfs_path=sysfs, containers_path=containers,
                              include=[CID_A[:12]])
    assert [r["id"] for r in only_a] == [CID_A[:12]]


def test_docker_v2_snapshots(tmp_path):
    """cgroup v2 layout: system.slice/docker-<id>.scope, usage_usec→ns,
    memory.max 'max' sentinel (cgroup_v2.c:47, docker.h:44)."""
    import os

    from fluent_bit_spark.sources.docker_metrics import docker_snapshots

    sysfs = str(tmp_path / "sys")
    os.makedirs(sysfs)
    with open(os.path.join(sysfs, "cgroup.controllers"), "w") as fh:
        fh.write("cpu memory\n")
    scope = os.path.join(sysfs, "system.slice", f"docker-{CID_A}.scope")
    os.makedirs(scope)
    with open(os.path.join(scope, "cpu.stat"), "w") as fh:
        fh.write("usage_usec 1234\nuser_usec 1000\nsystem_usec 234\n")
    with open(os.path.join(scope, "memory.current"), "w") as fh:
        fh.write("4096\n")
    with open(os.path.join(scope, "memory.max"), "w") as fh:
        fh.write("max\n")

    recs = docker_snapshots(sysfs_path=sysfs, containers_path=str(tmp_path))
    assert len(recs) == 1
    r = recs[0]
    assert r["cpu_used"] == 1234 * 1000  # usec → ns like the v1 counter
    assert r["mem_used"] == 4096
    assert r["mem_limit"] == 2**63 - 1  # "max" = unlimited sentinel


def test_docker_skips_snapshotless(tmp_path):
    """A container dir with no counters is skipped (docker.c behavior)."""
    import os

    from fluent_bit_spark.sources.docker_metrics import docker_snapshots

    sysfs = str(tmp_path / "sys")
    os.makedirs(os.path.join(sysfs, "cpu", "docker", CID_A))
    recs = docker_snapshots(sysfs_path=sysfs, containers_path=str(tmp_path))
    assert recs == []


def test_nginx_stub_status():
    from fluent_bit_spark.sources.hostmetrics import (
        nginx_stub_status_record,
    )

    page = ("Active connections: 291\n"
            "server accepts handled requests\n"
            " 16630948 16630948 31070465\n"
            "Reading: 6 Writing: 179 Waiting: 106\n")
    rec = nginx_stub_status_record(page)
    assert rec == {"active": 291, "accepts": 16630948,
                   "handled": 16630948, "requests": 31070465,
                   "reading": 6, "writing": 179, "waiting": 106}
    assert nginx_stub_status_record("oops") is None


def test_node_meminfo_metrics():
    from fluent_bit_spark.sources.hostmetrics import node_meminfo_metrics

    text = ("MemTotal:       16314912 kB\n"
            "MemFree:         3243612 kB\n"
            "HugePages_Total:       0\n"
            "Active(anon):    5871524 kB\n"
            "garbage line without colon\n")
    m = node_meminfo_metrics(text)
    assert m["node_memory_MemTotal_bytes"] == 16314912 * 1024
    assert m["node_memory_HugePages_Total"] == 0  # unitless: no suffix
    assert m["node_memory_Active_anon_bytes"] == 5871524 * 1024
    assert len(m) == 4


def test_node_loadavg_metrics():
    from fluent_bit_spark.sources.hostmetrics import node_loadavg_metrics

    m = node_loadavg_metrics("0.91 1.12 1.30 2/2291 12345\n")
    assert m == {"node_load1": 0.91, "node_load5": 1.12,
                 "node_load15": 1.30}
    assert node_loadavg_metrics("bad") is None


def test_cpu_percent_df_matches_record(spark):
    """The fleet-columnar cpu math must agree with the driver-side
    two-snapshot record on the same counters (cpu.h:95,:113)."""
    from fluent_bit_spark.sources.hostmetrics import cpu_percent_df

    rec = cpu_percent_record(STAT_PRE, STAT_NOW, interval_sec=1.0,
                             cpu_ticks=100)
    pre = [(0, 100, 10, 50), (1, 60, 5, 30), (2, 40, 5, 20)]
    now = [(0, 180, 20, 90), (1, 100, 10, 50), (2, 80, 10, 40)]
    rows = [
        (idx, pu, pn, ps, nu, nn, ns, 2)
        for (idx, pu, pn, ps), (_, nu, nn, ns) in zip(pre, now)
    ]
    df = spark.createDataFrame(
        rows, "cpu_idx int, pu long, pn long, ps long, "
              "nu long, nn long, ns long, n_cores long")
    out = {r["cpu_idx"]: r for r in cpu_percent_df(df).collect()}
    assert out[0]["p_cpu"] == rec["cpu_p"]
    assert out[0]["p_user"] == rec["user_p"]
    assert out[0]["p_system"] == rec["system_p"]
    assert out[1]["p_cpu"] == rec["cpu0.p_cpu"]
    assert out[2]["p_system"] == rec["cpu1.p_system"]
    # equal counters -> exactly 0.0 (not an epsilon)
    same = spark.createDataFrame(
        [(1, 5, 5, 5, 5, 5, 5, 2)],
        "cpu_idx int, pu long, pn long, ps long, "
        "nu long, nn long, ns long, n_cores long")
    assert cpu_percent_df(same).first()["p_cpu"] == 0.0


def test_node_meminfo_df_matches_driver(spark):
    """Fleet-columnar meminfo vs the driver-side twin on the same
    text (ne_meminfo_linux.c naming + kB rules)."""
    from fluent_bit_spark.sources.hostmetrics import (
        node_meminfo_df,
        node_meminfo_metrics,
    )

    text = ("MemTotal:       16314912 kB\n"
            "MemFree:         3243612 kB\n"
            "HugePages_Total:       0\n"
            "Active(anon):    5871524 kB\n"
            "Inactive(file):  1234 kB\n"
            "Floaty:          1.5 kB\n"
            "garbage line without colon\n"
            "Weird: 5 kB extra\n")
    want = node_meminfo_metrics(text)
    df = spark.createDataFrame([("h1", text)], "host string, m string")
    got = {r["metric"]: r["value"]
           for r in node_meminfo_df(df, "m").collect()}
    assert got == want


def test_nginx_status_df_matches_driver(spark):
    """Fleet-columnar stub_status vs the driver-side twin, incl. the
    malformed-page drop (nginx.c:36-90)."""
    from fluent_bit_spark.sources.hostmetrics import (
        nginx_status_df,
        nginx_stub_status_record,
    )

    good = ("Active connections: 291 \n"
            "server accepts handled requests\n"
            " 16630948 16630948 31070465 \n"
            "Reading: 6 Writing: 179 Waiting: 106 \n")
    bad = "<html>not a status page</html>"
    short = "Active connections: 3 \n"
    # line 3 only CONTAINS 'Reading:' mid-text -> malformed (re.match)
    embedded = good.replace("Reading:", "NotReading:", 1).replace(
        "NotReading:", "Not Reading:", 1).replace(
        "Not Reading:", "prefix Reading:", 1)
    # counters of 1e15 and more (15+ digits) parse like the twin's int()
    huge = good.replace(" 16630948 16630948 31070465 ",
                        " 1000000000000000 999999999999999 12345678901234567 ")
    df = spark.createDataFrame(
        [(1, good), (2, bad), (3, short), (4, embedded), (5, huge)],
        "i long, s string")
    rows = {r["i"]: r.asDict() for r in nginx_status_df(df, "s").collect()}
    assert set(rows) == {1, 5}
    for i, page in ((1, good), (5, huge)):
        got = {k: v for k, v in rows[i].items() if k != "i"}
        assert got == nginx_stub_status_record(page)
    assert rows[5]["requests"] == 12345678901234567
    assert nginx_stub_status_record(bad) is None
