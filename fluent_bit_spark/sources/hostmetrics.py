"""Host-metric input plugins: in_cpu, in_mem, in_disk, in_netif,
in_thermal — procfs/sysfs samplers re-expressed over injectable
snapshot text.

References:
- in_cpu  (/root/reference/plugins/in_cpu/cpu.c:82 proc_cpu_load,
  :250-307 percent math; cpu.h:95 CPU_METRIC_SYS_AVERAGE, :113
  CPU_METRIC_USAGE, :83 "cpu%i.p_{cpu,user,system}" key format):
  one record per interval with cpu_p/user_p/system_p plus per-core
  fields, computed from two /proc/stat snapshots.
- in_mem  (/root/reference/plugins/in_mem/mem.c:90 mem_calc, :210
  field names): Mem.total/used/free + Swap.total/used/free in KB.
  The reference calls sysinfo(2); reading /proc/meminfo's
  MemTotal/MemFree/SwapTotal/SwapFree is the file-shaped equivalent
  (sysinfo's freeram == MemFree).
- in_disk (/root/reference/plugins/in_disk/in_disk.c:66
  update_disk_stats fields 6/10 = sectors read/written, :148-167
  delta * 512 summed over devices, in_disk.h:30 read_size/write_size).
- in_netif (/root/reference/plugins/in_netif/in_netif.c:28
  entry_name_linux, per-interface "<iface>.rx.bytes"-style keys,
  deltas between samples; non-verbose mode keeps only the
  FLB_TRUE-marked entries).
- in_thermal (/root/reference/plugins/in_thermal/in_thermal.c:45:
  name/type/temp per thermal zone, temp is millidegrees / 1000).

Why snapshot-text injection: host sampling is inherently edge-node
work (one tiny record per interval, no distributed compute), so these
return plain dicts/Rows for the driver to append to a metrics stream
— exactly how the reference's collectors feed the pipeline — while
staying deterministic and testable. ``read_proc=None`` reads the
live files on this host.
"""

from __future__ import annotations

import os


def _read(path: str, text: str | None) -> str:
    if text is not None:
        return text
    with open(path, encoding="utf-8", errors="replace") as fh:
        return fh.read()


# ------------------------------------------------------------- in_cpu


def parse_proc_stat(text: str) -> list[tuple[int, int, int]]:
    """/proc/stat 'cpu*' lines -> [(user+?, nice, system...)] as the
    reference keeps them: v_user, v_nice, v_system (fields 1,2,3)."""
    out = []
    for line in text.splitlines():
        if not line.startswith("cpu"):
            break
        parts = line.split()
        out.append((int(parts[1]), int(parts[2]), int(parts[3])))
    return out


def cpu_percent_record(
    stat_pre: str,
    stat_now: str,
    interval_sec: float = 1.0,
    cpu_ticks: int = 100,
) -> dict[str, float]:
    """in_cpu's record from two /proc/stat snapshots.

    Line 0 ('cpu ') uses CPU_METRIC_SYS_AVERAGE (normalized by core
    count), per-core lines use CPU_METRIC_USAGE; equal counters short-
    circuit to 0.0 exactly as the macros do (cpu.h:95-126).
    """
    pre = parse_proc_stat(stat_pre)
    now = parse_proc_stat(stat_now)
    n_cores = len(now) - 1

    def sys_average(p: int, n: int) -> float:
        if p == n:
            return 0.0
        return ((abs(n - p) / cpu_ticks * 100) / n_cores) / interval_sec

    def usage(p: int, n: int) -> float:
        if p == n:
            return 0.0
        return (abs(n - p) * 100 / cpu_ticks) / interval_sec

    rec: dict[str, float] = {}
    for i, ((pu, pn, ps), (nu, nn, ns)) in enumerate(zip(pre, now)):
        if i == 0:
            rec["cpu_p"] = sys_average(pu + pn + ps, nu + nn + ns)
            rec["user_p"] = sys_average(pu + pn, nu + nn)
            rec["system_p"] = sys_average(ps, ns)
        else:
            c = i - 1
            rec[f"cpu{c}.p_cpu"] = usage(pu + pn + ps, nu + nn + ns)
            rec[f"cpu{c}.p_user"] = usage(pu + pn, nu + nn)
            rec[f"cpu{c}.p_system"] = usage(ps, ns)
    return rec


def cpu_percent_df(
    df,
    idx_col: str = "cpu_idx",
    pre_cols: tuple[str, str, str] = ("pu", "pn", "ps"),
    now_cols: tuple[str, str, str] = ("nu", "nn", "ns"),
    n_cores_col: str = "n_cores",
    interval_sec: float = 1.0,
    cpu_ticks: int = 100,
):
    """Columnar in_cpu percent math: one row per /proc/stat cpu line
    PAIR (previous + current snapshot), fleet-scale — the driver-side
    ``cpu_percent_record`` samples ONE host; this evaluates the same
    macros (cpu.h:95 CPU_METRIC_SYS_AVERAGE for the aggregate line
    ``idx_col == 0``, :113 CPU_METRIC_USAGE for per-core lines, both
    with the equal-counters -> exactly 0.0 short-circuit) over a
    DataFrame of snapshot pairs collected from any number of hosts.
    Adds p_cpu / p_user / p_system; all whole-stage-codegen
    arithmetic, no UDF."""
    from pyspark.sql import functions as F

    pu, pn, ps = (F.col(c) for c in pre_cols)
    nu, nn, ns = (F.col(c) for c in now_cols)
    agg = F.col(idx_col) == 0
    ticks = F.lit(float(cpu_ticks))
    ivl = F.lit(float(interval_sec))

    def pct(p, n):
        sys_avg = (F.abs(n - p) / ticks * 100
                   / F.col(n_cores_col)) / ivl
        usage = (F.abs(n - p) * 100 / ticks) / ivl
        return F.when(p == n, F.lit(0.0)).otherwise(
            F.when(agg, sys_avg).otherwise(usage))

    return (
        df.withColumn("p_cpu", pct(pu + pn + ps, nu + nn + ns))
        .withColumn("p_user", pct(pu + pn, nu + nn))
        .withColumn("p_system", pct(ps, ns))
    )


def cpu_record(
    interval_sec: float = 1.0, read_proc=None
) -> dict[str, float]:
    """Live two-snapshot sample (blocks interval_sec like the
    reference's collect cadence)."""
    import time

    ticks = os.sysconf("SC_CLK_TCK")
    pre = _read("/proc/stat", read_proc() if read_proc else None)
    time.sleep(interval_sec)
    now = _read("/proc/stat", read_proc() if read_proc else None)
    return cpu_percent_record(pre, now, interval_sec, ticks)


# ------------------------------------------------------------- in_mem


def mem_record(meminfo_text: str | None = None) -> dict[str, int]:
    """in_mem's record (KB values, mem.c:210-228): Mem.total/used/free
    + Swap.total/used/free; used = total - free."""
    text = _read("/proc/meminfo", meminfo_text)
    kv: dict[str, int] = {}
    for line in text.splitlines():
        if ":" in line:
            k, v = line.split(":", 1)
            kv[k.strip()] = int(v.strip().split()[0])
    mem_total = kv.get("MemTotal", 0)
    mem_free = kv.get("MemFree", 0)
    swap_total = kv.get("SwapTotal", 0)
    swap_free = kv.get("SwapFree", 0)
    return {
        "Mem.total": mem_total,
        "Mem.used": mem_total - mem_free,
        "Mem.free": mem_free,
        "Swap.total": swap_total,
        "Swap.used": swap_total - swap_free,
        "Swap.free": swap_free,
    }


# ------------------------------------------------------------ in_disk


def _diskstats_totals(text: str, dev_name: str | None) -> tuple[int, int]:
    reads = writes = 0
    for line in text.splitlines():
        parts = line.split()
        if len(parts) < 10:
            continue
        if dev_name is not None and dev_name not in parts[2]:
            continue
        reads += int(parts[5])   # field 6: sectors read
        writes += int(parts[9])  # field 10: sectors written
    return reads, writes


def disk_record(
    diskstats_pre: str | None = None,
    diskstats_now: str | None = None,
    dev_name: str | None = None,
) -> dict[str, int]:
    """in_disk's record: summed sector deltas * 512 bytes across
    (optionally name-filtered) devices (in_disk.c:141-185)."""
    pre = _diskstats_totals(_read("/proc/diskstats", diskstats_pre), dev_name)
    now = _diskstats_totals(_read("/proc/diskstats", diskstats_now), dev_name)
    return {
        "read_size": max(0, now[0] - pre[0]) * 512,
        "write_size": max(0, now[1] - pre[1]) * 512,
    }


# ----------------------------------------------------------- in_netif

# entry_name_linux (in_netif.c:28-45); FLB_TRUE = kept in non-verbose
NETIF_ENTRIES: list[tuple[str, bool]] = [
    ("rx.bytes", True), ("rx.packets", True), ("rx.errors", True),
    ("rx.drop", False), ("rx.fifo", False), ("rx.frame", False),
    ("rx.compressed", False), ("rx.multicast", False),
    ("tx.bytes", True), ("tx.packets", True), ("tx.errors", True),
    ("tx.drop", False), ("tx.fifo", False), ("tx.collisions", False),
    ("tx.carrier", False), ("tx.compressepd", False),  # sic, reference typo
]


def _netdev_counters(text: str, interface: str) -> list[int] | None:
    for line in text.splitlines():
        if ":" not in line:
            continue
        name, rest = line.split(":", 1)
        if name.strip() == interface:
            return [int(x) for x in rest.split()[: len(NETIF_ENTRIES)]]
    return None


def netif_record(
    interface: str,
    netdev_pre: str | None = None,
    netdev_now: str | None = None,
    verbose: bool = False,
) -> dict[str, int]:
    """in_netif's record: '<iface>.<entry>' counter deltas between two
    /proc/net/dev samples; non-verbose keeps the reference's selected
    entries only."""
    pre = _netdev_counters(_read("/proc/net/dev", netdev_pre), interface)
    now = _netdev_counters(_read("/proc/net/dev", netdev_now), interface)
    if pre is None or now is None:
        raise ValueError(f"interface {interface!r} not found")
    rec: dict[str, int] = {}
    for (name, keep), p, n in zip(NETIF_ENTRIES, pre, now):
        if verbose or keep:
            rec[f"{interface}.{name}"] = max(0, n - p)
    return rec


# ---------------------------------------------------------- in_thermal


def thermal_records(
    zones: dict[str, tuple[str, int]] | None = None,
) -> list[dict]:
    """in_thermal: one record per thermal zone with name/type/temp
    (millidegrees / 1000, in_thermal.c:45-52). ``zones`` maps zone
    name -> (type, millidegrees); None reads /sys/class/thermal."""
    if zones is None:
        zones = {}
        base = "/sys/class/thermal"
        if os.path.isdir(base):
            for z in sorted(os.listdir(base)):
                tf, yf = f"{base}/{z}/temp", f"{base}/{z}/type"
                if os.path.isfile(tf) and os.path.isfile(yf):
                    try:
                        zones[z] = (
                            open(yf).read().strip(),
                            int(open(tf).read().strip()),
                        )
                    except (OSError, ValueError):
                        continue
    return [
        {"name": name, "type": ztype, "temp": milli / 1000.0}
        for name, (ztype, milli) in zones.items()
    ]


def nginx_stub_status_record(text: str) -> dict | None:
    """in_nginx_exporter_metrics stub_status parse (reference
    /root/reference/plugins/in_nginx_exporter_metrics/nginx.c:36-90):
    line 0 ``Active connections: N``, line 2 the accepts/handled/
    requests triple, line 3 ``Reading: R Writing: W Waiting: Q``; a
    malformed page returns None (the reference errors the scrape)."""
    import re as _re

    lines = text.splitlines()
    if len(lines) < 4:
        return None
    m0 = _re.match(r"Active connections:\s+(\d+)", lines[0])
    m2 = _re.match(r"\s*(\d+)\s+(\d+)\s+(\d+)", lines[2])
    m3 = _re.match(
        r"Reading:\s+(\d+)\s+Writing:\s+(\d+)\s+Waiting:\s+(\d+)",
        lines[3])
    if not (m0 and m2 and m3):
        return None
    return {
        "active": int(m0.group(1)),
        "accepts": int(m2.group(1)),
        "handled": int(m2.group(2)),
        "requests": int(m2.group(3)),
        "reading": int(m3.group(1)),
        "writing": int(m3.group(2)),
        "waiting": int(m3.group(3)),
    }


def node_meminfo_metrics(text: str) -> dict[str, float]:
    """in_node_exporter_metrics meminfo collector (reference
    /root/reference/plugins/in_node_exporter_metrics/
    ne_meminfo_linux.c:20-130,260-280): per /proc/meminfo line the
    metric is ``node_memory_<Name>`` with ``(anon)``/``(file)``
    rewritten to ``_anon``/``_file``; a trailing ``kB`` unit appends
    ``_bytes`` AND multiplies the value by 1024 (:267); other part
    counts are skipped."""
    out: dict[str, float] = {}
    for line in text.splitlines():
        parts = line.split()
        if not parts or not parts[0].endswith(":"):
            continue
        name = parts[0][:-1]
        name = name.replace("(anon)", "_anon").replace("(file)", "_file")
        try:
            val = float(parts[1])
        except (IndexError, ValueError):
            continue
        if len(parts) == 3:  # trailing kB unit
            out[f"node_memory_{name}_bytes"] = val * 1024
        elif len(parts) == 2:
            out[f"node_memory_{name}"] = val
        # else: skipped like the reference's parts fallthrough
    return out


def nginx_status_df(df, text_col: str = "status"):
    """Fleet-columnar stub_status parse: one nginx status PAGE per
    row -> active/accepts/handled/requests/reading/writing/waiting
    columns under ``nginx_stub_status_record``'s rules
    (plugins/in_nginx_exporter_metrics/nginx.c:36-90): line 0 the
    Active-connections count, line 2 the accepts/handled/requests
    triple, line 3 Reading/Writing/Waiting; a malformed page is
    DROPPED (the reference errors that scrape). Pure split/regexp —
    whole-stage codegen."""
    from pyspark.sql import functions as F

    lines = F.split(F.col(text_col), "\n")

    def num(line_idx: int, pattern: str, group: int):
        return F.nullif(
            F.regexp_extract(
                F.coalesce(F.try_element_at(lines, F.lit(line_idx)),
                           F.lit("")),
                pattern, group),
            F.lit("")).try_cast("long")

    triple = r"^\s*(\d+)\s+(\d+)\s+(\d+)"
    # anchored like the twin's re.match — a line merely CONTAINING
    # 'Reading:' mid-text is a malformed page, not a match
    rww = r"^Reading:\s+(\d+)\s+Writing:\s+(\d+)\s+Waiting:\s+(\d+)"
    out = df.select(
        "*",
        num(1, r"^Active connections:\s+(\d+)", 1).alias("active"),
        num(3, triple, 1).alias("accepts"),
        num(3, triple, 2).alias("handled"),
        num(3, triple, 3).alias("requests"),
        num(4, rww, 1).alias("reading"),
        num(4, rww, 2).alias("writing"),
        num(4, rww, 3).alias("waiting"),
    )
    return out.where(
        F.col("active").isNotNull() & F.col("accepts").isNotNull()
        & F.col("reading").isNotNull()
    ).drop(text_col)


def node_meminfo_df(df, text_col: str = "meminfo"):
    """Fleet-columnar meminfo collector: one /proc/meminfo TEXT per
    row (any number of hosts) -> long (metric, value) rows under the
    node-exporter naming rules of ``node_meminfo_metrics``
    (ne_meminfo_linux.c:20-130,260-280): ``node_memory_<Name>`` with
    ``(anon)``/``(file)`` -> ``_anon``/``_file``, a trailing kB unit
    appending ``_bytes`` and scaling by 1024, malformed lines
    dropped. Pure split/explode/when — whole-stage codegen."""
    from pyspark.sql import functions as F

    lines = df.withColumn("_line", F.explode(
        F.split(F.col(text_col), "\n"))).drop(text_col)
    parts = F.split(F.trim(F.col("_line")), r"\s+")
    name_raw = F.try_element_at(parts, F.lit(1))
    # try_cast double == the twin's float(): accepts '1.5'/'1e3'
    # (never seen in a real meminfo, but the twins must agree)
    val = F.try_element_at(parts, F.lit(2)).try_cast("double")
    name = F.regexp_replace(
        F.regexp_replace(
            F.substring(name_raw, 1, F.length(name_raw) - 1),
            r"\(anon\)", "_anon"),
        r"\(file\)", "_file")
    out = (
        lines.where(name_raw.endswith(":") & val.isNotNull())
        .select(
            "*",
            F.when(F.size(parts) == 3,
                   F.concat(F.lit("node_memory_"), name,
                            F.lit("_bytes")))
            .when(F.size(parts) == 2,
                  F.concat(F.lit("node_memory_"), name))
            .alias("metric"),
            F.when(F.size(parts) == 3,
                   val.cast("double") * 1024)
            .when(F.size(parts) == 2, val.cast("double"))
            .alias("value"),
        )
        .where(F.col("metric").isNotNull())
        .drop("_line")
    )
    return out


def node_loadavg_metrics(text: str) -> dict[str, float] | None:
    """node_load1/5/15 gauges from /proc/loadavg
    (ne_loadavg_linux.c:35-60)."""
    parts = text.split()
    if len(parts) < 3:
        return None
    try:
        return {"node_load1": float(parts[0]),
                "node_load5": float(parts[1]),
                "node_load15": float(parts[2])}
    except ValueError:
        return None
