"""The two workloads, each driving a public entry point of the library
the way its job script does:

- ``flagship_batch``: ``build_pipeline(spark.read.parquet(pages),
  from_html=True)`` then ``run_to_sinks(..., fmt="parquet")``
  (``jobs/run_pipeline.py``).
- ``stream_pipeline``: ``start_routed_stream`` and
  ``start_aggregate_stream`` with ``available_now=False`` (the
  ``--streaming`` shape) over a watched directory fed by an open-loop
  lander process, then one burst.

The classic conf path (``load_classic_conf`` ->
``build_classic_pipeline`` -> ``run_classic_outputs``,
``jobs/run_classic.py``) has no workload of its own: its cold call
alone takes about 25 s, and a third workload did not fit the time all
runs may take together. The traced ``stream_pipeline`` run measures its
layers instead.

Each workload returns its end-to-end metrics, or with tracing on its
per-layer metrics; a layer the workload never calls reads 0.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import gen
import oracle
import probe
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
WRITE_CMD = "InsertIntoHadoopFsRelationCommand"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    cores: int
    traced: bool
    tracer: probe.Tracer
    cpu: probe.ProgramCpu


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    metrics: dict = field(default_factory=dict)
    detail: dict = field(default_factory=dict)


def noop(df) -> None:
    """Force a frame with every column: a noop-format write of the full
    projection (a count would prune the columns)."""
    df.write.format("noop").mode("overwrite").save()


def prefix_self_times(ctx: Ctx, frames: list[tuple[str, object]], reps: int = 2) -> dict:
    """Self time of each stage in a chain of frames, where frame k is
    frame k-1 plus one more public stage call: the median time to force
    frame k minus that of frame k-1. Reps are interleaved over the
    chain so a slow moment hits one rep of every stage, not one stage."""
    times: dict[str, list[float]] = {name: [] for name, _ in frames}
    for _ in range(reps):
        for name, df in frames:
            with ctx.tracer.span(f"prefix.{name}"):
                t0 = time.perf_counter()
                noop(df)
                times[name].append(time.perf_counter() - t0)
    meds = [stats.median(times[name]) for name, _ in frames]
    return {
        name: meds[k] - (meds[k - 1] if k else 0.0)
        for k, (name, _) in enumerate(frames)
    }


def exec_metrics(st: probe.CallStats, job_s: float, cores: int) -> dict:
    return {
        "spark.jobs": st.jobs,
        "spark.tasks": st.tasks,
        "spark.task_failures": st.failed_tasks,
        "exec.cpu_s": st.cpu_s,
        "exec.gc_s": st.gc_s,
        "shuffle.write_bytes": st.shuffle_write_bytes,
        "spill.bytes": st.spill_bytes,
        "exec.core_utilization": st.cpu_s / (job_s * cores) if job_s > 0 else 0.0,
    }


def run_baseline(ctx: Ctx, workload: str) -> float:
    """The wall time of the workload's first warm call on local[1], in
    a separate process (the single-thread baseline)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(ctx.seed), "--seconds", "1", "--trace", "0", "--baseline"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=170, check=True)
    return float(json.loads(out.stdout.strip().splitlines()[-1])["job_s"])


# ------------------------------------------------------------------ batch


@dataclass
class Input:
    """One generated input of a batch workload and what the oracle
    expects from it."""

    path: str  # pages directory (flagship) or conf file (classic)
    dirs: list[str]  # the directories the program scans
    records: int
    bytes: int
    expected: object


@dataclass
class Call:
    """One timed entry-point call."""

    k: int
    wall_s: float
    cpu_s: float  # the program's CPU seconds during the call
    steal_pct: float  # the host's steal time during the call


class Batch:
    """A batch entry point called once cold on a small warm-up input,
    then a fixed number of times warm on the measured input.
    Subclasses generate inputs, make the call and check it."""

    name = ""
    # a run makes round(seconds / NOMINAL_CALL_S) calls on the measured
    # input, the same count every run, and measures them all (6 calls
    # of about 3 s for flagship at 12 s). A call keeps getting cheaper for
    # more calls than a run can afford, as the JIT compiles the per-call
    # work on the driver and the per-record work, so a run measures a
    # fixed stretch of that warm-up.
    NOMINAL_CALL_S = 1.0
    # records of the cold call's input: the first call in a fresh JVM
    # pays for class loading, code generation and Python workers
    # whatever the input, and the rest of its time grows with the input
    WARM_SIZE = 0
    SIZE = 0

    def __init__(self, ctx: Ctx, sub: str = ""):
        self.ctx = ctx
        self.spark = ctx.spark
        self.base = os.path.join(ctx.work, sub)
        self.out_root = os.path.join(self.base, "out")

    def make_input(self, name: str, size: int) -> Input:
        raise NotImplementedError

    def prepare(self) -> None:
        self.warm = self.make_input("warmup", self.WARM_SIZE)
        self.main = self.make_input("main", self.SIZE)

    def call(self, inp: Input, out: str, group: str | None):
        raise NotImplementedError

    def check(self, inp: Input, out: str, result) -> bool:
        raise NotImplementedError

    def _attempt(self, o: Outcome, k: int, inp: Input,
                 group: str | None = None) -> Call | None:
        """One entry-point call into a fresh output directory; None if
        it raised or its output is wrong."""
        out = os.path.join(self.out_root, str(k))
        prev = os.path.join(self.out_root, str(k - 2))
        shutil.rmtree(prev, ignore_errors=True)
        o.attempted += 1
        # spans and job groups only on traced calls
        self.ctx.tracer.enabled = group is not None
        try:
            with self.ctx.tracer.span(f"{self.name}.call"):
                cpu0, ticks0 = self.ctx.cpu(), probe.cpu_ticks()
                t0 = time.perf_counter()
                result = self.call(inp, out, group)
                took = time.perf_counter() - t0
                call = Call(k, took, self.ctx.cpu() - cpu0,
                            probe.steal_pct(ticks0, probe.cpu_ticks()))
        except Exception:
            traceback.print_exc()
            o.failed += 1
            return None
        self.result = result
        if not self.check(inp, out, result):
            print(f"{self.name}: output of call {k} differs from the oracle",
                  file=sys.stderr)
            o.failed += 1
            return None
        return call

    def run(self, calls: int | None = None) -> Outcome:
        o = Outcome()
        t0 = time.perf_counter()
        self.prepare()
        o.detail["prepare_s"] = time.perf_counter() - t0
        first = self._attempt(o, 0, self.warm)
        untraced, traced = [], []
        if calls is None:
            calls = max(2 if self.ctx.traced else 1,
                        round(self.ctx.seconds / self.NOMINAL_CALL_S))
        for k in range(1, calls + 1):
            # traced runs alternate untraced and traced calls, ending
            # with a traced one
            group = (f"call-{k}" if self.ctx.traced and (calls - k) % 2 == 0
                     else None)
            call = self._attempt(o, k, self.main, group)
            if k == 1:
                self.first_warm = call
            if call is not None:
                (traced if group else untraced).append(call)
        o.detail["first_job_s"] = first and first.wall_s
        o.detail["calls"] = [(c.k, round(c.wall_s, 3), round(c.cpu_s, 2),
                              round(c.steal_pct, 1))
                             for c in sorted(filter(None, [first, *untraced, *traced]),
                                             key=lambda c: c.k)]
        if self.ctx.traced and traced:
            o.metrics = self.trace(o, first, untraced, traced)
        elif len(untraced) == calls:
            cpu_s = sum(c.cpu_s for c in untraced)
            o.metrics = {"cpu_us_per_record": 1e6 * cpu_s / (calls * self.main.records)}
        return o

    def trace(self, o: Outcome, first: Call | None, untraced: list[Call],
              traced: list[Call]) -> dict:
        ctx = self.ctx
        store = probe.StatusStore(self.spark)
        traced_med = stats.median([c.wall_s for c in traced])
        # with no untraced call, the traced calls stand in for them
        wall = [c.wall_s for c in untraced or traced]
        job_s = stats.median(wall)
        k = traced[-1].k
        out = os.path.join(self.out_root, str(k))
        m = {
            "job_s": job_s,
            "records_per_s": self.main.records / job_s,
            "latency_p50_s": stats.percentile(wall, 50),
            "latency_p90_s": stats.percentile(wall, 90),
            "spark.cold_overhead_s": (first.wall_s if first else job_s) - job_s,
            "trace.overhead_s": traced_med - job_s,
            "sinks.output_bytes": gen.dir_bytes(out),
        }
        st = self.call_stats(store, k)
        m.update(exec_metrics(st, traced[-1].wall_s, ctx.cores))
        read = sum(probe.scan_bytes(st.executions, d) for d in self.main.dirs)
        m["sources.scan_amplification"] = read / self.main.bytes
        m.update(self.layer_metrics(st, out, job_s))
        o.detail["executions"] = [(e.id, round(e.duration_s, 3)) for e in st.executions]
        return m

    def call_stats(self, store: probe.StatusStore, k: int) -> probe.CallStats:
        return store.call_stats(f"call-{k}")

    def layer_metrics(self, st: probe.CallStats, out: str, job_s: float) -> dict:
        raise NotImplementedError

    def baseline(self) -> float:
        """Cold call, then the first warm call; returns the wall time of
        the latter."""
        o = Outcome()
        self.prepare()
        self._attempt(o, 0, self.warm)
        call = self._attempt(o, 1, self.main)
        if call is None:
            raise RuntimeError(f"{self.name} baseline call failed")
        return call.wall_s


class Flagship(Batch):
    name = "flagship_batch"
    NOMINAL_CALL_S = 2.0
    WARM_SIZE = 500
    SIZE = 10_000
    FILES = 4

    def make_input(self, name: str, size: int) -> Input:
        pages = os.path.join(self.base, name)
        files = self.FILES if size >= 100 * self.FILES else 1
        nbytes = gen.write_pages(pages, self.ctx.seed, size, files)
        return Input(pages, [pages], size, nbytes, oracle.pages_expected(pages))

    def call(self, inp: Input, out: str, group: str | None):
        from fluent_bit_spark.pipeline import build_pipeline, run_to_sinks

        with probe.job_group(self.spark.sparkContext, group):
            with self.ctx.tracer.span("pipeline.build_pipeline"):
                result = build_pipeline(self.spark.read.parquet(inp.path), from_html=True)
            with self.ctx.tracer.span("pipeline.run_to_sinks"):
                return run_to_sinks(result, out, fmt="parquet")

    def check(self, inp: Input, out: str, counts) -> bool:
        expected_counts, expected_windows = inp.expected
        return counts == expected_counts and (
            oracle.aggregates_delivered(os.path.join(out, "aggregates"))
            == expected_windows
        )

    def layer_metrics(self, st: probe.CallStats, out: str, job_s: float) -> dict:
        from pyspark.sql import functions as F

        from fluent_bit_spark.pipeline import (
            DEFAULT_REWRITES,
            DEFAULT_ROUTES,
            parse_stage,
            tag_stage,
        )
        from fluent_bit_spark.router import apply_rewrite_tag, fan_out_exploded
        from fluent_bit_spark.textprep.html import html_to_text_col

        m = {}
        targets = {"sinks": "sinks.write_s", "aggregates": "pipeline.aggregate_s",
                   "metrics": "pipeline.metrics_s"}
        for e in st.executions:
            for sub, name in targets.items():
                if WRITE_CMD in e.plan and f"{out}/{sub}" in e.plan:
                    m[name] = m.get(name, 0.0) + e.duration_s
        m["sources.readback_bytes"] = probe.scan_bytes(st.executions, os.path.join(out, "sinks"))
        m["router.fanout_ratio"] = sum(self.result.values()) / self.main.records

        df = self.spark.read.parquet(self.main.path)
        chain = [
            ("sources.scan_s", lambda d: d),
            ("textprep.html.self_s",
             lambda d: d.withColumn("text", html_to_text_col(F.col("html"), keep="body"))),
            ("pipeline.parse_stage.self_s", parse_stage),
            ("pipeline.tag_stage.self_s", tag_stage),
            ("router.rewrite_tag.self_s", lambda d: apply_rewrite_tag(d, DEFAULT_REWRITES)),
            ("router.fan_out.self_s", lambda d: fan_out_exploded(d, DEFAULT_ROUTES)),
        ]
        frames = []
        for name, stage in chain:
            df = stage(df)
            frames.append((name, df))
        m.update(prefix_self_times(self.ctx, frames, reps=3))
        # the single-thread baseline: the same job on local[1], compared
        # at the same point of the JIT warm-up (the first warm call)
        if self.first_warm:
            m["scaling.speedup_4v1"] = (run_baseline(self.ctx, self.name)
                                        / self.first_warm.wall_s)
        return m


class Classic(Batch):
    """The classic conf path. It is not a workload of its own: the
    traced stream run reports its layers (see ``classic_layers``)."""

    name = "classic_multi_output"
    WARM_SIZE = 200  # lines per input
    SIZE = 4_000
    FILES = 2

    def make_input(self, name: str, size: int) -> Input:
        base = os.path.join(self.base, name)
        conf = gen.write_classic_inputs(base, self.ctx.seed, size, self.FILES)
        dirs = [os.path.join(base, t) for t in gen.CLASSIC_PARSERS]
        return Input(conf, dirs, 2 * size, sum(gen.dir_bytes(d) for d in dirs),
                     oracle.classic_expected(*dirs))

    def prepare(self) -> None:
        super().prepare()
        self.counter_checked = False

    def call(self, inp: Input, out: str, group: str | None):
        from fluent_bit_spark.classic import (
            build_classic_pipeline,
            load_classic_conf,
            run_classic_outputs,
        )

        sc = self.spark.sparkContext
        tr = self.ctx.tracer
        with tr.span("classic.load_classic_conf"):
            sections = load_classic_conf(inp.path)
        with probe.job_group(sc, group and group + "-build"):
            with tr.span("classic.build_classic_pipeline"):
                pipe = build_classic_pipeline(self.spark, sections)
        with probe.job_group(sc, group), tr.span("classic.run_classic_outputs"):
            counts = run_classic_outputs(pipe, out)
        return pipe, counts

    def check(self, inp: Input, out: str, result) -> bool:
        pipe, counts = result
        exp = inp.expected
        ok = all(counts.get(oid) == exp[oid] for oid in ("file.0", "loki.1", "es.2"))
        # the es bulk body carries an action line before every record
        ok = ok and all(
            oracle.delivered_lines(os.path.join(out, oid)) == exp[oid] * per
            for oid, per in (("file.0", 1), ("loki.1", 1), ("es.2", 2))
        )
        ok = ok and counts.get("counter.3") == 1
        if self.counter_checked:
            return ok
        # out_counter delivers one row holding the count of its records;
        # reading it is one more job, so only the cold call pays for it
        self.counter_checked = True
        return ok and pipe.outputs["counter.3"].collect()[0]["count"] == exp["counter.3"]

    def call_stats(self, store, k: int) -> probe.CallStats:
        self.build_stats = store.call_stats(f"call-{k}-build", with_plans=False)
        return store.call_stats(f"call-{k}") + self.build_stats

    def layer_metrics(self, st: probe.CallStats, out: str, job_s: float) -> dict:
        from fluent_bit_spark.classic import build_classic_pipeline

        _, counts = self.result
        m = {
            "classic.build_jobs": self.build_stats.jobs,
            "classic.build_s": stats.median(
                self.ctx.tracer.durations("classic.build_classic_pipeline")),
            "router.fanout_ratio": sum(counts[o] for o in ("file.0", "loki.1", "es.2"))
            / self.main.records,
        }
        m.update(classic_output_times(st.executions, out))
        m["sinks.write_s"] = sum(v for n, v in m.items() if n.endswith(".deliver_s"))
        base = os.path.dirname(self.main.path)

        def records(**kw):
            return build_classic_pipeline(
                self.spark, gen.classic_conf(base, outputs=False, **kw)).records

        apache = [("apache.scan", records(inputs=("apache",), parsed=False, filters=0)),
                  ("parsers.apache2.self_s", records(inputs=("apache",), filters=0))]
        logfmt = [("logfmt.scan", records(inputs=("logfmt",), parsed=False, filters=0)),
                  ("parsers.logfmt.self_s", records(inputs=("logfmt",), filters=0))]
        names = ["parsed", "operators.grep.self_s", "operators.modify.self_s",
                 "enrich_mmdb.geoip2.self_s", "router.rewrite_tag.self_s"]
        filters = [(name, records(filters=i)) for i, name in enumerate(names)]
        for chain in (apache, logfmt, filters):
            m.update(prefix_self_times(self.ctx, chain))
        m["sources.scan_s"] = m.pop("apache.scan") + m.pop("logfmt.scan")
        m.pop("parsed")
        m["operators.grep.keep_ratio"] = filters[1][1].count() / filters[0][1].count()
        return m


# the layers only the classic conf path calls
CLASSIC_LAYERS = ("parsers.", "operators.", "enrich_mmdb.", "classic.", "delivery.")


def classic_layers(ctx: Ctx) -> Outcome:
    """Per-layer metrics of the classic conf (``jobs/run_classic.py``):
    a cold call on a small input, then one traced call on the measured
    input. Only the layers of that path are kept."""
    o = Classic(ctx, "classic").run(calls=1)
    o.metrics = {n: v for n, v in o.metrics.items() if n.startswith(CLASSIC_LAYERS)}
    return o


def classic_output_times(executions: list[probe.Execution], out: str) -> dict:
    """Per output: the time of its write(s) and of its count, from the
    call's SQL executions in submission order (run_classic_outputs
    writes, then counts, one output after the other). Extra writes to
    the same output are delivery retries."""
    m, retries = {}, 0
    todo = list(executions)
    for oid in gen.CLASSIC_OUTPUT_IDS:
        path = os.path.join(out, oid)
        writes = []
        while todo and WRITE_CMD in todo[0].plan and path in todo[0].plan:
            writes.append(todo.pop(0))
        if writes:
            m[f"classic.output.{oid}.deliver_s"] = sum(e.duration_s for e in writes)
            retries += len(writes) - 1
        count = todo.pop(0) if todo else None
        m[f"classic.output.{oid}.count_s"] = count.duration_s if count else 0.0
    m["delivery.retries"] = retries
    return m


# -------------------------------------------------------------- streaming


class Stream:
    """Open loop at a fixed rate, then one burst, over the streaming job.

    The rate (one 250-row file every 0.12 s, about 2k rows/s) is about
    a third of what the two queries drain in a burst on a 4-core host
    whose steal time reaches 20%: at 70% of the drain rate of a quiet
    host, the backlog grew without bound whenever the host got busy."""

    name = "stream_pipeline"
    ROWS = 250
    INTERVAL_S = 0.12
    BURST_FILES = 40
    WAIT_S = 60.0

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        base = os.path.join(ctx.work, "stream")
        self.dirs = {k: os.path.join(base, k) for k in ("stage", "in", "out", "ckpt", "plans")}
        for d in self.dirs.values():
            os.makedirs(d, exist_ok=True)
        self.landed: list[str] = []
        self.stamps: dict[str, tuple[float, float]] = {}  # name -> (due, landed)

    def _generate(self, n: int) -> None:
        """Write the run's ``n`` input files into the staging directory."""
        for i in range(n):
            gen.write_page_file(os.path.join(self.dirs["stage"], f"f{i:05d}.parquet"),
                                self.ctx.seed, self.ROWS, i)

    def _next(self, n: int) -> list[str]:
        """The next ``n`` staged files, in landing order."""
        k = len(self.landed)
        names = [f"f{i:05d}.parquet" for i in range(k, k + n)]
        self.landed.extend(names)
        return names

    def _land(self, names: list[str], interval: float, tag: str) -> None:
        """Land files through the lander process, ``interval`` apart."""
        plan = os.path.join(self.dirs["plans"], f"{tag}.json")
        out = os.path.join(self.dirs["plans"], f"{tag}.stamps.json")
        with open(plan, "w") as fh:
            json.dump({"start": time.time() + 0.3, "src": self.dirs["stage"],
                       "dst": self.dirs["in"],
                       "files": [[n, i * interval] for i, n in enumerate(names)]}, fh)
        proc = subprocess.Popen([sys.executable, os.path.join(HERE, "lander.py"), plan, out])
        try:
            proc.wait(timeout=len(names) * interval + 30)
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if proc.returncode != 0:
            raise RuntimeError(f"lander exited with {proc.returncode}")
        with open(out) as fh:
            for name, due, landed in json.load(fh)["files"]:
                self.stamps[name] = (due, landed)

    def _checkpoint(self, query: str) -> tuple[dict[str, int], dict[int, float]]:
        """(file -> first batch that read it, batch -> commit time) of
        one query, as far as it got."""
        ck = os.path.join(self.dirs["ckpt"], query)
        src, commits = os.path.join(ck, "sources", "0"), os.path.join(ck, "commits")
        if not (os.path.isdir(src) and os.path.isdir(commits)):
            return {}, {}
        return stats.first_batch_per_file(src), stats.commit_times(commits)

    def _await(self, names: list[str]) -> float:
        """Wait until both queries delivered ``names``; returns the
        latest commit time among them (inf if one never arrived)."""
        deadline = time.time() + self.WAIT_S
        while True:
            last = 0.0
            for q in ("routed", "aggregates"):
                first, commits = self._checkpoint(q)
                lat, missing = stats.file_latencies(first, commits, dict.fromkeys(names, 0.0))
                last = float("inf") if missing else max(last, *lat.values())
            if last != float("inf") or time.time() > deadline:
                return last
            time.sleep(0.05)

    def _idle(self, queries) -> None:
        """Wait until no query runs a batch: after a data batch the
        aggregate query runs a no-data batch to advance its watermark,
        and a burst landing during it would start late."""
        deadline, quiet = time.time() + 10, 0
        while quiet < 2 and time.time() < deadline:
            busy = any(q.status["isTriggerActive"] for q in queries)
            quiet = 0 if busy else quiet + 1
            time.sleep(0.05)

    def _burst(self, n: int, tag: str, queries=()) -> float:
        """Land ``n`` files at once, once ``queries`` are idle; seconds
        until both queries committed all of them."""
        self._idle(queries)
        names = self._next(n)
        self._land(names, 0.0, tag)
        return self._await(names) - self.stamps[names[0]][0]

    def _start(self):
        from fluent_bit_spark.streaming.job import start_aggregate_stream, start_routed_stream

        args = (self.spark, self.dirs["in"], self.dirs["out"], self.dirs["ckpt"])
        with self.ctx.tracer.span("streaming.start"):
            return (start_routed_stream(*args, available_now=False),
                    start_aggregate_stream(*args, available_now=False))

    def run(self) -> Outcome:
        o = Outcome()
        secs = self.ctx.seconds
        # 100 arrivals in 12 s, so p90 has 10 samples beyond it
        n_open = max(10, round(secs / self.INTERVAL_S))
        n_burst = self.BURST_FILES if secs >= 10 else 10
        self._generate(1 + n_open + n_burst)
        routed, aggregate = self._start()
        # this thread only lands files and polls the checkpoints; the
        # queries run in the JVM and call back into other threads
        observer = (threading.get_native_id(),)
        try:
            # the first file pays for the cold JVM, like a first job
            first = self._burst(1, "warm")
            open_names = self._next(n_open)
            t_open, cpu0 = time.time(), self.ctx.cpu(observer)
            self._land(open_names, self.INTERVAL_S, "open")
            self._await(open_names)
            drain = self._burst(n_burst, "burst", (routed, aggregate))
            cpu_s = self.ctx.cpu(observer) - cpu0
            wall = time.time() - t_open
        except Exception:
            traceback.print_exc()
            o.attempted, o.failed = max(1, len(self.landed)), max(1, len(self.landed))
            return o
        finally:
            routed.stop()
            aggregate.stop()
        first_batch, commits = self._checkpoint("routed")
        due = {n: self.stamps[n][0] for n in open_names}
        lat, _ = stats.file_latencies(first_batch, commits, due)
        per_sink, exp_sink, bad = oracle.stream_check(
            self.dirs["in"], os.path.join(self.dirs["out"], "sinks"), self.ROWS,
            self.landed)
        o.attempted = len(self.landed)
        o.failed = len(bad)
        if per_sink != exp_sink:
            print(f"stream: rows per sink {per_sink} != expected {exp_sink}", file=sys.stderr)
            o.failed = max(o.failed, 1)
        # the streaming job's time: what the routed query spent in its
        # micro-batches (trigger to commit, from its own progress) to
        # deliver every file after the cold first one
        batches = [p for p in routed.recentProgress if p["numInputRows"] > 0][1:]
        batch_s = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
        o.detail.update(first_job_s=first, burst_s=drain, open_files=n_open,
                        delivered_open=len(lat), batch_s=batch_s, phase_s=wall,
                        phase_cpu_s=cpu_s, bad_files=bad[:10])
        if not lat or not batch_s:
            return o
        phase_rows = (n_open + n_burst) * self.ROWS
        o.metrics = {"cpu_us_per_record": 1e6 * cpu_s / phase_rows}
        if self.ctx.traced:
            job_s = sum(batch_s)
            lat_s = list(lat.values())
            o.metrics = {
                "job_s": job_s,
                "records_per_s": sum(p["numInputRows"] for p in batches) / job_s,
                "latency_p50_s": stats.percentile(lat_s, 50),
                "latency_p90_s": stats.percentile(lat_s, 90),
            }
            o.metrics.update(self.trace(routed, aggregate, open_names, lat,
                                        first - stats.median(batch_s), wall,
                                        sum(per_sink.values())))
            o.metrics["streaming.burst_drain_s"] = drain
            # after the queries stopped, so the two do not overlap
            classic = classic_layers(self.ctx)
            o.attempted += classic.attempted
            o.failed += classic.failed
            o.metrics.update(classic.metrics)
            o.detail["classic"] = classic.detail
        return o

    def trace(self, routed, aggregate, open_names, lat, cold_overhead, wall,
              routed_rows) -> dict:
        store = probe.StatusStore(self.spark)

        def data(q):
            return [p for p in q.recentProgress if p["numInputRows"] > 0]

        def dur(q, key):
            return [p["durationMs"].get(key, 0) / 1e3 for p in data(q)]

        both = sum((store.call_stats(str(q.runId), description=f"runId = {q.runId}")
                    for q in (routed, aggregate)), probe.CallStats())
        batches = len(data(routed)) + len(data(aggregate))
        m = exec_metrics(both, wall, self.ctx.cores)
        m["spark.jobs"] = both.jobs / batches
        m["spark.tasks"] = both.tasks / batches
        land_bytes = gen.dir_bytes(self.dirs["in"])
        m["sources.scan_amplification"] = (
            probe.scan_bytes(both.executions, self.dirs["in"]) / land_bytes)
        sinks = os.path.join(self.dirs["out"], "sinks")
        writes = [e.duration_s for e in both.executions
                  if WRITE_CMD in e.plan and sinks in e.plan]
        m["sinks.write_s"] = stats.median(writes) if writes else 0.0
        m["sinks.output_bytes"] = gen.dir_bytes(self.dirs["out"])
        m["router.fanout_ratio"] = routed_rows / (len(self.landed) * self.ROWS)
        first_batch, _ = self._checkpoint("routed")
        open_batches = [first_batch[n] for n in open_names if n in first_batch]
        m["streaming.files_per_batch"] = len(open_batches) / max(len(set(open_batches)), 1)
        m["streaming.backlog_files_max"] = stats.backlog_max(
            [self.stamps[n][0] for n in open_names],
            [self.stamps[n][0] + lat[n] for n in lat])
        m["generator.late_s_max"] = max(self.stamps[n][1] - self.stamps[n][0]
                                        for n in open_names)
        m["streaming.routed.batch_s_p50"] = stats.median(dur(routed, "triggerExecution"))
        m["streaming.aggregate.batch_s_p50"] = stats.median(dur(aggregate, "triggerExecution"))
        m["streaming.query_planning_s"] = stats.median(
            dur(routed, "queryPlanning") + dur(aggregate, "queryPlanning"))
        state = (aggregate.lastProgress or {}).get("stateOperators") or [{}]
        m["streaming.aggregate.state_rows"] = state[0].get("numRowsTotal", 0)
        m["streaming.aggregate.state_bytes"] = state[0].get("memoryUsedBytes", 0)
        m["spark.cold_overhead_s"] = cold_overhead
        # every stream counter is read after the queries stopped, so
        # tracing adds nothing to the timed region
        m["trace.overhead_s"] = 0.0
        return m


WORKLOADS = {w.name: w for w in (Flagship, Stream)}
