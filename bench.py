"""Benchmark harness (driver-run: records BENCH_r{N}.json).

Runs the headline queries from __spark_entry__ at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], plus a
synthetic-pages flagship throughput run (datagen -> full
parse->enrich->route->aggregate pipeline), and prints ONE JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <sf>,
     "pipeline_docs_per_sec": ..., "pipeline_mb_per_sec": ...}

Results are forced with a noop-format write (full materialization,
no driver collect).

Noise robustness: every query runs BENCH_REPS times, INTERLEAVED
(rep 1 of all queries, then rep 2, ...), and the headline number per
query is the best rep — transient host contention hits one rep of one
query, not the artifact (the round-2 artifact was contaminated by
exactly that). All reps are recorded under "query_reps" so the spread
is visible. Env knobs:
    SPARK_GRAFT_SF_DIR   input dir (default /root/testdata/sf0.1)
    SPARK_GRAFT_CPUS     local[] parallelism (default all cores)
    BENCH_PAGES_ROWS     synthetic pipeline rows (default 2_000_000)
    BENCH_QUERIES        comma list to restrict query set
    BENCH_REPS           reps per query (default 3, best-of)
    BENCH_PIPELINE_REPS  reps of the synthetic pipeline (default 2)
    BENCH_SINK_DIR       where the pipeline sink write lands (default:
                         /dev/shm if it has a quarter of the host's
                         memory free, else $TMPDIR)

Disk-noise robustness: this sandbox's single virtio disk throttles
intermittently and severely — the identical pipeline rep measured
11.7s, 34s, and 266s across runs with zero code change (round-3
artifacts, 2026-08-17 22:55 vs 23:41 vs 00:12). On a real cluster
every executor writes to its OWN local disk, so a shared noisy-
neighbor disk is a sandbox artifact, not a property of the pipeline.
The sink write and Spark's shuffle/spill dirs therefore default to
tmpfs (/dev/shm) when it has headroom: the bytes are still fully
materialized and read back for the rollup — only the unmodelable
device is taken out of the measurement. Set BENCH_SINK_DIR=/tmp to
measure the physical disk instead.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pipeline_e2e",
    "corpus_prep",
    "curation_pipeline",
    "corpus_stream",
    "q1_pricing_summary",
    "enrich_broadcast",
    "geoip2",
    "router_fanout",
    "rewrite_tag",
    "sp_aggregate",
    "sp_tumbling",
    "sp_hopping",
    "sessionize",
    "sp_create_stream",
    "multiline_java",
    "decoder_chain",
    "filter_parser",
    "grok_parse",
    "type_converter",
    "classic_conf",
    "yaml_conf",
    "flowcounter",
    "throttle",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "incremental_dedup",
    "substring_dedup",
    "dedup_simhash",
    "fingerprint",
    "token_count",
    "html_extract",
    "quality_score",
    "lang_id",
    "lm_score",
    "url_filter",
    "gopher_quality",
    "line_repetition",
    "dedup_lines",
    "top_bigram",
    "domain_cap",
    "stratified_sample",
    "token_budget",
    "bpe_word_counts",
    "bpe_tokenize",
    "length_quantiles",
    "text_normalize",
    "corpus_shuffle",
    "doc_chunks",
    "hash_embed",
    "rag_chunk_topk",
    "rag_chunk_lsh",
    "sequence_pack",
    "corpus_split",
    "pii_scrub",
    "c4_line_filter",
    "decontam",
    "decontam_bloom",
    "dedup_exact_stream",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "ann_quantized",
    "embedding_clusters",
    "multimodal_features",
    "multimodal_decode",
    "multimodal_pixels",
    "multimodal_resize",
    "multimodal_resample",
]


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat — this VM runs on a
    heavily shared hypervisor (cumulative steal measured at ~87% of
    user ticks), so each rep records its steal%% to make contaminated
    measurements self-documenting in the artifact."""
    try:
        parts = open("/proc/stat").readline().split()[1:]
        vals = [int(x) for x in parts]
        return sum(vals), vals[7] if len(vals) > 7 else 0
    except (OSError, ValueError):
        return 0, 0


def _driver_memory(host_bytes: int) -> str:
    """Half the host's memory, between 1g and 32g: in local mode the
    driver heap also hosts the executors' tasks, and tmpfs and the OS
    need the rest."""
    return f"{max(1, min(32, host_bytes // 2 // (1 << 30)))}g"


def _tmpfs_base(min_free: int) -> str | None:
    """/dev/shm if present with ``min_free`` bytes free, else None (use
    $TMPDIR)."""
    base = "/dev/shm"
    try:
        st = os.statvfs(base)
        if st.f_bavail * st.f_frsize >= min_free:
            return base
    except OSError:
        pass
    return None


def main() -> None:
    # tmpfs pages come out of the same memory as the heap: the heap
    # takes half of it and the sink write and shuffle may take a
    # quarter (both set before the JVM starts)
    host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", _driver_memory(host_bytes))
    tmpfs_min_free = host_bytes // 4
    # shuffle/spill on tmpfs for the same reason as the sink write
    # (see module docstring)
    tmpfs = _tmpfs_base(tmpfs_min_free)
    if tmpfs and "SPARK_LOCAL_DIRS" not in os.environ:
        local_dir = os.path.join(tmpfs, "fbs_bench_local")
        os.makedirs(local_dir, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local_dir

    import __spark_entry__ as entry
    from fluent_bit_spark.datagen import generate_pages
    from fluent_bit_spark.pipeline import build_pipeline, run_to_sinks
    from fluent_bit_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="fbs-bench")

    from fluent_bit_spark.cache import release_all

    qs_all = entry.queries()
    # full-registry coverage (VERDICT r3 #8): HEADLINE fixes the
    # ordering of the curated set, then every remaining registry
    # entry is appended so BENCH times all of queries() — a new
    # registry entry can never silently miss the bench
    names = HEADLINE + [q for q in qs_all if q not in HEADLINE]
    if os.environ.get("BENCH_QUERIES"):
        names = os.environ["BENCH_QUERIES"].split(",")
    reps = int(os.environ.get("BENCH_REPS", "3"))
    qs = qs_all

    # JVM/codegen warmup outside the timed region
    force(qs["token_count"](spark, sf_dir))
    release_all()

    # flagship synthetic pipeline throughput through run_to_sinks: ONE
    # pass writes routed sink partitions (the delivery), then
    # aggregates roll up from the written columnar output — the
    # production shape at 100 TB (never recompute the parse for the
    # rollup)
    n_rows = int(os.environ.get("BENCH_PAGES_ROWS", "2000000"))
    # BENCH_SINK=parquet (default): full delivery — partitioned sink
    # write + rollup from the written files (production shape; on one
    # machine this is DISK-bound, so use it for absolute throughput).
    # BENCH_SINK=noop: compute-only path (parse->route->aggregate with
    # no I/O) — use for CPU-scaling comparisons, where per-executor
    # disks would scale on a real cluster but a laptop's single disk
    # does not.
    sink_mode = os.environ.get("BENCH_SINK", "parquet")
    import shutil
    import tempfile

    sink_base = os.environ.get("BENCH_SINK_DIR") or tmpfs or None

    pipe_reps = int(os.environ.get("BENCH_PIPELINE_REPS", "2"))
    # steady-state methodology: run the SAME plan once at small scale
    # first so codegen compilation + JIT happen outside the timed
    # region (a long-running cluster job pays these once per executor
    # lifetime, not per 2M rows). The warmup exercises the SAME sink
    # path as the timed reps (parquet committer + read-back included).
    if pipe_reps:
        warm = build_pipeline(generate_pages(spark, 100_000), from_html=True)
        if sink_mode == "noop":
            force(warm.routed.drop("html"))
            force(warm.aggregates)
        else:
            warm_dir = tempfile.mkdtemp(prefix="fbs_bench_warm_", dir=sink_base)
            run_to_sinks(warm, warm_dir)
            shutil.rmtree(warm_dir, ignore_errors=True)

    pages = generate_pages(spark, n_rows)
    pipe_times: list[float] = []
    pipe_steal: list[float] = []

    def pipeline_rep() -> None:
        tk0, st0 = _cpu_ticks()
        t0 = time.perf_counter()
        result = build_pipeline(pages, from_html=True)
        if sink_mode == "noop":
            force(result.routed.drop("html"))
            force(result.aggregates)
        else:
            sink_dir = tempfile.mkdtemp(prefix="fbs_bench_sinks_", dir=sink_base)
            run_to_sinks(result, sink_dir)
            shutil.rmtree(sink_dir, ignore_errors=True)
        pipe_times.append(round(time.perf_counter() - t0, 3))
        tk1, st1 = _cpu_ticks()
        pipe_steal.append(round(100 * (st1 - st0) / max(tk1 - tk0, 1), 1))

    # pipeline reps are INTERLEAVED with the query rounds (one after
    # each round) — a steal/disk window late in the run used to hit
    # BOTH pipeline reps, since they ran back-to-back at the end
    rep_times: dict[str, list[float]] = {n: [] for n in names}
    rep_steal: dict[str, list[float]] = {n: [] for n in names}
    for _rep in range(reps):
        for name in names:
            tk0, st0 = _cpu_ticks()
            t0 = time.perf_counter()
            force(qs[name](spark, sf_dir))
            rep_times[name].append(round(time.perf_counter() - t0, 3))
            tk1, st1 = _cpu_ticks()
            rep_steal[name].append(round(100 * (st1 - st0) / max(tk1 - tk0, 1), 1))
            # operators release their persisted intermediates here so
            # nothing accumulates in the storage layer across queries
            release_all()
        if len(pipe_times) < pipe_reps:
            pipeline_rep()
    while len(pipe_times) < pipe_reps:
        pipeline_rep()
    timings: dict[str, float] = {n: min(ts) for n, ts in rep_times.items()}
    # BENCH_PIPELINE_REPS=0 skips the synthetic pipeline (query-only runs)
    pipeline_sec = min(pipe_times) if pipe_times else None
    if pipe_times:
        rep_times["pipeline_synthetic"] = pipe_times
        rep_steal["pipeline_synthetic"] = pipe_steal
        timings["pipeline_synthetic"] = round(pipeline_sec, 3)
    # text bytes processed (deterministic datagen; measured once, cheap)
    total_bytes = (
        pages.selectExpr("sum(length(text)) b").first()["b"] if pipe_times else 0
    )

    total = round(sum(timings.values()), 3)
    # Per-rep spread + steal%% go to a sidecar file, NOT stdout: the
    # r3 driver artifact captured only a truncated tail of the (huge)
    # single JSON line and recorded parsed=None, so the stdout line
    # must stay small enough to survive the driver's capture window.
    detail_path = os.environ.get("BENCH_DETAIL_PATH", "BENCH_DETAIL.json")
    try:
        with open(detail_path, "w") as fh:
            json.dump(
                {"query_reps": rep_times, "query_steal_pct": rep_steal},
                fh,
            )
    except OSError:
        pass
    # The driver records only the LAST ~2000 chars of stdout and
    # json-parses them (BENCH_r3/r4 recorded parsed=null because the
    # full 139-query dict pushed the line past that window, truncating
    # its head). The stdout line therefore carries the headline
    # numbers plus as many per-query timings as fit under the window;
    # the COMPLETE per-query timings/reps/steal%% always live in
    # BENCH_DETAIL.json (committed to the repo) regardless.
    payload = {
        "metric": "headline query suite + synthetic parse->route->aggregate pipeline, wall sec",
        "value": total,
        "unit": "sec",
        "queries": dict(timings),
        "suite_queries": len(timings),
        "reps": reps,
        "detail": detail_path,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "pipeline_rows": n_rows,
        "pipeline_docs_per_sec": (
            round(n_rows / pipeline_sec, 1) if pipeline_sec else None
        ),
        "pipeline_mb_per_sec": (
            round(total_bytes / 1e6 / pipeline_sec, 2) if pipeline_sec else None
        ),
        "cpus": spark.sparkContext.defaultParallelism,
        "sink_mode": sink_mode if pipe_times else None,
        "sink_media": (
            ("tmpfs" if (sink_base or "").startswith("/dev/shm") else "disk")
            if pipe_times and sink_mode != "noop"
            else None
        ),
        "host_memory_bytes": host_bytes,
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
        "tmpfs_min_free_bytes": tmpfs_min_free,
    }
    line = json.dumps(payload)
    # Trim cheapest-first so the headline numbers (the synthetic
    # pipeline + the most expensive suite queries) survive in stdout;
    # everything dropped here is still in BENCH_DETAIL.json.
    dropped = 0
    qnames = sorted(
        (n for n in payload["queries"] if n != "pipeline_synthetic"),
        key=lambda n: payload["queries"][n],
        reverse=True,
    )
    while len(line) > 1800 and qnames:
        payload["queries"].pop(qnames.pop())
        dropped += 1
        payload["queries_in_detail_only"] = dropped
        line = json.dumps(payload)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
