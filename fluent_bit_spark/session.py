"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100 TB target (AQE on, skew-join on, sane
shuffle partitioning) while remaining correct on local[N] test runs.
"""

from __future__ import annotations

import dataclasses
import functools
import os
from collections import OrderedDict

from pyspark import SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fluent-bit-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for the pipeline.

    - AQE enabled: runtime coalescing of shuffle partitions and skew-join
      splitting (hot web domains are Zipf-distributed — skew is the norm).
    - Arrow enabled: every pandas UDF transfers columnar batches.
    - ``spark.sql.shuffle.partitions`` sized to cores locally; on a real
      cluster AQE coalesces from a high initial number, so the static
      setting only matters as the AQE upper bound.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # zstd: same write speed as snappy on the routed-sink bench
        # (7.6s vs 7.7s for 2M pages) at 33% smaller files — at the
        # 100 TB target that is storage AND downstream-scan savings
        .config("spark.sql.parquet.compression.codec", "zstd")
        # logfmt/ltsv duplicate keys: last occurrence wins (C dict
        # overwrite semantics; needed by logfmt_map_fast_col)
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # InferFiltersFromGenerate injects Filter(size(tags)>0) below
        # the fan-out/rewrite explodes; that filter inlines the whole
        # parse expression tree and re-evaluates it per row (3-6x the
        # scan cost at 10^12 rows). Generate(outer=false) already
        # drops empty arrays, so the inferred filter is pure loss here.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()


def _freeze(value):
    """A hashable stand-in for a builder argument: dataclasses (routes,
    rewrite rules) become tuples of their fields, lists tuples."""
    if dataclasses.is_dataclass(value):
        return dataclasses.astuple(value)
    if isinstance(value, (list, tuple)):
        return tuple(_freeze(v) for v in value)
    return value


# one memo for every per_jvm builder: (gateway, builder, args) -> Columns
_MEMO: OrderedDict = OrderedDict()


def per_jvm(fn):
    """Memoize a Column builder once per JVM, like ``functools.lru_cache``.

    Unresolved Columns depend on no DataFrame, so a plan builder can
    hand the same Column objects to every later call, the way fluent-bit
    compiles its routes and record accessors once at config load
    (flb_record_accessor.c:291-313). The key is the live py4j gateway
    (``SparkContext._gateway``: a new JVM starts afresh), the builder
    and its positional arguments, with routes and rules entered as
    tuples of their fields. The 256 most recently used keys are kept;
    ``per_jvm.cache_clear()`` empties the memo.
    """

    @functools.wraps(fn)
    def cached(*args):
        key = (SparkContext._gateway, fn, _freeze(args))
        if key in _MEMO:
            _MEMO.move_to_end(key)
            return _MEMO[key]
        value = _MEMO[key] = fn(*args)
        if len(_MEMO) > 256:
            _MEMO.popitem(last=False)
        return value

    return cached


per_jvm.cache_clear = _MEMO.clear
