"""Tag-based routing: match rules, rewrite_tag, multi-sink fan-out.

Reference:
- router_match glob semantics: /root/reference/src/flb_router.c:38-103
  (compiled in functions/globmatch.py)
- static route table built once at boot: flb_router.c:167-242
- per-chunk routes bitmask: src/flb_routes_mask.c:31-67
- filter_rewrite_tag: plugins/filter_rewrite_tag/rewrite_tag.c:116-180
  (rules), :350-400 (apply via flb_ra_translate), keep flag drops or
  keeps the original record.

Spark design for 100 TB:
- The route table is compiled ONCE per JVM (like the reference's
  boot-time wiring): each route's glob becomes a constant-folded
  predicate inside ``routes_mask_col``.
- Fan-out is a single-pass exploded write: materialize
  ``sinks: array<string>`` (the routes bitmask as data), explode, write
  once partitioned by sink; one shuffle-free pass over the data,
  whatever the sink count. This mirrors the reference's bitmask exactly.
- rewrite_tag is a bounded second routing pass: the reference re-emits
  through in_emitter (plugins/in_emitter/emitter.c:123) and re-routes;
  here the rewritten rows are unioned and routing predicates are
  evaluated again (one extra pass, no loop).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fluent_bit_spark.functions.accessor import ra_col, ra_key_present, ra_translate_col
from fluent_bit_spark.functions.globmatch import tag_match_col
from fluent_bit_spark.parsers.compile import to_java_regex
from fluent_bit_spark.session import per_jvm


@dataclass
class Route:
    sink: str
    match: str  # tag glob


@dataclass
class RewriteTagRule:
    key: str  # record-accessor path
    pattern: str  # regex the value must match
    new_tag: str  # template: $TAG, $TAG[n], $key, $0..$9
    keep: bool  # keep the original record too?


def routes_mask_col(routes: list[Route], tag_col: str = "tag") -> Column:
    """The routes bitmask as data: array of sink names this row hits
    (flb_routes_mask_set_by_tag). Enables single-pass fan-out."""
    pairs = [
        F.when(tag_match_col(tag_col, r.match), F.lit(r.sink)) for r in routes
    ]
    arr = F.array(*pairs)
    return F.filter(arr, lambda x: x.isNotNull())


@per_jvm
def _sinks_explode(routes: list[Route], tag_col: str) -> Column:
    return F.explode(routes_mask_col(routes, tag_col))


def fan_out_exploded(
    df: DataFrame,
    routes: list[Route],
    tag_col: str = "tag",
    sink_col: str = "sink",
) -> DataFrame:
    """Single-pass fan-out: one row per (record, matched sink).

    Write with ``.write.partitionBy(sink_col)`` for a one-scan
    multi-sink delivery; rows matching no route disappear (the
    reference drops chunks with an empty routes mask)."""
    return df.withColumn(sink_col, _sinks_explode(routes, tag_col))


def _tags_col(
    rules: list[RewriteTagRule],
    present: tuple[bool, ...],
    tag_col: str,
    scope: Column | None = None,
) -> Column:
    """Each row's surviving tag set under ``rules``; ``present[i]``
    says whether rule i's key resolves in the frame (see
    ``ra_key_present``)."""
    # matched_i: rule i fires (and no earlier rule fired)
    fired_any: Column = F.lit(False)
    new_tag: Column = F.lit(None).cast("string")
    keep_original: Column = F.lit(True)
    for rule, has_key in zip(rules, present):
        value = (ra_col(rule.key, tag_col) if has_key else F.lit(None)).cast("string")
        java_rx = to_java_regex(rule.pattern)
        m = F.coalesce(value.rlike(java_rx), F.lit(False))
        if scope is not None:
            # Match-scoped application (classic mode): rules only fire
            # on scoped rows — single scan, no plan branching
            m = m & scope
        fires = m & ~fired_any
        captures = {
            i: F.regexp_extract(value, java_rx, i)
            for i in range(_n_groups(rule.pattern) + 1)
        }
        tag_expr = ra_translate_col(rule.new_tag, tag_col, captures=captures)
        new_tag = F.when(fires, tag_expr).otherwise(new_tag)
        keep_original = F.when(fires, F.lit(rule.keep)).otherwise(keep_original)
        fired_any = fired_any | m

    # ONE pass: each row expands to its surviving tag set (original if
    # kept + rewritten if a rule fired) and explodes. The union-of-two-
    # branches formulation would evaluate the whole upstream plan twice
    # (at 10^12 rows: a second full parse of the table); explode keeps
    # a single scan and the same output multiset.
    return F.when(
        new_tag.isNotNull() & keep_original, F.array(F.col(tag_col), new_tag)
    ).when(
        new_tag.isNotNull(), F.array(new_tag)
    ).otherwise(F.array(F.col(tag_col)))


# the unscoped tag set is the same Column on every call; classic's
# Match-scoped calls carry a scope Column and build their own
_unscoped_tags_col = per_jvm(_tags_col)


def apply_rewrite_tag(
    df: DataFrame,
    rules: list[RewriteTagRule],
    tag_col: str = "tag",
    scope: Column | None = None,
) -> DataFrame:
    """Bounded second routing pass for rewrite_tag.

    For each record the FIRST rule whose regex matches the key's value
    fires (rewrite_tag.c:350-400 iterates rules and emits on match):
    a copy is re-emitted with the translated tag; the original is kept
    only if the firing rule's keep is true. Non-matching records pass
    through untouched. Output = originals-kept UNION rewritten —
    routing must be re-evaluated by the caller on the result.
    """
    if not rules:
        return df
    columns = df.columns
    present = tuple(ra_key_present(columns, r.key) for r in rules)
    if scope is None:
        tags = _unscoped_tags_col(rules, present, tag_col)
    else:
        tags = _tags_col(rules, present, tag_col, scope)
    return (
        df.withColumn("_tags", tags)
        .withColumn(tag_col, F.explode(F.col("_tags")))
        .drop("_tags")
    )


def _n_groups(pattern: str) -> int:
    """Number of capturing groups (for $0..$9 capture refs)."""
    from fluent_bit_spark.parsers.compile import to_python_regex

    return re.compile(to_python_regex(pattern)).groups

