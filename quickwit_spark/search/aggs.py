"""Aggregations over query matches (reference §2.7 surface).

The reference delegates aggregations to tantivy's ES-compatible module
(`quickwit-search/src/collector.rs:601-628`), computing per-split
intermediate states merged at the root (`collector.rs:565-585`) —
exactly Spark's partial/final hash aggregation. Supported set per
`docs/reference/aggregation.md:96-112`: bucket (histogram,
date_histogram, range, terms) and metric (avg/count/max/min/sum/stats,
percentiles, cardinality).

Every function takes the match DataFrame already joined to the docmap
(the "fast fields" — `matches(searcher, query)` builds it) and returns
a plain DataFrame, so Catalyst plans the whole thing: the posting scan,
the docmap join, and a 2-phase groupBy aggregation, with column pruning
down to the aggregated field only.

Scale note: at 10^12 docs the match set for sparse queries is small
(posting-driven); for match-all aggregations the plan degenerates to a
straight scan+groupBy of the docmap Parquet — the same shape the
reference handles with per-split aggregation workers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# `terms_agg_for_query`'s per-segment Arrow-cogroup tier runs on
# searches over [MIN, MAX) docs, measured on the bench corpus: below
# ~1M docs the plain join is faster (one fewer Python-worker stage:
# 0.7 vs 1.1 s at 200k); above ~8M the join wins again because the
# cogroup converts the whole docmap through Arrow into Python — an
# O(corpus) Python-side cost — while the join's SMJ + partial agg stays
# inside whole-stage codegen (measured at 20M docs: join 3.9 s vs
# cogroup 6.9 s; at 2M: join 2.1 s vs cogroup 1.3 s).
_COGROUP_MIN_DOCS = 1_000_000
_COGROUP_MAX_DOCS = 8_000_000


def matches(searcher, query, time_range=None, columns: list[str] | None = None) -> DataFrame:
    """Matching docs joined to their docmap (fast-field) columns."""
    m = searcher.match_docs(query, time_range=time_range)
    docs = searcher.docs()
    if columns is not None:
        docs = docs.select("segment_id", "doc_id", "doc_key", *columns)
    return docs.join(m.select("segment_id", "doc_id"), ["segment_id", "doc_id"], "inner")


def terms_agg_for_query(
    searcher, query, field: str, size: int = 10, time_range=None
) -> DataFrame:
    """Terms agg over a query's matches with a tiered physical plan —
    the scale path for the `matches → terms_agg` composition, which
    shuffles the full match set AND the docmap into a join before
    grouping (3.4× at 10× corpus in the r4 scale study):

      1. match-all, no filter → straight docmap scan + 2-phase groupBy
         (zero joins; the reference's per-split agg over every doc),
      2. match-all + fast-field filter → the filter pushes into the
         docmap scan, then groupBy (no kernel, no join),
      3. text query → per-segment Arrow cogroup: the kernel's match
         list meets the docmap's agg column inside one zero-copy numpy
         kernel per segment (bitmap membership + value_counts), so
         only per-segment PARTIAL counts shuffle to the final
         aggregation — the two full-frame join exchanges and their
         sorts disappear (measured 2.4 s → 1.4 s at 2 M docs).

    Same result contract as `terms_agg`: top `size` (key, doc_count),
    count desc then key asc."""
    import numpy as np
    import pyarrow as pa

    ast, fast_filter, seg_ids = searcher._resolve(query, time_range)
    col = searcher._fcol(field) if hasattr(searcher, "_fcol") else field
    from quickwit_spark.query.ast import MatchAll

    if isinstance(ast, MatchAll):
        docs = searcher._seg_pred_filter(searcher.docs(), seg_ids)
        if fast_filter is not None:
            docs = docs.filter(fast_filter)
        return terms_agg(docs.select(F.col(col).alias(field)), field, size)

    # the cogroup tier's doc-count window (`_COGROUP_MIN_DOCS`,
    # `_COGROUP_MAX_DOCS`); outside it, stay JVM
    searched = set(seg_ids) if seg_ids is not None else None
    n_docs = sum(
        s.num_docs
        for s in searcher.segments
        if searched is None or s.segment_id in searched
    )
    if not (_COGROUP_MIN_DOCS <= n_docs < _COGROUP_MAX_DOCS):
        m = searcher.match_docs(
            query, time_range=time_range, _resolved=(ast, fast_filter, seg_ids)
        ).select("segment_id", "doc_id")
        joined = (
            searcher._seg_pred_filter(searcher.docs(), seg_ids)
            .select("segment_id", "doc_id", F.col(col).alias(field))
            .join(m, ["segment_id", "doc_id"], "inner")
        )
        return terms_agg(joined, field, size)

    m = searcher.match_docs(
        query, time_range=time_range, _resolved=(ast, fast_filter, seg_ids)
    ).select("segment_id", "doc_id")
    docs = searcher._seg_pred_filter(searcher.docs(), seg_ids).select(
        "segment_id", "doc_id", F.col(col).cast("string").alias("key")
    )

    def partial_counts(left: pa.Table, right: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        ids = np.asarray(left.column("doc_id"))
        empty = pa.table(
            {
                "key": pa.array([], type=pa.string()),
                "cnt": pa.array([], type=pa.int64()),
            }
        )
        if len(ids) == 0 or right.num_rows == 0:
            return empty
        hi = int(ids.max()) + 1
        member = np.zeros(hi, dtype=bool)
        member[ids] = True
        rids = np.asarray(right.column("doc_id"))
        in_range = rids < hi
        hit_idx = np.flatnonzero(in_range)[member[rids[in_range]]]
        if len(hit_idx) == 0:
            return empty
        keys = pc.take(right.column("key"), pa.array(hit_idx))
        vc = pc.value_counts(keys.combine_chunks())
        return pa.table(
            {
                "key": vc.field("values"),
                "cnt": pc.cast(vc.field("counts"), pa.int64()),
            }
        )

    partial = (
        m.groupBy("segment_id")
        .cogroup(docs.groupBy("segment_id"))
        .applyInArrow(partial_counts, "key string, cnt long")
    )
    return (
        partial.groupBy("key")
        .agg(F.sum("cnt").alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


def terms_agg(df: DataFrame, field: str, size: int = 10) -> DataFrame:
    """ES `terms` bucket agg: top `size` values by doc_count.

    Deterministic order: doc_count desc, key asc (the reference breaks
    count ties by key). → (key, doc_count)."""
    return (
        df.groupBy(F.col(field).cast("string").alias("key"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


def date_histogram(df: DataFrame, field: str, unit: str = "day") -> DataFrame:
    """ES `date_histogram` with calendar interval `unit` (day/hour/...).

    → (bucket timestamp, doc_count), min_doc_count=1 semantics (empty
    buckets omitted, like the reference's default)."""
    return (
        df.groupBy(F.date_trunc(unit, F.col(field)).alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("bucket")
    )


def histogram(df: DataFrame, field: str, interval: float, offset: float = 0.0) -> DataFrame:
    """ES numeric `histogram`: bucket key = floor((v-offset)/interval)*interval+offset."""
    key = (
        F.floor((F.col(field) - F.lit(offset)) / F.lit(interval)) * F.lit(interval)
        + F.lit(offset)
    ).cast("double")
    return (
        df.groupBy(key.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .orderBy("bucket")
    )


def range_agg(df: DataFrame, field: str, ranges: list[tuple]) -> DataFrame:
    """ES `range` agg: half-open buckets [lo, hi). ranges = [(label, lo, hi)],
    lo/hi None = unbounded. → (key, doc_count) in given order."""
    expr = None
    c = F.col(field)
    for label, lo, hi in ranges:
        cond = F.lit(True)
        if lo is not None:
            cond = cond & (c >= lo)
        if hi is not None:
            cond = cond & (c < hi)
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    order = {label: i for i, (label, _, _) in enumerate(ranges)}
    mapping = F.create_map(*[F.lit(x) for kv in order.items() for x in kv])
    return (
        df.select(expr.alias("key"))
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(F.count(F.lit(1)).alias("doc_count"))
        .withColumn("_ord", mapping[F.col("key")])
        .orderBy("_ord")
        .drop("_ord")
    )


def stats_agg(df: DataFrame, field: str) -> DataFrame:
    """ES `stats` metric: one row (count, min, max, sum, avg)."""
    c = F.col(field).cast("double")
    return df.agg(
        F.count(c).alias("count"),
        F.min(c).alias("min"),
        F.max(c).alias("max"),
        F.sum(c).alias("sum"),
        F.avg(c).alias("avg"),
    )


def cardinality(df: DataFrame, field: str, exact: bool = False) -> DataFrame:
    """ES `cardinality` metric. exact=False uses HLL++ (the reference uses
    a sketch too); exact=True is the oracle-comparable variant."""
    c = F.col(field)
    agg = F.countDistinct(c) if exact else F.approx_count_distinct(c)
    return df.agg(agg.cast("long").alias("value"))


def terms_with_metrics(
    df: DataFrame,
    field: str,
    metrics: dict[str, tuple[str, str]],
    size: int = 10,
) -> DataFrame:
    """ES sub-aggregation: a `terms` bucket with nested metric aggs —
    `metrics` maps output name → (metric, column), metric ∈
    {avg,sum,min,max,count}. One 2-phase groupBy; the reference nests
    per-bucket aggregation states the same way (partial → final merge).
    → (key, doc_count, <metric cols…>)."""
    fns = {"avg": F.avg, "sum": F.sum, "min": F.min, "max": F.max, "count": F.count}
    aggs_ = [F.count(F.lit(1)).alias("doc_count")] + [
        fns[m](F.col(c).cast("double")).cast("double").alias(name)
        for name, (m, c) in metrics.items()
    ]
    return (
        df.groupBy(F.col(field).cast("string").alias("key"))
        .agg(*aggs_)
        .orderBy(F.col("doc_count").desc(), F.col("key").asc())
        .limit(size)
    )


def percentiles(
    df: DataFrame,
    field: str,
    qs: list[float] | None = None,
    exact: bool = False,
    accuracy: int = 10000,
) -> DataFrame:
    """ES `percentiles` metric. The default mirrors the reference's
    t-digest sketch with Spark's mergeable `percentile_approx` — the
    right shape at scale (bounded per-group state, partial/final merge,
    never a full per-group sort/materialize). `exact=True` switches to
    `percentile` (linear interpolation, matches SQL percentile_cont) —
    the oracle-comparable variant, mirroring `cardinality(exact=)`."""
    qs = qs or [0.5, 0.9, 0.99]
    fn = (
        (lambda q: F.expr(f"percentile({field}, {q})"))
        if exact
        else (lambda q: F.percentile_approx(F.col(field), q, accuracy))
    )
    cols = [fn(q).cast("double").alias(f"p{int(q*100)}") for q in qs]
    return df.agg(*cols)
