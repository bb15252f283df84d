"""ES `aggs` JSON → DataFrame aggregation plans.

The reference accepts the ES aggregation DSL in `_search` bodies and
hands it to tantivy's aggregation module
(`quickwit-search/src/collector.rs:601-628`; supported set
`docs/reference/aggregation.md:96-112`, exercised by
`rest-api-tests/scenarii/es_compatibility/0004-term_aggregations.yaml`,
`0020-stats.yaml`).

Bucket nesting is ARBITRARY depth (tantivy nests bucket aggregations
recursively): a chain of bucket levels lowers to one groupBy per level
(each level's doc_count + its metric sub-aggs ride that level's
shuffle) assembled by joins on the key prefixes. Truncation never
funnels rows through an unpartitioned window:

  - a top-level `terms` size limit is groupBy → TakeOrderedAndProject →
    broadcast semi-join of the ≤ size winners,
  - a nested `terms` size limit is a rank window PARTITIONED by the
    parent keys (parallel across parent buckets).

Terms options: `size`, `min_doc_count`, `missing`, `order` (one of
`_count` / `_key` / a metric sub-agg name, `stats.avg` style for
multi-value metrics — the reference's one-property limitation),
`show_term_doc_count_error` (adds doc_count_error_upper_bound — always
0 here: buckets are computed by exact global aggregation, not per-shard
truncation — and sum_other_doc_count). Histogram + date_histogram
options: `interval`/`fixed_interval`, `offset`, `min_doc_count`,
`extended_bounds` (skeleton of empty buckets — extends, never filters),
`hard_bounds` (closed-interval value clip), `keyed` wire shape (also on
range, whose buckets carry from/to edges). Metrics: avg /
min / max / sum / value_count / stats / extended_stats (sum_of_squares,
population+sampling variance and std_deviation, sigma-scaled
std_deviation_bounds) / percentiles (approx by default, `exact: true`
for the full-sort variant) / cardinality; every metric honors
`missing`.

Each result is a flattened DataFrame: level-1 key/doc_count, then per
deeper level `<name>_key` / `<name>_doc_count`, then metric columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field as dc_field

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_METRICS = {
    "avg", "min", "max", "sum", "value_count", "stats", "extended_stats",
    "percentiles", "cardinality",
}
_BUCKETS = {"terms", "histogram", "date_histogram", "range"}


def _metric_cols(kind: str, spec: dict, name: str) -> list[Column]:
    c = F.col(spec["field"])
    if spec.get("missing") is not None:
        # reference metric `missing` (aggregation.md): docs without a
        # value are treated as holding `missing` instead of ignored
        if kind in ("value_count", "cardinality"):
            c = F.coalesce(c, F.lit(spec["missing"]))
        else:
            c = F.coalesce(c.cast("double"), F.lit(float(spec["missing"])))
    d = c.cast("double")
    if kind == "avg":
        return [F.avg(d).alias(name)]
    if kind == "min":
        return [F.min(d).alias(name)]
    if kind == "max":
        return [F.max(d).alias(name)]
    if kind == "sum":
        return [F.sum(d).alias(name)]
    if kind == "value_count":
        return [F.count(c).cast("long").alias(name)]
    if kind == "cardinality":
        # the reference serializes cardinality as f64 (its golden
        # scenarios assert `8.0`); counts here are Spark HLL++ — we do
        # NOT reproduce tantivy's sketch's specific collision errors
        return [F.approx_count_distinct(c).cast("double").alias(name)]
    if kind == "stats":
        return [
            F.count(d).alias(f"{name}_count"),
            F.min(d).alias(f"{name}_min"),
            F.max(d).alias(f"{name}_max"),
            F.sum(d).alias(f"{name}_sum"),
            F.avg(d).alias(f"{name}_avg"),
        ]
    if kind == "extended_stats":
        # `stats` + sum_of_squares / variance / std_deviation in both
        # population and sampling flavors (aggregation.md "Extended
        # Stats"); std_deviation_bounds (avg ± sigma·std) is derived at
        # wire-shaping time from these columns.
        return [
            F.count(d).alias(f"{name}_count"),
            F.min(d).alias(f"{name}_min"),
            F.max(d).alias(f"{name}_max"),
            F.sum(d).alias(f"{name}_sum"),
            F.avg(d).alias(f"{name}_avg"),
            F.sum(d * d).alias(f"{name}_sum_of_squares"),
            F.var_pop(d).alias(f"{name}_variance"),
            F.var_samp(d).alias(f"{name}_variance_sampling"),
            F.stddev_pop(d).alias(f"{name}_std_deviation"),
            F.stddev_samp(d).alias(f"{name}_std_deviation_sampling"),
        ]
    if kind == "percentiles":
        # default = DDSketch PARITY: the reference answers percentiles
        # from sketches-ddsketch (α=0.01) — bucket k=⌈ln v/γln⌉,
        # γln=log1p(2α/(1−α)), estimate 2·e^{k·γln}/(1+e^{γln}), rank
        # ⌊q·(n−1)⌋ — reproduced here bit-for-bit (its own golden
        # scenarios assert the estimates to the last ulp). The group
        # materializes its (8-byte int) bucket keys; at scale prefer
        # {"exact": false, "parity": false} → mergeable
        # percentile_approx, or pre-bucket per segment (the sketch's
        # own 2048-bin two-phase shape).
        pcts = spec.get("percents", [1, 5, 25, 50, 75, 95, 99])
        if not isinstance(pcts, list) or not pcts or any(
            isinstance(p, bool) or not isinstance(p, (int, float))
            or not (0.0 <= float(p) <= 100.0)
            for p in pcts
        ):
            # out-of-range percents otherwise surface as Spark plan /
            # runtime errors (element_at index 0, percentage > 1) — a
            # 500 where ES answers 400
            raise ValueError(
                f"percents must be numbers in [0, 100], got {pcts!r}"
            )
        if spec.get("exact"):
            # F.percentile on the same coalesced column as the approx
            # path so `missing` behaves identically in both modes
            mk = lambda p: F.percentile(c, F.lit(p / 100.0))  # noqa: E731
        elif spec.get("parity") is False:
            acc = int(spec.get("accuracy", 10000))
            mk = lambda p: F.percentile_approx(c, p / 100.0, acc)  # noqa: E731
        else:
            import math

            gln = math.log1p(2 * 0.01 / (1 - 0.01))
            min_v = 1.0e-9  # the crate's default min_value
            # DDSketch keeps zero and negative stores besides the
            # positive log-bucket store; encode all three on one sorted
            # int axis: negatives at -4e6 - key(|v|) (more negative
            # value → smaller code), zeros at -2e6, positives at key(v)
            # (≥ ~-1036 for min_value 1e-9).
            _ZERO, _NEG = -2_000_000, -4_000_000
            v = c.cast("double")
            code = (
                F.when(v >= min_v, F.ceil(F.log(v) / gln))
                .when(v <= -min_v, F.lit(_NEG) - F.ceil(F.log(-v) / gln))
                .otherwise(F.lit(_ZERO))
            )
            keys = F.sort_array(F.collect_list(code))

            def mk(p, _keys=keys, _gln=gln):  # noqa: E731
                n = F.size(_keys)
                idx = (
                    F.floor(F.lit(p / 100.0) * (n - F.lit(1)).cast("double"))
                    .cast("int")
                    + F.lit(1)
                )
                k = F.element_at(_keys, idx).cast("double")
                denom = F.lit(1.0 + math.exp(_gln))
                est = F.lit(2.0) * F.exp(k * F.lit(_gln)) / denom
                neg = (
                    F.lit(-2.0)
                    * F.exp((F.lit(float(_NEG)) - k) * F.lit(_gln))
                    / denom
                )
                # branch on k < _ZERO, not k <= _NEG: fractional
                # negatives (|v| < 1) have key(|v|) < 0 and encode to
                # codes in (_NEG, _NEG + ~1036] — still the negative
                # store. Positive codes are ≥ key(min_value) ≈ -1036,
                # far above _ZERO, so k < _ZERO exactly identifies
                # negative-store codes.
                return F.when(
                    n > 0,
                    F.when(k == _ZERO, F.lit(0.0))
                    .when(k < _ZERO, neg)
                    .otherwise(est),
                )
        return [
            mk(p).cast("double").alias(f"{name}_p{p}".replace(".", "_"))
            for p in pcts
        ]
    raise NotImplementedError(f"metric aggregation {kind!r}")


def _range_labels(spec: dict) -> list[str]:
    out = []
    for r in spec["ranges"]:
        lo, hi = r.get("from"), r.get("to")
        out.append(
            r.get("key")
            or f"{lo if lo is not None else '*'}-{hi if hi is not None else '*'}"
        )
    return out


_FIXED_UNITS_MS = {"ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


def _fixed_interval_ms(s) -> int:
    """Parse a reference fixed_interval/offset string ("30d", "90m",
    "-4d", "1000ms") to milliseconds (aggregation.md fixed-interval
    units; fractional values are rejected, as in the reference)."""
    if isinstance(s, (int, float)):
        return int(s)
    txt = str(s).strip()
    neg = txt.startswith("-")
    if neg or txt.startswith("+"):
        txt = txt[1:]
    unit = "ms" if txt.endswith("ms") else txt[-1:]
    if unit not in _FIXED_UNITS_MS:
        raise ValueError(f"unsupported fixed interval unit in {s!r}")
    num = txt[: -len(unit)]
    if not num.isdigit():
        raise ValueError(f"fixed interval must be a whole number of {unit}: {s!r}")
    val = int(num) * _FIXED_UNITS_MS[unit]
    return -val if neg else val


def _terms_order_cols(
    spec: dict, dc_name: str, key_name: str, frame_cols=None
) -> list[Column]:
    """Terms `order` (aggregation.md "order"): one property — `_count`,
    `_key`, or a metric sub-agg name (`stats.avg` style for multi-value
    metrics). Default `_count` desc; key asc breaks ties
    deterministically. The ES one-element LIST form unwraps; a metric
    target is validated against `frame_cols` (when given) so an unknown
    name is a 400-mapped ValueError, not an AnalysisException 500."""
    order = spec.get("order")
    if not order:
        return [F.col(dc_name).desc(), F.col(key_name).asc_nulls_last()]
    if isinstance(order, list):
        # ES accepts a criteria list; with one entry it is equivalent
        # to the object form — more entries hit the reference's
        # one-property limitation below
        if len(order) == 1 and isinstance(order[0], dict):
            order = order[0]
        elif all(isinstance(o, dict) for o in order):
            raise NotImplementedError(
                "terms order supports exactly one property "
                "(reference limitation)"
            )
    if not isinstance(order, dict) or not all(
        isinstance(v, str) for v in order.values()
    ):
        raise ValueError(
            f"terms order must be {{property: asc|desc}}, got {order!r}"
        )
    if len(order) != 1:
        raise NotImplementedError(
            "terms order supports exactly one property (reference limitation)"
        )
    (target, direction), = order.items()
    if direction not in ("asc", "desc"):
        raise ValueError(f"terms order direction must be asc|desc, got {direction!r}")
    if target == "_count":
        col = F.col(dc_name)
    elif target == "_key":
        col = F.col(key_name)
    else:
        # metric sub-agg: single-value → its column; "name.sub" → name_sub
        resolved = target.replace(".", "_", 1)
        if frame_cols is not None and resolved not in frame_cols:
            raise ValueError(
                f"terms order target {target!r} is not a metric "
                "sub-aggregation of this level"
            )
        col = F.col(resolved)
    primary = col.asc_nulls_last() if direction == "asc" else col.desc_nulls_last()
    return [primary, F.col(key_name).asc_nulls_last()]


_NUMERIC_DTYPES = ("bigint", "int", "smallint", "tinyint", "double", "float")


def _bucket_key(kind: str, spec: dict, alias: str, dtype: str = "") -> Column:
    """The group-key expression for a bucket aggregation. `dtype` is the
    field's Spark type: numeric terms keys stay NUMERIC at full i64
    precision (the reference's number-precision scenario asserts a
    19-digit u64 key unrounded); everything else buckets as string."""
    if kind == "terms":
        c = F.col(spec["field"])
        numeric = dtype in _NUMERIC_DTYPES or dtype.startswith("decimal")
        if not numeric:
            c = c.cast("string")
        if spec.get("missing") is not None:
            mv = spec["missing"]
            c = F.coalesce(c, F.lit(mv if numeric else str(mv)))
        return c.alias(alias)
    if kind == "histogram":
        interval = float(spec["interval"])
        offset = float(spec.get("offset", 0.0))
        expr = (
            F.floor((F.col(spec["field"]) - F.lit(offset)) / F.lit(interval))
            * F.lit(interval)
            + F.lit(offset)
        ).cast("double")
        hb = spec.get("hard_bounds")
        if hb:
            # hard_bounds clips to the closed [min, max] interval
            # (aggregation.md): out-of-bounds values take a NULL key —
            # excluded from this histogram's buckets but still counted
            # by any parent bucket level (a row filter would corrupt
            # parent doc_counts in nested chains).
            c = F.col(spec["field"])
            expr = F.when(
                (c >= float(hb["min"])) & (c <= float(hb["max"])), expr
            )
        return expr.alias(alias)
    if kind == "date_histogram":
        # The reference supports ONLY `fixed_interval` ("30d"/"90m"/...,
        # epoch-ms bucket grid shifted by `offset`, aggregation.md
        # "Date Histogram"); `calendar_interval` with a date_trunc unit
        # is kept as an ES-compat superset.
        cal = spec.get("calendar_interval")
        if cal:
            return F.date_trunc(cal, F.col(spec["field"])).alias(alias)
        ms = _fixed_interval_ms(spec.get("fixed_interval", "1d"))
        off = _fixed_interval_ms(spec["offset"]) if spec.get("offset") else 0
        ts_ms = F.unix_millis(F.col(spec["field"]).cast("timestamp"))
        key_ms = (
            F.floor((ts_ms - F.lit(off)) / F.lit(ms)).cast("long") * F.lit(ms)
            + F.lit(off)
        )
        hb = spec.get("hard_bounds")
        if hb:
            # bounds are epoch-ms timestamps (aggregation.md); NULL key
            # for out-of-bounds values — see the histogram note above
            key_ms = F.when(
                (ts_ms >= int(hb["min"])) & (ts_ms <= int(hb["max"])), key_ms
            )
        return F.timestamp_millis(key_ms).alias(alias)
    if kind == "range":
        c = F.col(spec["field"])
        expr = None
        for r, label in zip(spec["ranges"], _range_labels(spec)):
            lo, hi = r.get("from"), r.get("to")
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (c >= lo)
            if hi is not None:
                cond = cond & (c < hi)
            expr = F.when(cond, label) if expr is None else expr.when(cond, label)
        return expr.alias(alias)
    raise NotImplementedError(f"bucket aggregation {kind!r}")


@dataclass
class _Level:
    name: str        # agg name ("" for the top level)
    kind: str
    spec: dict
    metrics: dict = dc_field(default_factory=dict)  # name -> (kind, spec)


def _parse_chain(name: str, clause: dict) -> list[_Level]:
    """Flatten a bucket-agg tree into its chain of levels. Each level
    may carry metric sub-aggs plus at most ONE bucket sub-agg (tantivy
    allows sibling buckets; one chain per top-level entry keeps each
    result a single flat frame — register siblings as separate
    top-level aggregations)."""
    entries = {k: v for k, v in clause.items() if k != "aggs"}
    if len(entries) != 1:
        raise ValueError(
            f"aggregation clause needs exactly one type, got {sorted(entries)}"
        )
    (kind, spec), = entries.items()
    if kind not in _BUCKETS:
        raise NotImplementedError(f"aggregation {kind!r}")
    level = _Level(name=name, kind=kind, spec=spec)
    sub_bucket = None
    for sub_name, sub_clause in (clause.get("aggs") or {}).items():
        sub_entries = {k: v for k, v in sub_clause.items() if k != "aggs"}
        if len(sub_entries) != 1:
            raise ValueError(
                f"aggregation clause needs exactly one type, got {sorted(sub_entries)}"
            )
        (skind, sspec), = sub_entries.items()
        if skind in _METRICS:
            if "aggs" in sub_clause:
                raise NotImplementedError("metric aggregations take no sub-aggs")
            level.metrics[sub_name] = (skind, sspec)
        elif skind in _BUCKETS:
            if sub_bucket is not None:
                raise NotImplementedError(
                    "one bucket sub-aggregation per level (register sibling "
                    "buckets as separate top-level aggregations)"
                )
            sub_bucket = (sub_name, sub_clause)
        else:
            raise NotImplementedError(f"aggregation {skind!r}")
    chain = [level]
    if sub_bucket is not None:
        chain += _parse_chain(sub_bucket[0], sub_bucket[1])
    return chain


def _metric_alias_names(kind: str, name: str) -> list[str]:
    """Every result-column alias a metric contributes (mirrors
    `_metric_cols`' aliases) — the collision namespace is these FULL
    names, not just the metric's own name."""
    if kind == "stats":
        return [f"{name}_{s}" for s in ("count", "min", "max", "sum", "avg")]
    if kind == "extended_stats":
        return [
            f"{name}_{s}"
            for s in (
                "count", "min", "max", "sum", "avg", "sum_of_squares",
                "variance", "variance_sampling", "std_deviation",
                "std_deviation_sampling",
            )
        ]
    if kind == "percentiles":
        # per-percent columns (name_p50 style); the bare name anchors
        # the namespace claim — exact per-percent aliases depend on the
        # spec, and a literal name_pNN collision is caught at runtime
        return [name]
    return [name]


def _level_metric_cols(level: _Level) -> list[Column]:
    out: list[Column] = []
    for mname, (mkind, mspec) in level.metrics.items():
        out.extend(_metric_cols(mkind, mspec, mname))
    return out


def _histogram_skeleton(
    df: DataFrame, kind: str, spec: dict, alias: str
) -> DataFrame | None:
    """extended_bounds: the full bucket skeleton [min, max] so empty
    buckets surface with doc_count 0 (ES histogram min_doc_count=0 +
    extended_bounds semantics). For date_histogram the bounds are
    epoch-ms timestamps on the fixed_interval grid (aggregation.md
    "Same as in Histogram but ... milliseconds precision"). The
    skeleton only EXTENDS the result — data buckets outside it are
    kept (ES: "extended_bounds is not filtering buckets")."""
    eb = spec.get("extended_bounds")
    if not eb:
        return None
    return _skeleton_between(
        df.sparkSession, kind, spec, alias, float(eb["min"]), float(eb["max"])
    )


# the reference aborts oversized bucket grids instead of materializing
# them (tantivy AggregationLimits, default bucket budget 65_000; its
# error is "Aborting aggregation because too many buckets were created")
_MAX_SKELETON_BUCKETS = 65_000


def _cap_buckets(n: int) -> int:
    if n > _MAX_SKELETON_BUCKETS:
        raise ValueError(
            f"too many buckets: histogram skeleton would create {n} "
            f"(limit {_MAX_SKELETON_BUCKETS}); raise the interval or "
            "narrow extended_bounds"
        )
    return n


def _skeleton_between(spark, kind, spec, alias, lo_v, hi_v) -> DataFrame:
    """Bucket-grid skeleton covering the RAW bounds [lo_v, hi_v]
    (epoch ms for date_histogram); bounds that are already bucket keys
    go through _data_skeleton's exact index recovery instead."""
    import math

    if kind == "date_histogram":
        ms = _fixed_interval_ms(spec.get("fixed_interval", "1d"))
        off = _fixed_interval_ms(spec["offset"]) if spec.get("offset") else 0
        lo = (int(lo_v) - off) // ms * ms + off
        hi = (int(hi_v) - off) // ms * ms + off
        n = _cap_buckets((hi - lo) // ms + 1)
        return spark.range(n).select(
            F.timestamp_millis(F.col("id") * ms + lo).alias(alias)
        )
    interval = float(spec["interval"])
    offset = float(spec.get("offset", 0.0))
    lo_idx = math.floor((float(lo_v) - offset) / interval)
    hi_idx = math.floor((float(hi_v) - offset) / interval)
    return _float_skeleton(spark, spec, alias, int(lo_idx), int(hi_idx))


def _float_skeleton(spark, spec, alias, lo_idx, hi_idx) -> DataFrame:
    """Grid buckets for indices [lo_idx, hi_idx], keyed by EXACTLY the
    data-key expression shape (`_bucket_key`: long_index * interval +
    offset, evaluated in Spark doubles) so grid keys join data keys
    bit-for-bit — computing id*interval+lo instead differs in the last
    ulp and used to emit duplicate buckets from the full join."""
    interval = float(spec["interval"])
    offset = float(spec.get("offset", 0.0))
    n = _cap_buckets(hi_idx - lo_idx + 1)
    return spark.range(n).select(
        ((F.col("id") + F.lit(lo_idx)) * F.lit(interval) + F.lit(offset))
        .cast("double")
        .alias(alias)
    )


def _data_skeleton(grouped: DataFrame, kind: str, spec: dict, alias: str):
    """min_doc_count=0 (the ES/reference histogram DEFAULT): every grid
    bucket between the first and last OBSERVED bucket surfaces, empty
    ones included (`aggregations/0001` plain-histogram step expects the
    doc_count-0 middle bucket). Bounds come from the already-grouped
    bucket frame (bucket-count-bounded — one tiny extra job), widened
    by extended_bounds when present."""
    import math

    row = grouped.agg(
        F.min(alias).alias("_lo"), F.max(alias).alias("_hi")
    ).collect()[0]
    lo, hi = row["_lo"], row["_hi"]
    eb = spec.get("extended_bounds")
    if kind == "date_histogram":
        if lo is not None:
            lo = int(lo.timestamp() * 1000)
            hi = int(hi.timestamp() * 1000)
        if eb:
            lo = int(eb["min"]) if lo is None else min(lo, int(eb["min"]))
            hi = int(eb["max"]) if hi is None else max(hi, int(eb["max"]))
        if lo is None:
            return None
        return _skeleton_between(
            grouped.sparkSession, kind, spec, alias, lo, hi
        )
    # float histogram: work in grid INDICES. Observed bounds are bucket
    # KEYS (floored values) — recover their index exactly with round();
    # extended_bounds are RAW values — floor() like the data path. The
    # old min/max over mixed key/raw floats then re-floor could shave
    # an ulp off a key and add a spurious empty bucket below the data
    # minimum.
    interval = float(spec["interval"])
    offset = float(spec.get("offset", 0.0))
    lo_i = hi_i = None
    if lo is not None:
        lo_i = round((float(lo) - offset) / interval)
        hi_i = round((float(hi) - offset) / interval)
    if eb:
        eb_lo = math.floor((float(eb["min"]) - offset) / interval)
        eb_hi = math.floor((float(eb["max"]) - offset) / interval)
        lo_i = eb_lo if lo_i is None else min(lo_i, eb_lo)
        hi_i = eb_hi if hi_i is None else max(hi_i, eb_hi)
    if lo_i is None:
        return None
    return _float_skeleton(
        grouped.sparkSession, spec, alias, int(lo_i), int(hi_i)
    )


def _fill_histogram_gaps(
    li: DataFrame, lvl: _Level, parent_keys: list, key_alias: str,
    dc_alias: str,
) -> DataFrame:
    """min_doc_count=0 (the (date_)histogram DEFAULT) inside a chain:
    tantivy fills the empty grid buckets between each parent bucket's
    observed min and max. Per-parent grids come from
    explode(sequence(lo_idx, hi_idx)) over bucket INDICES — bounded by
    the bucket count, parallel across parents — and the observed rows
    left-join back (filled rows: doc_count 0, null metrics, exactly
    like a parent whose child pruned). Grid keys are rebuilt from the
    index with the same long*double+double expression shape as
    `_bucket_key`, so they join the data keys bit-for-bit."""
    spec = lvl.spec
    if lvl.kind == "date_histogram":
        if spec.get("calendar_interval"):
            return li  # ES-compat superset: no fixed grid to fill
        ms = _fixed_interval_ms(spec.get("fixed_interval", "1d"))
        off = _fixed_interval_ms(spec["offset"]) if spec.get("offset") else 0
        idx = ((F.unix_millis(F.col(key_alias)) - F.lit(off)) / F.lit(ms)).cast(
            "long"
        )
        key_of = lambda c: F.timestamp_millis(  # noqa: E731
            c * F.lit(ms) + F.lit(off)
        )
    else:
        interval = float(spec["interval"])
        offset = float(spec.get("offset", 0.0))
        idx = F.round((F.col(key_alias) - F.lit(offset)) / F.lit(interval)).cast(
            "long"
        )
        key_of = lambda c: (  # noqa: E731
            (c * F.lit(interval) + F.lit(offset)).cast("double")
        )
    bounds = li.groupBy(*parent_keys).agg(
        F.min(idx).alias("_lo"), F.max(idx).alias("_hi")
    )
    # driver-side grid-size guard on the (bucket-count-bounded) bounds
    # frame — the reference aborts with "too many buckets" rather than
    # materialize an unbounded skeleton
    widest = bounds.agg(F.max(F.col("_hi") - F.col("_lo"))).collect()[0][0]
    if widest is not None:
        _cap_buckets(int(widest) + 1)
    grid = (
        bounds.select(
            *parent_keys,
            F.explode(F.sequence(F.col("_lo"), F.col("_hi"))).alias("_idx"),
        )
        .withColumn(key_alias, key_of(F.col("_idx")))
        .drop("_idx")
    )
    join_keys = [*parent_keys, key_alias]
    return grid.join(li, join_keys, "left").withColumn(
        dc_alias, F.coalesce(F.col(dc_alias), F.lit(0)).cast("long")
    )


def _chain_agg(df: DataFrame, chain: list[_Level]) -> DataFrame:
    """Lower a bucket chain: one groupBy per level (its doc_count +
    metrics), terms truncation per level, assembly by key-prefix joins."""
    # name-collision + unsupported-option validation up front: metric
    # aliases and key/doc_count columns share one flat namespace across
    # levels, so a reused sub-agg name would produce duplicate columns
    # and an AMBIGUOUS_REFERENCE crash at join time — reject it with an
    # actionable message instead.
    # level-0's own aliases are reserved too: a metric literally named
    # "key" or "doc_count" would duplicate the bucket columns, and
    # multi-column metrics claim every SUFFIXED alias (a stats metric
    # "a" vs a metric named "a_count" is the same collision)
    seen: set[str] = {"key", "doc_count"}
    for i, lvl in enumerate(chain):
        if lvl.spec.get("extended_bounds"):
            raise NotImplementedError(
                "extended_bounds inside a nested aggregation chain is not "
                "supported (empty skeleton buckets would need per-parent "
                "expansion); use it on a top-level histogram"
            )
        names = [f"{lvl.name}_key", f"{lvl.name}_doc_count"] if i else []
        if lvl.kind == "terms":
            names.append(
                "sum_other_base" if i == 0 else f"{lvl.name}_sum_other_base"
            )
        for mname, (mkind, _) in lvl.metrics.items():
            names.extend(_metric_alias_names(mkind, mname))
        for nm in names:
            if nm in seen:
                raise ValueError(
                    f"aggregation name {nm!r} (or a column it produces) is "
                    "reused across nesting levels or collides with the "
                    "bucket columns; rename one (result columns share a "
                    "flat namespace)"
                )
            seen.add(nm)
    key_aliases = []
    dfk = df
    for i, lvl in enumerate(chain):
        alias = "key" if i == 0 else f"{lvl.name}_key"
        key_aliases.append(alias)
        dfk = dfk.withColumn(
            alias,
            _bucket_key(
                lvl.kind,
                lvl.spec,
                alias,
                dict(df.dtypes).get(lvl.spec.get("field", ""), ""),
            ),
        )
    dfk = dfk.filter(F.col("key").isNotNull())

    frames: list[DataFrame] = []
    for i, lvl in enumerate(chain):
        dc_alias = "doc_count" if i == 0 else f"{lvl.name}_doc_count"
        li = dfk.groupBy(*key_aliases[: i + 1]).agg(
            F.count(F.lit(1)).alias(dc_alias), *_level_metric_cols(lvl)
        )
        if i > 0:
            # docs with a NULL key at this level (missing field /
            # hard_bounds clip) belong to no bucket: drop the group
            # BEFORE terms ranking so it cannot consume a `size` slot
            # and evict a real bucket. Parents whose children all
            # vanish here are restored by the LEFT join below.
            li = li.filter(F.col(key_aliases[i]).isNotNull())
        if lvl.kind == "terms":
            # per-parent total BEFORE min_doc_count/size pruning — the
            # shaper derives sum_other_doc_count (ES reports it on
            # EVERY terms agg, nested included) as base − Σ kept
            tot_alias = (
                "sum_other_base" if i == 0 else f"{lvl.name}_sum_other_base"
            )
            if i == 0:
                tot = li.agg(F.sum(dc_alias).cast("long").alias(tot_alias))
                li = li.crossJoin(F.broadcast(tot))
            else:
                li = li.withColumn(
                    tot_alias,
                    F.sum(dc_alias)
                    .over(Window.partitionBy(*key_aliases[:i]))
                    .cast("long"),
                )
        mdc = int(lvl.spec.get("min_doc_count", 1)) if lvl.kind == "terms" else int(
            lvl.spec.get("min_doc_count", 0)
        )
        if mdc > 0:
            li = li.filter(F.col(dc_alias) >= mdc)
        elif lvl.kind in ("histogram", "date_histogram"):
            # min_doc_count=0 default: fill the empty grid buckets
            # between each parent's observed min and max (tantivy fills
            # per parent; previously these buckets were silently
            # missing from nested responses)
            li = _fill_histogram_gaps(
                li, lvl, key_aliases[:i], key_aliases[i], dc_alias
            )
        if lvl.kind == "terms":
            size = int(lvl.spec.get("size", 10))
            lvl_order = _terms_order_cols(
                lvl.spec, dc_alias, key_aliases[i], frame_cols=set(li.columns)
            )
            if i == 0:
                winners = (
                    li.orderBy(*lvl_order)
                    .limit(size)
                    .select("key")
                )
                li = li.join(F.broadcast(winners), "key")
            else:
                # per-parent-bucket truncation: rank window PARTITIONED
                # by the parent keys — parallel across parents
                w = Window.partitionBy(*key_aliases[:i]).orderBy(*lvl_order)
                li = (
                    li.withColumn("_rk", F.row_number().over(w))
                    .filter(F.col("_rk") <= size)
                    .drop("_rk")
                )
        frames.append(li)

    out = frames[0]
    for i in range(1, len(frames)):
        # LEFT join: a parent bucket whose child rows were all pruned
        # (child min_doc_count / hard_bounds) must survive with an
        # empty child bucket list (null child key → skipped by the
        # nest shaper), matching ES — an inner join would erase the
        # parent's own doc_count.
        out = out.join(frames[i], key_aliases[:i], "left")

    order = []
    for i, lvl in enumerate(chain):
        dc_name = "doc_count" if i == 0 else f"{lvl.name}_doc_count"
        if lvl.kind == "terms":
            order += _terms_order_cols(lvl.spec, dc_name, key_aliases[i])
        else:
            order.append(F.col(key_aliases[i]).asc_nulls_last())
    # column order: keys/doc_counts per level, then metrics per level
    cols = []
    for i, lvl in enumerate(chain):
        cols += [key_aliases[i], "doc_count" if i == 0 else f"{lvl.name}_doc_count"]
    metric_cols = [c for c in out.columns if c not in cols]
    return out.orderBy(*order).select(*cols, *metric_cols)


def _terms_stats_cols(
    df: DataFrame, grouped: DataFrame, spec: dict, err_df=None
) -> DataFrame:
    """Attach doc_count_error_upper_bound — 0 for the exact global
    aggregation, or `err_df`'s scalar when per-segment `split_size`
    truncation ran — and sum_other_doc_count (total matching docs minus
    the returned buckets' docs, ref `docs/reference/aggregation.md`).
    Docs with a NULL terms key belong to no bucket and are excluded
    from the total — ES counts only docs that landed in SOME bucket."""
    total = (
        df.select(_bucket_key("terms", spec, "_k"))
        .filter(F.col("_k").isNotNull())
        .agg(F.count(F.lit(1)).alias("_tot"))
    )
    kept = grouped.agg(F.sum("doc_count").alias("_kept"))
    out = grouped.crossJoin(F.broadcast(total)).crossJoin(F.broadcast(kept))
    if err_df is not None:
        out = out.crossJoin(F.broadcast(err_df)).withColumn(
            "doc_count_error_upper_bound", F.col("_err")
        ).drop("_err")
    else:
        out = out.withColumn(
            "doc_count_error_upper_bound", F.lit(0).cast("long")
        )
    return (
        out.withColumn(
            "sum_other_doc_count",
            (F.col("_tot") - F.coalesce(F.col("_kept"), F.lit(0))).cast("long"),
        )
        .drop("_tot", "_kept")
    )


def _referenced_fields(clause: dict, out: set):
    for k, v in clause.items():
        if k in ("aggs", "aggregations"):
            for sub in v.values():
                _referenced_fields(sub, out)
        elif isinstance(v, dict) and "field" in v:
            out.add(v["field"])


def _one_agg(df: DataFrame, clause: dict) -> DataFrame:
    entries = {k: v for k, v in clause.items() if k != "aggs"}
    if len(entries) != 1:
        raise ValueError(
            f"aggregation clause needs exactly one type, got {sorted(entries)}"
        )
    (kind, spec), = entries.items()

    # multivalued fast fields: each element is an independent agg value
    # (reference Cardinality::MultiValued — a doc with tags
    # ["nice","cool"] counts once in BOTH terms buckets). Each agg runs
    # on its own frame, so the explode is per-aggregation and cannot
    # fan out sibling aggregations.
    refs: set = set()
    _referenced_fields(clause, refs)
    dtypes = dict(df.dtypes)
    exploded = []
    for fld in sorted(refs):
        if dtypes.get(fld, "").startswith("array"):
            # explode_OUTER: a doc with a null/empty array must stay in
            # the frame — it lands in no value bucket (null key is
            # filtered per level) but a terms `missing` option still
            # applies to it, and metrics over OTHER fields still see it
            df = df.withColumn(fld, F.explode_outer(F.col(fld)))
            exploded.append(fld)

    if kind in _METRICS:
        if clause.get("aggs"):
            raise NotImplementedError("metric aggregations take no sub-aggs")
        return df.agg(*_metric_cols(kind, spec, "value"))

    chain = _parse_chain("", clause)
    if len(chain) > 1:
        if exploded:
            # the explode runs BEFORE the per-level groupBys, so every
            # level above the array-valued one would count a doc once
            # per array element (parent doc_count/sums inflated ×
            # array length) — reject loudly rather than return
            # silently-wrong parent buckets
            raise NotImplementedError(
                f"array-valued field(s) {exploded} inside a NESTED "
                "aggregation chain are not supported (parent-level "
                "doc_counts would count one row per array element); "
                "aggregate the array field at the top level"
            )
        return _chain_agg(df, chain)

    # single bucket level
    lvl = chain[0]
    reserved = {"key", "doc_count"}
    for mname, (mkind, _) in lvl.metrics.items():
        for nm in _metric_alias_names(mkind, mname):
            if nm in reserved:
                raise ValueError(
                    f"aggregation name {nm!r} (or a column it produces) "
                    "collides with the bucket result columns; rename it"
                )
            reserved.add(nm)
    metric_cols = _level_metric_cols(lvl)
    count_col = F.count(F.lit(1)).alias("doc_count")
    key = _bucket_key(
        kind, spec, "key", dict(df.dtypes).get(spec.get("field", ""), "")
    )

    if kind == "terms":
        size = int(spec.get("size", 10))
        mdc = int(spec.get("min_doc_count", 1))
        split_size = (
            spec.get("split_size")
            or spec.get("shard_size")
            or spec.get("segment_size")
        )
        if split_size is not None and "segment_id" in df.columns:
            # the reference's distributed terms contract: each split
            # returns only its top `split_size` terms; the root merges
            # the partials. doc_count_error_upper_bound = Σ per-segment
            # count of the FIRST EXCLUDED term (a term absent from a
            # truncated segment can hide at most that many docs —
            # tantivy's bound, asserted by `aggregations/0001`
            # split_size steps). At scale this caps the shuffle at
            # split_size rows per segment — the whole point of the knob.
            if metric_cols:
                raise NotImplementedError(
                    "split_size truncation with metric sub-aggregations "
                    "is not supported"
                )
            s_n = int(split_size)
            per_seg = (
                df.select(F.col("segment_id").alias("_sid"), key)
                .filter(F.col("key").isNotNull())
                .groupBy("_sid", "key")
                .agg(F.count(F.lit(1)).alias("_cnt"))
            )
            w = Window.partitionBy("_sid").orderBy(
                F.col("_cnt").desc(), F.col("key").asc()
            )
            ranked = per_seg.withColumn("_rn", F.row_number().over(w))
            merged = (
                ranked.filter(F.col("_rn") <= s_n)
                .groupBy("key")
                .agg(F.sum("_cnt").cast("long").alias("doc_count"))
            )
            if mdc > 0:
                merged = merged.filter(F.col("doc_count") >= mdc)
            grouped = merged.orderBy(
                *_terms_order_cols(
                    spec, "doc_count", "key", frame_cols=set(merged.columns)
                )
            ).limit(size)
            err = ranked.filter(F.col("_rn") == s_n + 1).agg(
                F.coalesce(F.sum("_cnt"), F.lit(0)).cast("long").alias("_err")
            )
            return _terms_stats_cols(df, grouped, spec, err_df=err)
        grouped = df.groupBy(key).agg(count_col, *metric_cols).filter(
            F.col("key").isNotNull()
        )
        if mdc > 0:
            grouped = grouped.filter(F.col("doc_count") >= mdc)
        grouped = grouped.orderBy(
            *_terms_order_cols(
                spec, "doc_count", "key", frame_cols=set(grouped.columns)
            )
        ).limit(size)
        # ES always reports doc_count_error_upper_bound +
        # sum_other_doc_count on terms aggs (the reference's own golden
        # scenarios assert them without opting in)
        return _terms_stats_cols(df, grouped, spec)
    if kind in ("histogram", "date_histogram"):
        grouped = (
            df.groupBy(key)
            .agg(count_col, *metric_cols)
            .filter(F.col("key").isNotNull())
        )
        mdc = int(spec.get("min_doc_count", 0))
        skeleton = (
            _data_skeleton(grouped, kind, spec, "key")
            if mdc == 0
            else _histogram_skeleton(df, kind, spec, "key")
        )
        if skeleton is not None:
            # FULL join: the skeleton adds empty buckets but must not
            # drop data buckets outside [min, max] — extended_bounds
            # extends, it never filters (use hard_bounds to clip)
            grouped = (
                skeleton.join(grouped, "key", "full")
                .withColumn("doc_count", F.coalesce(F.col("doc_count"), F.lit(0)))
            )
        if mdc > 0:
            grouped = grouped.filter(F.col("doc_count") >= mdc)
        return grouped.orderBy("key")
    # range: output in the declared range order
    order = {label: i for i, label in enumerate(_range_labels(spec))}
    mapping = F.create_map(*[F.lit(x) for kv in order.items() for x in kv])
    return (
        df.withColumn("key", key)
        .filter(F.col("key").isNotNull())
        .groupBy("key")
        .agg(count_col, *metric_cols)
        .withColumn("_ord", mapping[F.col("key")])
        .orderBy("_ord")
        .drop("_ord")
    )


def _validate_aggs(cols: dict | None, aggs: dict) -> None:
    """Reject malformed agg bodies BEFORE any `.items()` walk or Column
    construction: a non-object body, unknown/non-string field, a
    non-positive (date_)histogram interval, empty/non-numeric `ranges`
    or empty `percents` would otherwise surface as AttributeError /
    AnalysisException / DIVIDE_BY_ZERO / assertion failures — outside
    the (ValueError, TypeError, KeyError, NotImplementedError) tuple
    the wire layer converts to ES 400 envelopes. The reference's
    tantivy aggregations error on each of these at request parse time.

    `cols` maps each column to its Spark type name: a (date_)histogram
    over a string column is rejected here (its bucket key arithmetic
    would fail inside the Spark job with CAST_INVALID_INPUT).
    `cols=None` skips the field-existence and type checks: the engine
    path resolves fields itself (unmapped → all-null literal, ES
    empty-bucket semantics), so it validates SHAPE here and existence
    never fails; `run_es_aggs` checks the resolved columns' types."""
    if not isinstance(aggs, dict):
        raise ValueError("aggs must be an object")
    for name, clause in aggs.items():
        if not isinstance(clause, dict):
            raise ValueError(f"aggregation {name!r} must be an object")
        for kind, spec in clause.items():
            if kind in ("aggs", "aggregations"):
                _validate_aggs(cols, spec)
                continue
            if not isinstance(spec, dict):
                raise ValueError(f"aggregation {kind!r} spec must be an object")
            if "field" in spec:
                f = spec["field"]
                if not isinstance(f, str):
                    raise ValueError("aggregation `field` must be a string")
                if cols is not None and f not in cols:
                    raise ValueError(
                        f"aggregation field {f!r} does not exist in the index"
                    )
                if (
                    cols is not None
                    and kind in ("histogram", "date_histogram")
                    and cols[f] == "string"
                ):
                    raise ValueError(
                        f"{kind} aggregation needs a numeric or date field, "
                        f"{f!r} is a string"
                    )
            if kind == "histogram":
                if not float(spec.get("interval", 0)) > 0:
                    raise ValueError("histogram `interval` must be > 0")
            if kind == "date_histogram":
                iv = spec.get("fixed_interval")
                if iv is not None and _fixed_interval_ms(iv) <= 0:
                    raise ValueError("date_histogram `fixed_interval` must be > 0")
            if kind == "range":
                r = spec.get("ranges")
                if (
                    not isinstance(r, list)
                    or not r
                    or not all(isinstance(x, dict) for x in r)
                ):
                    raise ValueError(
                        "range aggregation needs a non-empty `ranges` "
                        "array of objects"
                    )
                for x in r:
                    for b in ("from", "to"):
                        if b in x and (
                            isinstance(x[b], bool)
                            or not isinstance(x[b], (int, float))
                        ):
                            raise ValueError("range bounds must be numeric")
            if kind == "percentiles":
                p = spec.get("percents")
                if p is not None and (not isinstance(p, list) or not p):
                    raise ValueError(
                        "percentiles `percents` must be a non-empty array"
                    )


def run_es_aggs(df: DataFrame, aggs: dict) -> dict[str, DataFrame]:
    """`df` = matches joined to fast fields (`aggs.matches`); `aggs` =
    the ES `aggs` body. → {agg name: result DataFrame}."""
    _validate_aggs(dict(df.dtypes), aggs)
    return {name: _one_agg(df, clause) for name, clause in aggs.items()}


# ---------- ES wire-shape reassembly (rest_handler.rs:96-294 analog) ----------


def _extended_stats_value(row: dict, prefix: str, spec: dict) -> dict:
    """ES extended_stats JSON shape: the ten stat fields plus
    std_deviation_bounds at avg ± sigma·std (sigma default 2)."""
    sigma = float(spec.get("sigma", 2.0))
    g = lambda s: row.get(f"{prefix}_{s}" if prefix else s)  # noqa: E731
    avg, sd_pop, sd_samp = g("avg"), g("std_deviation"), g("std_deviation_sampling")
    bounds = {}
    if avg is not None and sd_pop is not None:
        bounds.update(
            upper=avg + sigma * sd_pop, lower=avg - sigma * sd_pop,
            upper_population=avg + sigma * sd_pop,
            lower_population=avg - sigma * sd_pop,
        )
    if avg is not None and sd_samp is not None:
        bounds.update(
            upper_sampling=avg + sigma * sd_samp,
            lower_sampling=avg - sigma * sd_samp,
        )
    return {
        "count": g("count"), "min": g("min"), "max": g("max"),
        "sum": g("sum"), "avg": avg,
        "sum_of_squares": g("sum_of_squares"),
        "variance": g("variance"),
        "variance_population": g("variance"),
        "variance_sampling": g("variance_sampling"),
        "std_deviation": sd_pop,
        "std_deviation_population": sd_pop,
        "std_deviation_sampling": sd_samp,
        "std_deviation_bounds": bounds,
    }


def _metric_value(row: dict, name: str, kind: str, spec: dict):
    if kind == "stats":
        return {
            "count": row.get(f"{name}_count"),
            "min": row.get(f"{name}_min"),
            "max": row.get(f"{name}_max"),
            "sum": row.get(f"{name}_sum"),
            "avg": row.get(f"{name}_avg"),
        }
    if kind == "extended_stats":
        return _extended_stats_value(row, name, spec)
    if kind == "percentiles":
        pcts = spec.get("percents", [1, 5, 25, 50, 75, 95, 99])
        vals = {p: row.get(f"{name}_p{p}".replace(".", "_")) for p in pcts}
        if spec.get("keyed", True):
            return {"values": {str(float(p)): v for p, v in vals.items()}}
        # keyed:false → entry list (ES percentiles wire shape)
        return {
            "values": [{"key": float(p), "value": v} for p, v in vals.items()]
        }
    return {"value": row.get(name)}


def _nest_bucket_rows(rows: list[dict], chain: list[_Level], depth: int) -> list[dict]:
    """Rebuild the ES nested-bucket JSON from the flattened chain frame:
    group rows by this level's key (first-seen order = the frame's sort
    order), attach this level's metrics from any row of the group, and
    recurse for the next level."""
    lvl = chain[depth]
    key_col = "key" if depth == 0 else f"{lvl.name}_key"
    dc_col = "doc_count" if depth == 0 else f"{lvl.name}_doc_count"
    groups: dict = {}
    order: list = []
    for r in rows:
        k = r[key_col]
        if k not in groups:
            groups[k] = []
            order.append(k)
        groups[k].append(r)
    import decimal as _decimal

    out = []
    for k in order:
        grp = groups[k]
        if k is None:
            continue  # null deeper key: counted upstream, no bucket
        if isinstance(k, _decimal.Decimal):
            # u64 fast values ride decimal(20,0) — integral keys are
            # exact ints on the wire
            k = int(k) if k == k.to_integral_value() else float(k)
        if lvl.kind == "date_histogram" and hasattr(k, "timestamp"):
            # reference wire shape: key = epoch millis, key_as_string =
            # Rfc3339 (aggregation.md response example). PySpark's
            # collect() yields naive datetimes in the DRIVER's OS-local
            # timezone (TimestampType.fromInternal), so timestamp() —
            # which interprets naive as local — inverts it exactly;
            # forcing UTC here would shift keys on non-UTC drivers.
            import datetime as _dt

            epoch_ms = int(k.timestamp() * 1000)
            utc = _dt.datetime.fromtimestamp(epoch_ms / 1000, tz=_dt.timezone.utc)
            b = {
                # the reference serializes date keys as f64 epoch millis
                # (its own scenario expectations are `1420070400000.0`)
                "key": float(epoch_ms),
                "key_as_string": utc.isoformat().replace("+00:00", "Z"),
                "doc_count": grp[0][dc_col],
            }
        elif lvl.kind == "range":
            # reference range buckets carry their from/to edges in the
            # response (aggregation.md Range response example)
            b = {"key": k, "doc_count": grp[0][dc_col]}
            edges = {
                label: (r.get("from"), r.get("to"))
                for r, label in zip(lvl.spec["ranges"], _range_labels(lvl.spec))
            }
            lo, hi = edges.get(k, (None, None))
            if lo is not None:
                b["from"] = float(lo)
            if hi is not None:
                b["to"] = float(hi)
        else:
            b = {"key": k, "doc_count": grp[0][dc_col]}
        for mname, (mkind, mspec) in lvl.metrics.items():
            b[mname] = _metric_value(grp[0], mname, mkind, mspec)
        if depth + 1 < len(chain):
            child = chain[depth + 1]
            sub = {"buckets": _nest_bucket_rows(grp, chain, depth + 1)}
            if child.kind == "terms":
                # ES reports these on EVERY terms agg, nested included;
                # error bound 0 — buckets are exact global aggregation
                base = grp[0].get(f"{child.name}_sum_other_base") or 0
                kept = sum(cb["doc_count"] for cb in sub["buckets"])
                sub["doc_count_error_upper_bound"] = 0
                sub["sum_other_doc_count"] = max(int(base) - int(kept), 0)
            b[child.name] = sub
        out.append(b)
    if lvl.kind == "range":
        # the reference emits EVERY declared range in declaration order,
        # empty ones included (`aggregations/0001` range step expects a
        # doc_count: 0 middle bucket)
        present = {b["key"]: b for b in out}
        full = []
        for r, label in zip(lvl.spec["ranges"], _range_labels(lvl.spec)):
            b = present.get(label)
            if b is None:
                b = {"key": label, "doc_count": 0}
                if r.get("from") is not None:
                    b["from"] = float(r["from"])
                if r.get("to") is not None:
                    b["to"] = float(r["to"])
            full.append(b)
        out = full
    return out


def shape_es_agg(clause: dict, df: DataFrame) -> dict:
    """One aggregation's DataFrame → its ES JSON shape."""
    entries = {k: v for k, v in clause.items() if k != "aggs"}
    (kind, spec), = entries.items()
    rows = [r.asDict() for r in df.collect()]
    if kind in _METRICS:
        row = rows[0] if rows else {}
        if kind == "stats":
            return {
                k: row.get(f"value_{k}") for k in ("count", "min", "max", "sum", "avg")
            }
        if kind == "extended_stats":
            return _extended_stats_value(row, "value", spec)
        if kind == "percentiles":
            return _metric_value(row, "value", kind, spec)
        return {"value": row.get("value")}
    chain = _parse_chain("", clause)
    buckets = _nest_bucket_rows(rows, chain, 0)
    if spec.get("keyed") and kind in ("histogram", "date_histogram", "range"):
        # keyed response format (aggregation.md): array → hashmap with
        # the bucket key (key_as_string for date buckets) as map key
        shaped = {
            "buckets": {
                str(b.get("key_as_string", b["key"])): b for b in buckets
            }
        }
    else:
        shaped = {"buckets": buckets}
    if kind == "terms":
        if rows and "sum_other_base" in rows[0]:
            # chain frame: derive the stats from the pre-truncation
            # base total (the single-level path attaches them as
            # columns via _terms_stats_cols instead)
            base = rows[0]["sum_other_base"] or 0
            kept = sum(b["doc_count"] for b in buckets)
            shaped["doc_count_error_upper_bound"] = 0
            shaped["sum_other_doc_count"] = max(int(base) - int(kept), 0)
        else:
            shaped["doc_count_error_upper_bound"] = (
                rows[0].get("doc_count_error_upper_bound", 0) if rows else 0
            )
            shaped["sum_other_doc_count"] = (
                rows[0].get("sum_other_doc_count", 0) if rows else 0
            )
    return shaped
