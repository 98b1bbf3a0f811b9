"""GA-style report builder — the reference's public API, reborn on Spark
(SURVEY.md §3.2 E1).

The reference's whole surface is one parameterized call [K]:

    ga.get(ids, start_date, end_date, metrics, dimensions,
           filters, sort, max_results, start_index)

re-expressed here as :func:`report`, a pure *constructor of a DataFrame
plan*: scan -> date-range filter -> GA-filter-DSL predicate -> groupBy(dims)
-> agg(metrics) -> orderBy -> offset/limit.  There is no private IR — the
unresolved Catalyst logical plan IS the IR, so Catalyst owns pushdown,
pruning and join/agg physical choices (SURVEY.md §4.2).

The GA `filters` mini-language [K] is parsed faithfully:
    operators  ==  !=  >  <  >=  <=  =@ (contains)  !@  =~ (regex)  !~
    combinators  `;` = AND (outer), `,` = OR (inner, binds tighter)
e.g. ``"event_type==view,event_type==click;value>10"``
   == (event_type==view OR event_type==click) AND value>10.

Metric strings mirror GA's aggregate metric types (SURVEY.md §1.1):
``count`` | ``sum:col`` | ``avg:col`` | ``min:col`` | ``max:col`` |
``users:col`` (count-distinct) | ``approx_users:col`` (HLL, the 100-TB
path) | ``ratio:a/b`` (GA v4 expression metrics, e.g.
``ga:goal1Completions/ga:sessions`` — sum(a)/sum(b) in one pass,
null-safe on a zero denominator).  Sums/avgs accumulate in exact decimal
(queries/_util.py) so report results are partition-order-independent.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import NumericType

from google_analytics_dataframes_spark.determinism import davg, dsum

import re as _re

#: One condition = column name, operator, value — the operator is matched
#: IMMEDIATELY after the identifier (two-char ops first), so operator
#: characters inside the VALUE (`o_comment=@a>=b`, regexes like `x<=y`)
#: never split the condition in the wrong place.
_COND_RE = _re.compile(
    r"^([A-Za-z_][A-Za-z0-9_]*)(==|!=|>=|<=|=@|!@|=~|!~|>|<)(.*)$", _re.DOTALL
)


def _condition(df: DataFrame, expr: str) -> Column:
    m = _COND_RE.match(expr)
    if not m:
        raise ValueError(f"no GA operator in filter condition: {expr!r}")
    name, op, value = m.group(1), m.group(2), m.group(3)
    # GA escaping: `\,` and `\;` are literal characters in values
    value = value.replace("\\,", ",").replace("\\;", ";")
    col = F.col(name)
    field = df.schema[name].dataType
    lit: Column | str | float = value
    if isinstance(field, NumericType):
        lit = float(value)
    if op == "==":
        return col == lit
    if op == "!=":
        return col != lit
    if op == ">":
        return col > lit
    if op == "<":
        return col < lit
    if op == ">=":
        return col >= lit
    if op == "<=":
        return col <= lit
    if op == "=@":
        return col.contains(value)
    if op == "!@":
        return ~col.contains(value)
    if op == "=~":
        return col.rlike(value)
    if op == "!~":
        return ~col.rlike(value)
    raise AssertionError(op)


def parse_ga_filters(df: DataFrame, filters: str) -> Column:
    """GA `filters` DSL -> Catalyst predicate: `;`=AND of `,`=OR groups.
    Backslash-escaped separators (`\\,` / `\\;`) stay inside values [K]."""
    pred: Column | None = None
    for group in _re.split(r"(?<!\\);", filters):
        ors: Column | None = None
        for cond in _re.split(r"(?<!\\),", group):
            c = _condition(df, cond)
            ors = c if ors is None else (ors | c)
        pred = ors if pred is None else (pred & ors)
    assert pred is not None
    return pred


def _numeric_value(v: dict) -> float:
    """GA4 NumericValue message: {"int64Value": "123"} (int64 rides as a
    JSON string) or {"doubleValue": 1.5}."""
    if "int64Value" in v:
        return int(v["int64Value"])
    if "doubleValue" in v:
        return float(v["doubleValue"])
    raise ValueError(f"NumericValue needs int64Value or doubleValue: {v!r}")


def filter_expression(df: DataFrame, spec: dict) -> Column:
    """GA4 Data API v1 ``FilterExpression`` tree [K] -> ONE Catalyst
    predicate (dimensionFilter / metricFilter of runReport).

    Supported, per the public message shape: ``andGroup`` / ``orGroup``
    (FilterExpressionList), ``notExpression``, and leaf ``filter`` with
    ``stringFilter`` (matchType EXACT / BEGINS_WITH / ENDS_WITH / CONTAINS
    / FULL_REGEXP / PARTIAL_REGEXP, caseSensitive — GA compares
    case-insensitively by default), ``numericFilter`` (operation EQUAL /
    LESS_THAN / LESS_THAN_OR_EQUAL / GREATER_THAN / GREATER_THAN_OR_EQUAL),
    ``inListFilter`` (values, caseSensitive), ``betweenFilter``
    (fromValue/toValue, both inclusive).

    The whole tree folds into one boolean expression, so Catalyst can push
    it into the scan like any native predicate — the AST never becomes a
    driver-side row filter."""
    if "andGroup" in spec:
        preds = [filter_expression(df, e) for e in spec["andGroup"]["expressions"]]
        out = preds[0]
        for p in preds[1:]:
            out = out & p
        return out
    if "orGroup" in spec:
        preds = [filter_expression(df, e) for e in spec["orGroup"]["expressions"]]
        out = preds[0]
        for p in preds[1:]:
            out = out | p
        return out
    if "notExpression" in spec:
        return ~filter_expression(df, spec["notExpression"])
    if "filter" not in spec:
        raise ValueError(f"unrecognized FilterExpression node: {sorted(spec)}")
    f = spec["filter"]
    col = F.col(f["fieldName"])
    if "stringFilter" in f:
        sf = f["stringFilter"]
        mt = sf.get("matchType", "EXACT")
        val: str = sf["value"]
        cs = bool(sf.get("caseSensitive", False))
        c = col if cs else F.lower(col)
        v = val if cs else val.lower()
        if mt == "EXACT":
            return c == v
        if mt == "BEGINS_WITH":
            return c.startswith(v)
        if mt == "ENDS_WITH":
            return c.endswith(v)
        if mt == "CONTAINS":
            return c.contains(v)
        pat = val if cs else f"(?i){val}"
        if mt == "FULL_REGEXP":
            return col.rlike(f"^(?:{pat})$")
        if mt == "PARTIAL_REGEXP":
            return col.rlike(pat)
        raise ValueError(f"unknown stringFilter matchType: {mt!r}")
    if "numericFilter" in f:
        nf = f["numericFilter"]
        value = _numeric_value(nf["value"])
        op = nf["operation"]
        ops = {
            "EQUAL": col == value,
            "LESS_THAN": col < value,
            "LESS_THAN_OR_EQUAL": col <= value,
            "GREATER_THAN": col > value,
            "GREATER_THAN_OR_EQUAL": col >= value,
        }
        if op not in ops:
            raise ValueError(f"unknown numericFilter operation: {op!r}")
        return ops[op]
    if "inListFilter" in f:
        lf = f["inListFilter"]
        if bool(lf.get("caseSensitive", False)):
            return col.isin(list(lf["values"]))
        return F.lower(col).isin([v.lower() for v in lf["values"]])
    if "betweenFilter" in f:
        bf = f["betweenFilter"]
        return (col >= _numeric_value(bf["fromValue"])) & (
            col <= _numeric_value(bf["toValue"])
        )
    raise ValueError(f"Filter needs a concrete filter oneof: {sorted(f)}")


def histogram_dim(
    col: str | Column, buckets: list[int], name: str = "bucket"
) -> Column:
    """GA v4 dimension ``histogramBuckets`` [K]: bucket a numeric dimension
    into GA's serialized range labels — ``"<b0"`` below the first boundary,
    ``"lo-hi"`` between consecutive boundaries (hi inclusive = next boundary
    minus 1, GA's integer-dimension convention), ``"bN+"`` at and above the
    last.  One CASE chain, stays narrow inside whole-stage codegen.  Labels
    sort lexically wrong by design (GA's too); pair with
    :func:`histogram_ordinal` for GA's ``HISTOGRAM_BUCKET`` order-by, which
    sorts buckets numerically."""
    if not buckets or sorted(buckets) != list(buckets):
        raise ValueError(f"histogram buckets must be ascending, got {buckets!r}")
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c < buckets[0], F.lit(f"<{buckets[0]}"))
    for lo, hi in zip(buckets, buckets[1:]):
        expr = expr.when(c < hi, F.lit(f"{lo}-{hi - 1}"))
    return expr.otherwise(F.lit(f"{buckets[-1]}+")).alias(name)


def histogram_ordinal(
    col: str | Column, buckets: list[int], name: str = "bucket_ord"
) -> Column:
    """The numeric companion of :func:`histogram_dim`: bucket index 0 (below
    the first boundary) .. len(buckets) (open top bucket) — GA v4 orderBys
    ``orderType: HISTOGRAM_BUCKET``, which orders histogram rows by bucket
    bound, not label text."""
    if not buckets or sorted(buckets) != list(buckets):
        raise ValueError(f"histogram buckets must be ascending, got {buckets!r}")
    c = F.col(col) if isinstance(col, str) else col
    expr = F.when(c < buckets[0], F.lit(0))
    for i, hi in enumerate(buckets[1:], start=1):
        expr = expr.when(c < hi, F.lit(i))
    return expr.otherwise(F.lit(len(buckets))).cast("int").alias(name)


def _metric(name: str, spec: str) -> Column:
    kind, _, col = spec.partition(":")
    if kind == "count":
        # count(lit(1)), not count("*"): identical semantics, but legal
        # inside a pivot aggregate (Spark rejects star there)
        return F.count(F.lit(1)).alias(name)
    if kind == "sum":
        return dsum(col).alias(name)
    if kind == "avg":
        return davg(col).alias(name)
    if kind == "min":
        return F.min(col).alias(name)
    if kind == "max":
        return F.max(col).alias(name)
    if kind == "users":
        return F.countDistinct(col).alias(name)
    if kind == "approx_users":
        return F.approx_count_distinct(col, 0.01).alias(name)
    if kind == "ratio":
        num, sep, den = col.partition("/")
        if not sep or not num or not den:
            raise ValueError(f"ratio spec needs 'a/b', got {spec!r} for {name!r}")
        # sum(a)/sum(b) computed inside ONE aggregate pass (GA v4
        # expression metrics); nullif keeps a zero denominator NULL, the
        # GA empty-cell convention, instead of raising/Inf
        return (dsum(num) / F.nullif(dsum(den), F.lit(0.0))).alias(name)
    raise ValueError(f"unknown metric spec {spec!r} for {name!r}")


def report(
    df: DataFrame,
    dimensions: list[str | Column],
    metrics: dict[str, str],
    filters: str | None = None,
    dimension_filter: dict | None = None,
    metric_filter: dict | None = None,
    date_range: tuple[str, str, str] | None = None,
    sort: list[str] | None = None,
    limit: int | None = None,
    offset: int = 0,
    segment: tuple[str, str] | None = None,
    having: str | None = None,
    pivot: tuple[str, int] | None = None,
    totals: bool | tuple[str, ...] = False,
    keep_empty_rows: bool = False,
) -> DataFrame:
    """Build a GA-style report plan.

    dimensions: column names or pre-aliased Columns (computed dims like
        date_trunc buckets — GA's ga:date/ga:hour analogs).
    metrics: {output_name: metric_spec} (see module docstring).
    filters: GA filter-DSL string, applied pre-aggregation.
    dimension_filter: GA4 Data API v1 ``dimensionFilter`` [K] — a
        FilterExpression dict (see :func:`filter_expression`), applied
        pre-aggregation; composes with `filters` (legacy DSL) by AND.
    metric_filter: GA4 ``metricFilter`` [K] — a FilterExpression over the
        AGGREGATED metric columns, applied post-agg (the structured
        counterpart of `having`).
    date_range: (ts_col, start_iso, end_iso) — GA's mandatory
        start-date/end-date, i.e. ts_col >= start AND ts_col < end.
    sort: GA sort syntax, '-name' = descending.
    limit/offset: GA max-results / start-index pagination.
    segment: GA `segment` param [K] — (entity_col, filter-DSL): keep rows of
        entities (users) that have ANY row matching the DSL anywhere in the
        table (GA "users::condition::" segments).  Physical shape: left-semi
        join against the distinct qualifying entity keys; the qualifier set
        is one small column, broadcast-eligible at any fact-table size.
    having: GA v4 `metricFilterClauses` [K] — same filter DSL evaluated over
        the *aggregated* metric columns (post-agg filter).
    pivot: GA v4 `pivots` [K] — (pivot_col, max_group_count): the top
        max_group_count values of pivot_col (ranked by the first metric
        desc, value asc tiebreak — GA's group ordering) become per-metric
        column groups `{value}_{metric}`.  The rank job reduces to
        |distinct pivot values| rows and its collect() is bounded by
        max_group_count (GA caps it server-side too) — metadata-sized at
        any fact-table scale; the explicit values list keeps the pivot
        itself single-pass.  count/users cells with no rows are 0 (GA
        zero-fills); sum/avg/min/max stay NULL.
    totals: GA v4 `metricAggregations` [K] — True (= ("total",)) or a
        tuple drawn from {"total", "minimum", "maximum"}.  "total" appends
        the grand-total row via ONE Expand pass (grouping sets (dims), ()),
        not a second scan of the fact table; it re-aggregates the RAW rows,
        so count-distinct metrics stay correct.  "minimum"/"maximum" append
        GA's RESERVED_MIN / RESERVED_MAX rows: the per-metric min/max OVER
        THE REPORT'S DETAIL ROWS (GA's definition).  When requested, the
        aggregated frame is eagerly localCheckpoint-ed — it is report-sized
        (bounded by dimension cardinality) at any fact-table scale, and the
        checkpoint keeps the min/max branches from re-running the fact scan
        (Catalyst does not CSE union branches).  Dimension cells carry the
        GA literal markers and all dimension columns are cast to string (GA
        serializes dimension values as strings).  Requires plain dimension
        names (not computed Columns) and is mutually exclusive with pivot.
    keep_empty_rows: GA v4 `keepEmptyRows` [K] — emit every combination
        of OBSERVED dimension values, zero-filling metric cells for
        combinations with no rows (GA serializes empty cells as "0").
        Physical shape: each per-dimension distinct-value frame is
        metadata-sized, so the cartesian scaffold is a chain of broadcast
        cross joins and the agg left-joins onto it — the fact table is
        still scanned once.  Mutually exclusive with pivot/totals.
    """
    agg_kinds: tuple[str, ...] = (
        ("total",) if totals is True else tuple(totals) if totals else ()
    )
    if unknown := set(agg_kinds) - {"total", "minimum", "maximum"}:
        raise ValueError(f"unknown metric aggregation(s): {sorted(unknown)}")
    if agg_kinds and pivot is not None:
        raise ValueError("totals and pivot are mutually exclusive")
    if agg_kinds and any(not isinstance(d, str) for d in dimensions):
        raise ValueError("totals requires plain dimension names")
    if keep_empty_rows and (pivot is not None or agg_kinds):
        raise ValueError("keep_empty_rows is mutually exclusive with pivot/totals")
    out = df
    if segment is not None:
        entity_col, seg_filters = segment
        qualifying = (
            df.filter(parse_ga_filters(df, seg_filters)).select(entity_col).distinct()
        )
        out = out.join(F.broadcast(qualifying), entity_col, "left_semi")
    if date_range is not None:
        ts, start, end = date_range
        out = out.filter(
            (F.col(ts) >= F.lit(start).cast("timestamp"))
            & (F.col(ts) < F.lit(end).cast("timestamp"))
        )
    if filters:
        out = out.filter(parse_ga_filters(df, filters))
    if dimension_filter is not None:
        out = out.filter(filter_expression(df, dimension_filter))
    dims = [F.col(d) if isinstance(d, str) else d for d in dimensions]
    aggs = [_metric(n, s) for n, s in metrics.items()]
    if pivot is not None:
        pcol, max_groups = pivot
        first = next(iter(metrics))
        groups = [
            r[0]
            for r in out.groupBy(pcol)
            .agg(_metric(first, metrics[first]))
            .orderBy(F.col(first).desc(), F.col(pcol).asc())
            .limit(max_groups)
            .collect()
        ]
        out = out.groupBy(*dims).pivot(pcol, groups).agg(*aggs)
        if len(metrics) == 1:
            # single-metric pivot names columns bare `{value}`; normalize to
            # the multi-metric `{value}_{metric}` convention
            group_set = {str(g) for g in groups}
            out = out.select(
                *[c for c in out.columns if c not in group_set],
                *[F.col(f"`{g}`").alias(f"{g}_{first}") for g in groups],
            )
        zero_fill = [
            f"{g}_{n}"
            for n, s in metrics.items()
            if s.partition(":")[0] in ("count", "users", "approx_users")
            for g in groups
        ]
        if zero_fill:
            out = out.na.fill(0, zero_fill)
    elif agg_kinds:
        names = list(dimensions)
        if "total" in agg_kinds:
            # SQL grouping sets emit the () row even when no row matches;
            # Spark's Expand emits no group for an empty input.  One
            # all-NULL sentinel row (``_real`` NULL) unioned under the
            # Expand keeps the () group non-empty without a second fact
            # scan; counts read ``_real`` and every other metric skips
            # NULLs, so the sentinel adds nothing, and a detail group that
            # only the sentinel formed is dropped.
            sentinel = out.sparkSession.range(1, numPartitions=1).select(
                F.lit(None).cast("boolean").alias("_real")
            )
            src = out.withColumn("_real", F.lit(True)).unionByName(
                sentinel, allowMissingColumns=True
            )
            aggs = [
                F.count("_real").alias(n) if s == "count" else _metric(n, s)
                for n, s in metrics.items()
            ]
            grouped = (
                src.groupingSets([list(names), []], *names)
                .agg(*aggs, F.count("_real").alias("_n"), F.grouping_id().alias("_gid"))
                .filter((F.col("_gid") > 0) | (F.col("_n") > 0))
            )
        else:
            grouped = out.groupBy(*names).agg(*aggs).withColumn(
                "_gid", F.lit(0)
            )
        want_minmax = {"minimum", "maximum"} & set(agg_kinds)
        if want_minmax:
            # report-sized frame (bounded by dim cardinality); checkpointed
            # so the min/max branches below reuse it instead of re-running
            # the fact scan per union branch
            grouped = grouped.localCheckpoint(eager=True)
        out = grouped.select(
            *[
                F.when(F.col("_gid") > 0, F.lit("RESERVED_TOTAL"))
                .otherwise(F.col(n).cast("string"))
                .alias(n)
                for n in names
            ],
            *metrics.keys(),
        )
        detail = grouped.filter(F.col("_gid") == 0)
        for kind, marker, agg_fn in (
            ("minimum", "RESERVED_MIN", F.min),
            ("maximum", "RESERVED_MAX", F.max),
        ):
            if kind in want_minmax:
                row = detail.agg(*[agg_fn(n).alias(n) for n in metrics]).select(
                    *[F.lit(marker).alias(n) for n in names], *metrics.keys()
                )
                out = out.unionByName(row)
    elif keep_empty_rows:
        pre = out  # filtered, pre-aggregation frame
        agg = pre.groupBy(*dims).agg(*aggs)
        dim_names = [pre.select(d).columns[0] for d in dims]
        scaffold = None
        for d, n in zip(dims, dim_names):
            values = pre.select(d).distinct()
            scaffold = values if scaffold is None else scaffold.crossJoin(
                F.broadcast(values)
            )
        out = scaffold.join(agg, dim_names, "left").na.fill(0, list(metrics.keys()))
    else:
        out = out.groupBy(*dims).agg(*aggs)
    if having:
        out = out.filter(parse_ga_filters(out, having))
    if metric_filter is not None:
        out = out.filter(filter_expression(out, metric_filter))
    if sort:
        order = [
            F.col(s[1:]).desc() if s.startswith("-") else F.col(s).asc() for s in sort
        ]
        out = out.orderBy(*order)
    if offset:
        out = out.offset(offset)
    if limit is not None:
        out = out.limit(limit)
    return out


def realtime_report(
    stream: DataFrame,
    dimensions: list[str | Column],
    metrics: dict[str, str],
    ts_col: str = "ts",
    window: str = "1 hour",
    lateness: str = "1 hour",
    filters: str | None = None,
) -> DataFrame:
    """GA Real-Time API analog [K]: the same dimensions/metrics/filters
    surface as :func:`report`, evaluated continuously over an event stream
    as a watermarked tumbling-window aggregation.

    Streaming restrictions honored: exact count-distinct (`users:`) is not
    streamable — use `approx_users:` (HLL sketches merge incrementally);
    sort/limit/pagination are sink-side concerns and deliberately absent.
    State per (window, dims) only; the watermark finalizes and evicts
    windows `lateness` behind the event-time front."""
    out = stream
    if filters:
        out = out.filter(parse_ga_filters(stream, filters))
    for spec in metrics.values():
        if spec.partition(":")[0] == "users":
            raise ValueError(
                "exact count-distinct is not streamable; use approx_users:"
            )
    dims = [F.col(d) if isinstance(d, str) else d for d in dimensions]
    agg = (
        out.withWatermark(ts_col, lateness)
        .groupBy(F.window(ts_col, window), *dims)
        .agg(*[_metric(n, s) for n, s in metrics.items()])
    )
    keep = [c for c in agg.columns if c != "window"]
    return agg.select(
        F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
            "window_start"
        ),
        *keep,
    )


def cohort_report(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    max_offset: int | None = None,
) -> DataFrame:
    """GA v4 `cohortGroup` retention report [K]: entities cohorted by
    first-activity week, one row per (cohort_week, week_offset) with the
    count of entities active that many weeks after their first touch.

    Physical shape: one groupBy(entity) to find first touch (shuffle on the
    entity key), a join back on the same key (co-partitioned — reuses the
    shuffle; broadcast when the entity dim is small), then a count-distinct
    per (cohort, offset) — cardinality bounded by weeks^2, tiny at any scale.
    """
    first = df.groupBy(entity_col).agg(F.min(ts_col).alias("_first_ts"))
    joined = df.select(entity_col, ts_col).join(first, entity_col)
    cohort = F.date_trunc("week", F.col("_first_ts"))
    offset = F.floor(
        F.datediff(F.date_trunc("day", F.col(ts_col)), F.date_trunc("day", cohort)) / 7
    ).cast("long")
    out = (
        joined.select(
            F.date_format(cohort, "yyyy-MM-dd").alias("cohort_week"),
            offset.alias("week_offset"),
            F.col(entity_col),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct(entity_col).alias("active_users"))
    )
    if max_offset is not None:
        out = out.filter(F.col("week_offset") <= max_offset)
    return out


def compare_report(
    df: DataFrame,
    dimensions: list[str | Column],
    metrics: dict[str, str],
    ts_col: str,
    range_a: tuple[str, str],
    range_b: tuple[str, str],
) -> DataFrame:
    """GA v4 twin `dateRanges` with DELTA ordering [K]: the same metrics for
    a current (a) and comparison (b) window side-by-side plus the delta,
    computed as ONE pass of conditional aggregates — no self-join, no second
    scan.  Only sum/count metric kinds are meaningful per-window."""
    a0, a1 = range_a
    b0, b1 = range_b
    ts = F.col(ts_col)
    in_a = (ts >= F.lit(a0).cast("timestamp")) & (ts < F.lit(a1).cast("timestamp"))
    in_b = (ts >= F.lit(b0).cast("timestamp")) & (ts < F.lit(b1).cast("timestamp"))
    aggs: list[Column] = []
    deltas: list[Column] = []
    for name, spec in metrics.items():
        kind, _, col = spec.partition(":")
        if kind == "count":
            ma = F.count(F.when(in_a, F.lit(1))).alias(f"{name}_a")
            mb = F.count(F.when(in_b, F.lit(1))).alias(f"{name}_b")
        elif kind == "sum":
            # dsum = shared exact-decimal accumulation (determinism.py);
            # coalesce 0 because a dim present in only one window sums NULL
            ma = F.coalesce(dsum(F.when(in_a, F.col(col))), F.lit(0.0)).alias(
                f"{name}_a"
            )
            mb = F.coalesce(dsum(F.when(in_b, F.col(col))), F.lit(0.0)).alias(
                f"{name}_b"
            )
        else:
            raise ValueError(f"compare_report supports count/sum, got {spec!r}")
        aggs += [ma, mb]
        deltas.append(
            (F.col(f"{name}_a") - F.col(f"{name}_b")).alias(f"{name}_delta")
        )
    dims = [F.col(d) if isinstance(d, str) else d for d in dimensions]
    out = df.filter(in_a | in_b).groupBy(*dims).agg(*aggs)
    return out.select(*[F.col(c) for c in out.columns], *deltas)


def funnel_report(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    step_col: str,
    steps: list[str],
) -> DataFrame:
    """GA goal-funnel analysis [K]: how many entities completed step 1, then
    step 2 AFTER step 1, then step 3 AFTER step 2, ... (strict event-time
    ordering, first qualifying occurrence per step).

    Physical shape: ONE pass — per entity, the time-sorted event list folds
    through a higher-order aggregate that advances the step frontier
    (per-event work O(S)); then an explode + tiny groupBy counts reached
    entities per step.  A per-step aggregate-and-join-back formulation
    would embed step k's whole lineage in every later step (O(S^2) subtree
    recompute); this shape scans the fact table exactly once.  Per-entity
    event lists must fit in memory — the same bound as any
    sessionization/collect_list over an entity's history."""
    n_steps = len(steps)
    lit_steps = F.array(*[F.lit(s) for s in steps])
    per_entity = (
        df.filter(F.col(step_col).isin(list(steps)))
        .groupBy(entity_col)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(ts_col).alias("ts"), F.col(step_col).alias("step"))
                )
            ).alias("_evs")
        )
    )
    init = F.array_repeat(F.lit(None).cast("timestamp"), n_steps)

    def advance(acc, e):
        # element_at is 1-based; greatest(i,1) keeps the i==0 branch legal
        # (its value is ignored there: the `i == 0` disjunct is already true)
        return F.transform(
            acc,
            lambda t, i: F.when(t.isNotNull(), t).otherwise(
                F.when(
                    (e.getField("step") == F.element_at(lit_steps, i + 1))
                    & (
                        (i == 0)
                        | (
                            F.element_at(acc, F.greatest(i, F.lit(1))).isNotNull()
                            & (e.getField("ts") > F.element_at(acc, F.greatest(i, F.lit(1))))
                        )
                    ),
                    e.getField("ts"),
                )
            ),
        )

    reached = per_entity.select(
        F.col(entity_col),
        F.aggregate(F.col("_evs"), init, advance).alias("_reached"),
    )
    counts = (
        reached.select(F.posexplode("_reached").alias("_i", "_t"))
        .groupBy("_i")
        .agg(F.count("_t").alias("users"))  # count() skips NULLs = not reached
    )
    # Left-join against a static 1..n_steps frame so the report ALWAYS emits
    # one row per funnel step — with no qualifying events at all, `counts` is
    # empty and a bare select would return zero rows instead of zero counts.
    spark = df.sparkSession
    step_frame = spark.range(1, n_steps + 1).select(F.col("id").cast("int").alias("step"))
    rows = (
        step_frame.join(
            counts.select((F.col("_i") + 1).cast("int").alias("step"), "users"),
            "step",
            "left",
        )
        .select(
            "step",
            F.element_at(lit_steps, F.col("step")).alias("step_name"),
            F.coalesce(F.col("users"), F.lit(0).cast("long")).alias("users"),
        )
    )
    # prev-step users via a broadcast self-join on step-1 (the frame is
    # n_steps rows — a lag() window would plan a partition-less WindowExec
    # and warn on every run, even though it's bounded here).  nullif guards
    # the 0-user intermediate step: conversion is NULL, not an
    # engine-dependent div-by-zero artifact.
    prev_frame = rows.select(
        (F.col("step") + 1).alias("step"), F.col("users").alias("_prev")
    )
    return (
        rows.join(F.broadcast(prev_frame), "step", "left")
        .withColumn(
            "conversion",
            F.when(F.col("_prev").isNull() & (F.col("step") == 1), F.lit(1.0)).otherwise(
                F.round(
                    F.col("users") / F.nullif(F.col("_prev"), F.lit(0).cast("long")), 6
                )
            ),
        )
        .select("step", "step_name", "users", "conversion")
    )
