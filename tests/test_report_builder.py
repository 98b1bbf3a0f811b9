"""Report builder (E1): GA filter DSL semantics + end-to-end report shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from google_analytics_dataframes_spark.io import load_table
from google_analytics_dataframes_spark.report import parse_ga_filters, report
from tests.conftest import SF_DIR


def test_filter_dsl_or_binds_inside_and(spark):
    ev = load_table(spark, SF_DIR, "events")
    got = ev.filter(
        parse_ga_filters(ev, "event_type==view,event_type==click;value>10.0")
    )
    want = ev.filter(
        ((F.col("event_type") == "view") | (F.col("event_type") == "click"))
        & (F.col("value") > 10.0)
    )
    assert got.count() == want.count() > 0


def test_filter_dsl_contains_and_regex(spark):
    p = load_table(spark, SF_DIR, "part")
    assert (
        p.filter(parse_ga_filters(p, "p_name=@widget")).count()
        == p.filter(F.col("p_name").contains("widget")).count()
    )
    assert (
        p.filter(parse_ga_filters(p, "p_type=~^PROMO;p_name!@cold")).count()
        == p.filter(
            F.col("p_type").rlike("^PROMO") & ~F.col("p_name").contains("cold")
        ).count()
    )


def test_filter_dsl_numeric_comparators(spark):
    o = load_table(spark, SF_DIR, "orders")
    n = o.filter(parse_ga_filters(o, "o_totalprice>=100000.0;o_totalprice<200000.0"))
    m = o.filter(
        (F.col("o_totalprice") >= 100000.0) & (F.col("o_totalprice") < 200000.0)
    )
    assert n.count() == m.count() > 0


def test_report_matches_handbuilt_plan(spark):
    ev = load_table(spark, SF_DIR, "events")
    rep = report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "users": "users:user_id"},
        date_range=("ts", "2024-01-01", "2024-01-15"),
        sort=["-sessions"],
        limit=3,
    ).collect()
    hand = (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("sessions"), F.countDistinct("user_id").alias("users"))
        .orderBy(F.col("sessions").desc())
        .limit(3)
        .collect()
    )
    assert [r.asDict() for r in rep] == [r.asDict() for r in hand]


def test_report_pagination_disjoint_pages(spark):
    o = load_table(spark, SF_DIR, "orders")
    kw = dict(
        dimensions=["o_orderkey"],
        metrics={"n": "count"},
        sort=["-n", "o_orderkey"],
    )
    page1 = report(o, limit=20, **kw).collect()
    page2 = report(o, limit=20, offset=20, **kw).collect()
    keys1 = {r.o_orderkey for r in page1}
    keys2 = {r.o_orderkey for r in page2}
    assert len(keys1) == len(keys2) == 20 and not keys1 & keys2


def test_unknown_metric_and_bad_filter_raise(spark):
    ev = load_table(spark, SF_DIR, "events")
    import pytest

    with pytest.raises(ValueError, match="unknown metric"):
        report(ev, dimensions=["event_type"], metrics={"x": "median:value"}).collect()
    with pytest.raises(ValueError, match="no GA operator"):
        parse_ga_filters(ev, "event_type~~view")


def test_segment_keeps_all_rows_of_qualifying_users(spark):
    """A segment is user-scoped, not row-scoped: a qualifying user's NON-
    matching rows must be kept too."""
    ev = load_table(spark, SF_DIR, "events")
    # data-driven threshold: the median purchase value — qualifying users are
    # a nonempty strict subset at every scale factor
    thr = ev.filter(F.col("event_type") == "purchase").agg(
        F.percentile_approx("value", 0.5)
    ).first()[0]
    cond = (F.col("event_type") == "purchase") & (F.col("value") > thr)
    qualifying = ev.filter(cond).select("user_id").distinct()
    got = report(
        ev,
        dimensions=["user_id"],
        metrics={"n": "count"},
        segment=("user_id", f"event_type==purchase;value>{thr}"),
    )
    want = (
        ev.join(qualifying, "user_id", "left_semi").groupBy("user_id").count()
    )
    g = {r["user_id"]: r["n"] for r in got.collect()}
    w = {r["user_id"]: r["count"] for r in want.collect()}
    assert g == w and len(g) > 0
    # row-scoped filtering would yield strictly fewer rows per user
    row_scoped = ev.filter(cond).groupBy("user_id").count()
    assert sum(g.values()) > sum(r["count"] for r in row_scoped.collect())


def test_cohort_retention_invariants(spark):
    from google_analytics_dataframes_spark.report import cohort_report

    ev = load_table(spark, SF_DIR, "events")
    rows = cohort_report(ev, "user_id", "ts").collect()
    assert rows, "cohort report empty"
    # offsets are non-negative; week-0 of the earliest cohort contains users
    assert all(r["week_offset"] >= 0 for r in rows)
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r["cohort_week"], {})[r["week_offset"]] = r[
            "active_users"
        ]
    for cohort, offs in by_cohort.items():
        assert 0 in offs, f"cohort {cohort} missing week 0 (first touch)"
        # week-0 actives >= any later week's actives is NOT guaranteed per
        # week, but week-0 must equal the cohort size = max over weeks
        assert offs[0] == max(offs.values())
    # total distinct users across cohorts' week-0 == all users
    assert sum(offs[0] for offs in by_cohort.values()) == ev.select(
        "user_id"
    ).distinct().count()


def test_compare_report_delta_arithmetic(spark):
    from google_analytics_dataframes_spark.report import compare_report

    ev = load_table(spark, SF_DIR, "events")
    rows = compare_report(
        ev,
        dimensions=["event_type"],
        metrics={"n": "count", "v": "sum:value"},
        ts_col="ts",
        range_a=("2024-01-01", "2024-01-15"),
        range_b=("2024-01-15", "2024-01-29"),
    ).collect()
    assert rows
    for r in rows:
        assert r["n_delta"] == r["n_a"] - r["n_b"]
        assert abs(r["v_delta"] - (r["v_a"] - r["v_b"])) < 1e-9
    # window A counts must equal a direct filtered count
    direct = (
        ev.filter(
            (F.col("ts") >= F.lit("2024-01-01").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-15").cast("timestamp"))
        )
        .groupBy("event_type")
        .count()
        .collect()
    )
    d = {r["event_type"]: r["count"] for r in direct}
    assert {r["event_type"]: r["n_a"] for r in rows} == d


def test_having_filters_on_metric_output(spark):
    ev = load_table(spark, SF_DIR, "events")
    full = report(ev, dimensions=["event_type"], metrics={"n": "count"})
    counts = {r["event_type"]: r["n"] for r in full.collect()}
    cutoff = sorted(counts.values())[len(counts) // 2]
    kept = report(
        ev,
        dimensions=["event_type"],
        metrics={"n": "count"},
        having=f"n>={cutoff}",
    ).collect()
    assert {r["event_type"] for r in kept} == {
        k for k, v in counts.items() if v >= cutoff
    }


def test_filter_dsl_operator_chars_in_value_and_escaping(spark):
    """Operator characters inside values must not split the condition, and
    GA's backslash-escaped separators stay literal."""
    ev = load_table(spark, SF_DIR, "events")
    # '>=' inside a contains-value: must parse as event_type =@ "p>=q" (0 rows)
    assert ev.filter(parse_ga_filters(ev, "event_type=@p>=q")).count() == 0
    # regex value containing '<' and '=': parses as =~ with the full pattern
    assert (
        ev.filter(parse_ga_filters(ev, "event_type=~^(view|x<=y)$")).count()
        == ev.filter(F.col("event_type") == "view").count()
    )
    # escaped comma is literal, not an OR split: one condition, 0 matches
    assert ev.filter(parse_ga_filters(ev, r"event_type==view\,click")).count() == 0
    # unescaped comma still means OR
    two = ev.filter(parse_ga_filters(ev, "event_type==view,event_type==click")).count()
    assert two == ev.filter(F.col("event_type").isin("view", "click")).count()


def test_pivot_group_ranking_and_zero_fill(spark):
    """pivot=(col, n): groups are the top-n pivot values by the FIRST
    metric (desc, value-asc tiebreak); count cells with no rows are 0, not
    NULL; multi-metric pivots name columns {value}_{metric}."""
    ev = load_table(spark, SF_DIR, "events")
    out = report(
        ev,
        dimensions=[
            F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        ],
        metrics={"sessions": "count", "total_value": "sum:value"},
        pivot=("event_type", 2),
    )
    top2 = [
        r[0]
        for r in ev.groupBy("event_type")
        .count()
        .orderBy(F.col("count").desc(), F.col("event_type"))
        .limit(2)
        .collect()
    ]
    want_cols = ["day"] + [f"{g}_{m}" for g in top2 for m in ("sessions", "total_value")]
    assert sorted(out.columns) == sorted(want_cols)
    pdf = out.toPandas()
    for g in top2:
        assert pdf[f"{g}_sessions"].notna().all()  # count zero-fills
    # cross-check one cell against a direct filter-count
    day0 = pdf["day"].min()
    direct = ev.filter(
        (F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd") == day0)
        & (F.col("event_type") == top2[0])
    ).count()
    assert int(pdf.set_index("day").loc[day0, f"{top2[0]}_sessions"]) == direct


def test_funnel_emits_all_steps_on_degenerate_data(spark):
    """With NO qualifying events the funnel must still report one zero-count
    row per step (matching the oracle's COUNT(*)-over-empty-CTE shape), and
    a 0-user intermediate step must yield NULL conversion, not a
    div-by-zero artifact."""
    from google_analytics_dataframes_spark.report import funnel_report

    ev = load_table(spark, SF_DIR, "events")
    out = funnel_report(
        ev,
        entity_col="user_id",
        ts_col="ts",
        step_col="event_type",
        steps=["no_such_step_a", "no_such_step_b", "no_such_step_c"],
    ).orderBy("step")
    rows = out.collect()
    assert [r["step"] for r in rows] == [1, 2, 3]
    assert [r["users"] for r in rows] == [0, 0, 0]
    assert rows[0]["conversion"] == 1.0  # first step has no predecessor
    assert rows[1]["conversion"] is None and rows[2]["conversion"] is None


def test_totals_appends_reserved_total_row(spark):
    """report(totals=True): detail rows plus GA's RESERVED_TOTAL grand-total
    row whose metrics equal the column sums of the detail rows (count/sum
    metrics re-aggregate exactly); computed dims / pivot combinations are
    rejected."""
    import pytest as _pytest

    from google_analytics_dataframes_spark.report import report

    ev = load_table(spark, SF_DIR, "events")
    out = report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        totals=True,
    ).toPandas()
    total = out[out.event_type == "RESERVED_TOTAL"]
    detail = out[out.event_type != "RESERVED_TOTAL"]
    assert len(total) == 1 and len(detail) >= 2
    assert int(total.sessions.iloc[0]) == int(detail.sessions.sum())
    assert abs(float(total.total_value.iloc[0]) - float(detail.total_value.sum())) < 1e-6
    with _pytest.raises(ValueError, match="plain dimension names"):
        report(ev, [F.lit(1).alias("x")], {"n": "count"}, totals=True)
    with _pytest.raises(ValueError, match="mutually exclusive"):
        report(ev, ["event_type"], {"n": "count"}, totals=True, pivot=("event_type", 2))


def test_totals_over_no_matching_rows_keeps_total_row(spark):
    """A totals report whose filters match nothing still returns the one
    RESERVED_TOTAL row, as SQL grouping sets do: count-type metrics are 0,
    the others NULL.  Rows with NULL dimensions keep their own detail row
    next to the total."""
    ev = load_table(spark, SF_DIR, "events")
    metrics = {"sessions": "count", "users": "users:user_id", "total_value": "sum:value"}
    for dims in (["event_type"], ["event_type", "user_id"]):
        rows = report(
            ev, dims, metrics, filters="event_type==none", totals=True
        ).collect()
        assert len(rows) == 1, rows
        r = rows[0].asDict()
        assert all(r[d] == "RESERVED_TOTAL" for d in dims), r
        assert (r["sessions"], r["users"], r["total_value"]) == (0, 0, None), r
    df = spark.createDataFrame(
        [(None, 1.0), (None, 2.0), ("a", 4.0)], "k string, v double"
    )
    got = {
        r.k: (r.n, r.s)
        for r in report(df, ["k"], {"n": "count", "s": "sum:v"}, totals=True).collect()
    }
    assert got == {None: (2, 3.0), "a": (1, 4.0), "RESERVED_TOTAL": (3, 7.0)}, got


def test_histogram_dim_labels_and_ordinal(spark):
    import pytest as _pytest

    from google_analytics_dataframes_spark.report import (
        histogram_dim,
        histogram_ordinal,
    )

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (49.9,), (50.0,), (299.0,), (300.0,), (1e6,)], ["v"]
    )
    buckets = [0, 50, 100, 200, 300]
    out = df.select(
        "v", histogram_dim("v", buckets), histogram_ordinal("v", buckets)
    ).collect()
    got = {r.v: (r.bucket, r.bucket_ord) for r in out}
    assert got[-5.0] == ("<0", 0)
    assert got[0.0] == ("0-49", 1)
    assert got[49.9] == ("0-49", 1)
    assert got[50.0] == ("50-99", 2)
    assert got[299.0] == ("200-299", 4)
    assert got[300.0] == ("300+", 5)
    assert got[1e6] == ("300+", 5)
    with _pytest.raises(ValueError, match="ascending"):
        histogram_dim("v", [50, 0])
    with _pytest.raises(ValueError, match="ascending"):
        histogram_ordinal("v", [])


def test_minmax_aggregation_rows(spark):
    import pytest as _pytest

    ev = load_table(spark, SF_DIR, "events")
    out = report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count", "total_value": "sum:value"},
        totals=("total", "minimum", "maximum"),
    ).toPandas()
    markers = {"RESERVED_TOTAL", "RESERVED_MIN", "RESERVED_MAX"}
    detail = out[~out.event_type.isin(markers)]
    mn = out[out.event_type == "RESERVED_MIN"]
    mx = out[out.event_type == "RESERVED_MAX"]
    assert len(mn) == 1 and len(mx) == 1
    # GA semantics: extrema over the report's detail rows
    assert int(mn.sessions.iloc[0]) == int(detail.sessions.min())
    assert int(mx.sessions.iloc[0]) == int(detail.sessions.max())
    assert float(mn.total_value.iloc[0]) == float(detail.total_value.min())
    assert float(mx.total_value.iloc[0]) == float(detail.total_value.max())
    # minimum/maximum alone: no RESERVED_TOTAL row
    solo = report(
        ev,
        dimensions=["event_type"],
        metrics={"sessions": "count"},
        totals=("maximum",),
    ).toPandas()
    assert "RESERVED_TOTAL" not in set(solo.event_type)
    assert "RESERVED_MAX" in set(solo.event_type)
    with _pytest.raises(ValueError, match="unknown metric aggregation"):
        report(ev, ["event_type"], {"n": "count"}, totals=("median",))


def test_filter_expression_leaves_and_groups(spark):
    """GA4 FilterExpression AST: every leaf type + nesting + case
    sensitivity + error paths (report.py filter_expression)."""
    import pytest as _pytest

    from google_analytics_dataframes_spark.report import filter_expression

    df = spark.createDataFrame(
        [("Alpha", 5.0), ("beta", 10.0), ("ALPHABET", 15.0), ("gamma", 20.0)],
        ["name", "x"],
    )

    def names(spec):
        return sorted(
            r.name for r in df.filter(filter_expression(df, spec)).collect()
        )

    sf = lambda **kw: {"filter": {"fieldName": "name", "stringFilter": kw}}
    # case-insensitive by default; caseSensitive flips it
    assert names(sf(matchType="EXACT", value="alpha")) == ["Alpha"]
    assert names(sf(matchType="EXACT", value="alpha", caseSensitive=True)) == []
    assert names(sf(matchType="BEGINS_WITH", value="ALPHA")) == ["ALPHABET", "Alpha"]
    assert names(sf(matchType="ENDS_WITH", value="BET")) == ["ALPHABET"]
    assert names(sf(matchType="CONTAINS", value="mm")) == ["gamma"]
    assert names(sf(matchType="FULL_REGEXP", value="a.pha")) == ["Alpha"]
    assert names(sf(matchType="PARTIAL_REGEXP", value="a.pha")) == [
        "ALPHABET",
        "Alpha",
    ]
    assert names(
        {"filter": {"fieldName": "name",
                    "inListFilter": {"values": ["ALPHA", "Gamma"]}}}
    ) == ["Alpha", "gamma"]
    assert names(
        {"filter": {"fieldName": "name",
                    "inListFilter": {"values": ["Alpha", "gamma"],
                                     "caseSensitive": True}}}
    ) == ["Alpha", "gamma"]
    assert names(
        {"filter": {"fieldName": "x",
                    "numericFilter": {"operation": "LESS_THAN_OR_EQUAL",
                                      "value": {"int64Value": "10"}}}}
    ) == ["Alpha", "beta"]
    assert names(
        {"filter": {"fieldName": "x",
                    "betweenFilter": {"fromValue": {"doubleValue": 10.0},
                                      "toValue": {"doubleValue": 15.0}}}}
    ) == ["ALPHABET", "beta"]
    # nesting: (begins_with alpha OR x >= 20) AND NOT exact 'gamma'
    nested = {
        "andGroup": {"expressions": [
            {"orGroup": {"expressions": [
                sf(matchType="BEGINS_WITH", value="alpha"),
                {"filter": {"fieldName": "x",
                            "numericFilter": {"operation":
                                              "GREATER_THAN_OR_EQUAL",
                                              "value": {"doubleValue": 20.0}}}},
            ]}},
            {"notExpression": sf(matchType="EXACT", value="gamma")},
        ]}
    }
    assert names(nested) == ["ALPHABET", "Alpha"]
    with _pytest.raises(ValueError, match="matchType"):
        names(sf(matchType="SOUNDS_LIKE", value="x"))
    with _pytest.raises(ValueError, match="operation"):
        names({"filter": {"fieldName": "x",
                          "numericFilter": {"operation": "NEAR",
                                            "value": {"doubleValue": 1.0}}}})
    with _pytest.raises(ValueError, match="NumericValue"):
        names({"filter": {"fieldName": "x",
                          "numericFilter": {"operation": "EQUAL",
                                            "value": {"stringValue": "1"}}}})
    with _pytest.raises(ValueError, match="unrecognized FilterExpression"):
        names({"xorGroup": {}})
    with _pytest.raises(ValueError, match="concrete filter"):
        names({"filter": {"fieldName": "x"}})
