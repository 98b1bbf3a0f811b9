"""Seeded GA report draws for ``ga_reports`` and their DuckDB twins.

A draw fixes every argument of one ``report.report(...)`` call.  The
grammar is limited to what the SQL twin can express exactly: dimensions,
metric specs (``count``, ``sum:``, ``avg:``, ``users:``, ``ratio:``,
``min:``, ``max:``), a GA filter DSL string, a date range, a total sort,
limit/offset, and sometimes a segment, totals or a pivot.

The traffic mix is assumed, not measured: no GA session traces are
available to draw it from.  The assumptions are the constants below, the
equal mix of ``CLASSES``, and the repeat share ``workloads.GA_REPEAT_SHARE``.
A gain that depends on how often reports repeat or on which shapes are
common should be read against them.
"""

from __future__ import annotations

import random
import re
from dataclasses import dataclass

EVENTS_DIMS = ("event_type", "day", "user_id")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
ORDERS_DIMS = ("o_orderstatus", "o_orderpriority")
DAY_SQL = "strftime(date_trunc('day', ts), '%Y-%m-%d')"
#: Assumed shares of draws with no filter, with a limit, and of limited
#: draws with an offset.
UNFILTERED_SHARE = 0.2
LIMITED_SHARE = 0.6
OFFSET_SHARE = 0.3


@dataclass(frozen=True)
class Draw:
    table: str
    dims: tuple[str, ...]
    metrics: tuple[tuple[str, str], ...]
    filters: str | None = None
    date_range: tuple[str, str] | None = None
    sort: tuple[str, ...] | None = None
    limit: int | None = None
    offset: int = 0
    segment: str | None = None
    totals: bool = False
    pivot: tuple[str, int] | None = None


def _event_condition(rng: random.Random) -> str:
    kind = rng.randrange(5)
    if kind == 0:
        return f"event_type=={rng.choice(EVENT_TYPES)}"
    if kind == 1:
        return f"event_type!={rng.choice(EVENT_TYPES)}"
    if kind == 2:
        return f"value{rng.choice(('>', '<', '>=', '<='))}{rng.randrange(5, 150)}.{rng.randrange(10)}"
    if kind == 3:
        return f"props=@: {rng.randrange(10)}"
    a, b = rng.sample(EVENT_TYPES, 2)
    return f"event_type=~^({a}|{b})$"


def _order_condition(rng: random.Random) -> str:
    kind = rng.randrange(3)
    if kind == 0:
        return f"o_orderpriority=@{rng.choice(('URGENT', 'HIGH', 'LOW', 'MEDIUM'))}"
    if kind == 1:
        return f"o_totalprice>={rng.randrange(1, 400) * 1000}.0"
    return f"o_orderstatus=={rng.choice('FOP')}"


def _filters(rng: random.Random, condition) -> str | None:
    if rng.random() < UNFILTERED_SHARE:
        return None
    groups = [",".join(condition(rng) for _ in range(rng.randint(1, 2)))
              for _ in range(rng.randint(1, 2))]
    return ";".join(groups)


def _events_metrics(rng: random.Random, first: tuple[str, str], k: int):
    extra = rng.sample(
        (("total_value", "sum:value"), ("avg_value", "avg:value"),
         ("share", "ratio:purchase_value/value"), ("top", "max:value"),
         ("bottom", "min:value")), k)
    return (first, *extra)


def _events_range(rng: random.Random) -> tuple[str, str]:
    start = rng.randint(1, 20)
    return f"2024-01-{start:02d}", f"2024-01-{start + rng.randint(3, 10):02d}"


def _sorted(rng: random.Random, d: Draw) -> Draw:
    """Total sort (first metric, then every dimension) and pagination."""
    limit = rng.randint(5, 50) if rng.random() < LIMITED_SHARE else None
    offset = rng.randint(1, 5) if limit and rng.random() < OFFSET_SHARE else 0
    return Draw(**{**d.__dict__, "sort": (f"-{d.metrics[0][0]}", *d.dims),
                   "limit": limit, "offset": offset})


def _plain(rng: random.Random) -> Draw:
    dims = (rng.choice(EVENTS_DIMS),)
    return _sorted(rng, Draw("events", dims, _events_metrics(rng, ("sessions", "count"), 2),
                             _filters(rng, _event_condition), _events_range(rng)))


def _distinct_users(rng: random.Random) -> Draw:
    dims = tuple(rng.sample(EVENTS_DIMS, 2))
    return _sorted(rng, Draw("events", dims, _events_metrics(rng, ("users", "users:user_id"), 1),
                             _filters(rng, _event_condition), _events_range(rng)))


def _segment(rng: random.Random) -> Draw:
    seg = f"event_type=={rng.choice(EVENT_TYPES)};value>{rng.randrange(50, 300)}.0"
    return _sorted(rng, Draw("events", (rng.choice(EVENTS_DIMS),),
                             _events_metrics(rng, ("sessions", "count"), 1),
                             _filters(rng, _event_condition), segment=seg))


def _totals(rng: random.Random) -> Draw:
    """No filter, only a date range, so the report always has rows: the
    engine drops the grand-total row of a report whose filters match
    nothing (see ``TOTALS_OVER_NO_ROWS``), and a workload op must not fail."""
    dims = tuple(rng.sample(("event_type", "user_id"), rng.randint(1, 2)))
    return Draw("events", dims, _events_metrics(rng, ("sessions", "count"), 1),
                None, _events_range(rng), totals=True)


def _pivot(rng: random.Random) -> Draw:
    return Draw("events", (rng.choice(("day", "user_id")),),
                _events_metrics(rng, ("sessions", "count"), 1),
                _filters(rng, _event_condition), _events_range(rng),
                pivot=("event_type", rng.randint(2, 4)))


def _orders(rng: random.Random) -> Draw:
    dims = tuple(rng.sample(ORDERS_DIMS, rng.randint(1, 2)))
    metrics = (("n", "count"), *[
        (f"m{i}", spec) for i, spec in enumerate(rng.sample(
            ("sum:o_totalprice", "avg:o_totalprice", "max:o_totalprice",
             "min:o_totalprice"), 2))
    ])
    year = rng.randint(1995, 2000)
    return _sorted(rng, Draw("orders", dims, metrics, _filters(rng, _order_condition),
                             (f"{year}-01-01", f"{year + rng.randint(1, 2)}-01-01")))


#: A totals report whose filter matches no row.  The engine returns no
#: rows for it; SQL grouping sets (the DuckDB twin) return one ``RESERVED_TOTAL`` row
#: with zero counts.  Run untimed on every ``ga_reports`` run, so the
#: defect shows in the run context until it is fixed.
TOTALS_OVER_NO_ROWS = Draw("events", ("event_type",), (("sessions", "count"),),
                           "event_type==none", ("2024-01-01", "2024-01-08"), totals=True)


#: Shape classes, cycled in this order, so each is an assumed sixth of the
#: traffic.  The seed draws every argument within a class; the class mix,
#: which sets how many exchange stages and jobs a report needs, is the same
#: for every seed.
CLASSES = (_plain, _distinct_users, _segment, _totals, _pivot, _orders)


def session(seed: int, n: int, repeat_share: float) -> list[Draw]:
    """``n`` draws of one seeded session, cycling through ``CLASSES``;
    about ``repeat_share`` of them repeat an earlier draw of the same
    class exactly."""
    rng = random.Random(seed)
    seen: list[list[Draw]] = [[] for _ in CLASSES]
    out: list[Draw] = []
    for i in range(n):
        c = i % len(CLASSES)
        if seen[c] and rng.random() < repeat_share:
            out.append(rng.choice(seen[c]))
        else:
            d = CLASSES[c](rng)
            seen[c].append(d)
            out.append(d)
    return out


# -- Spark side ---------------------------------------------------------------

def build(spark, sf_dir: str, d: Draw):
    """The draw as a ``report.report(...)`` plan over ``sf_dir``."""
    from pyspark.sql import functions as F

    from google_analytics_dataframes_spark.io import load_table
    from google_analytics_dataframes_spark.report import report

    df = load_table(spark, sf_dir, d.table)
    if d.table == "events":
        df = df.withColumn(
            "purchase_value",
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(F.lit(0.0)))
    date_col = "ts" if d.table == "events" else "o_orderdate"
    dims = [
        F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day")
        if x == "day" else x
        for x in d.dims
    ]
    return report(
        df,
        dimensions=dims,
        metrics=dict(d.metrics),
        filters=d.filters,
        date_range=(date_col, *d.date_range) if d.date_range else None,
        sort=list(d.sort) if d.sort else None,
        limit=d.limit,
        offset=d.offset,
        segment=("user_id", d.segment) if d.segment else None,
        pivot=d.pivot,
        totals=d.totals,
    )


# -- DuckDB twin --------------------------------------------------------------

_SQL_OPS = {"==": "=", "!=": "<>", ">": ">", "<": "<", ">=": ">=", "<=": "<="}


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _cond_sql(cond: str, numeric: set[str]) -> str:
    m = re.match(r"^([A-Za-z_][A-Za-z0-9_]*)(==|!=|>=|<=|=@|!@|=~|!~|>|<)(.*)$", cond)
    if m is None:
        raise ValueError(f"bad condition {cond!r}")
    col, op, val = m.groups()
    if op == "=@":
        return f"contains({col}, {_q(val)})"
    if op == "!@":
        return f"NOT contains({col}, {_q(val)})"
    if op == "=~":
        return f"regexp_matches({col}, {_q(val)})"
    if op == "!~":
        return f"NOT regexp_matches({col}, {_q(val)})"
    rhs = repr(float(val)) if col in numeric else _q(val)
    return f"{col} {_SQL_OPS[op]} {rhs}"


def _dsl_sql(dsl: str, numeric: set[str]) -> str:
    return " AND ".join(
        "(" + " OR ".join(_cond_sql(c, numeric) for c in group.split(",")) + ")"
        for group in dsl.split(";")
    )


def _metric_sql(spec: str, when: str | None = None) -> str:
    from google_analytics_dataframes_spark.determinism import davg_sql, dsum_sql

    kind, _, col = spec.partition(":")

    def arg(c: str) -> str:
        return f"CASE WHEN {when} THEN {c} END" if when else c

    if kind == "count":
        return f"COUNT({arg('1')})"
    if kind == "sum":
        return dsum_sql(arg(col))
    if kind == "avg":
        return davg_sql(arg(col))
    if kind in ("min", "max"):
        return f"{kind.upper()}({arg(col)})"
    if kind == "users":
        return f"COUNT(DISTINCT {arg(col)})"
    if kind == "ratio":
        num, _, den = col.partition("/")
        return f"({dsum_sql(arg(num))} / nullif({dsum_sql(arg(den))}, 0))"
    raise ValueError(spec)


def twin_sql(d: Draw, con) -> str:
    """DuckDB SQL computing the same result as ``build(d)``.  ``con`` is
    consulted for the pivot's top groups, as ``report`` collects them."""
    if d.table == "events":
        base = ("SELECT *, CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END"
                " AS purchase_value FROM events")
        numeric, date_col = {"value", "user_id", "event_id", "purchase_value"}, "ts"
    else:
        base = "SELECT * FROM orders"
        numeric, date_col = {"o_totalprice", "o_custkey", "o_orderkey"}, "o_orderdate"
    where = []
    if d.segment:
        where.append(f"user_id IN (SELECT user_id FROM b WHERE {_dsl_sql(d.segment, numeric)})")
    if d.date_range:
        lo, hi = d.date_range
        where.append(f"{date_col} >= TIMESTAMP {_q(lo)} AND {date_col} < TIMESTAMP {_q(hi)}")
    if d.filters:
        where.append(_dsl_sql(d.filters, numeric))
    filtered = f"WITH b AS ({base}), f AS (SELECT * FROM b" + (
        f" WHERE {' AND '.join(where)})" if where else ")")
    dim_sql = [f"{DAY_SQL} AS day" if x == "day" else x for x in d.dims]
    dim_names = list(d.dims)

    if d.pivot:
        pcol, k = d.pivot
        first_spec = d.metrics[0][1]
        groups = [r[0] for r in con.execute(
            f"{filtered} SELECT {pcol}, {_metric_sql(first_spec)} AS m FROM f "
            f"GROUP BY {pcol} ORDER BY m DESC NULLS LAST, {pcol} ASC LIMIT {k}").fetchall()]
        cols = []
        for g in groups:
            for name, spec in d.metrics:
                expr = _metric_sql(spec, when=f"{pcol} = {_q(g)}")
                cols.append(f"{expr} AS \"{g}_{name}\"")
        return (f"{filtered} SELECT {', '.join(dim_sql + cols)} FROM f "
                f"GROUP BY {', '.join(dim_names)}")

    aggs = [f"{_metric_sql(spec)} AS {name}" for name, spec in d.metrics]
    if d.totals:
        dims_out = [
            f"CASE WHEN GROUPING({x}) = 1 THEN 'RESERVED_TOTAL' ELSE CAST({x} AS VARCHAR) END AS {x}"
            for x in dim_names
        ]
        return (f"{filtered} SELECT {', '.join(dims_out + aggs)} FROM f "
                f"GROUP BY GROUPING SETS (({', '.join(dim_names)}), ())")
    sql = f"{filtered} SELECT {', '.join(dim_sql + aggs)} FROM f GROUP BY {', '.join(dim_names)}"
    if d.sort:
        order = [f"{s[1:]} DESC NULLS LAST" if s.startswith("-") else f"{s} ASC NULLS FIRST"
                 for s in d.sort]
        sql += " ORDER BY " + ", ".join(order)
    if d.limit is not None:
        sql += f" LIMIT {d.limit}"
    if d.offset:
        sql += f" OFFSET {d.offset}"
    return sql
