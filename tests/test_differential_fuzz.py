"""Differential fuzzing: hypothesis-generated relational plans executed on
BOTH engines from one spec.

The registry gate pins 225 hand-written queries; this module covers the
space BETWEEN them — arbitrary filter/group/aggregate compositions the hand
set doesn't enumerate. Each generated spec is lowered twice from the same
structure: once to a DataFrame plan (the engine under test) and once to SQL
text (DuckDB), so any divergence is an engine-semantics bug, not a
transcription bug. Money/quantity comparisons use the repo's exact cents
trick; derandomize=True keeps the corpus stable run-over-run (a regression
gate, not a randomness source).
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from phabricator_etl_spark.sources.catalog import load_table

SF = "/root/testdata/sf0.001"

# ---- spec grammar ----------------------------------------------------------

_FILTERS = {
    # name -> (spark_fn(params), sql_fn(params), params_strategy)
    "qty_between": (
        lambda lo, hi: (F.col("l_quantity") >= lo) & (F.col("l_quantity") <= hi),
        lambda lo, hi: f"l_quantity >= {lo} AND l_quantity <= {hi}",
        st.tuples(st.integers(1, 25), st.integers(26, 50)),
    ),
    "flag_in": (
        lambda *flags: F.col("l_returnflag").isin(*flags),
        lambda *flags: f"l_returnflag IN ({', '.join(repr(f) for f in flags)})",
        st.sets(st.sampled_from(["A", "N", "R"]), min_size=1, max_size=3).map(tuple),
    ),
    "discount_cents_ge": (
        lambda k: F.round(F.col("l_discount") * 100).cast("long") >= k,
        lambda k: f"CAST(round(l_discount * 100) AS BIGINT) >= {k}",
        st.tuples(st.integers(0, 10)),
    ),
    "shipdate_before": (
        lambda y, m: F.col("l_shipdate") < F.lit(dt.datetime(y, m, 1)),
        lambda y, m: f"l_shipdate < TIMESTAMP '{y:04d}-{m:02d}-01'",
        st.tuples(st.integers(1993, 1998), st.integers(1, 12)),
    ),
    "orderkey_mod": (
        lambda m, r: F.col("l_orderkey") % m == r,
        lambda m, r: f"l_orderkey % {m} = {r}",
        st.integers(2, 7).flatmap(
            lambda m: st.tuples(st.just(m), st.integers(0, m - 1))
        ),
    ),
}

# thunks, not Columns: building a Column needs an active SparkContext, which
# doesn't exist at import time
_GROUPS = {
    "l_returnflag": (lambda: F.col("l_returnflag"), "l_returnflag"),
    "l_linestatus": (lambda: F.col("l_linestatus"), "l_linestatus"),
    "g_supp": (
        lambda: (F.col("l_suppkey") % 10).alias("g_supp"),
        "l_suppkey % 10 AS g_supp",
    ),
}

_AGGS = {
    "cnt": (lambda: F.count(F.lit(1)).cast("long"), "CAST(COUNT(*) AS BIGINT)"),
    "sum_qty_c": (
        lambda: F.sum(F.round(F.col("l_quantity") * 100).cast("long")).cast("long"),
        "CAST(SUM(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)",
    ),
    "sum_price_c": (
        lambda: F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).cast("long"),
        "CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)",
    ),
    "min_ok": (lambda: F.min("l_orderkey").cast("long"), "CAST(MIN(l_orderkey) AS BIGINT)"),
    "max_ok": (lambda: F.max("l_orderkey").cast("long"), "CAST(MAX(l_orderkey) AS BIGINT)"),
    "nd_supp": (
        lambda: F.countDistinct("l_suppkey").cast("long"),
        "CAST(COUNT(DISTINCT l_suppkey) AS BIGINT)",
    ),
}


@st.composite
def plan_specs(draw):
    filters = draw(
        st.lists(st.sampled_from(sorted(_FILTERS)), unique=True, max_size=3)
    )
    fparams = {name: draw(_FILTERS[name][2]) for name in filters}
    groups = draw(st.lists(st.sampled_from(sorted(_GROUPS)), unique=True, max_size=3))
    aggs = draw(
        st.lists(st.sampled_from(sorted(_AGGS)), unique=True, min_size=1, max_size=4)
    )
    return {"filters": fparams, "groups": sorted(groups), "aggs": sorted(aggs)}


# ---- dual lowering ---------------------------------------------------------


def _run_spark(spark, spec):
    df = load_table(spark, SF, "lineitem")
    for name, params in spec["filters"].items():
        df = df.filter(_FILTERS[name][0](*params))
    agg_cols = [_AGGS[a][0]().alias(a) for a in spec["aggs"]]
    if spec["groups"]:
        df = df.groupBy(*[_GROUPS[g][0]() for g in spec["groups"]]).agg(*agg_cols)
    else:
        df = df.agg(*agg_cols)
    return df


def _to_sql(spec) -> str:
    where = " AND ".join(
        _FILTERS[name][1](*params) for name, params in spec["filters"].items()
    )
    select = [_GROUPS[g][1] for g in spec["groups"]] + [
        f"{_AGGS[a][1]} AS {a}" for a in spec["aggs"]
    ]
    sql = f"SELECT {', '.join(select)} FROM lineitem"
    if where:
        sql += f" WHERE {where}"
    if spec["groups"]:
        sql += f" GROUP BY {', '.join(str(i + 1) for i in range(len(spec['groups'])))}"
    return sql


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if v is None or (isinstance(v, float) and math.isnan(v)):
                vals.append("NULL")
            elif isinstance(v, float):
                vals.append(repr(v))
            else:
                vals.append(str(v))
        out.append(tuple(vals))
    return sorted(out)


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in ("lineitem", "customer", "orders"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return con


@settings(
    max_examples=30,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=plan_specs())
def test_generated_plans_agree_across_engines(spark, duck, spec):
    sdf = _run_spark(spark, spec)
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(_to_sql(spec))
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    assert sorted(sdf.columns) == sorted(dcols), spec
    assert _norm(srows, sdf.columns) == _norm(drows, dcols), spec


# ---- join fuzzing ----------------------------------------------------------
# customer LEFT JOIN orders exercises null propagation through aggregates
# (custkeys without orders exist at every SF); the inner variant exercises
# join + filter + group compositions. Both lowered from one spec.

_CUST_FILTERS = {
    "acctbal_cents_ge": (
        lambda k: F.round(F.col("c_acctbal") * 100).cast("long") >= k,
        lambda k: f"CAST(round(c_acctbal * 100) AS BIGINT) >= {k}",
        st.tuples(st.integers(-90_000, 900_000)),
    ),
    "segment_in": (
        lambda *segs: F.col("c_mktsegment").isin(*segs),
        lambda *segs: f"c_mktsegment IN ({', '.join(repr(s) for s in segs)})",
        st.sets(
            st.sampled_from(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
            ),
            min_size=1,
            max_size=5,
        ).map(tuple),
    ),
}

_ORD_FILTERS = {
    "status_in": (
        lambda *ss: F.col("o_orderstatus").isin(*ss),
        lambda *ss: f"o_orderstatus IN ({', '.join(repr(s) for s in ss)})",
        st.sets(st.sampled_from(["F", "O", "P"]), min_size=1, max_size=3).map(tuple),
    ),
    "orderdate_before": (
        lambda y: F.col("o_orderdate") < F.lit(dt.datetime(y, 1, 1)),
        lambda y: f"o_orderdate < TIMESTAMP '{y:04d}-01-01'",
        st.tuples(st.integers(1993, 1999)),
    ),
}


@st.composite
def join_specs(draw):
    return {
        "how": draw(st.sampled_from(["inner", "left"])),
        "cust_filters": {
            name: draw(_CUST_FILTERS[name][2])
            for name in draw(
                st.lists(st.sampled_from(sorted(_CUST_FILTERS)), unique=True, max_size=2)
            )
        },
        "ord_filters": {
            name: draw(_ORD_FILTERS[name][2])
            for name in draw(
                st.lists(st.sampled_from(sorted(_ORD_FILTERS)), unique=True, max_size=2)
            )
        },
    }


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=join_specs())
def test_generated_joins_agree_across_engines(spark, duck, spec):
    cust = load_table(spark, SF, "customer")
    for name, params in spec["cust_filters"].items():
        cust = cust.filter(_CUST_FILTERS[name][0](*params))
    orders = load_table(spark, SF, "orders")
    for name, params in spec["ord_filters"].items():
        orders = orders.filter(_ORD_FILTERS[name][0](*params))
    joined = cust.join(
        orders, cust.c_custkey == orders.o_custkey, spec["how"]
    )
    sdf = joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("o_orderkey").cast("long").alias("n_orders"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast("long").alias("sum_total_c"),
    )
    cw = " AND ".join(
        _CUST_FILTERS[n][1](*p) for n, p in spec["cust_filters"].items()
    )
    ow = " AND ".join(_ORD_FILTERS[n][1](*p) for n, p in spec["ord_filters"].items())
    sql = f"""
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_total_c
    FROM (SELECT * FROM customer{' WHERE ' + cw if cw else ''}) c
    {'LEFT ' if spec['how'] == 'left' else ''}JOIN
         (SELECT * FROM orders{' WHERE ' + ow if ow else ''}) o
      ON c.c_custkey = o.o_custkey
    GROUP BY c_mktsegment
    """
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    assert _norm(srows, sdf.columns) == _norm(res.fetchall(), dcols), spec


# ---- window fuzzing --------------------------------------------------------
# Window functions are the classic cross-engine divergence area (default
# RANGE frames aggregate ties together; rank vs row_number under ties; LAG
# at partition edges). Order keys are chosen so every function is
# deterministic: row_number/lag/cum_sum order by (cents, orderkey) — a
# total order — while rank orders by cents alone (ties share a rank).

_WIN_PARTS = {
    "o_orderstatus": "o_orderstatus",
    "o_orderpriority": "o_orderpriority",
    "g_cust": "o_custkey % 7",
}


@st.composite
def window_specs(draw):
    return {
        "part": draw(st.sampled_from(sorted(_WIN_PARTS))),
        "desc": draw(st.booleans()),
        "mod": draw(st.integers(3, 9)),
        "funcs": draw(
            st.lists(
                st.sampled_from(["rn", "rnk", "cum_c", "lag_c", "nt4"]),
                unique=True,
                min_size=1,
                max_size=5,
            )
        ),
    }


@settings(
    max_examples=20,
    deadline=None,
    derandomize=True,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(spec=window_specs())
def test_generated_windows_agree_across_engines(spark, duck, spec):
    from pyspark.sql.window import Window

    part_sql = _WIN_PARTS[spec["part"]]
    direction = "DESC" if spec["desc"] else "ASC"
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    ordered = [cents.desc() if spec["desc"] else cents.asc(), F.col("o_orderkey").asc()]
    part_col = F.expr(part_sql)
    w_total = Window.partitionBy(part_col).orderBy(*ordered)
    w_ties = Window.partitionBy(part_col).orderBy(
        cents.desc() if spec["desc"] else cents.asc()
    )
    fns = {
        "rn": F.row_number().over(w_total).cast("long"),
        "rnk": F.rank().over(w_ties).cast("long"),
        "cum_c": F.sum(cents).over(w_total).cast("long"),
        "lag_c": F.lag(cents, 1).over(w_total).cast("long"),
        "nt4": F.ntile(4).over(w_total).cast("long"),
    }
    base = load_table(spark, SF, "orders").filter(
        F.col("o_orderkey") % spec["mod"] == 0
    )
    sdf = base.select(
        "o_orderkey", *[fns[f].alias(f) for f in spec["funcs"]]
    )

    sql_fns = {
        "rn": f"ROW_NUMBER() OVER (PARTITION BY {part_sql} ORDER BY c {direction}, o_orderkey)",
        "rnk": f"RANK() OVER (PARTITION BY {part_sql} ORDER BY c {direction})",
        "cum_c": f"SUM(c) OVER (PARTITION BY {part_sql} ORDER BY c {direction}, o_orderkey)",
        "lag_c": f"LAG(c, 1) OVER (PARTITION BY {part_sql} ORDER BY c {direction}, o_orderkey)",
        "nt4": f"NTILE(4) OVER (PARTITION BY {part_sql} ORDER BY c {direction}, o_orderkey)",
    }
    cols = ",\n       ".join(
        f"CAST({sql_fns[f]} AS BIGINT) AS {f}" for f in spec["funcs"]
    )
    sql = f"""
    SELECT o_orderkey, {cols}
    FROM (SELECT *, CAST(round(o_totalprice * 100) AS BIGINT) AS c FROM orders
          WHERE o_orderkey % {spec['mod']} = 0)
    """
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    assert _norm(srows, sdf.columns) == _norm(res.fetchall(), dcols), spec
