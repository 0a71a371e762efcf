"""Correctness checks, run outside the timed region.

- Pipeline ``summary`` counts against DuckDB counts over the same input.
- The four star-schema KPI views against an exact reference: DuckDB sums
  the integer cents per group and Python rounds them the way Spark's
  ``round(avg(decimal(10,2)), 2)`` does (HALF_UP to 6 places, then to 2).
  A full load and an incremental run over the same events are both held
  to this one reference.
- Registered contract queries against their ``contract.ORACLES`` SQL, with
  ``tools/check_oracle.py``'s ``canon``/``fingerprint``.
"""

from __future__ import annotations

import decimal
import importlib.util
import os
from decimal import Decimal

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CTX = decimal.Context(prec=60, rounding=decimal.ROUND_HALF_UP)
STAR_VIEWS = ["kpi_events_by_category", "kpi_events_by_city",
              "kpi_monthly_trend", "kpi_weekend_vs_weekday"]


def _load_oracle_tools():
    spec = importlib.util.spec_from_file_location(
        "check_oracle", os.path.join(_ROOT, "tools", "check_oracle.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


oracle_tools = _load_oracle_tools()
fingerprint = oracle_tools.fingerprint


def _events_sql(events_path: str, cutoff_us: int) -> str:
    return (f"(SELECT * FROM read_parquet('{events_path}') "
            f"WHERE ts < make_timestamp({int(cutoff_us)}))")


def expected_summary(con, events_path: str, cutoff_us: int, runs: int) -> dict:
    """What ``pipeline.summary`` must report after every event with
    ``ts < cutoff`` has been landed and ``runs`` pipeline runs made. The
    adapter's venue is (user_id % 7, user_id % 5), one per user_id % 35."""
    n, dates, venues, cats = con.execute(f"""
        SELECT count(*), count(DISTINCT CAST(ts AS DATE)),
               count(DISTINCT user_id % 35), count(DISTINCT event_type)
        FROM {_events_sql(events_path, cutoff_us)}""").fetchone()
    return {"raw_events": n, "dim_date": dates, "dim_venue": venues,
            "dim_category": cats, "dim_source": 1 if n else 0,
            "fact_events": n, "quality_log": 5 * runs}


def _avg2(cents_sum: int, n: int) -> Decimal:
    six = _CTX.divide(Decimal(cents_sum), Decimal(100 * n)).quantize(
        Decimal("0.000001"), context=_CTX)
    return six.quantize(Decimal("0.01"), context=_CTX)


def _cents(c: int) -> Decimal:
    return (Decimal(c) / 100).quantize(Decimal("0.01"))


def reference_views(con, events_path: str, cutoff_us: int) -> dict:
    """``{view: (cols, rows)}`` for the four star-schema KPI views over the
    events with ``ts < cutoff``, mirroring the adapter and staging: price_min
    is the value in cents, price_max rounds 1.5x it HALF_UP, price_avg
    rounds their midpoint HALF_UP."""
    base = f"""
        WITH e AS (
            SELECT event_type, user_id, CAST(ts AS DATE) AS d,
                   CAST(round(value * 100) AS BIGINT) AS pmin
            FROM {_events_sql(events_path, cutoff_us)}
        ), p AS (SELECT *, (3 * pmin + 1) // 2 AS pmax FROM e)
        , q AS (SELECT *, (pmin + pmax + 1) // 2 AS pavg FROM p)
    """
    out = {}
    rows = con.execute(base + """
        SELECT event_type, count(*), count_if(event_type = 'purchase'),
               sum(pavg), min(pmin), max(pmax)
        FROM q GROUP BY event_type""").fetchall()
    out["kpi_events_by_category"] = (
        ["category_name", "subcategory", "total_events", "events_on_sale",
         "avg_ticket_price_eur", "cheapest_ticket_eur", "most_expensive_ticket"],
        [(c, "General", n, on, _avg2(s, n), _cents(lo), _cents(hi))
         for c, n, on, s, lo, hi in rows])
    rows = con.execute(base + """
        SELECT user_id % 5, count(*), count(DISTINCT user_id % 7), sum(pavg),
               count_if(event_type = 'error')
        FROM q GROUP BY 1""").fetchall()
    out["kpi_events_by_city"] = (
        ["city", "country", "total_events", "unique_venues", "avg_price_eur",
         "cancelled_events"],
        [(f"City_{k}", "Germany", n, v, _avg2(s, n), x)
         for k, n, v, s, x in rows])
    rows = con.execute(base + """
        SELECT year(d), month(d), monthname(d), count(*),
               count_if(event_type = 'purchase'), sum(pavg),
               count(DISTINCT user_id % 35)
        FROM q GROUP BY 1, 2, 3""").fetchall()
    out["kpi_monthly_trend"] = (
        ["year", "month_number", "month_name", "total_events", "active_events",
         "avg_price_eur", "unique_venues"],
        [(y, m, name, n, a, _avg2(s, n), v) for y, m, name, n, a, s, v in rows])
    rows = con.execute(base + """
        SELECT CASE WHEN dayofweek(d) IN (0, 6) THEN 'Weekend' ELSE 'Weekday'
               END, count(*), sum(pavg)
        FROM q GROUP BY 1""").fetchall()
    total = sum(r[1] for r in rows)
    out["kpi_weekend_vs_weekday"] = (
        ["day_type", "total_events", "avg_price_eur", "pct_of_total"],
        [(t, n, _avg2(s, n),
          float(_CTX.divide(Decimal(100 * n), Decimal(total)).quantize(
              Decimal("0.1"), context=_CTX)))
         for t, n, s in rows])
    return out


def collect_views(spark) -> dict:
    """The registered star-schema KPI views as ``{view: (cols, rows)}``."""
    out = {}
    for name in STAR_VIEWS:
        df = spark.table(name)
        out[name] = (df.columns, [tuple(r) for r in df.collect()])
    return out


def compare_views(actual: dict, expected: dict) -> list[str]:
    """Names of the views whose value fingerprints differ."""
    bad = []
    for name in STAR_VIEWS:
        (acols, arows), (ecols, erows) = actual[name], expected[name]
        if sorted(acols) != sorted(ecols) or (
                fingerprint(acols, arows)[:2] != fingerprint(ecols, erows)[:2]):
            bad.append(name)
    return bad


def oracle_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return [d[0] for d in res.description], res.fetchall()


def compare_result(actual: tuple, expected: tuple) -> str | None:
    """None when a query result matches its oracle, else the reason."""
    (acols, arows), (ecols, erows) = actual, expected
    if sorted(acols) != sorted(ecols):
        return f"columns {sorted(acols)} != oracle {sorted(ecols)}"
    an, ah, _ = fingerprint(acols, arows)
    en, eh, _ = fingerprint(ecols, erows)
    if an != en:
        return f"{an} rows != oracle {en}"
    if ah != eh:
        return "value fingerprint differs from oracle"
    if an == 0:
        return "both engines returned 0 rows"
    return None
