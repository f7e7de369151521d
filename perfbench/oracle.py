"""Independent DuckDB SQL for every output the benchmark checks.

Each function re-derives a program output from the same generated parquet
with plain SQL, written from the documented semantics rather than from the
program's code paths.  ``same_rows`` compares results as multisets (parquet
read-back order is not the written order), with a relative tolerance for
floats.
"""

from __future__ import annotations

import datetime as dt
import decimal
import math

import duckdb

HELIX_YEAR, HELIX_MONTH, HELIX_CONFIDENCE = "2025", "02", 0.6
TAX_ATTRS = ("vertical", "genre", "subgenre", "theme", "franchise")


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 1")
    con.execute("SET TimeZone = 'UTC'")
    return con


def _q(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


def _pq(path: str) -> str:
    return f"read_parquet({_q(path)})"


# --- MetricQuery datasets ---------------------------------------------------


def events_relation(catalog_dir: str) -> tuple[str, dict, dict]:
    rel = (
        "SELECT *, CAST(ts AS DATE) AS day_, "
        "CAST(CAST(regexp_extract(props, '\"k\": *([0-9]+)', 1) AS BIGINT) % 10 AS VARCHAR) AS k_bucket_ "
        f"FROM {_pq(catalog_dir + '/events.parquet')}"
    )
    attrs = {"event_type": ("event_type", False), "day": ("day_", False), "k_bucket": ("k_bucket_", False)}
    metrics = {
        "users": "COUNT(DISTINCT user_id)",
        "events_cnt": "COUNT(*)",
        "value_c": "SUM(CAST(round(value * 100) AS BIGINT))",
    }
    return rel, attrs, metrics


def documents_relation(catalog_dir: str) -> tuple[str, dict, dict]:
    rel = (
        "SELECT *, list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS token_ "
        f"FROM {_pq(catalog_dir + '/documents.parquet')}"
    )
    attrs = {"lang": ("lang", False), "source": ("source", False), "token": ("token_", True)}
    metrics = {"docs": "COUNT(DISTINCT doc_id)", "rows_cnt": "COUNT(*)", "total_chars": "SUM(n_chars)"}
    return rel, attrs, metrics


def helix_relation(magi_dir: str) -> tuple[str, dict, dict]:
    """The Helix base relation: confidence-filtered taxonomy arrays joined
    to brand/platform-filtered events on floor-normalized keys, dimension
    and country-map lookups, one month."""
    conf = HELIX_CONFIDENCE
    tax_cols = []
    for a in TAX_ATTRS:
        if a == "franchise":  # every franchise counts at confidence 1.0
            kept = f"list_transform(site_all_franchises, v -> lower(v))"
        else:
            kept = (
                f"list_transform(list_filter(site_all_{a}s, x -> x.confidence >= {conf}), "
                "x -> lower(x.value))"
            )
        tax_cols.append(f"{kept} AS all_{a}s")
        tax_cols.append(f"CASE WHEN len({kept}) > 0 THEN ({kept})[1] END AS main_{a}")
    tax = (
        "SELECT map_extract(content_ids, 'article_id')[1] AS article_id, "
        "map_extract(content_ids, 'wiki_id')[1] AS tax_wiki_id, "
        + ", ".join(tax_cols)
        + f" FROM {_pq(magi_dir + '/taxonomy.parquet')}"
    )
    norm = "CAST(CAST(floor({}) AS BIGINT) AS VARCHAR)"
    amp = (
        "SELECT year, month, wiki_id, content_id, page_url, pageviews, country, "
        f"analytics_id AS amplitude_id, {norm.format('wiki_id')} AS j_wiki, "
        f"CAST(content_id AS VARCHAR) AS j_article "
        f"FROM {_pq(magi_dir + '/analytics_events.parquet')} WHERE brand = 'acme' AND platform = 'Web'"
    )
    rel = f"""
        WITH tax AS ({tax}), amp AS ({amp}),
        dim AS (SELECT {norm.format('wiki_id')} AS d_wiki, vertical_name
                FROM {_pq(magi_dir + '/dimension_wikis.parquet')}),
        cmap AS (SELECT * FROM {_pq(magi_dir + '/country_map.parquet')})
        SELECT tax.*, amp.pageviews, amp.amplitude_id,
            {norm.format('amp.wiki_id')} AS wiki_id,
            lower(split_part(split_part(amp.page_url, '://', 2), '/', 1)) AS wiki,
            lower(dim.vertical_name) AS vertical,
            CAST(amp.wiki_id AS VARCHAR) || '-' || amp.content_id AS wiki_article_id,
            lower(cmap.acme_country) AS country,
            lower(cmap.acme_sales_region) AS region,
            lower(cmap.sales_insights_subcontinent) AS subcontinent
        FROM amp FULL JOIN tax ON amp.j_wiki = tax.tax_wiki_id AND amp.j_article = tax.article_id
        LEFT JOIN dim ON amp.j_wiki = dim.d_wiki
        LEFT JOIN cmap ON CAST(amp.country AS VARCHAR) = CAST(cmap.amplitude_country AS VARCHAR)
        WHERE amp.year = '{HELIX_YEAR}' AND amp.month = '{HELIX_MONTH}'
    """
    attrs = {}
    for a in TAX_ATTRS:
        attrs[a] = (f"all_{a}s", True)
        attrs[f"main_{a}"] = (f"main_{a}", False)
    for s in ("wiki", "vertical", "country", "region", "subcontinent", "wiki_id"):
        attrs[s] = (s, False)
    metrics = {
        "users": "COUNT(DISTINCT amplitude_id)",
        "pageviews": "SUM(pageviews)",
        "page_count": "COUNT(DISTINCT wiki_article_id)",
    }
    return rel, attrs, metrics


def _filter_sql(group: dict, attrs: dict) -> str | None:
    clause = None
    op = " OR " if group.get("logical_operator", "or") == "or" else " AND "
    if group.get("values"):
        col, unnest = attrs[group["attribute"]]
        if unnest:
            leaves = [f"list_has_any({col}, [lower({_q(v)})])" for v in group["values"]]
        else:
            leaves = [f"lower(CAST({col} AS VARCHAR)) = lower({_q(v)})" for v in group["values"]]
        clause = "(" + op.join(leaves) + ")"
        if group.get("exclude"):
            clause = f"(NOT {clause})"
    subs = [s for s in (_filter_sql(g, attrs) for g in group.get("subgroups", [])) if s]
    if subs:
        sub = "(" + op.join(subs) + ")"
        clause = f"({clause} AND {sub})" if clause else sub
    return clause


def metric_query_sql(cfg: dict, relation: tuple[str, dict, dict]) -> str:
    """DuckDB form of a MetricQuery config dict (dims, metrics, filter
    tree, min-metric cutoff, order by first metric desc, limit)."""
    rel, attrs, metrics = relation
    wheres = [w for w in (_filter_sql(g, attrs) for g in cfg["filter_groups"]) if w]
    dims = cfg["dimensions"]
    names = cfg["metrics"] or list(metrics)
    unnest = [d for d in dims if attrs[d][1]]
    wheres += [f"len({attrs[d][0]}) > 0" for d in unnest]
    base = f"SELECT * FROM ({rel}) AS r" + (" WHERE " + " AND ".join(wheres) if wheres else "")
    for d in unnest:  # chained explodes, one per unnest dim
        base = f"SELECT *, unnest({attrs[d][0]}) AS __dim_{d} FROM ({base}) AS u_{d}"
    sel = [f"trim(__dim_{d}) AS {d}" if attrs[d][1] else f"{attrs[d][0]} AS {d}" for d in dims]
    sel += [f"{metrics[m]} AS {m}" for m in names]
    sql = f"SELECT {', '.join(sel)} FROM ({base}) AS b"
    if dims:
        sql += " GROUP BY " + ", ".join(str(i + 1) for i in range(len(dims)))
    sql = f"SELECT * FROM ({sql}) AS g"
    if cfg.get("min_count") and cfg.get("min_metric"):
        sql += f" WHERE {cfg['min_metric']} >= {int(cfg['min_count'])}"
    if dims:
        sql += f" ORDER BY {names[0]} DESC NULLS LAST, " + ", ".join(f"{d} ASC NULLS FIRST" for d in dims)
    if cfg.get("limit") is not None:
        sql += f" LIMIT {int(cfg['limit'])}"
    return sql


# --- nightly ETL --------------------------------------------------------------


def _window(anchor: dt.date, days: int = 30) -> tuple[dt.date, dt.date]:
    latest = anchor - dt.timedelta(days=1)
    return latest - dt.timedelta(days=days - 1), latest


def _events_with_date(magi_dir: str) -> str:
    return (
        "SELECT *, CAST(concat_ws('-', year, month, day) AS DATE) AS d, "
        "split_part(split_part(page_url, '://', 2), '/', 1) AS wiki_name "
        f"FROM {_pq(magi_dir + '/analytics_events.parquet')} "
        "WHERE lower(brand) = 'acme' AND lower(platform) = 'web'"
    )


def trending_wiki_summary_sql(magi_dir: str, anchor: dt.date, min_users: int) -> str:
    start, latest = _window(anchor)
    comp = ", ".join(_q(latest - dt.timedelta(days=7 * k)) for k in range(1, 5))
    aggs = (
        "COUNT(DISTINCT analytics_id) AS users, "
        "COUNT(DISTINCT concat_ws('-', device_id, session_id)) AS sessions, "
        "COUNT(CASE WHEN event_type LIKE 'pageview' THEN 1 END) AS pageviews"
    )
    return f"""
        WITH base AS ({_events_with_date(magi_dir)}),
        latest AS (SELECT wiki_name, {aggs} FROM base WHERE d = {_q(latest)} GROUP BY wiki_name),
        comp AS (
            SELECT wiki_name, CAST(users AS DOUBLE) / 4 AS users,
                   CAST(sessions AS DOUBLE) / 4 AS sessions, CAST(pageviews AS DOUBLE) / 4 AS pageviews
            FROM (SELECT wiki_name, {aggs} FROM base WHERE d IN ({comp}) GROUP BY wiki_name)),
        per_id AS (
            SELECT wiki_name, wiki_id, vertical_name, SUM(pageviews) AS pageviews
            FROM base LEFT JOIN (SELECT CAST(wiki_id AS DOUBLE) AS dim_wiki_id, vertical_name
                                 FROM {_pq(magi_dir + '/dimension_wikis.parquet')}) dim
                 ON base.wiki_id = dim.dim_wiki_id
            WHERE d BETWEEN {_q(start)} AND {_q(latest)}
            GROUP BY wiki_name, wiki_id, vertical_name),
        top_id AS (
            SELECT wiki_name, wiki_id, vertical_name FROM (
                SELECT *, row_number() OVER (PARTITION BY wiki_name ORDER BY pageviews DESC,
                    wiki_id ASC NULLS LAST, vertical_name ASC NULLS LAST) AS rn FROM per_id)
            WHERE rn = 1),
        m AS (
            SELECT l.wiki_name, l.users, c.users AS users_benchmark,
                l.users - c.users AS users_total_vs_benchmark,
                CASE WHEN c.users = 0 THEN NULL ELSE l.users / c.users - 1 END AS users_percent_vs_benchmark,
                CASE WHEN l.sessions = 0 THEN NULL ELSE l.pageviews / l.sessions END AS pps,
                CASE WHEN c.sessions = 0 THEN NULL ELSE c.pageviews / c.sessions END AS pps_b
            FROM latest l LEFT JOIN comp c USING (wiki_name))
        SELECT t.wiki_id, m.wiki_name, t.vertical_name, m.users, m.users_benchmark,
            m.users_total_vs_benchmark, m.users_percent_vs_benchmark,
            m.pps AS pvs_per_session, m.pps_b AS pvs_per_session_benchmark,
            m.pps - m.pps_b AS pvs_per_session_total_vs_benchmark,
            CASE WHEN m.pps_b = 0 THEN NULL ELSE m.pps / m.pps_b - 1 END AS pvs_per_session_percent_vs_benchmark
        FROM m LEFT JOIN top_id t USING (wiki_name)
        WHERE m.wiki_name IS NOT NULL AND m.wiki_name NOT LIKE '%turbopages.org%'
          AND m.users >= {int(min_users)}
    """


def monetization_sql(magi_dir: str, anchor: dt.date, threshold: int) -> str:
    start, latest = _window(anchor)
    return f"""
        WITH base AS ({_events_with_date(magi_dir)}),
        dim AS (SELECT CAST(wiki_id AS DOUBLE) AS dim_wiki_id, is_monetized
                FROM {_pq(magi_dir + '/dimension_wikis.parquet')}),
        agg AS (
            SELECT wiki_id, is_monetized, COUNT(DISTINCT analytics_id) AS users,
                COUNT(DISTINCT session_id) AS sessions, SUM(pageviews) AS pageviews
            FROM base LEFT JOIN dim ON base.wiki_id = dim.dim_wiki_id
            WHERE d BETWEEN {_q(start)} AND {_q(latest)} AND NOT (is_monetized = 1)
            GROUP BY wiki_id, is_monetized
            HAVING SUM(pageviews) >= {int(threshold)})
        SELECT * FROM agg WHERE NOT EXISTS (
            SELECT 1 FROM {_pq(magi_dir + '/ignore_list.parquet')} ign
            WHERE CAST(ign.wiki_id AS VARCHAR) = CAST(CAST(agg.wiki_id AS BIGINT) AS VARCHAR))
    """


# --- comparison ---------------------------------------------------------------


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _key(row: tuple) -> tuple:
    def k(v):
        if v is None:
            return (0, "", 0)
        if isinstance(v, (int, float)):
            return (1, "", float(v))
        return (2, type(v).__name__, v)

    return tuple(k(v) for v in row)


def same_rows(actual: list[tuple], expected: list[tuple], rel_tol: float = 1e-9) -> bool:
    if len(actual) != len(expected):
        return False
    a = sorted((tuple(_norm(v) for v in r) for r in actual), key=_key)
    e = sorted((tuple(_norm(v) for v in r) for r in expected), key=_key)
    for ra, re in zip(a, e):
        if len(ra) != len(re):
            return False
        for x, y in zip(ra, re):
            if isinstance(x, float) or isinstance(y, float):
                if x is None or y is None:
                    if x is not y:
                        return False
                elif not math.isclose(float(x), float(y), rel_tol=rel_tol, abs_tol=1e-12):
                    return False
            elif x != y:
                return False
    return True
