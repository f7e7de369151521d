"""Seeded magi-domain inputs: the analytics event log and its side tables.

Same schemas as the pipeline test fixtures (string ``year/month/day``
partition columns, float-polluted ``wiki_id``, semi-structured taxonomy,
dimension tables, ignore list, prior metadata), generated column-wise with
NumPy so a larger log costs little to build.  The same seed always writes
byte-identical parquet.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

FIRST_DAY = dt.date(2025, 1, 20)
N_DAYS = 40  # 2025-01-20 .. 2025-02-28
N_WIKIS = 30
PAGES_PER_WIKI = 40
GENRES = [f"genre_{i}" for i in range(12)]
THEMES = [f"theme_{i}" for i in range(20)]
VERTICALS = ["Games", "TV", "Movies", "Anime", "Books", "Comics", "Music", "Lifestyle", "Other"]
FRANCHISES = [f"franchise_{i}" for i in range(30)]
COUNTRIES = ["United States", "Germany", "Japan", "Brazil", "France"]


def wiki_ids() -> np.ndarray:
    return np.arange(100, 100 + N_WIKIS)


def last_day() -> dt.date:
    return FIRST_DAY + dt.timedelta(days=N_DAYS - 1)


def _domain(wid) -> pd.Series:
    return "w" + pd.Series(wid).astype(str) + ".acme.com"


def gen_events(rng: np.random.Generator) -> pd.DataFrame:
    wids = wiki_ids()
    base = np.maximum(4, (160 / (np.arange(N_WIKIS) + 1))).astype(float)
    weekday = np.array([(FIRST_DAY + dt.timedelta(days=d)).weekday() for d in range(N_DAYS)])
    lam = base[None, :] * np.where(weekday >= 5, 0.8, 1.0)[:, None]
    # a few (day, wiki) traffic spikes so trending has something to find
    spikes = rng.random(lam.shape) < 0.03
    lam = lam * np.where(spikes, 4.0, 1.0)
    counts = rng.poisson(lam)
    day_idx = np.repeat(np.arange(N_DAYS), N_WIKIS)
    wiki_idx = np.tile(np.arange(N_WIKIS), N_DAYS)
    reps = counts.ravel()
    d = np.repeat(day_idx, reps)
    w = np.repeat(wiki_idx, reps)
    n = len(d)
    wid = wids[w]

    users = rng.integers(0, np.maximum(2, base[w].astype(int)))
    uid = wid * 1000 + users
    page_k = rng.zipf(1.6, n) % PAGES_PER_WIKI
    url = ("https://" + _domain(wid) + "/wiki/Page_" + pd.Series(page_k).astype(str)).to_numpy(object)
    r = rng.random(n)
    url = np.where(r < 0.10, url + "?q=x=1", np.where(r < 0.15, url + "#section-2", url))
    mirror = rng.random(n) < 0.01
    url = np.where(mirror, "https://turbopages.org/mirror/Page_" + pd.Series(page_k).astype(str).to_numpy(object), url)

    calendar = [FIRST_DAY + dt.timedelta(days=k) for k in range(N_DAYS)]
    year = np.array([x.strftime("%Y") for x in calendar], dtype=object)[d]
    month = np.array([x.strftime("%m") for x in calendar], dtype=object)[d]
    day = np.array([x.strftime("%d") for x in calendar], dtype=object)[d]
    iso = np.array([x.isoformat() for x in calendar], dtype=object)[d]
    hh, mm, ss = rng.integers(0, 24, n), rng.integers(0, 60, n), rng.integers(0, 60, n)
    event_time = (
        pd.Series(iso) + "T"
        + pd.Series(hh).astype(str).str.zfill(2) + ":"
        + pd.Series(mm).astype(str).str.zfill(2) + ":"
        + pd.Series(ss).astype(str).str.zfill(2)
    ).to_numpy(object)
    event_time = np.where(rng.random(n) < 0.003, "not-a-timestamp", event_time)
    sess = ("s" + pd.Series(uid).astype(str) + "_" + pd.Series(rng.integers(0, 3, n)).astype(str)).to_numpy(object)
    sess = np.where(rng.random(n) < 0.02, "-1", sess)
    wiki_val = wid.astype(float)
    rr = rng.random(n)
    wiki_val = np.where(rr < 0.01, np.nan, np.where(rr < 0.02, 0.0, wiki_val))

    return pd.DataFrame(
        {
            "year": year,
            "month": month,
            "day": day,
            "brand": rng.choice(["acme", "Acme", "other"], n, p=[0.85, 0.12, 0.03]),
            "platform": rng.choice(["Web", "web", "iOS", "Android"], n, p=[0.6, 0.15, 0.15, 0.1]),
            "wiki_id": wiki_val,  # NaN is written as null
            "content_id": pd.Series(page_k).astype(str).to_numpy(object),
            "page_url": url,
            "analytics_id": uid,
            "device_id": ("d" + pd.Series(uid).astype(str)).to_numpy(object),
            "session_id": sess,
            "event_type": rng.choice(["pageview", "click", "scroll"], n, p=[0.7, 0.2, 0.1]),
            "event_time": event_time,
            "pageviews": rng.choice([0, 1, 1, 1, 2], n),
            "country": rng.choice(COUNTRIES, n),
        }
    )


def _conf_arr(rng: np.random.Generator, vocab: list[str], lo: int, hi: int) -> list[dict]:
    k = int(rng.integers(lo, hi))
    return [
        {"confidence": round(float(rng.random()), 2), "value": str(vocab[int(rng.integers(len(vocab)))])}
        for _ in range(k)
    ]


def gen_taxonomy(rng: np.random.Generator) -> pa.Table:
    conf_t = pa.list_(pa.struct([("confidence", pa.float64()), ("value", pa.string())]))
    site_cols = {
        "site_all_verticals": (VERTICALS, 1, 3),
        "site_all_genres": (GENRES, 0, 5),
        "site_all_subgenres": (GENRES, 0, 4),
        "site_all_themes": (THEMES, 0, 6),
    }
    page_cols = [
        "page_all_verticals", "page_all_genres", "page_all_subgenres", "page_all_themes",
        "page_main_entity_type", "page_all_installment_ids", "page_all_installment_types",
        "page_all_installment_titles", "page_all_platforms",
    ]
    cols: dict[str, list] = {k: [] for k in ["content_ids", "url", *site_cols, "site_all_franchises", *page_cols]}
    # the extra id is a taxonomy-only wiki (full-outer-join nulls)
    for wid in [*wiki_ids().tolist(), 990]:
        for k in range(0, PAGES_PER_WIKI, 2):
            cols["content_ids"].append([("article_id", str(k)), ("wiki_id", str(wid))])
            cols["url"].append(f"https://w{wid}.acme.com/wiki/Page_{k}")
            for c, (vocab, lo, hi) in site_cols.items():
                cols[c].append(_conf_arr(rng, vocab, lo, hi))
            picks = rng.choice(FRANCHISES, size=int(rng.integers(0, 3)), replace=False)
            cols["site_all_franchises"].append([str(f) for f in picks])
            for c in page_cols:
                cols[c].append(_conf_arr(rng, THEMES, 0, 3))
    schema = pa.schema(
        [("content_ids", pa.map_(pa.string(), pa.string())), ("url", pa.string())]
        + [(c, conf_t) for c in [*site_cols, *page_cols]]
        + [("site_all_franchises", pa.list_(pa.string()))]
    )
    return pa.Table.from_arrays([pa.array(cols[f.name], type=f.type) for f in schema], schema=schema)


def gen_dimension_wikis(rng: np.random.Generator) -> pd.DataFrame:
    ids = [*wiki_ids().tolist(), 95, 96, 97]  # orphans with no events
    n = len(ids)
    return pd.DataFrame(
        {
            "wiki_id": ids,
            "domain": [f"w{w}.acme.com" + ("/es" if w % 7 == 0 else "") for w in ids],
            "url": [f"https://w{w}.acme.com" for w in ids],
            "vertical_name": rng.choice(VERTICALS, n),
            "lang": rng.choice(["en", "es", "de", "ja"], n),
            "is_kid_wiki": (rng.random(n) < 0.1).astype(int),
            "is_monetized": (rng.random(n) < 0.6).astype(int),
            "created_at": [f"20{rng.integers(10, 24):02d}-0{rng.integers(1, 9)}-15T00:00:00" for _ in ids],
            "founding_user_id": rng.integers(1, 20, n),
            "site": ["acme" if w % 13 else "other" for w in ids],
        }
    )


def gen_country_map() -> pd.DataFrame:
    return pd.DataFrame(
        {
            "amplitude_country": COUNTRIES,
            "acme_country": ["US", "DE", "JP", "BR", "FR"],
            "acme_sales_region": ["NA", "EMEA", "APAC", "LATAM", "EMEA"],
            "sales_insights_subcontinent": [
                "Northern America", "Western Europe", "Eastern Asia", "South America", "Western Europe",
            ],
        }
    )


def gen_wiki_metadata(rng: np.random.Generator) -> pd.DataFrame:
    ids = wiki_ids()[:20]
    anchor = last_day() + dt.timedelta(days=1)
    return pd.DataFrame(
        {
            "wiki_id": [str(w) for w in ids],
            "wiki_group": [f"w{w}.acme.com" for w in ids],
            "created_at": [f"20{rng.integers(10, 24):02d}-01-15T00:00:00" for _ in ids],
            "is_monetized": (rng.random(len(ids)) < 0.7).astype(int),
            "ai_summary": [None if i % 4 == 0 else f"summary of wiki {w}" for i, w in enumerate(ids)],
            "last_refreshed": [
                (anchor - dt.timedelta(days=10 if i % 3 == 0 else 2)).isoformat() + "T08:00:00"
                for i in range(len(ids))
            ],
        }
    )


def generate(out_dir: str, seed: int) -> dict[str, str]:
    """Write every magi table as ``<out_dir>/<name>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    dim = gen_dimension_wikis(rng)
    unmonetized = dim[dim.is_monetized == 0].wiki_id.head(3)
    tables = {
        "analytics_events": pa.Table.from_pandas(gen_events(rng), preserve_index=False),
        "taxonomy": gen_taxonomy(rng),
        "dimension_wikis": pa.Table.from_pandas(dim, preserve_index=False),
        "dimension_users": pa.Table.from_pandas(
            pd.DataFrame({"user_id": range(1, 21), "user_name": [f"user_{i}" for i in range(1, 21)]}),
            preserve_index=False,
        ),
        "country_map": pa.Table.from_pandas(gen_country_map(), preserve_index=False),
        "ignore_list": pa.Table.from_pandas(
            pd.DataFrame({"wiki_id": unmonetized.astype(str).tolist(),
                          "reason": ["seasonal", "legal", "testing"][: len(unmonetized)]}),
            preserve_index=False,
        ),
        "wiki_metadata": pa.Table.from_pandas(gen_wiki_metadata(rng), preserve_index=False),
    }
    paths = {}
    for name, table in tables.items():
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, paths[name])
    return paths
