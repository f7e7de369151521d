"""``dashboard``: interactive MetricQuery traffic behind the result cache.

Two closed-loop clients (each sends its next request when the previous
one returns) run under ``concurrency.run_concurrent`` and share one
seeded request script per session.  A request is
``ResultCache.get_or_compute(cfg.cache_key(), metric_query)`` followed by
``collect()``.  Every session starts from an empty cache root and names
ten distinct configs — over ``events`` and
``documents`` (the sf0.1-shaped catalog) and the Helix relation over the
generated magi log — each requested once plus Zipf-popular repeats.  So
each session has the same shape (first requests miss and compute, repeats
read the cached parquet) and only the parameters vary with the seed.

The dashboard front end coalesces identical requests in flight: a request
whose key another client is already fetching waits for it, then reads the
cache.  ``ResultCache`` promises this itself (single-flight), but its lock
is not atomic and ``get_or_compute`` does not re-check the cache after
taking it, so two clients racing on one key can both compute and write it
and read back duplicated or deleted part files.  With ``COALESCE = False``
the clients drive the cache's own single-flight path, and the output check
reports that defect as failed operations.
"""

from __future__ import annotations

import json
import os
import threading
import time

import numpy as np

import gen_catalog
import gen_magi
import oracle

REQUESTS_PER_SESSION = 40
ZIPF_S = 1.2
CLIENTS = 2
WARM_UP_SESSIONS = 2
COALESCE = True  # False exposes the ResultCache race described above

EVENT_TYPES = gen_catalog.EVENT_TYPES
K_BUCKETS = [str(i) for i in range(10)]
WORDS = gen_catalog.WORDS[2:]  # skip the stopwords
COUNTRY_CODES = ["US", "DE", "JP", "BR", "FR"]
REGIONS = ["NA", "EMEA", "APAC", "LATAM"]


def _fg(attr, values, exclude=False):
    return {"attribute": attr, "values": list(values), "logical_operator": "or",
            "exclude": exclude, "subgroups": []}


def _cfg(dataset, dims, metrics, groups=(), min_metric=None, min_count=None, limit=None):
    return {"dataset": dataset, "dimensions": dims, "metrics": metrics,
            "filter_groups": list(groups), "min_metric": min_metric,
            "min_count": min_count, "limit": limit}


def session_configs(rng: np.random.Generator) -> list[dict]:
    """One config per template; templates are fixed, parameters seeded."""
    pick = lambda xs, k: sorted(str(x) for x in rng.choice(xs, k, replace=False))  # noqa: E731
    return [
        _cfg("events", ["event_type"], ["users", "events_cnt"], [_fg("k_bucket", pick(K_BUCKETS, 3))]),
        _cfg("events", ["day"], ["events_cnt", "value_c"], [_fg("event_type", pick(EVENT_TYPES, 2))],
             limit=int(rng.integers(5, 25))),
        _cfg("events", ["k_bucket", "event_type"], ["users"], [_fg("event_type", pick(EVENT_TYPES, 1), True)],
             min_metric="users", min_count=int(rng.integers(10, 200))),
        _cfg("documents", ["token"], ["docs", "rows_cnt"], [_fg("lang", pick(gen_catalog.LANGS, 2))],
             limit=int(rng.integers(10, 40))),
        _cfg("documents", ["lang", "source"], ["docs", "total_chars"], [_fg("token", pick(WORDS, 2))]),
        _cfg("documents", ["source", "token"], ["rows_cnt"], [_fg("source", pick(gen_catalog.SOURCES, 3))],
             min_metric="rows_cnt", min_count=int(rng.integers(5, 60))),
        _cfg("helix", ["genre"], ["users", "pageviews"], [_fg("country", pick(COUNTRY_CODES, 2))]),
        _cfg("helix", ["main_vertical", "region"], ["page_count", "users"],
             limit=int(rng.integers(5, 30))),
        _cfg("helix", ["theme"], ["pageviews"], [_fg("genre", pick(gen_magi.GENRES, 2))],
             limit=int(rng.integers(5, 15))),
        _cfg("helix", ["wiki", "country"], ["users", "pageviews", "page_count"],
             [_fg("region", pick(REGIONS, 1), True)],
             min_metric="pageviews", min_count=int(rng.integers(1, 30))),
    ]


def session_script(rng: np.random.Generator) -> list[dict]:
    """Every config once plus Zipf-popular repeats, shuffled."""
    configs = session_configs(rng)
    rank = rng.permutation(len(configs))
    weights = 1.0 / (rank + 1.0) ** ZIPF_S
    repeats = rng.choice(len(configs), REQUESTS_PER_SESSION - len(configs), p=weights / weights.sum())
    order = np.concatenate([np.arange(len(configs)), repeats])
    rng.shuffle(order)
    return [configs[int(i)] for i in order]


class Dashboard:
    batch = False

    def __init__(self, h):
        self.h = h
        self.rng = np.random.default_rng([h.seed, 10])
        self.responses: list[tuple[str, dict, list | None]] = []  # (key, cfg, rows)
        self.session_no = 0

    def generate(self, inputs_dir: str) -> None:
        self.catalog_dir = os.path.join(inputs_dir, "catalog")
        self.magi_dir = os.path.join(inputs_dir, "magi")
        gen_catalog.generate(self.catalog_dir, self.h.seed)
        gen_magi.generate(self.magi_dir, self.h.seed)

    # --- program calls -------------------------------------------------------

    def _helix_dataset(self):
        from magi_etl_spark.pipelines.helix import HelixConfig, helix_metric_dataset
        from magi_etl_spark.tables import load_table

        spark, tr = self.h.spark, self.h.tracer
        frames = []
        for name in ("analytics_events", "taxonomy", "dimension_wikis", "country_map"):
            with tr.span("tables.load_table"):
                frames.append(load_table(spark, self.magi_dir, name))
        cfg = HelixConfig(year=oracle.HELIX_YEAR, month=oracle.HELIX_MONTH,
                          confidence=oracle.HELIX_CONFIDENCE)
        with tr.span("pipelines.helix_metric_dataset"):
            return helix_metric_dataset(*frames, cfg)

    def _request(self, cache, key_locks: dict, cfg_dict: dict, op_id: str, parent) -> float:
        from magi_etl_spark.config import MetricQueryConfig
        from magi_etl_spark.query import metric_query

        h, spark, tr = self.h, self.h.spark, self.h.tracer
        t0 = time.perf_counter()
        rows = None
        with tr.span("op.request", op=op_id, parent=parent) as rec, h.jobs.op(op_id):
            with tr.span("query.config"):
                cfg = MetricQueryConfig.from_dict(cfg_dict)
                key = cfg.cache_key()

            def compute():
                with tr.span("query.build"):
                    ds = self._helix_dataset() if cfg.dataset == "helix" else None
                    return metric_query(spark, self.catalog_dir, cfg, dataset=ds)

            h.begin_request()
            key_lock = key_locks.setdefault(key, threading.Lock()) if COALESCE else None
            waited = False
            try:
                if key_lock is not None and not key_lock.acquire(blocking=False):
                    waited = True
                    key_lock.acquire()
                try:
                    with tr.span("cache.get_or_compute"):
                        df = cache.get_or_compute(spark, key, compute)
                finally:
                    if key_lock is not None:
                        key_lock.release()
                with tr.span("spark.collect"):
                    rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # a failed request is counted, not fatal
                h.log(f"request {op_id} failed: {e!r}")
            if rec is not None:
                rec["kind"] = "wait" if waited else h.request_kind()
        self.responses.append((key, cfg_dict, rows))
        return time.perf_counter() - t0

    def _session(self, script: list[dict], cache_root: str) -> list[float]:
        from magi_etl_spark.cache import ResultCache
        from magi_etl_spark.concurrency import run_concurrent

        cache = ResultCache(cache_root)
        self.h.instrument_cache(cache)
        nxt = iter(range(len(script)))
        lock = threading.Lock()
        key_locks: dict[str, threading.Lock] = {}
        latencies: list[float] = []
        sid = self.session_no
        self.session_no += 1

        with self.h.tracer.span("concurrency.run_concurrent") as parent:
            def client():
                while True:
                    with lock:
                        i = next(nxt, None)
                    if i is None:
                        return None
                    lat = self._request(cache, key_locks, script[i], f"s{sid}-r{i}", parent)
                    with lock:
                        latencies.append(lat)

            run_concurrent(self.h.spark, {f"client-{c}": client for c in range(CLIENTS)},
                           materialize=lambda _: None, max_workers=CLIENTS)
        return latencies

    # --- harness protocol ----------------------------------------------------

    def warm_up(self) -> None:
        """Untimed sessions while code generation and the JIT settle: the
        first session of a process runs about 2.5x slower than the later
        ones, which still get 10-30% faster up to the sixth.  Two sessions
        take the steep part off; more do not fit the run budget."""
        for _ in range(WARM_UP_SESSIONS):
            self._session(session_script(self.rng), self.h.fresh_dir("cache"))

    def run_once(self) -> tuple[float, list[float]]:
        script = session_script(self.rng)
        root = self.h.fresh_dir("cache")
        t0 = time.perf_counter()
        lats = self._session(script, root)
        wall = time.perf_counter() - t0
        self.h.count_cache_bytes(root)
        return wall, lats

    def check(self) -> tuple[int, int]:
        """(attempted, failed): every response against DuckDB over the same
        parquet; a missing or different response is a failure."""
        con = oracle.connect()
        relations = {
            "events": oracle.events_relation(self.catalog_dir),
            "documents": oracle.documents_relation(self.catalog_dir),
            "helix": oracle.helix_relation(self.magi_dir),
        }
        expected: dict[str, list] = {}
        failed = 0
        for key, cfg, rows in self.responses:
            if key not in expected:
                sql = oracle.metric_query_sql(cfg, relations[cfg["dataset"]])
                expected[key] = con.execute(sql).fetchall()
            want = expected[key]
            if rows is None or not oracle.same_rows(rows, want):
                failed += 1
                self.h.log(f"wrong response for {json.dumps(cfg)}: got {len(rows or [])} rows, "
                           f"want {len(want)}; only got {list(set(rows or []) - set(want))[:3]}, "
                           f"only want {list(set(want) - set(rows or []))[:3]}")
        con.close()
        return len(self.responses), failed
