"""``etl_nightly``: the scheduled batch jobs, back to back.

One repetition runs ``jobs.run_trending``, ``jobs.run_wiki_metadata`` and
``jobs.run_monetization`` over the generated magi log for one anchor date,
writing their parquet outputs and reports to a fresh directory.  Every
repetition takes the next unused anchor date, so no job reruns an
identical plan on identical dates.  The cache, MetricQuery and curation
operators are not on this path.
"""

from __future__ import annotations

import datetime as dt
import os
import time
from types import SimpleNamespace

import numpy as np

import gen_magi
import oracle

MIN_USERS, MIN_USERS_PERCENT, MIN_PAGE_USERS = 10, 15, 2
MONETIZATION_THRESHOLD = 150
# the trending benchmark reaches back 28 days and the traffic window 30
N_ANCHORS = gen_magi.N_DAYS - 30


class EtlNightly:
    batch = True

    def __init__(self, h):
        self.h = h
        rng = np.random.default_rng([h.seed, 20])
        first = gen_magi.last_day() + dt.timedelta(days=1)
        self.anchors = [first - dt.timedelta(days=int(k)) for k in rng.permutation(N_ANCHORS)]
        self.rep = 0
        self.outputs: list[tuple[str, dt.date, str, str | None]] = []  # (job, anchor, out, error)

    def generate(self, inputs_dir: str) -> None:
        self.magi_dir = os.path.join(inputs_dir, "magi")
        gen_magi.generate(self.magi_dir, self.h.seed)

    def _jobs(self):
        from magi_etl_spark import jobs

        return (
            ("trending", jobs.run_trending),
            ("wiki_metadata", jobs.run_wiki_metadata),
            ("monetization", jobs.run_monetization),
        )

    def run_once(self) -> tuple[float, list[float]]:
        h = self.h
        anchor = self.anchors[self.rep % len(self.anchors)]
        rep = self.rep
        self.rep += 1
        out = h.fresh_dir("etl")
        args = SimpleNamespace(
            data_dir=self.magi_dir, out=out, anchor_date=anchor.isoformat(),
            min_users=MIN_USERS, min_users_percent=MIN_USERS_PERCENT,
            min_page_users=MIN_PAGE_USERS, threshold=MONETIZATION_THRESHOLD,
        )
        lats = []
        t0 = time.perf_counter()
        with h.tracer.span("op.etl_rep", op=f"rep{rep}"):
            for name, fn in self._jobs():
                op_id = f"rep{rep}-{name}"
                err = None
                t = time.perf_counter()
                with h.tracer.span(f"pipelines.{name}", op=op_id), h.jobs.op(op_id):
                    try:
                        fn(h.spark, args)
                    except Exception as e:  # a failed job is counted, not fatal
                        err = repr(e)
                        h.log(f"{name} @ {anchor} failed: {err}")
                lats.append(time.perf_counter() - t)
                self.outputs.append((name, anchor, out, err))
        wall = time.perf_counter() - t0
        # a nightly run ends its process; drop what the jobs left persisted
        h.spark.catalog.clearCache()
        return wall, lats

    def check(self) -> tuple[int, int]:
        con = oracle.connect()
        failed = 0
        for name, anchor, out, err in self.outputs:
            ok = err is None and self._check_one(con, name, anchor, out)
            if not ok:
                failed += 1
                self.h.log(f"wrong output: {name} @ {anchor}")
        con.close()
        return len(self.outputs), failed

    def _check_one(self, con, name: str, anchor: dt.date, out: str) -> bool:
        def read(sub: str) -> list[tuple]:
            return con.execute(f"SELECT * FROM read_parquet('{out}/{sub}/*.parquet')").fetchall()

        if name == "trending":
            got = read("wiki_summary")
            want = con.execute(oracle.trending_wiki_summary_sql(self.magi_dir, anchor, MIN_USERS)).fetchall()
            return len(want) > 0 and oracle.same_rows(got, want)
        if name == "monetization":
            got = read("unmonetized_wikis")
            want = con.execute(oracle.monetization_sql(self.magi_dir, anchor, MONETIZATION_THRESHOLD)).fetchall()
            return len(want) > 0 and oracle.same_rows(got, want)
        # wiki_metadata: an upsert over prior state -- one row per wiki id
        got = con.execute(
            f"SELECT count(*), count(DISTINCT wiki_id) FROM read_parquet('{out}/wiki_metadata/*.parquet')"
        ).fetchone()
        return got[0] > 0 and got[0] == got[1]
