"""ResultCache: single-flight under concurrency, hot-tier coherence with the
parquet tier, and housekeeping of what crashed writers leave behind."""

from __future__ import annotations

import os
import threading
import time
import uuid

import pytest

from magi_etl_spark import cache as cache_mod
from magi_etl_spark.cache import LOCK_TTL_SECONDS, ResultCache


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def _write_ids(key_dir) -> set[str]:
    """The write-job UUIDs of the part files in one key directory."""
    parts = [n for n in os.listdir(key_dir) if n.startswith("part-")]
    assert parts
    return {n.split("-", 2)[2].rsplit("-c000", 1)[0] for n in parts}


def _jobs_run(spark, fn) -> int:
    sc = spark.sparkContext
    group = f"test-cache-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count the Spark jobs of one call")
    try:
        fn()
        return len(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setJobGroup("", "")


@pytest.mark.parametrize("instances", [1, 2])
def test_concurrent_callers_compute_once(spark, tmp_path, instances):
    # two instances on one root stand in for two processes: they share
    # only the filesystem lock and the parquet tier.  The slow clock widens
    # every window between reading the time and acting on it.
    def slow_clock():
        time.sleep(0.01)
        return time.time()

    caches = [ResultCache(str(tmp_path), clock=slow_clock) for _ in range(instances)]
    expected = [(i,) for i in range(7)]
    calls = []
    barrier = threading.Barrier(4)
    results, errors = [], []

    def compute():
        calls.append(1)
        time.sleep(0.5)
        return spark.range(7).repartition(3)

    def caller(i):
        try:
            barrier.wait()
            df = caches[i % instances].get_or_compute(
                spark, "k", compute, wait_poll_seconds=0.05
            )
            results.append(_rows(df))
        except Exception as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=caller, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(calls) == 1
    assert results == [expected] * 4
    assert len(_write_ids(tmp_path / "k")) == 1
    assert not [n for n in os.listdir(tmp_path) if ".tmp-" in n or n.endswith(".lock")]


def test_tier_hit_runs_no_spark_job(spark, tmp_path):
    cache = ResultCache(str(tmp_path))
    cache.get_or_compute(spark, "k", lambda: spark.range(5))
    out = []
    n_jobs = _jobs_run(
        spark, lambda: out.append(_rows(cache.get_or_compute(spark, "k", lambda: spark.range(0))))
    )
    assert n_jobs == 0
    assert out == [[(i,) for i in range(5)]]


def test_tier_expiry_refresh_and_eviction(spark, tmp_path):
    now = [1000.0]
    cache = ResultCache(str(tmp_path), ttl_seconds=100, clock=lambda: now[0])
    calls = []

    def compute():
        calls.append(1)
        return spark.range(len(calls))

    assert _rows(cache.get_or_compute(spark, "k", compute)) == [(0,)]
    # expiry under the injected clock misses although the tier holds the key
    now[0] += 200
    assert cache.lookup(spark, "k") is None
    assert _rows(cache.get_or_compute(spark, "k", compute)) == [(0,), (1,)]
    # force_refresh replaces the entry and the directory
    now[0] += 1
    assert _rows(cache.get_or_compute(spark, "k", compute, force_refresh=True)) == [(0,), (1,), (2,)]
    assert _rows(cache.get_or_compute(spark, "k", compute)) == [(0,), (1,), (2,)]
    assert len(calls) == 3
    assert len(_write_ids(tmp_path / "k")) == 1
    # evict_expired drops the tier entry along with the parquet
    now[0] += 200
    assert cache.evict_expired() == ["k"]
    assert not cache._tier and cache._tier_bytes == 0


def test_other_instance_refresh_is_seen(spark, tmp_path):
    now = [1000.0]
    first = ResultCache(str(tmp_path), clock=lambda: now[0])
    second = ResultCache(str(tmp_path), clock=lambda: now[0])
    assert _rows(first.get_or_compute(spark, "k", lambda: spark.range(2))) == [(0,), (1,)]
    now[0] += 1
    second.get_or_compute(spark, "k", lambda: spark.range(3), force_refresh=True)
    # first's tier entry carries the old created_at: it falls through to parquet
    assert _rows(first.lookup(spark, "k")) == [(0,), (1,), (2,)]
    assert _jobs_run(spark, lambda: _rows(first.lookup(spark, "k"))) == 0


def test_results_over_the_bound_are_served_from_parquet(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(cache_mod, "TIER_ENTRY_MAX_BYTES", 0)
    cache = ResultCache(str(tmp_path))
    cache.get_or_compute(spark, "k", lambda: spark.range(4))
    out = []
    n_jobs = _jobs_run(spark, lambda: out.append(_rows(cache.lookup(spark, "k"))))
    assert n_jobs >= 1 and out == [[(i,) for i in range(4)]]
    assert not cache._tier


def test_tier_evicts_least_recently_used(spark, tmp_path, monkeypatch):
    cache = ResultCache(str(tmp_path))
    cache.get_or_compute(spark, "a", lambda: spark.range(3))
    one_entry = cache._tier_bytes
    monkeypatch.setattr(cache_mod, "TIER_MAX_BYTES", 2 * one_entry)
    cache.get_or_compute(spark, "b", lambda: spark.range(3))
    cache.lookup(spark, "a")  # a is now the most recently used
    cache.get_or_compute(spark, "c", lambda: spark.range(3))
    assert list(cache._tier) == ["a", "c"]
    assert cache._tier_bytes <= 2 * one_entry
    # an evicted key is still a hit, read from parquet
    assert _rows(cache.lookup(spark, "b")) == [(0,), (1,), (2,)]


def test_evict_expired_removes_crashed_writer_leftovers(tmp_path):
    now = 10_000.0
    cache = ResultCache(str(tmp_path), clock=lambda: now)
    old, fresh = now - LOCK_TTL_SECONDS - 1, now - 10
    leftovers = {
        "k.tmp-a": old,  # unpublished result directory
        "k.tmp-b": fresh,  # a writer still at work
        "k.meta.json.tmp-c": old,
        "k.lock.tmp-d": old,
    }
    for name, mtime in leftovers.items():
        p = tmp_path / name
        if name.startswith("k.tmp-"):
            p.mkdir()
            (p / "part-0.parquet").write_bytes(b"x")
        else:
            p.write_text("1")
        os.utime(p, (mtime, mtime))
    (tmp_path / "s.lock").write_text(repr(old))
    (tmp_path / "f.lock").write_text(repr(fresh))
    assert cache.evict_expired() == []
    assert sorted(os.listdir(tmp_path)) == ["f.lock", "k.tmp-b"]


def test_lock_is_created_with_its_timestamp(tmp_path):
    now = 5000.0
    cache = ResultCache(str(tmp_path), clock=lambda: now)
    lock = str(tmp_path / "k.lock")
    assert cache._acquire_lock(lock)
    assert float(open(lock).read()) == now
    assert not cache._acquire_lock(lock)  # held and fresh
    assert os.listdir(tmp_path) == ["k.lock"]
