"""Result materialization keyed by config hash, with TTL + single-flight
duplicate-work suppression (SURVEY.md §4.3.1).

Mirrors the reference's Redis cache/lock semantics
(``run_queries_with_cache``, reference ``connectors.py:367-452``): result
keyed by the config's md5 (30-day TTL), a not-exists lock with its own TTL
so concurrent identical queries compute once.

Two tiers serve a key:

* **Parquet tier** (durable, shared): ``<root>/<key>/`` holds the result and
  ``<key>.meta.json`` its ``created_at`` and schema.  Any process on the
  same filesystem reads it; the stored schema lets the read skip Spark's
  schema-inference job.
* **Hot tier** (in-process, per cache instance): a result whose parquet is
  at most ``TIER_ENTRY_MAX_BYTES`` is also held as a ``LocalRelation``
  DataFrame built in the JVM (rows never cross py4j until the caller
  collects), so a repeat request's ``collect()`` schedules no Spark job.
  The tier evicts least-recently-used entries past ``TIER_MAX_BYTES``
  (both bounds count on-disk parquet bytes).  An entry is served only
  while its ``created_at`` matches the meta sidecar and its Spark
  application is the caller's, so TTL expiry, ``force_refresh``, another
  process rewriting the key and a restarted session all fall through to
  the parquet tier and are never served stale.

Lock protocol: ``<key>.lock`` holds the holder's timestamp.  It is written
to a temp file first and published with ``os.link``, which fails if the
lock exists, so no caller ever reads a half-written lock.  A lock older
than ``LOCK_TTL_SECONDS`` is stale (Redis ``set(nx=True, ex=3600)``): it is
renamed aside before deletion, so of two callers breaking it only one
succeeds.  Within a process a per-key ``threading.Lock`` queues identical
callers without polling; across processes losers poll the parquet tier.
The winner re-checks the cache after taking the lock, because a caller
ahead of it may have published in the meantime.

Publish-by-rename: the result is written to ``<key>.tmp-<uuid>`` and
renamed into place (an old directory is renamed aside first, then
deleted), and the meta sidecar is replaced with ``os.replace``, so a
reader never sees a partly written or doubly written result.  Every
intermediate name contains ``.tmp-``; ``evict_expired`` removes those a
crashed writer left behind.  The protocol needs a POSIX filesystem
(atomic ``link``/``rename``), local or shared.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
import uuid
import weakref
from collections import OrderedDict
from collections.abc import Callable
from typing import NamedTuple

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

DEFAULT_TTL_SECONDS = 60 * 60 * 24 * 30  # reference connectors.py:381
LOCK_TTL_SECONDS = 3600  # reference connectors.py:416
TIER_ENTRY_MAX_BYTES = 8 * 1024 * 1024  # larger results are served from parquet
TIER_MAX_BYTES = 64 * 1024 * 1024  # per cache instance, LRU past this


class _TierEntry(NamedTuple):
    created_at: float
    app_id: str
    df: DataFrame  # LocalRelation; collect() runs no Spark job
    nbytes: int  # parquet bytes on disk


def _tmp_name(path: str) -> str:
    return f"{path}.tmp-{uuid.uuid4().hex}"


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def _local_frame(spark: SparkSession, jdf) -> DataFrame:
    """``jdf``'s rows as a ``LocalRelation`` on ``spark``, built in the JVM."""
    return DataFrame(spark._jsparkSession.createDataFrame(jdf.collectAsList(), jdf.schema()), spark)


def _remove(path: str) -> None:
    if os.path.isdir(path):
        shutil.rmtree(path, ignore_errors=True)
    else:
        try:
            os.unlink(path)
        except FileNotFoundError:
            pass


def _held_since(lock: str) -> float | None:
    """The lock's timestamp; 0.0 if unreadable, None if it is gone."""
    try:
        with open(lock) as f:
            return float(f.read() or 0)
    except FileNotFoundError:
        return None
    except (OSError, ValueError):
        return 0.0


class ResultCache:
    def __init__(
        self,
        root: str,
        ttl_seconds: int = DEFAULT_TTL_SECONDS,
        clock: Callable[[], float] = time.time,
    ):
        self.root = root
        self.ttl_seconds = ttl_seconds
        self.clock = clock  # injectable for deterministic tests
        os.makedirs(root, exist_ok=True)
        self._mutex = threading.Lock()  # guards _tier and _key_locks
        self._tier: OrderedDict[str, _TierEntry] = OrderedDict()
        self._tier_bytes = 0
        self._key_locks: weakref.WeakValueDictionary[str, threading.Lock] = (
            weakref.WeakValueDictionary()
        )

    def _paths(self, key: str) -> tuple[str, str, str]:
        base = os.path.join(self.root, key)
        return base, base + ".meta.json", base + ".lock"

    # --- hot tier ------------------------------------------------------------

    def _tier_get(self, spark: SparkSession, key: str, created_at: float) -> DataFrame | None:
        app_id = spark.sparkContext.applicationId
        with self._mutex:
            entry = self._tier.get(key)
            if entry is None or (entry.created_at, entry.app_id) != (created_at, app_id):
                return None
            self._tier.move_to_end(key)
        if entry.df.sparkSession is spark:
            return entry.df
        # another session of the same application: same rows, caller's session
        return _local_frame(spark, entry.df._jdf)

    def _tier_put(self, key: str, entry: _TierEntry) -> None:
        with self._mutex:
            old = self._tier.pop(key, None)
            if old is not None:
                self._tier_bytes -= old.nbytes
            self._tier[key] = entry
            self._tier_bytes += entry.nbytes
            while self._tier_bytes > TIER_MAX_BYTES:
                self._tier_bytes -= self._tier.popitem(last=False)[1].nbytes

    def _load(
        self, spark: SparkSession, key: str, created_at: float, schema: StructType | None
    ) -> DataFrame:
        """Read the parquet tier (known schema: no inference job) and admit
        a small enough result into the hot tier."""
        path = self._paths(key)[0]
        df = (spark.read if schema is None else spark.read.schema(schema)).parquet(path)
        nbytes = _dir_bytes(path)
        if nbytes > TIER_ENTRY_MAX_BYTES:
            return df
        hot = _local_frame(spark, df._jdf)
        self._tier_put(key, _TierEntry(created_at, spark.sparkContext.applicationId, hot, nbytes))
        return hot

    # --- lookup / lock / publish ---------------------------------------------

    def lookup(self, spark: SparkSession, key: str) -> DataFrame | None:
        _, meta, _ = self._paths(key)
        try:
            with open(meta) as f:
                info = json.load(f)
            created = info["created_at"]
        except (ValueError, KeyError, OSError):
            return None
        if self.clock() - created > self.ttl_seconds:
            return None
        hot = self._tier_get(spark, key, created)
        if hot is not None:
            return hot
        schema = info.get("schema")
        try:
            return self._load(spark, key, created, StructType.fromJson(schema) if schema else None)
        except (AnalysisException, FileNotFoundError):  # replaced or evicted since the meta read
            return None

    def _break_if_stale(self, lock: str) -> bool:
        """Remove ``lock`` if it is older than the lock TTL; True when no
        lock is left to wait for."""
        held = _held_since(lock)
        if held is None:
            return True
        if self.clock() - held <= LOCK_TTL_SECONDS:
            return False
        aside = _tmp_name(lock)
        try:
            os.rename(lock, aside)
        except FileNotFoundError:  # another caller broke it first
            return True
        if self.clock() - (_held_since(aside) or 0.0) <= LOCK_TTL_SECONDS:
            # a fresh lock replaced the stale one after our read: restore it
            try:
                os.link(aside, lock)
            except FileExistsError:
                pass
            os.unlink(aside)
            return False
        os.unlink(aside)
        return True

    def _acquire_lock(self, lock: str) -> bool:
        # nx-with-expiry semantics: the lock appears with its timestamp
        # already inside, and a stale one (older than the lock TTL) is broken
        tmp = _tmp_name(lock)
        with open(tmp, "w") as f:
            f.write(repr(self.clock()))
        try:
            while True:
                try:
                    os.link(tmp, lock)
                    return True
                except FileExistsError:
                    if not self._break_if_stale(lock):
                        return False
        finally:
            os.unlink(tmp)

    def _key_lock(self, key: str) -> threading.Lock:
        with self._mutex:
            lock = self._key_locks.get(key)
            if lock is None:
                lock = self._key_locks[key] = threading.Lock()
            return lock

    def _publish(self, spark: SparkSession, key: str, df: DataFrame) -> DataFrame:
        path, meta, _ = self._paths(key)
        tmp = _tmp_name(path)
        try:
            df.write.parquet(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        aside = None
        if os.path.exists(path):  # expired or force-refreshed: swap, then delete
            aside = _tmp_name(path)
            os.rename(path, aside)
        os.rename(tmp, path)
        created = self.clock()
        meta_tmp = _tmp_name(meta)
        with open(meta_tmp, "w") as f:
            json.dump({"created_at": created, "key": key, "schema": df.schema.jsonValue()}, f)
        os.replace(meta_tmp, meta)
        if aside is not None:
            shutil.rmtree(aside, ignore_errors=True)
        return self._load(spark, key, created, df.schema)

    def get_or_compute(
        self,
        spark: SparkSession,
        key: str,
        compute: Callable[[], DataFrame],
        force_refresh: bool = False,
        wait_poll_seconds: float = 0.2,
        wait_timeout_seconds: float = 60.0,
    ) -> DataFrame:
        """Cache hit -> stored result; miss -> single-flight compute +
        materialize.  A caller that loses the lock to another process polls
        for the winner's result (reference poll loop,
        ``connectors.py:444-449``) and takes over if the winner gives up."""
        if not force_refresh:
            hit = self.lookup(spark, key)
            if hit is not None:
                return hit
        _, _, lock = self._paths(key)
        key_lock = self._key_lock(key)
        if not key_lock.acquire(timeout=wait_timeout_seconds):
            raise TimeoutError(f"cache wait timed out for key {key}")
        try:
            deadline = self.clock() + wait_timeout_seconds
            while not self._acquire_lock(lock):
                if not force_refresh:
                    hit = self.lookup(spark, key)
                    if hit is not None:
                        return hit
                if self.clock() >= deadline:
                    raise TimeoutError(f"cache wait timed out for key {key}")
                time.sleep(wait_poll_seconds)
            try:
                if not force_refresh:
                    # a caller ahead of us may have published while we waited
                    hit = self.lookup(spark, key)
                    if hit is not None:
                        return hit
                return self._publish(spark, key, compute())
            finally:
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
        finally:
            key_lock.release()

    def evict_expired(self) -> list[str]:
        """Delete expired materializations (TTL housekeeping the reference
        delegates to Redis expiry) and what crashed writers left behind:
        ``.tmp-`` names and locks older than the lock TTL.  Returns the
        evicted keys."""
        now = self.clock()
        evicted = []
        for name in os.listdir(self.root):
            full = os.path.join(self.root, name)
            if ".tmp-" in name:
                try:
                    if now - os.path.getmtime(full) > LOCK_TTL_SECONDS:
                        _remove(full)
                except FileNotFoundError:
                    pass
            elif name.endswith(".lock"):
                self._break_if_stale(full)
            elif name.endswith(".meta.json"):
                key = name[: -len(".meta.json")]
                path, meta, _ = self._paths(key)
                try:
                    with open(meta) as f:
                        created = json.load(f)["created_at"]
                except (ValueError, KeyError, OSError):
                    created = 0
                if now - created > self.ttl_seconds:
                    shutil.rmtree(path, ignore_errors=True)
                    _remove(meta)
                    evicted.append(key)
        with self._mutex:
            for key, entry in list(self._tier.items()):
                if key in evicted or now - entry.created_at > self.ttl_seconds:
                    del self._tier[key]
                    self._tier_bytes -= entry.nbytes
        return evicted
