"""LLM response caching (reference ``lotus/cache.py:103-151,172-336``).

Exact-match cache keyed by SHA256(model + messages + kwargs). Backends:
- ``InMemoryLRUCache`` — per-process LRU (the executor-local fast path)
- ``SQLiteCache`` — persistent, safe for concurrent executor processes on a
  shared local disk (WAL mode); the "answer store" for repeated pipelines

On a cluster, each executor keeps its own cache (keys are deterministic, so
caches warm independently); a shared answer store can also be expressed as a
DataFrame join against a keyed parquet of (prompt_hash, answer) — see
``join_answer_cache``.

The reference's whole-operator memoization (``cache.py:33-100``) is
intentionally not ported: Spark-side ``df.persist()``/checkpointing plus this
prompt-level cache covers it without hashing entire DataFrames.
"""

from __future__ import annotations

import hashlib
import json
import sqlite3
import threading
from collections import OrderedDict
from typing import Any, Optional


def cache_key(model: str, messages: Any, kwargs: dict) -> str:
    payload = json.dumps(
        {"model": model, "messages": messages, "kwargs": kwargs},
        sort_keys=True, default=str,
    )
    return hashlib.sha256(payload.encode()).hexdigest()


class Cache:
    def get(self, key: str) -> Optional[str]:
        raise NotImplementedError

    def put(self, key: str, value: str) -> None:
        raise NotImplementedError


class InMemoryLRUCache(Cache):
    def __init__(self, max_size: int = 100_000):
        self.max_size = max_size
        self._d: OrderedDict[str, str] = OrderedDict()
        self._lock = threading.Lock()

    def get(self, key: str) -> Optional[str]:
        with self._lock:
            if key in self._d:
                self._d.move_to_end(key)
                return self._d[key]
            return None

    def put(self, key: str, value: str) -> None:
        with self._lock:
            self._d[key] = value
            self._d.move_to_end(key)
            while len(self._d) > self.max_size:
                self._d.popitem(last=False)

    def __len__(self) -> int:
        return len(self._d)

    # picklable into UDF closures: locks can't cross the driver→executor
    # boundary; cached entries can (each executor starts warm, then diverges)
    def __getstate__(self):
        d = dict(self.__dict__)
        d["_lock"] = None
        return d

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()


class SQLiteCache(Cache):
    """Persistent cache; lazily opens per process (picklable as config)."""

    def __init__(self, path: str):
        self.path = path
        self._conn: Optional[sqlite3.Connection] = None
        self._lock = threading.Lock()

    def _db(self) -> sqlite3.Connection:
        if self._conn is None:
            self._conn = sqlite3.connect(self.path, check_same_thread=False)
            self._conn.execute("PRAGMA journal_mode=WAL")
            self._conn.execute(
                "CREATE TABLE IF NOT EXISTS lm_cache (k TEXT PRIMARY KEY, v TEXT)"
            )
            self._conn.commit()
        return self._conn

    def get(self, key: str) -> Optional[str]:
        with self._lock:
            row = self._db().execute(
                "SELECT v FROM lm_cache WHERE k = ?", (key,)
            ).fetchone()
        return row[0] if row else None

    def put(self, key: str, value: str) -> None:
        with self._lock:
            self._db().execute(
                "INSERT OR REPLACE INTO lm_cache (k, v) VALUES (?, ?)", (key, value)
            )
            self._db().commit()

    def __getstate__(self):
        d = dict(self.__dict__)
        d["_conn"] = None
        d["_lock"] = None
        return d

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._lock = threading.Lock()


def _lp_entry(value: str) -> dict:
    """Decode a ``logprobs=True`` cache entry; a bare output string (as
    written before logprobs were cached) reads as output-only."""
    try:
        entry = json.loads(value)
    except ValueError:
        entry = None
    if isinstance(entry, dict) and "output" in entry:
        return entry
    return {"output": value, "logprobs": None}


class CachedLM:
    """Wrap any LM with per-message caching (reference ``lm.py:169-236``:
    cache partition → only misses hit the provider → merge)."""

    def __init__(self, lm: Any, cache: Optional[Cache] = None):
        self.lm = lm
        self.cache = cache if cache is not None else InMemoryLRUCache()
        self.hits = 0
        self.misses = 0

    def __getattr__(self, name: str):
        # guard: during unpickling __dict__ is empty and delegation would
        # recurse through __getattr__ forever
        if name == "lm" or "lm" not in self.__dict__:
            raise AttributeError(name)
        return getattr(self.lm, name)

    def __call__(self, batch: list, **kwargs: Any):
        """A ``logprobs=True`` call caches each output together with its
        logprobs (as ``{"output", "logprobs"}`` JSON — the key already
        separates these entries), so a hit returns what the miss did."""
        from lotus_spark.models.lm import LMOutput

        with_lp = bool(kwargs.get("logprobs"))
        keys = [cache_key(self.lm.model, m, kwargs) for m in batch]
        cached = [self.cache.get(k) for k in keys]
        miss_idx = [i for i, c in enumerate(cached) if c is None]
        self.hits += len(batch) - len(miss_idx)
        self.misses += len(miss_idx)
        if miss_idx:
            fresh = self.lm([batch[i] for i in miss_idx], **kwargs)
            fresh_lp = fresh.logprobs or [None] * len(miss_idx)
            for j, i in enumerate(miss_idx):
                cached[i] = fresh.outputs[j]
                if with_lp:
                    cached[i] = json.dumps({"output": fresh.outputs[j],
                                            "logprobs": fresh_lp[j]})
                self.cache.put(keys[i], cached[i])
        if hasattr(self.lm, "usage"):
            self.lm.usage.virtual_calls += len(batch) - len(miss_idx)
        if not with_lp:
            return LMOutput(outputs=list(cached))
        entries = [_lp_entry(c) for c in cached]
        logprobs = [e["logprobs"] for e in entries]
        return LMOutput(
            outputs=[e["output"] for e in entries],
            logprobs=logprobs if any(lp is not None for lp in logprobs)
            else None)


def join_answer_cache(df, prompt_col: str, cache_df, answer_col: str = "answer"):
    """Cluster-wide answer store as a DataFrame join: rows whose prompt hash
    appears in ``cache_df(prompt_hash, answer)`` skip the LM stage entirely.
    Returns (hit_df_with_answers, miss_df)."""
    from pyspark.sql import functions as F

    hashed = df.withColumn("__ph", F.sha2(F.col(prompt_col), 256))
    joined = hashed.join(
        cache_df.select(
            F.col("prompt_hash").alias("__ph"), F.col(answer_col).alias("__cached")
        ),
        "__ph",
        "left",
    )
    hits = joined.filter(F.col("__cached").isNotNull()).withColumn(
        answer_col, F.col("__cached")
    ).drop("__cached", "__ph")
    misses = joined.filter(F.col("__cached").isNull()).drop("__cached", "__ph")
    return hits, misses
