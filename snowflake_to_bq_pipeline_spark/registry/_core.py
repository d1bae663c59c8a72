"""Registry core: the @query registration decorator and the memo
infrastructure shared by every section module."""

from __future__ import annotations

import functools
import inspect
from collections import OrderedDict
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

QueryFn = Callable[[SparkSession, str], DataFrame]


QUERIES: dict[str, QueryFn] = {}


ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks a rows-only (non-SQL) op."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


def _corpus_fingerprint(sf_dir: str, *tables: str) -> str:
    """Snapshot fingerprint of the given tables' parquet files (path, size,
    mtime).  The cross-query model/intermediate memos below key on
    ``(sf_dir, fingerprint)`` instead of the path alone, so a dataset
    REWRITTEN at the same path misses the cache and recomputes rather than
    silently serving stale pairs/models for the life of the process.
    Cost: a handful of ``os.stat`` calls per lookup — no data is read."""
    import hashlib
    import os

    h = hashlib.md5()
    for table in tables:
        p = os.path.join(sf_dir, f"{table}.parquet")
        paths = []
        if os.path.isdir(p):
            for root, _dirs, files in os.walk(p):
                paths.extend(os.path.join(root, f) for f in files)
        elif os.path.exists(p):
            paths = [p]
        for fp in sorted(paths):
            st = os.stat(fp)
            h.update(f"{fp}|{st.st_size}|{st.st_mtime_ns};".encode())
    return h.hexdigest()


class _ModelMemo(OrderedDict):
    """LRU-bounded memo for driver-resident trained model state (collected
    centroid/merge rows — O(model), never O(corpus)).

    Keys are ``(sf_dir, fingerprint, *params)``. ``put`` first drops
    entries for the same ``sf_dir`` whose fingerprint is superseded, then
    evicts least-recently-used entries beyond ``maxsize`` so a long-lived
    session cycling many corpora stays bounded."""

    def __init__(self, maxsize: int = 8) -> None:
        super().__init__()
        self.maxsize = maxsize

    def get(self, key: tuple):
        v = super().get(key)
        if v is not None:
            self.move_to_end(key)
        return v

    def put(self, key: tuple, value) -> None:
        for k in [k for k in self if k[0] == key[0] and k[1] != key[1]]:
            del self[k]
        self[key] = value
        self.move_to_end(key)
        while len(self) > self.maxsize:
            self.popitem(last=False)


#: helper name -> registered standing-index helper, in registration order;
#: each helper's ``cache`` attribute is its long-lived memo.
STANDING_INDEXES: dict[str, Callable] = {}


def _release(value) -> None:
    """Unpersist the DataFrames of a cached value (a frame, or a tuple
    holding frames); driver-side model state has nothing to release."""
    for v in value if isinstance(value, tuple) else (value,):
        if isinstance(v, DataFrame):
            v.unpersist(blocking=False)


def standing_index(*tables: str, kind: str = "df", view: Callable | None = None):
    """Register a cross-query memo over ``tables`` of a corpus snapshot.

    The helper body only builds and returns the value. The decorator keys
    it on ``(sf_dir, _corpus_fingerprint(sf_dir, *tables), *params)`` —
    params bound through the helper's signature with defaults applied, so a
    positional and a keyword call share one entry — and owns its lifecycle:

    - ``kind="df"``: a dict of persisted DataFrames. Before a build, every
      entry of another ``(sf_dir, fingerprint)`` is unpersisted and evicted
      (all params of the live snapshot stay live together); the built frame
      is persisted MEMORY_AND_DISK unless the body already persisted it.
    - ``kind="model"``: a :class:`_ModelMemo` of driver-side model state.

    ``view(spark, value, **options)`` turns the cached value into what a
    call returns; the helper's keyword-only parameters are those options
    and stay out of the key."""

    def deco(fn):
        sig = inspect.signature(fn)
        options = [n for n, p in sig.parameters.items() if p.kind is p.KEYWORD_ONLY]
        cache = {} if kind == "df" else _ModelMemo()

        @functools.wraps(fn)
        def helper(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            params = [v for n, v in bound.arguments.items() if n not in options]
            key = (sf_dir, _corpus_fingerprint(sf_dir, *tables), *params[2:])
            value = cache.get(key)
            if value is None and kind == "model":
                value = fn(*bound.args, **bound.kwargs)
                cache.put(key, value)
            elif value is None:
                for old in [k for k in cache if k[:2] != key[:2]]:
                    _release(cache.pop(old))
                value = fn(*bound.args, **bound.kwargs)
                if isinstance(value, DataFrame) and not value.is_cached:
                    value = value.persist(StorageLevel.MEMORY_AND_DISK)
                cache[key] = value
            if view is None:
                return value
            return view(spark, value, **{n: bound.arguments[n] for n in options})

        helper.cache = cache
        STANDING_INDEXES[fn.__name__] = helper
        return helper

    return deco
