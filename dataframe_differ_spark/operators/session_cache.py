"""Per-(SparkSession, key) cache of materialized intermediate frames.

Several registered queries share an expensive derived table — the IVF
coarse quantizer, the co-purchase edge list, the MinHash
signature/pair chain — and without this cache each consumer replays
the full build (the MinHash signature+pair subplan alone measured
~6–10 s per consumer at sf0.1, rebuilt by four different queries).
This is the ONLY per-session cache of materialized frames in the
package: every per-session frame reuse goes through
:func:`session_cached`, so one place sees every hit and miss.

The cache is deliberately session-scoped and weak:

- **Key**: the caller's tuple (chain name, abs sf_dir, params...) —
  anything that changes the built frames MUST be in the key, and
  ``key[0]`` is the chain's name.
- **Value**: builders return LAZY frames; each is
  ``localCheckpoint(eager=True)``-ed here, in order, so the first
  consumer pays the build once under the key's lock and later
  consumers read cached blocks (no lineage replay, no re-shuffle).
- **Lifetime**: a ``WeakKeyDictionary`` on the SparkSession — a stopped
  session drops its checkpointed blocks, and the cache entry must die
  with them (a strong key would hand consumer #2 a frame whose blocks
  are gone).
- **Locks**: a global lock guards only the cache DICTIONARIES; each
  key gets its own build lock, so two pipelined bench threads
  first-missing DIFFERENT chains build concurrently, while two threads
  racing the SAME key still build it exactly once. (One global lock
  held across whole builds serialized ~60 s of unrelated builds across
  the bench's 4 threads and showed up directly in the pipelined wall.)

This is the SESSION half of reuse; the CROSS-JOB half is
``operators.persistence`` (plain-parquet artifacts). At 100 TB the
pattern composes: one job builds + ``save_artifact``s the chain, every
later job ``load_artifact``s it, and within any one job this cache
keeps even the load from being replayed per consumer.
"""

from __future__ import annotations

import threading
import weakref
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession

__all__ = ["session_cached"]

_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_KEY_LOCKS: "weakref.WeakKeyDictionary[SparkSession, dict]" = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()


def session_cached(
    spark: SparkSession,
    key: tuple,
    builder: Callable[[], Sequence[DataFrame] | DataFrame],
) -> tuple[DataFrame, ...]:
    """Return ``builder()``'s frames, eagerly checkpointed, building at
    most once per (session, key).

    ``builder`` returns a DataFrame or a sequence of them; the result is
    always a tuple (a single frame comes back as a 1-tuple, so call
    sites destructure uniformly). Every frame is checkpointed eagerly,
    in the builder's order, before the entry is published.
    """
    with _LOCK:
        cache = _CACHE.setdefault(spark, {})
        got = cache.get(key)
        if got is not None:
            return got
        key_lock = _KEY_LOCKS.setdefault(spark, {}).setdefault(
            key, threading.Lock()
        )
    with key_lock:
        # double-check: a racing thread may have built while we waited
        with _LOCK:
            got = cache.get(key)
        if got is not None:
            return got
        built = builder()
        if isinstance(built, DataFrame):
            built = (built,)
        frames = tuple(df.localCheckpoint(eager=True) for df in built)
        with _LOCK:
            cache[key] = frames
            # The key's build lock has done its job: later callers hit
            # the cache before ever reaching for a lock, and waiters on
            # THIS lock object re-check the cache under it — so the
            # entry can be dropped instead of accumulating one mutex
            # per key for the session lifetime (ADVICE r10).
            locks = _KEY_LOCKS.get(spark)
            if locks is not None:
                locks.pop(key, None)
        return frames

