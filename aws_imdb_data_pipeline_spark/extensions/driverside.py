"""Driver-side building blocks for corpus kernels on broadcast-sized
inputs.

A corpus step on a few hundred documents pays Spark's per-job and
per-stage fixed cost many times over: the distributed MinHash pipeline
launches a dozen jobs to find a handful of pairs. Spark already has a
rule for "small enough to hold on the driver" — a join side whose
plan-time size estimate is at most ``spark.sql.autoBroadcastJoinThreshold``
is collected and broadcast — and :func:`fits_driver` applies that same
rule to a kernel's input, with the threshold capped at Spark's default
(10 MB). Below it, a kernel collects its input once through Arrow and
finishes in numpy; above it (and for frames without file statistics,
which report ``Long.MaxValue``) the distributed plan runs unchanged.

:func:`xxh64_long` and :func:`xxh64_int` are numpy ports of Spark's
``XXH64.hashLong`` / ``hashInt`` (the functions behind ``xxhash64`` on
a long and an int; seed 42 is Spark's default), so driver-side MinHash
signatures are bit-identical to the distributed plan's while each
distinct shingle hash is seed-hashed once, in bulk.

An analyst session repeats its corpus steps over unchanged inputs, so
a kernel keeps its collected tables in a :class:`DriverMemo` keyed by
:func:`frames_key`; a repeat over the same files skips its corpus jobs.
"""

from __future__ import annotations

import os
import threading
from urllib.parse import unquote, urlparse

import numpy as np
from pyspark.sql import DataFrame

from aws_imdb_data_pipeline_spark.sources.tables import _plan_size_bytes

SPARK_HASH_SEED = 42

_P1 = np.uint64(0x9E3779B185EBCA87)
_P2 = np.uint64(0xC2B2AE3D27D4EB4F)
_P3 = np.uint64(0x165667B19E3779F9)
_P4 = np.uint64(0x85EBCA77C2B2AE63)
_P5 = np.uint64(0x27D4EB2F165667C5)


def fits_driver(*frames: DataFrame) -> bool:
    """True when the frames' combined plan-time size estimate is at most
    the session's ``spark.sql.autoBroadcastJoinThreshold`` (disabled at
    -1), capped at that setting's Spark default: a session that raises
    the threshold to broadcast bigger join sides does not thereby move a
    multi-GB corpus onto the driver. Frames without file statistics
    (local lists, RDDs) estimate at ``Long.MaxValue`` and never fit."""
    spark = frames[0].sparkSession
    limit = spark._jsparkSession.sessionState().conf().autoBroadcastJoinThreshold()
    if limit < 0:
        return False
    sql_conf = spark._jvm.org.apache.spark.sql.internal.SQLConf
    limit = min(limit, sql_conf.AUTO_BROADCASTJOIN_THRESHOLD().defaultValue().get())
    total = 0
    for df in frames:
        est = _plan_size_bytes(df)
        if est is None:
            return False
        total += est
    return total <= limit


def frames_key(*frames: DataFrame) -> tuple | None:
    """Memo key of what ``frames`` compute: the application id, each
    frame's ``semanticHash()`` (its plan, literals included) and the
    (path, mtime_ns, size) of every file they read, so a rewrite of any
    input changes the key. None when a frame reads anything but local
    files: nothing would then show that its content changed."""
    files = []
    for df in frames:
        uris = df.inputFiles()
        if not uris:
            return None
        for uri in uris:
            u = urlparse(uri)
            if u.scheme != "file":
                return None
            path = unquote(u.path)
            try:
                st = os.stat(path)
            except OSError:
                return None
            files.append((path, st.st_mtime_ns, st.st_size))
    return (
        frames[0].sparkSession.sparkContext.applicationId,
        *(df.semanticHash() for df in frames),
        tuple(sorted(files)),
    )


class DriverMemo:
    """The last value a driver-side kernel collected, under its
    :func:`frames_key`. One entry: a session works on one corpus at a
    time, and an entry holds corpus-sized tables on the driver. The lock
    is for stream threads (``foreachBatch``) calling in beside the
    session's own thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._key: tuple | None = None
        self._value = None

    def get(self, key: tuple | None):
        """The value stored under ``key``, else None."""
        with self._lock:
            return self._value if key is not None and key == self._key else None

    def put(self, key: tuple | None, value) -> None:
        """Keep ``value`` under ``key`` in place of the last entry; a
        None key keeps nothing."""
        if key is not None:
            with self._lock:
                self._key, self._value = key, value

    def clear(self) -> None:
        with self._lock:
            self._key = self._value = None


# All arithmetic is on uint64 ARRAYS: numpy wraps them modulo 2^64
# silently (scalar uint64 ops would warn on overflow).
def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << np.uint64(r)) | (x >> np.uint64(64 - r))


def _fmix(h: np.ndarray) -> np.ndarray:
    h = h ^ (h >> np.uint64(33))
    h = h * _P2
    h = h ^ (h >> np.uint64(29))
    h = h * _P3
    return h ^ (h >> np.uint64(32))


def _u64(x: int) -> np.uint64:
    return np.uint64(x % (1 << 64))


def xxh64_long(values: np.ndarray, seed: int) -> np.ndarray:
    """Spark ``XXH64.hashLong`` of each int64 in ``values`` under
    ``seed``; returns int64."""
    v = np.asarray(values, dtype=np.int64).view(np.uint64)
    h = (_rotl(v * _P2, 31) * _P1) ^ _u64(seed + int(_P5) + 8)
    h = _rotl(h, 27) * _P1 + _P4
    return _fmix(h).view(np.int64)


def xxh64_int(value: int, seeds: np.ndarray) -> np.ndarray:
    """Spark ``XXH64.hashInt`` of one 32-bit ``value`` under each int64
    seed in ``seeds``; returns int64."""
    h = np.asarray(seeds, dtype=np.int64).view(np.uint64) + _u64(int(_P5) + 4)
    h ^= _u64((value & 0xFFFFFFFF) * int(_P1))
    h = _rotl(h, 23) * _P2 + _P3
    return _fmix(h).view(np.int64)
