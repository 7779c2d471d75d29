"""Build-if-missing lake artifacts: one fingerprint/marker convention.

Several operators amortize a corpus-sized pass into a persisted
artifact that every later query serves from (the pattern a real
deployment uses — nobody retrains an ANN index or re-shuffles a fact
table per query batch):

- the IVF-PQ index           (extensions/pq.py)
- the IVF assignment table   (extensions/ivf.py)
- the MinHash band index     (extensions/dedup.py)
- the CLUSTER-BY events copy (plans/relational2.py)
- the bucketed partsupp      (plans/partsupp.py)

Rounds 4-5 grew four hand-rolled copies of the same stat-fingerprint +
marker logic, and they drifted (one GC'd stale outputs, the others did
not; one re-attached a possibly PARTIAL previous write because it keyed
on directory existence alone). This module is the single copy:

- :func:`source_fingerprint` — staleness key from source file stat
  (mtime_ns, size) + the build parameters. A free filesystem check;
  no data is scanned to decide freshness.
- :func:`ensure_artifact` — check the marker, run ``build`` when
  missing/stale, and write ``_meta.json`` ATOMICALLY AFTER the build
  returns. A crashed/partial build leaves no marker, so the next
  caller rebuilds instead of serving garbage — the completion-marker
  property every builder now inherits. Check, build and marker run
  under one lock per artifact directory, so concurrent callers in a
  process build it once and the rest serve the result.
- :func:`write_json` / :func:`read_json` — the tmp + rename JSON write
  and the missing-or-torn-is-None read behind every marker in the
  engine: artifact and index metas, the ingest ``latest`` pointer and
  control files, run manifests and the stream state markers.

Artifacts live under ``$SPARK_GRAFT_ARTIFACTS`` (default
``<repo>/.artifacts``), keyed ``<kind>/<sf-dir-basename>`` and rebuilt
IN PLACE on staleness, so path-keyed artifacts cannot accumulate stale
siblings. Name-keyed artifacts (catalog tables) handle their own GC
but share the fingerprint helper.
"""

from __future__ import annotations

import hashlib
import json
import os
import threading
from typing import Callable


def artifacts_root() -> str:
    """$SPARK_GRAFT_ARTIFACTS, default <repo>/.artifacts."""
    return os.environ.get(
        "SPARK_GRAFT_ARTIFACTS",
        os.path.join(
            os.path.dirname(
                os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
            ),
            ".artifacts",
        ),
    )


from contextlib import contextmanager


@contextmanager
def parallel_write(spark):
    """Scope for POSTING-FRAME writes (the scan inputs of
    compute-amplifying consumers): disable AQE partition coalescing so
    the write keeps the session's full shuffle width and the on-disk
    file count matches it. The r14 counter-lesson showed these frames
    must NOT be size-coalesced (a 2-file tfl serialized the BM25
    explosion stage); this scope enforces the intended
    parallelism-first layout, which AQE's byte heuristic still
    undercut at bench scale (16 MB tfl coalesced to 8 files → every
    consumer's pre-exchange scan+project stage ran at 8 tasks). At
    cluster scale posting frames dwarf the per-partition advisory
    size, so coalescing would not have fired anyway — the scope only
    changes small-corpus layouts. Restores prior conf on exit."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key, None)
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


@contextmanager
def sized_write(spark, advisory: str = "64m"):
    """Scope for artifact/lake WRITES: let AQE coalesce the final
    stage by ADVISORY SIZE instead of parallelism.

    The session default keeps ``parallelismFirst=true`` because
    COMPUTE stages in this engine are often compute-dense at tiny byte
    sizes — but that same setting makes a write stage emit one small
    file per core-sized sliver (guide §6's small-files problem twice
    over: driver listing on every later read, per-file open cost on
    every scan task, and here each tiny artifact file also becomes its
    own Python-boundary task in the pandas-kernel serve paths). Inside
    this scope the write stage coalesces to ~``advisory`` bytes per
    output file; everything outside is untouched. Restores prior conf
    on exit."""
    pf = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    # get(k, None) is None when the key was never explicitly SET (the
    # built-in default does not count) — restore-to-unset must not pin
    # today's built-in default into the session
    old = {k: spark.conf.get(k, None) for k in (pf, adv)}
    spark.conf.set(pf, "false")
    spark.conf.set(adv, advisory)
    try:
        yield
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def artifact_dir(kind: str, sf_dir: str) -> str:
    """Artifact path for (kind, data dir).

    Keyed by the data dir's basename PLUS a short hash of its absolute
    path: two dirs sharing a basename (/a/sf0.1 and /b/sf0.1) would
    otherwise share one artifact slot and — since the fingerprint embeds
    the full source path — alternate callers would see a perpetually
    stale fingerprint and rebuild on every switch (silent thrash, not
    wrong results, but the whole point of an artifact is to not do
    that). The basename stays in the key for human-debuggable paths."""
    norm = os.path.normpath(os.path.abspath(sf_dir))
    tag = hashlib.sha256(norm.encode()).hexdigest()[:8]
    return os.path.join(
        artifacts_root(), kind, f"{os.path.basename(norm)}-{tag}"
    )


def source_fingerprint(sources: list[str] | str, params: dict) -> str:
    """Staleness key: (mtime_ns, size) of every source file + the build
    params, hashed. stat() only — deciding freshness never reads data."""
    if isinstance(sources, str):
        sources = [sources]
    parts = []
    for s in sources:
        st = os.stat(s)
        parts.append(f"{s}={st.st_mtime_ns}:{st.st_size}")
    parts.append(str(sorted(params.items())))
    return hashlib.sha256(";".join(parts).encode()).hexdigest()[:16]


def read_json(file: str):
    """The parsed JSON at ``file``, or None when it is missing or torn.

    Every commit marker in the engine is read through here, so "no
    marker" and "unreadable marker" mean the same thing everywhere:
    nothing was committed."""
    try:
        with open(file) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def write_json(file: str, obj) -> None:
    """Atomic JSON write (tmp + rename): readers see either the old
    complete file or the new complete file, never a torn one. The one
    commit primitive behind every marker, pointer and manifest."""
    os.makedirs(os.path.dirname(file) or ".", exist_ok=True)
    tmp = file + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, file)


def dir_bytes(path: str) -> int:
    """On-disk bytes of a file or a directory tree (0 when missing) —
    a stat walk, no data read."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def read_artifact_meta(path: str) -> dict | None:
    """_meta.json if present and parseable, else None (== stale).

    Underscore-prefixed so Spark's file listing skips it when the
    artifact's parquet files live at the path root (events_clustered)."""
    return read_json(os.path.join(path, "_meta.json"))


def ensure_artifact(
    kind: str,
    sf_dir: str,
    sources: list[str] | str,
    params: dict,
    build: Callable[[str, str], dict | None],
    meta_reader: Callable[[str], dict | None] | None = None,
) -> tuple[str, dict, bool]:
    """Serve the artifact at ``artifact_dir(kind, sf_dir)``, building it
    first when missing or stale. Returns (path, meta, rebuilt).

    ``build(path, fingerprint)`` runs the one corpus-sized pass. If it
    returns a dict, the helper writes ``meta.json`` (fingerprint +
    params + the dict) AFTER the build completes — the completion
    marker. If it returns None, the build is expected to have written
    its own marker (pass ``meta_reader`` so staleness checks read it);
    builders that own rich metas (PQ codebooks) use this form.
    """
    fp = source_fingerprint(sources, params)
    path = artifact_dir(kind, sf_dir)
    reader = meta_reader or read_artifact_meta
    with _build_lock(path):
        meta = reader(path)
        if meta is not None and meta.get("fingerprint") == fp:
            return path, meta, False
        extra = build(path, fp)
        if extra is not None:
            meta = {"fingerprint": fp, "params": dict(params), **extra}
            write_json(os.path.join(path, "_meta.json"), meta)
        else:
            meta = reader(path)
            if meta is None or meta.get("fingerprint") != fp:
                raise RuntimeError(
                    f"artifact build for {kind} wrote no valid marker at {path}"
                )
    return path, meta, True


# artifact dir -> the lock its check, build and marker run under. Two
# threads of one process (a stream's per-trigger serve and a batch
# caller) would otherwise both see no marker and write the same
# directory at once. The lock is re-entrant so a build may serve other
# artifacts; locks are never dropped (one per artifact dir).
_BUILD_LOCKS: dict[str, threading.RLock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def _build_lock(path: str) -> threading.RLock:
    with _BUILD_LOCKS_GUARD:
        return _BUILD_LOCKS.setdefault(os.path.abspath(path), threading.RLock())
