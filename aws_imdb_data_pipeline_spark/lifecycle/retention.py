"""Run-partition retention GC for the append-only lake.

The L1 pattern (every run appends a `run_date=...` slice; consumers
read the latest via max(run_key)) grows without bound — at 100 TB a
year of daily runs is 365 full copies of every mart. Retention is the
missing half of append-only: keep the newest ``keep_last`` run slices,
delete the rest — at the PARTITION-DIRECTORY level, so expiry is a
metadata-cheap directory remove, never a data rewrite (the same reason
the lake partitions by run in the first place).

Ordering is the partition VALUE's lexicographic order, which equals
chronological order for the ISO dates / zero-padded keys this engine
writes (`run_date=2024-01-07`); non-padded numeric keys would need a
key function — refuse is better than guess, so values that mix widths
raise. The newest slice can never be expired (``keep_last >= 1`` is
enforced): latest-run consumers stay valid through any GC.

``dry_run=True`` returns the full plan (kept/expired, bytes) without
touching the filesystem — run it in the report step of a scheduled
job, apply in the act step.
"""

from __future__ import annotations

import os
import shutil

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import dir_bytes


def list_run_partitions(path: str, partition_col: str = "run_date") -> list[str]:
    """Partition values present under ``path`` (Hive layout
    ``{partition_col}=value``), sorted ascending (oldest first)."""
    prefix = f"{partition_col}="
    if not os.path.isdir(path):
        return []
    vals = [
        name[len(prefix):]
        for name in os.listdir(path)
        if name.startswith(prefix)
        and os.path.isdir(os.path.join(path, name))
    ]
    if len({len(v) for v in vals}) > 1:
        raise ValueError(
            f"mixed-width partition values under {path}: lexicographic "
            "order would not be chronological; normalize keys first"
        )
    return sorted(vals)


def expire_runs(
    path: str,
    keep_last: int,
    partition_col: str = "run_date",
    dry_run: bool = False,
) -> dict:
    """Expire all but the newest ``keep_last`` run partitions under
    ``path``. Returns {"kept": [...], "expired": [...],
    "reclaimed_bytes": n, "dry_run": bool}; with ``dry_run`` nothing
    is deleted and ``reclaimed_bytes`` is what WOULD be reclaimed."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1: the latest run slice "
                         "must survive for latest-run consumers")
    vals = list_run_partitions(path, partition_col)
    kept, expired = vals[-keep_last:], vals[:-keep_last]
    reclaimed = 0
    removed, failed = [], []
    for v in expired:
        part_dir = os.path.join(path, f"{partition_col}={v}")
        size = dir_bytes(part_dir)
        if dry_run:
            reclaimed += size
            removed.append(v)
            continue
        # Count bytes only for partitions that are actually GONE after
        # rmtree: a partial failure (permissions, open handle) must not
        # inflate the reclamation report while the partition silently
        # survives — surface it in "failed" instead.
        shutil.rmtree(part_dir, ignore_errors=True)
        if os.path.exists(part_dir):
            failed.append(v)
        else:
            reclaimed += size
            removed.append(v)
    return {
        "kept": kept,
        "expired": removed,
        "failed": failed,
        "reclaimed_bytes": reclaimed,
        "dry_run": dry_run,
    }
