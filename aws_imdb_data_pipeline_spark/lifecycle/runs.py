"""Run lifecycle: manifests + change detection (L5, L6).

The reference's ingest DAG writes a ``_MANIFEST.json`` with per-file
status counts plus a ``_SUCCESS`` marker (imdb_raw_ingest.py:282-308)
and skips downloads whose remote metadata (ETag/Last-Modified/size)
matches a control file (imdb_raw_ingest.py:176-204). These are
driver-level utilities, not Spark operators — plain-Python here, with
md5 content hashing (imdb_raw_ingest.py:209-223) for integrity.
Spark writes ``_SUCCESS`` markers natively on every job.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import asdict, dataclass, field

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    read_json,
    write_json,
)


@dataclass
class RunManifest:
    run_date: str
    files: dict[str, dict] = field(default_factory=dict)

    def record(
        self, name: str, status: str, md5: str | None = None, size: int | None = None
    ) -> None:
        self.files[name] = {"status": status, "md5": md5, "size": size}

    @property
    def status_counts(self) -> dict[str, int]:
        counts: dict[str, int] = {}
        for meta in self.files.values():
            counts[meta["status"]] = counts.get(meta["status"], 0) + 1
        return counts


def write_manifest(manifest: RunManifest, directory: str) -> str:
    """Write _MANIFEST.json + _SUCCESS (imdb_raw_ingest.py:282-308)."""
    path = os.path.join(directory, "_MANIFEST.json")
    write_json(
        path, {**asdict(manifest), "status_counts": manifest.status_counts}
    )
    with open(os.path.join(directory, "_SUCCESS"), "w"):
        pass
    return path


def read_manifest(directory: str) -> dict:
    path = os.path.join(directory, "_MANIFEST.json")
    manifest = read_json(path)
    if manifest is None:
        raise FileNotFoundError(f"no readable run manifest at {path}")
    return manifest


def md5_file(path: str, chunk_size: int = 1 << 20) -> str:
    """Streaming md5 (1 MiB chunks, imdb_raw_ingest.py:209-223)."""
    h = hashlib.md5()
    with open(path, "rb") as f:
        while chunk := f.read(chunk_size):
            h.update(chunk)
    return h.hexdigest()


def content_changed(
    control_path: str, remote_meta: dict, update: bool = True
) -> bool:
    """Change detection against a JSON control file: True if the remote
    metadata (etag / last_modified / content_length) differs from the
    recorded state (imdb_raw_ingest.py:176-204). With ``update=True``
    the new state is recorded immediately; ingest callers should pass
    ``update=False`` and write the control file only after the
    download succeeds (the reference's write-after-upload ordering,
    imdb_raw_ingest.py:282-308), or a failed transfer is never
    retried."""
    previous = read_json(control_path)
    changed = previous != remote_meta
    if changed and update:
        write_json(control_path, remote_meta)
    return changed

