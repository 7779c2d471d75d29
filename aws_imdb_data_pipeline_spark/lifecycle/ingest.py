"""Raw-zone ingest with change detection (S10, L5, L6).

Re-expression of the reference's ingest DAG
(airflow/dags/imdb_raw_ingest.py:70-90,160-250,252-309): for each
dataset, compare remote metadata against a control file, download only
when changed, verify md5, lay files out under
``{lake}/{dataset}/run_date={date}/`` with a ``latest`` pointer, and
finalize a run manifest + _SUCCESS marker.

Transport is injected (a callable returning (metadata, bytes-reader))
so the engine stays network-free and testable; production wires in an
HTTP/S3 client with the same two-phase HEAD→GET shape.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable
from dataclasses import dataclass

from aws_imdb_data_pipeline_spark.lifecycle.artifacts import (
    read_json,
    write_json,
)
from aws_imdb_data_pipeline_spark.lifecycle.runs import (
    RunManifest,
    content_changed,
    md5_file,
    write_manifest,
)

# (dataset name) -> (remote_metadata, open_payload) where open_payload
# yields chunks of bytes. Mirrors HEAD (metadata) + streaming GET.
Fetcher = Callable[[str], tuple[dict, Callable[[], "iter[bytes]"]]]


@dataclass
class IngestResult:
    run_date: str
    manifest_path: str
    statuses: dict[str, str]


def ingest_datasets(
    datasets: list[str],
    fetcher: Fetcher,
    lake_root: str,
    run_date: str,
    control_dir: str | None = None,
    chunk_size: int = 1 << 20,
) -> IngestResult:
    """Ingest each dataset into ``{lake_root}/{name}/run_date={run_date}/``.

    - change detection: skip when the fetched metadata matches the
      control file (imdb_raw_ingest.py:176-204)
    - md5 recorded per downloaded file (imdb_raw_ingest.py:209-223)
    - ``latest`` pointer file updated to the newest run_date
      (imdb_raw_ingest.py:150-157)
    - manifest + _SUCCESS in the run directory (imdb_raw_ingest.py:282-308)
    """
    control_dir = control_dir or os.path.join(lake_root, "_control")
    manifest = RunManifest(run_date=run_date)
    statuses: dict[str, str] = {}

    for name in datasets:
        meta, open_payload = fetcher(name)
        ctl = os.path.join(control_dir, f"{name}.json")
        # update=False: the control file must only advance AFTER a
        # successful download, or a mid-transfer crash would make the
        # next run see "unchanged" and permanently skip the dataset.
        # The reference writes its control file post-upload for the
        # same reason (imdb_raw_ingest.py:176-204 then 282-308).
        if not content_changed(ctl, meta, update=False):
            manifest.record(name, "skipped_unchanged")
            statuses[name] = "skipped_unchanged"
            continue
        dest_dir = os.path.join(lake_root, name, f"run_date={run_date}")
        os.makedirs(dest_dir, exist_ok=True)
        dest = os.path.join(dest_dir, f"{name}.tsv.gz")
        tmp = dest + ".part"
        size = 0
        with open(tmp, "wb") as f:
            for chunk in open_payload():
                f.write(chunk)
                size += len(chunk)
        shutil.move(tmp, dest)
        digest = md5_file(dest, chunk_size)
        write_json(ctl, meta)  # download complete + hashed: now commit
        manifest.record(name, "downloaded", md5=digest, size=size)
        statuses[name] = "downloaded"
        # latest pointer: consumers read {lake}/{name}/latest to find
        # the current slice without listing run_date dirs
        write_json(
            os.path.join(lake_root, name, "latest"),
            {"run_date": run_date, "path": dest_dir},
        )

    run_dir = os.path.join(lake_root, f"_runs/run_date={run_date}")
    manifest_path = write_manifest(manifest, run_dir)
    return IngestResult(
        run_date=run_date, manifest_path=manifest_path, statuses=statuses
    )


def latest_slice(lake_root: str, dataset: str) -> str:
    """Resolve the current slice directory via the latest pointer."""
    pointer = os.path.join(lake_root, dataset, "latest")
    latest = read_json(pointer)
    if latest is None:
        raise FileNotFoundError(f"no readable latest pointer at {pointer}")
    return latest["path"]
