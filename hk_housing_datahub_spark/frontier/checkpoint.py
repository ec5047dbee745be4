"""Atomic checkpoint manifests for the crawl loop.

Rebuilds the reference's resume-from-txt checkpoint
(/root/reference/src/processors/agency/estates.py:66-77,112-121) as a
manifest-committed table layout:

    <dir>/manifest.json              ← committed LAST, atomically (tmp+rename)
    <dir>/frontier/                  ← parquet, frontier as of `wave`
    <dir>/seen/                      ← parquet, seen-set state (exact or bloom)
    <dir>/listings/wave=<n>/         ← parquet, extracted rows per wave

A crash between data writes and the manifest rename leaves the previous
manifest intact → restart resumes from the last committed wave (exactly-once
per wave). On an object store the same pattern works via conditional PUT /
rename; with a real Iceberg catalog the manifest becomes a snapshot commit.

The manifest also carries per-partition lineage (partition id, watermark =
max warc_ts fetched, rows emitted) per the north rule.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass, field


@dataclass
class WaveLineage:
    partition_id: int
    watermark: str | None  # ISO max(warc_ts) fetched in this partition
    rows_emitted: int


@dataclass
class Manifest:
    wave: int
    seen_mode: str
    n_scheduled: int
    n_extracted: int
    frontier_size: int
    seen_count: int
    lineage: list[dict] = field(default_factory=list)
    waves_done: list[int] = field(default_factory=list)
    # n_buckets / bloom_bits / cuckoo_rows the seen-set state was built
    # with; None in manifests written before they were recorded
    seen_params: dict | None = None


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "manifest.json")


def write_manifest(checkpoint_dir: str, m: Manifest) -> None:
    os.makedirs(checkpoint_dir, exist_ok=True)
    tmp = manifest_path(checkpoint_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(asdict(m), f, indent=1)
    os.replace(tmp, manifest_path(checkpoint_dir))  # atomic commit point


def read_manifest(checkpoint_dir: str) -> Manifest | None:
    p = manifest_path(checkpoint_dir)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        d = json.load(f)
    return Manifest(**d)
