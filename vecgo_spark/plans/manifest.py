"""Versioned JSON manifest — the engine's commit / time-travel root.

Reference mapping (SURVEY §1.4): vecgo keeps one manifest per commit
listing immutable segments + per-segment stats
(internal/manifest/manifest.go:26-66); `WithVersion`/`WithTimestamp` open
an old manifest (vecgo.go:422-448, manifest.go:90-145 LoadVersion,
ListVersions:147); Vacuum GCs manifests + orphan segments per retention
policy (internal/engine/engine.go:39-52,1979-2123).

Here: `_manifest/v{N:08d}.json` under the table dir. Readers resolve a
manifest → a file list → `spark.read.parquet(files)`; snapshot isolation
falls out of immutability (a reader pinned to v7 never sees v8's files),
and nothing is durable until the manifest is published — exactly the
reference's no-WAL commit discipline (engine.go:873-875).

Manifest ops are O(#segments), never O(rows) — the 100 TB invariant.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import asdict, dataclass, field
from typing import Any

MANIFEST_DIR = "_manifest"


@dataclass
class SegmentMeta:
    """Per-segment entry ≙ manifest.Segment + ShapeStats/FieldStats
    (internal/manifest/stats.go:19-224, collected stats_collector.go)."""

    path: str                      # relative to table root
    rows: int
    lsn: int                       # commit LSN that produced it
    bytes: int = 0
    # per-column stats for file pruning: {col: {"min":…, "max":…,
    # "null_count":…, "distinct_approx":…}}
    stats: dict[str, Any] = field(default_factory=dict)
    # high-water LSN of tombstones ALREADY APPLIED when this segment was
    # produced by a partial merge (0 = original append segment, whose rows
    # all carry exactly `lsn`). Lets maybe_compact GC tombstones that can
    # no longer hide any surviving row.
    tomb_lsn_applied: int = 0
    # relative path of the PK sidecar — a narrow (id, _lsn) parquet
    # projection of this segment's rows, written with the segment (the
    # reference persists the (id → lsn, location) PK index at commit,
    # internal/engine/engine.go:2226-2262 persistPKIndex, and consults it
    # on every read, search.go:1092-1105). Readers resolving upsert
    # visibility under a SUBSET scan read the sidecar family instead of a
    # corpus-wide (id, _lsn) projection. May be SHARED by several
    # segments (one sidecar covering a multi-cluster rewrite). None for
    # pre-sidecar segments → readers fall back to the narrow segment scan.
    pk: str | None = None
    # LSM level for LeveledPolicy (SegmentStats.Level,
    # /root/reference/internal/engine/policy.go:10-16): fresh commits are
    # L0; maybe_compact stamps the merged segment with the task's
    # target_level. 0 for pre-level manifests and for policies that don't
    # use levels — only LeveledPolicy reads it.
    level: int = 0
    # key of this segment's Spark schema in Manifest.meta["schemas"]
    # (each distinct schema is stored once per table), recorded at write
    # so readers skip parquet schema inference. None for segments written
    # before schemas were recorded → readers infer.
    schema: str | None = None


@dataclass
class Manifest:
    version: int
    lsn: int                       # high-water LSN at commit
    next_id: int                   # auto-increment PK state (model/types.go:9)
    created_at: float
    segments: list[SegmentMeta] = field(default_factory=list)
    tombstone_files: list[str] = field(default_factory=list)
    meta: dict[str, Any] = field(default_factory=dict)  # dim, metric, schema…
    # per-tombstone-file id stats, keyed by the relpath in tombstone_files:
    # {"ids": exact distinct count, "min": …, "max": …, "lsn": …,
    #  "dense": max-min+1 == ids}. Known for free at delete() time
    # (driver-side id list) or from the delete_where Observation; lets
    # count() answer tombstoned snapshots from the manifest alone when the
    # id sets are provably dense intervals. Absent for pre-upgrade
    # manifests → readers fall back to a scan.
    tombstone_stats: dict[str, Any] = field(default_factory=dict)

    def to_json(self) -> str:
        d = asdict(self)
        return json.dumps(d, indent=1, sort_keys=True)

    @staticmethod
    def from_json(s: str) -> "Manifest":
        d = json.loads(s)
        d["segments"] = [SegmentMeta(**m) for m in d.get("segments", [])]
        d.setdefault("tombstone_stats", {})
        return Manifest(**d)


# scheme → factory(path-without-scheme) -> (FileSystem, fs-local path).
# The BlobStore extension point (store.go:33-67 Open/Put/List registry;
# s3/minio/gcs stores plug in the same way): tests and deployments can
# register custom stores without touching the engine.
_FS_REGISTRY: dict[str, Any] = {}


def register_filesystem(scheme: str, factory) -> None:
    _FS_REGISTRY[scheme] = factory


def _fs_for(path: str):
    """(FileSystem, fs-local path) via pyarrow.fs — file paths, file://,
    s3://, gs://, hdfs:// all resolve without extra deps (BlobStore analog,
    /root/reference/blobstore/store.go:33-67); custom schemes via
    register_filesystem."""
    from pyarrow import fs as pafs

    if "://" in path:
        scheme, rest = path.split("://", 1)
        if scheme in _FS_REGISTRY:
            return _FS_REGISTRY[scheme](rest)
        return pafs.FileSystem.from_uri(path)
    return pafs.LocalFileSystem(), path


# --------------------------- URI-aware fs operations (engine-wide helpers)


def fs_makedirs(path: str) -> None:
    fs, p = _fs_for(path)
    fs.create_dir(p, recursive=True)


def fs_listdir(path: str) -> list[str]:
    """Immediate children base names ([] when the dir is absent)."""
    from pyarrow import fs as pafs

    fs, p = _fs_for(path)
    try:
        infos = fs.get_file_info(pafs.FileSelector(p, allow_not_found=True))
    except (OSError, FileNotFoundError):
        return []
    return [i.base_name for i in infos]


def fs_du(path: str) -> int:
    """Total bytes under path (recursive)."""
    from pyarrow import fs as pafs

    fs, p = _fs_for(path)
    try:
        infos = fs.get_file_info(
            pafs.FileSelector(p, recursive=True, allow_not_found=True)
        )
    except (OSError, FileNotFoundError):
        return 0
    return sum(i.size or 0 for i in infos if i.is_file)


def fs_rmtree(path: str) -> None:
    fs, p = _fs_for(path)
    try:
        fs.delete_dir(p)
    except (OSError, FileNotFoundError):
        pass


def fs_remove_file(path: str) -> None:
    fs, p = _fs_for(path)
    fs.delete_file(p)


def fs_exists(path: str) -> bool:
    from pyarrow import fs as pafs

    fs, p = _fs_for(path)
    return fs.get_file_info(p).type != pafs.FileType.NotFound


def fs_read_text(path: str) -> str:
    fs, p = _fs_for(path)
    with fs.open_input_stream(p) as f:
        return f.read().decode()


def fs_write_text(path: str, data: str) -> None:
    fs, p = _fs_for(path)
    with fs.open_output_stream(p) as f:
        f.write(data.encode())


def manifest_path(table_dir: str, version: int) -> str:
    return os.path.join(table_dir, MANIFEST_DIR, f"v{version:08d}.json")


def list_versions(table_dir: str) -> list[int]:
    from pyarrow import fs as pafs

    filesystem, root = _fs_for(table_dir)
    mdir = f"{root.rstrip('/')}/{MANIFEST_DIR}"
    try:
        infos = filesystem.get_file_info(pafs.FileSelector(mdir, allow_not_found=True))
    except (OSError, FileNotFoundError):
        return []
    out = []
    for info in infos:
        f = info.base_name
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue
    return sorted(out)


def load_manifest(table_dir: str, version: int | None = None,
                  timestamp: float | None = None) -> Manifest:
    """Load latest, a pinned version, or latest-at-timestamp
    (LoadVersion / WithTimestamp semantics)."""
    versions = list_versions(table_dir)
    if not versions:
        raise FileNotFoundError(f"no manifest under {table_dir}")
    if version is None and timestamp is None:
        version = versions[-1]
    elif version is None:
        candidates = []
        for v in versions:
            m = _read(table_dir, v)
            if m.created_at <= timestamp:
                candidates.append(v)
        if not candidates:
            raise ValueError(f"no version at or before timestamp {timestamp}")
        version = candidates[-1]
    if version not in versions:
        raise ValueError(f"version {version} not found (have {versions})")
    return _read(table_dir, version)


def _read(table_dir: str, version: int) -> Manifest:
    filesystem, root = _fs_for(table_dir)
    path = f"{root.rstrip('/')}/{MANIFEST_DIR}/v{version:08d}.json"
    with filesystem.open_input_stream(path) as f:
        return Manifest.from_json(f.read().decode())


def save_manifest(table_dir: str, m: Manifest) -> None:
    """Atomic publish (the commit point, ≙ the reference's atomic manifest
    Put, engine.go:1942-1967). Local filesystems get true write-temp+rename
    atomicity; object stores rely on the existence pre-check plus
    single-writer discipline (same stance as the reference's BlobStore
    conditional Put)."""
    from pyarrow import fs as pafs

    filesystem, root = _fs_for(table_dir)
    mdir = f"{root.rstrip('/')}/{MANIFEST_DIR}"
    path = f"{mdir}/v{m.version:08d}.json"
    if filesystem.get_file_info(path).type != pafs.FileType.NotFound:
        raise FileExistsError(f"manifest v{m.version} already exists (concurrent commit?)")
    filesystem.create_dir(mdir, recursive=True)
    data = m.to_json().encode()
    if isinstance(filesystem, pafs.LocalFileSystem):
        tmp = f"{path}.tmp.{os.getpid()}.{time.time_ns()}"
        with filesystem.open_output_stream(tmp) as f:
            f.write(data)
        filesystem.move(tmp, path)
    else:
        with filesystem.open_output_stream(path) as f:
            f.write(data)
