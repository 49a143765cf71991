"""SimHash signatures AT REST — the minhash_at_rest.py lifecycle applied
to the second signature family (one 64-bit SWAR-majority signature per
doc, operators/dedup.simhash): signatures are computed ONCE per segment
at index build, persisted under `_index/simhash-v*`, and every
subsequent dedup pass re-reads one long per doc instead of re-hashing
every token instance of the text column.

Shape (shared with the minhash/graph/lexical families):

  build:    one signature row per RAW segment row version
            (id, _lsn, _seg, simhash; token-less docs carry NULL so the
            visibility algebra sees every version — a later empty upsert
            must SHADOW its predecessor, not resurrect its signature).
  refresh:  new segments get their own immutable dir; fold at the
            max_dirs cap (graph_at_rest.refresh_family_dirs core).
  read:     stored rows of live indexed segments ∪ a recompute delta leg
            for unindexed segments, then df()'s visibility (the
            per-snapshot kill set, table._visible) —
            bit-identical to dedup.simhash(tbl.df()) by determinism.
  compact:  full compaction rebuilds the family (table.compact reindex);
  vacuum:   dirs referenced via meta["simhash"] paths.

Scale posture: the artifact is 4 fixed-width columns per doc; the
banded-join dedup (dedup.simhash_pairs(sigs=...)) then starts from a
long-per-doc scan — the reference's store-codes-inside-segments stance
(internal/segment/flat/writer.go:57-519) for the dedup signature.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vecgo_spark.operators import dedup

FAMILY = "simhash"


def _segment_sigs(tbl, segs, text_col: str) -> DataFrame:
    """One row per RAW row version of `segs`: (id, _lsn, _seg, simhash);
    token-less docs keep NULL signatures (see module docstring)."""
    from vecgo_spark.operators.graph_at_rest import seg_tag_expr

    raw = tbl._segment_df(segs).select(
        F.col(tbl.id_col).alias("id"), F.col("_lsn"),
        F.col(text_col).alias("_text"),
    ).withColumn("_seg", seg_tag_expr())
    keyed = raw.select(
        F.struct("id", "_lsn", "_seg").alias("_rk"), F.col("_text"))
    sigs = dedup.simhash(keyed, "_rk", "_text")
    return (
        raw.select("id", "_lsn", "_seg",
                   F.struct("id", "_lsn", "_seg").alias("_rk"))
        .join(sigs.withColumnRenamed("id", "_rk"), "_rk", "left")
        .drop("_rk")
    )


def build_simhash_index(tbl, text_col: str = "text") -> int:
    """Compute per-segment signatures for every committed segment and
    publish a manifest version recording the artifact."""
    from vecgo_spark.plans.manifest import Manifest, save_manifest

    tbl._check_writable()
    man = tbl.manifest
    if not man.segments:
        raise ValueError("nothing to index: table has no committed segments")
    version = man.version + 1
    rel = _write_sig_dir(tbl, man.segments, version, text_col)
    from vecgo_spark.operators.graph_at_rest import record_dir_bytes

    info = {"path": rel, "segments": [s.path for s in man.segments],
            "text_col": text_col}
    record_dir_bytes(tbl, info)
    new = Manifest(
        version=version, lsn=man.lsn, next_id=man.next_id,
        created_at=time.time(), segments=list(man.segments),
        tombstone_files=list(man.tombstone_files),
        meta={**man.meta, FAMILY: info},
        tombstone_stats=dict(man.tombstone_stats),
    )
    save_manifest(tbl.path, new)
    tbl.manifest = new
    return version


def refresh_simhash_index(tbl, max_dirs: int = 8) -> int:
    """Index segments committed after the last build/refresh (immutable
    stored dirs, fold at the cap — the shared family core)."""
    from vecgo_spark.operators.graph_at_rest import refresh_family_dirs

    info = tbl.manifest.meta.get(FAMILY) or {}
    return refresh_family_dirs(
        tbl, FAMILY,
        lambda new_segs, version, extra: _write_sig_dir(
            tbl, new_segs, version, info["text_col"], extra=extra),
        seg_col="_seg", max_dirs=max_dirs)


def _write_sig_dir(tbl, segs, version: int, text_col: str, extra=None) -> str:
    from vecgo_spark.plans.manifest import fs_exists, fs_rmtree
    from vecgo_spark.plans.table import INDEX_DIR

    rel = os.path.join(INDEX_DIR, f"{FAMILY}-v{version:08d}")
    full = os.path.join(tbl.path, rel)
    if fs_exists(full):
        fs_rmtree(full)  # orphan of a failed earlier attempt
    out = _segment_sigs(tbl, segs, text_col)
    if extra is not None:
        # fold path: copy still-live rows from superseded dirs
        out = out.unionByName(extra.select(*out.columns))
    out.write.mode("error").parquet(full)
    return rel


def stored_simhash_signatures(tbl) -> DataFrame:
    """(id, simhash) for the CURRENT live snapshot, served from stored
    signatures wherever a live segment is indexed; bit-identical to
    dedup.simhash(tbl.df(), ...) by construction (determinism + df()'s
    visibility applied to the signature rows)."""
    from vecgo_spark.operators.graph_at_rest import blob_paths

    info = tbl.manifest.meta.get(FAMILY)
    if info is None:
        raise KeyError("table has no simhash index; build it first")
    man = tbl.manifest
    current = {s.path for s in man.segments}
    live_indexed = sorted(set(info["segments"]) & current)
    legs = []
    if live_indexed:
        stored = tbl._read_parquet_cached(
            [os.path.join(tbl.path, p) for p in blob_paths(info)])
        legs.append(
            stored.where(F.col("_seg").isin(live_indexed))
            .select("id", "_lsn", "simhash"))
    delta = [s for s in man.segments if s.path not in set(info["segments"])]
    if delta:
        legs.append(
            _segment_sigs(tbl, delta, info["text_col"])
            .select("id", "_lsn", "simhash"))
    if not legs:
        return tbl.spark.createDataFrame([], "id long, simhash long")
    base = legs[0]
    for leg in legs[1:]:
        base = base.unionByName(leg)
    base = tbl._visible(base, id_col="id")
    # token-less row versions carried NULL sigs for shadowing; visibility
    # has picked the live version — drop them (simhash() emits no row for
    # such docs either)
    return base.where(F.col("simhash").isNotNull()).drop("_lsn")
