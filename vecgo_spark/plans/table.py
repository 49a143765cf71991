"""VectorTable — the engine's collection abstraction over parquet segments
+ versioned manifests.

Reference lifecycle mapping (SURVEY §2.1, §3.3):
  create/open        Open(Local(path)) / Create(dim, metric)   vecgo.go:80-86,199-204
  insert(df)         BatchInsertDeferred (columnar append, no graph build —
                     the ~1000x-faster bulk path, engine.go:1036-1185);
                     data staged as parquet, unreferenced until commit
  commit()           Commit: stats collection + atomic manifest publish
                     (engine.go:1700-1974); nothing durable before this
  delete(ids)        tombstone file; hidden at read by the kill set
                     (engine.go:1186-1302, tombstone.go)
  upsert             same-id re-insert wins by LSN; hidden at read by
                     the kill set (engine.go:993-1005)
  scan/df()          snapshot read: manifest files → the per-snapshot
                     kill set as one predicate (engine.go:1378-1481)
  get(id)            point lookup: top-1 by LSN over the id-filtered
                     segment ∪ tombstone scans
  open(version=…)    time travel WithVersion/WithTimestamp (vecgo.go:422-448)
  compact()          merge segments, drop tombstones, re-stats, publish
                     (internal/engine/compaction.go)
  vacuum()           retention GC of manifests + orphan files
                     (engine.go:1979-2123)

Scale posture: the driver-side state is O(#segments) manifest JSON; reads
are parquet scans with manifest-stats file pruning (plans/pruning.py) on
top of Catalyst's row-group pruning; visibility is the snapshot's kill
set, read once on the driver from the PK sidecars and tombstones (only
when the snapshot has either) and applied as one in-plan predicate — or,
past VIS_PREDICATE_MAX_IDS, one join on a per-snapshot (id, _kill_lsn)
frame.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from vecgo_spark import cache_stats
from vecgo_spark.filters import Filter, FilterSet, to_condition
from vecgo_spark.operators import knn
from vecgo_spark.plans.manifest import (
    Manifest,
    SegmentMeta,
    fs_du,
    fs_listdir,
    fs_makedirs,
    fs_read_text,
    fs_remove_file,
    fs_rmtree,
    fs_write_parquet,
    fs_write_text,
    list_versions,
    load_manifest,
    manifest_path,
    save_manifest,
)
from vecgo_spark.plans.pruning import (
    estimate_selectivity,
    prune_segments,
    segment_priority,
)

SEG_DIR = "_segments"
TOMB_DIR = "_tombstones"
INDEX_DIR = "_index"
PK_DIR = "_pk"  # per-segment (id, _lsn) sidecars — the persisted PK index
CLUSTER_COL = "_cluster"
QCODE_COL = "_q_code"    # at-rest scalar-quantized codes (ARRAY<INT>, dim)
PQCODE_COL = "_pq_code"  # at-rest product-quantized codes (ARRAY<INT>, m)
BINCODE_COL = "_b_code"  # at-rest packed sign bits (ARRAY<BIGINT>, ceil(dim/32))
BINNORM_COL = "_b_norm"  # at-rest L2 norm for the RaBitQ estimator (DOUBLE)
# max tombstoned ids for which the visibility anti-join broadcasts the
# per-id max-LSN side (two longs/row → ~16 MB at the bound); beyond it
# the join stays unhinted so it degrades to a shuffle join at scale
TOMB_BROADCAST_MAX_IDS = 1_000_000
# max ids of a snapshot's effective kill set that visibility applies as
# one in-plan `CASE WHEN id IN (…)` predicate (VectorTable._visible).
# Catalyst analyses and optimises the IN-list on every query, about
# 25-45 ms per 1k ids on local[2]; past this bound the persisted
# kill-frame join is cheaper for warm reads and serves instead (the probe
# behind the value is in CHANGES.md)
VIS_PREDICATE_MAX_IDS = 2_000
# partial compaction folds surviving tombstone files into one per-id
# max-LSN file once more than this many remain (tombstone migration)
TOMB_FOLD_MAX_FILES = 8
FAMILY_LEXICAL = "lexical"
# loaded PK-index registry: (path, version, pending-state, snapshot,
# tombstone set) → (the kill set as ((kill LSN, "id, id, …"), …) groups,
# or past VIS_PREDICATE_MAX_IDS the persisted per-id kill frame; sidecar
# files it reads; uncovered fallback segment paths) — see
# VectorTable._vis_vmax. Size of one entry is O(distinct ids) — the
# reference's in-memory PK index has the same footprint (pk/mvcc.go
# paged array); the cap bounds a session serving many churned snapshots.
# The recorded sources let tests pin that the version leg reads ONLY
# `_pk/` bytes.
_VIS_CACHE: dict[tuple, tuple[DataFrame | tuple, list[str], list[str]]] = {}
VIS_CACHE_CAP = 4


def _drop_vis(key) -> None:
    vis = _VIS_CACHE.pop(key)[0]
    if isinstance(vis, DataFrame):
        vis.unpersist()


def _memo_vis(key: tuple, entry: tuple) -> None:
    while len(_VIS_CACHE) >= VIS_CACHE_CAP:
        _drop_vis(next(iter(_VIS_CACHE)))
    _VIS_CACHE[key] = entry


def release_vis_caches(table_path: str | None = None) -> None:
    """Release cached kill sets and unpersist kill frames (long-lived
    sessions under memory pressure; snapshots changed by another
    writer). With table_path, only that table's entries are released —
    the per-table scoping stance of lexical_at_rest.release_caches."""
    for k in [k for k in _VIS_CACHE
              if table_path is None or k[0] == table_path]:
        _drop_vis(k)


def _read_id_lsn(path: str, id_col: str):
    """(id, _lsn) int64 numpy arrays of one parquet dir, read with
    pyarrow (no Spark job). NULL ids are dropped in Arrow first: a
    nullable int64 column turns into float64 in to_numpy, which corrupts
    ids above 2^53 — and a NULL id never matches a kill anyway."""
    import numpy as np
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from vecgo_spark.plans.manifest import _fs_for

    fs, p = _fs_for(path)
    t = pq.read_table(p, columns=[id_col, "_lsn"], filesystem=fs)
    t = t.filter(pc.is_valid(t[id_col]))
    return (t[id_col].to_numpy().astype(np.int64),
            t["_lsn"].to_numpy().astype(np.int64))


def _kill_groups(ids, kills) -> tuple:
    """((kill LSN, "id, id, …"), …): ids grouped by their kill LSN,
    ascending — the form _kill_predicate renders."""
    import numpy as np

    return tuple((int(k), ", ".join(map(str, np.sort(ids[kills == k]))))
                 for k in np.unique(kills))


def _kill_predicate(groups: tuple, id_col: str) -> str:
    """One SQL predicate keeping a row version iff its id has no kill or
    `_lsn > kill LSN`. A NULL id matches no IN-list and takes the ELSE,
    as it matches no kill-frame row in the join."""
    whens = " ".join(f"WHEN `{id_col}` IN ({ids}) THEN _lsn > {k}"
                     for k, ids in groups)
    return f"CASE {whens} ELSE TRUE END"


# Declared metadata-schema field types (metadata/schema.go:7-17). "any"
# accepts everything; undeclared fields always pass through (schema.go:46-49).
FIELD_TYPES = ("any", "int", "float", "string", "bool", "array")


def _schema_check(dt, want: str):
    """(ok, cast_to | None) for a Spark column type against a declared field
    type — the column-typed equivalent of the reference's per-document kind
    check (metadata/schema.go:80-99): NULL columns are always valid, Float
    accepts Int (the int→float upgrade, schema.go:89), everything else must
    match its kind. Integrals normalize to long and floats to double so
    segment files written by different inserts carry one parquet type."""
    from pyspark.sql import types as T

    if isinstance(dt, T.NullType):
        # NULL is always valid (schema.go:81-83); cast to the declared
        # concrete type so the column is parquet-writable and the at-rest
        # type matches later typed inserts. An all-NULL column carries no
        # element/type information, so 'array' and 'any' land as the
        # widest parquet-writable representations (void is unwritable)
        return True, {"int": "long", "float": "double", "string": "string",
                      "bool": "boolean", "array": "array<string>",
                      "any": "string"}.get(want)
    if want == "any":
        return True, None
    integral = isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType))
    if want == "int":
        return integral, (None if isinstance(dt, T.LongType) else "long") if integral else None
    if want == "float":
        floaty = isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType))
        if floaty or integral:
            return True, None if isinstance(dt, T.DoubleType) else "double"
        return False, None
    if want == "string":
        return isinstance(dt, T.StringType), None
    if want == "bool":
        return isinstance(dt, T.BooleanType), None
    if want == "array":
        return isinstance(dt, T.ArrayType), None
    return False, None


# keyed by Spark simpleString() names — LongType prints as "bigint"
_WIDENS = {("tinyint", "bigint"), ("smallint", "bigint"), ("int", "bigint"),
           ("tinyint", "double"), ("smallint", "double"), ("int", "double"),
           ("bigint", "double"), ("float", "double")}


def _widens_to(src: str, dst: str) -> bool:
    """True iff a cast src → dst (simpleString names) is lossless, so an
    incoming batch may be silently widened into the table's pinned
    concrete type. Element-wise for arrays."""
    if (src, dst) in _WIDENS:
        return True
    if src.startswith("array<") and dst.startswith("array<"):
        return _widens_to(src[6:-1], dst[6:-1])
    return False


# (applicationId, *files) → lazy reader DataFrame, shared across
# VectorTable instances — see _read_parquet_cached for the contract.
_READER_CACHE: dict[tuple, DataFrame] = {}


class VectorTable:
    """A versioned vector collection. One instance == one pinned snapshot
    plus (for the latest version) write ability."""

    def __init__(self, spark: SparkSession, path: str, manifest: Manifest, writable: bool = True):
        self.spark = spark
        self.path = path
        self.manifest = manifest
        self.writable = writable
        self._pending: list[SegmentMeta] = []
        self._pending_tombs: list[str] = []
        self._pending_tomb_stats: dict[str, Any] = {}
        self._observer = None
        self._sel_ema = None  # enable_adaptive_selectivity()
        # key prefix for the MODULE-LEVEL reader cache (see
        # _READER_CACHE): computed once per open — applicationId scopes
        # entries to a live SparkContext, so a stopped/restarted session
        # can never serve another session's JVM-side plan objects.
        self._reader_key = spark.sparkContext.applicationId

    # ------------------------------------------------------------ lifecycle

    @staticmethod
    def create(
        spark: SparkSession, path: str, dim: int | None = None,
        metric: str = "l2", id_col: str = "id", vector_col: str = "vector",
        schema: dict[str, str] | None = None,
    ) -> "VectorTable":
        """schema declares typed metadata fields (WithSchema,
        metadata/schema.go:39-99): {"price": "float", "brand": "string"}.
        Declared fields are validated on every insert (wrong kind rejected,
        int widened to float/long-normalized); undeclared fields pass
        through with whatever type Spark infers (dynamic passthrough)."""
        if metric not in knn.METRICS:
            raise ValueError(f"unknown metric {metric!r}")
        if schema:
            for k, v in schema.items():
                if v not in FIELD_TYPES:
                    raise ValueError(
                        f"schema field {k!r}: unknown type {v!r} (one of {FIELD_TYPES})")
        if list_versions(path):
            raise FileExistsError(f"table already exists at {path}")
        fs_makedirs(path)
        m = Manifest(
            version=1, lsn=0, next_id=1, created_at=time.time(),
            meta={"dim": dim, "metric": metric, "id_col": id_col,
                  "vector_col": vector_col, "has_upserts": False,
                  "has_dup_ids": False,
                  **({"schema": dict(schema)} if schema else {})},
        )
        save_manifest(path, m)
        return VectorTable(spark, path, m)

    @staticmethod
    def open(
        spark: SparkSession, path: str, version: int | None = None,
        timestamp: float | None = None,
    ) -> "VectorTable":
        m = load_manifest(path, version=version, timestamp=timestamp)
        pinned = version is not None or timestamp is not None
        if not pinned:
            # seed the per-table cache ledger from the persisted
            # snapshot (no-op if this process already served the table)
            cache_stats.warm(path, m.meta.get("cache_stats") or {})
        return VectorTable(spark, path, m, writable=not pinned)

    @property
    def metric(self) -> str:
        return self.manifest.meta["metric"]

    @property
    def id_col(self) -> str:
        return self.manifest.meta["id_col"]

    @property
    def vector_col(self) -> str:
        return self.manifest.meta["vector_col"]

    def versions(self) -> list[int]:
        return list_versions(self.path)

    def set_observer(self, observer) -> None:
        """Attach a MetricsObserver (vecgo.WithMetrics analog; see
        vecgo_spark/observer.py for the callback surface)."""
        self._observer = observer

    def _obs(self, method: str, *args, **kw) -> None:
        if self._observer is not None:
            getattr(self._observer, method)(*args, **kw)

    # --------------------------------------------------------------- write

    def _check_writable(self):
        if not self.writable:
            raise RuntimeError("table opened at a pinned version is read-only")

    def insert(self, df: DataFrame, assign_ids: bool = False) -> int:
        """Stage a batch (deferred bulk load). Data is written now but is
        invisible to readers until commit() publishes the manifest.
        Returns the staged row count.

        assign_ids=True adds an auto-increment id column (the reference's
        nextID counter, engine.go:866) — computed distributed via
        per-partition offsets, no global window.
        """
        t0 = time.perf_counter()
        try:
            rows, size = self._insert_impl(df, assign_ids)
        except Exception as e:
            self._obs("on_insert", time.perf_counter() - t0, 0, 0, error=e)
            raise
        self._obs("on_insert", time.perf_counter() - t0, rows, size)
        return rows

    def _insert_impl(self, df: DataFrame, assign_ids: bool) -> tuple[int, int]:
        self._check_writable()
        dim = self.manifest.meta.get("dim")
        lsn = self._next_lsn()
        if not assign_ids and self.id_col not in df.columns:
            raise ValueError(f"missing id column {self.id_col!r}; use assign_ids=True")
        df, new_pins = self._apply_schema(df)
        validate_dim = dim is not None and self.vector_col in df.columns
        persisted = None
        if assign_ids:
            df, persisted = self._assign_ids(df)
        if "ivf" in self.manifest.meta and self.vector_col in df.columns:
            # index maintenance on the write path: new rows are assigned to
            # their IVF partition at insert, so probe-pruned search stays
            # correct without a rebuild (the reference re-partitions only
            # at compaction; here assignment is one Column expression)
            from vecgo_spark.operators import ivf as ivfmod

            df = df.withColumn(
                CLUSTER_COL, ivfmod.assign_expr(self._load_ivf(), self.vector_col)
            )
        if self.vector_col in df.columns:
            # quantized-index maintenance on the write path: encode new
            # rows with the trained artifacts so search_quantized stays
            # correct without a recompaction
            df = self._with_codes(
                df,
                self._load_sq() if "sq" in self.manifest.meta else None,
                self._load_pq() if "pq" in self.manifest.meta else None,
                self._load_binary() if "binary" in self.manifest.meta else None,
            )
        lsn_col = F.lit(lsn).cast("long")
        if validate_dim:
            # dim validation fused into the write job (no separate scan of
            # the source): assert_true evaluates per row while the segment
            # is written, yields NULL on success so coalesce keeps _lsn;
            # NULL vectors pass, as the standalone pre-check allowed
            v = F.col(self.vector_col)
            chk = F.assert_true(
                v.isNull() | (F.size(v) == dim),
                F.lit(f"vector dimension mismatch (expected {dim})"),
            )
            lsn_col = F.coalesce(chk.cast("long"), lsn_col)
        df = df.withColumn("_lsn", lsn_col)
        name = f"seg-{lsn:08d}-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(SEG_DIR, name)
        full = os.path.join(self.path, rel)
        # pass-1 stats ride the write job itself (Observation — no extra
        # scan of the new segment); only the histogram/bloom/radius pass 2
        # re-reads the written files, and the exact id ndv rides the PK
        # sidecar write
        df, stats_fin = self._observe_stats(df)
        try:
            df.write.mode("error").parquet(full)
        except Exception as e:  # noqa: BLE001 — surface the fused check
            fs_rmtree(full)  # drop the partial segment; nothing was published
            if "vector dimension mismatch" in str(e):
                raise ValueError(f"vector dimension mismatch (expected {dim})") from e
            raise
        if persisted is not None:
            persisted.unpersist()
        if new_pins:
            # commit concrete-type pins only now that the segment holding
            # those types exists on disk — a failed write leaves no trace
            self.manifest.meta.setdefault("schema_concrete", {}).update(new_pins)
        written, stats, rows, schema = self._segment_written(
            full, df, stats_fin)
        pk_rel = self._segment_pk(written, name, stats, rows)
        if not assign_ids:
            s_id = stats.get(self.id_col) or {}
            if rows > 1 and s_id.get("ndv", rows) != rows:
                # the batch itself carries an id twice. The reference's
                # memtable keeps ONE row per id — every Add overwrites
                # (engine.go:833-921) — and a Spark batch has no row
                # order, so "last Add" is undefined: collapse to one row
                # per id with a deterministic content-hash tiebreak and
                # REWRITE the segment (only dup-carrying batches pay the
                # second write). Every stored segment then holds one row
                # per (id, lsn) and every serving path — plain df(),
                # lexical/minhash/semdedup/graph artifacts — agrees by
                # construction, instead of each replaying its own
                # same-LSN tie-break (r14 self-found: the semdedup
                # artifact emitted BOTH copies of a dup id and
                # duplicated its pairs; a winning-LSN equality join
                # cannot drop a tie).
                w = Window.partitionBy(self.id_col).orderBy(
                    F.xxhash64(*[F.col(c) for c in written.columns]).desc())
                deduped = (written.withColumn("_rn", F.row_number().over(w))
                           .where(F.col("_rn") == 1).drop("_rn"))
                name = f"seg-{lsn:08d}-{uuid.uuid4().hex[:8]}"
                old_full = full
                rel = os.path.join(SEG_DIR, name)
                full = os.path.join(self.path, rel)
                deduped, stats_fin = self._observe_stats(deduped)
                # the rewrite reads the first segment's files lazily
                # during this write — drop them only after it lands
                deduped.write.mode("error").parquet(full)
                fs_rmtree(old_full)
                fs_rmtree(os.path.join(self.path, pk_rel))
                written, stats, rows, schema = self._segment_written(
                    full, deduped, stats_fin)
                pk_rel = self._segment_pk(written, name, stats, rows)
                s_id = stats.get(self.id_col) or {}
            if not self._ids_provably_fresh(stats, rows):
                # explicit ids may collide with existing rows → upsert
                # semantics (latest-LSN-wins dedup on read)
                self.manifest.meta["has_upserts"] = True
            if rows > 1 and (s_id.get("ndv") != rows
                             or s_id.get("null_count", 1) != 0):
                # safety net: NULL ids survive the collapse (ndv counts
                # non-null), so subset reads keep their tie-collapse
                # window for this segment's table. Unreachable for the
                # plain dup-id case now that the rewrite collapses it.
                self.manifest.meta["has_dup_ids"] = True
            # keep the auto-id counter ahead of every explicit id, or a
            # later assign_ids=True insert would mint a colliding id
            # (the reference's nextID invariant, engine.go:866)
            s = stats.get(self.id_col) or {}
            if s.get("max") is not None:
                self.manifest.next_id = max(self.manifest.next_id, int(s["max"]) + 1)
        size = fs_du(full)
        self._pending.append(SegmentMeta(path=rel, rows=rows, lsn=lsn, bytes=size,
                                         stats=stats, pk=pk_rel, schema=schema))
        return rows, size

    def _segment_written(self, full: str, frame: DataFrame, stats_fin):
        """(written, stats, rows, schema key) for the segment `frame` was
        just written to at `full`. The reader takes the frame's own
        schema, so no parquet schema-inference job runs; stats_fin runs
        stats pass 2."""
        written = self.spark.read.schema(frame.schema).parquet(full)
        stats = stats_fin(written)
        rows = stats.pop("__rows", None)
        if rows is None:
            rows = written.count()
        return written, stats, rows, self._record_schema(written.schema)

    def _record_schema(self, schema) -> str:
        """Key of a segment's Spark schema in meta["schemas"], adding it
        on first sight: each distinct schema is stored once per table,
        and the next published manifest carries it."""
        import hashlib

        text = schema.json()
        key = hashlib.sha256(text.encode()).hexdigest()[:16]
        self.manifest.meta.setdefault("schemas", {})[key] = text
        return key

    def _recorded_schema(self, segments: list[SegmentMeta]):
        """The schema a parquet read of `segments` would infer, from the
        schemas recorded at write — or None when a segment recorded none
        (the reader then infers). Inference reads the footer of the data
        file whose path sorts first (ParquetUtils.splitFiles), so that
        segment's schema is the answer even when other segments order
        their columns differently."""
        from pyspark.sql.types import StructType

        if not segments or any(s.schema is None for s in segments):
            return None
        first = min(segments, key=lambda s: s.path + "/")
        text = self.manifest.meta.get("schemas", {}).get(first.schema)
        return StructType.fromJson(json.loads(text)) if text else None

    def _segment_pk(self, written: DataFrame, name: str, stats: dict,
                    rows: int) -> str | None:
        """Write a just-written segment's PK sidecar and record the id
        column's exact ndv in `stats` from it: the sidecar holds one row
        per distinct id (plus one for NULL ids, which ndv leaves out).
        Recorded for rows > 1 only: readers treat a 1-row segment as
        distinct (_manifest_count, _ids_provably_fresh)."""
        if not rows:
            return None
        rel, groups = self._write_pk_sidecar(written, name)
        s = stats.get(self.id_col)
        if s is not None and rows > 1:
            s["ndv"] = groups - (1 if s["null_count"] else 0)
        return rel

    def _write_pk_sidecar(self, written: DataFrame, name: str,
                          mode: str = "error") -> tuple[str, int]:
        """Persist the PK sidecar for a segment: its per-id max(_lsn),
        the reference's persisted PK index (engine.go:2226-2262
        persistPKIndex; consulted per read at search.go:1092-1105 via
        internal/pk/mvcc.go:125). Every consumer reduces the family to
        per-id max(_lsn) anyway; grouping here costs one small shuffle of
        the batch and yields, as an observed count, the number of id
        groups — the exact distinct-id count the upsert-freshness proof
        needs. Returns (sidecar path, id groups). Cost is O(batch), never
        O(corpus); subset-visibility reads then touch sidecar bytes only
        (~16 B/row) instead of re-projecting every segment file.
        mode="error" for segment writes (names carry a uuid — a collision
        is a real bug); the backfill passes "overwrite" because ITS names
        are deterministic and a crashed prior attempt leaves orphan
        sidecars no manifest references."""
        from pyspark.sql import Observation

        rel = os.path.join(PK_DIR, f"pk-{name}")
        obs = Observation()
        (written.groupBy(self.id_col).agg(F.max("_lsn").alias("_lsn"))
         .observe(obs, F.count(F.lit(1)).alias("ids"))
         .write.mode(mode).parquet(os.path.join(self.path, rel)))
        return rel, int(obs.get["ids"])

    def _ids_provably_fresh(self, stats: dict, rows: int) -> bool:
        """True iff the just-written segment's id stats PROVE no collision
        with any visible segment: no nulls, EXACT distinct count == rows
        (the ndv counted by the PK sidecar write, _segment_pk — min/max/
        count alone cannot rule out duplicates inside the batch, e.g.
        [5,5,7,8] is 4 rows spanning 4 values),
        and an id range disjoint from every committed and pending
        segment. Free: reads only stats the write pass already collected.
        Keeps has_upserts False for the common bulk-load pattern, which
        in turn keeps count() a zero-job manifest sum."""
        if rows == 0:
            return True  # a 0-row segment cannot collide with anything
        s = stats.get(self.id_col)
        if not s or s.get("min") is None or s.get("null_count", 1) != 0:
            return False
        if rows > 1 and s.get("ndv") != rows:
            return False  # duplicates inside the batch, or ndv unavailable
        lo, hi = int(s["min"]), int(s["max"])
        for seg in list(self.manifest.segments) + list(self._pending):
            o = (seg.stats or {}).get(self.id_col)
            if not o or o.get("min") is None:
                return False  # unknown range → cannot prove disjoint
            if int(o["min"]) <= hi and lo <= int(o["max"]):
                return False
        return True

    def _apply_schema(self, df: DataFrame) -> tuple[DataFrame, dict[str, str]]:
        """Enforce the declared metadata schema on an incoming batch
        (Schema.Validate, metadata/schema.go:42-58). Column types are known
        at plan time, so this is a static check + widening casts — no data
        pass. Missing declared fields are allowed (they read as NULL and
        never match filters, the reference's missing-field semantics);
        undeclared columns pass through untouched.

        Returns (df, new_pins). The caller commits new_pins to manifest
        meta only AFTER the segment parquet write succeeds — committing
        here would leave a phantom type pin behind a failed write, which
        the next successful commit would persist and later batches would
        be validated against a type no segment actually stores."""
        schema = self.manifest.meta.get("schema")
        if not schema:
            return df, {}
        from pyspark.sql import types as T

        # one parquet type per declared column across ALL segments: the
        # first batch that carries real type information pins the concrete
        # type in table meta; later batches cast to it (lossless widenings
        # only) or are rejected — without this, an all-NULL 'any'/'array'
        # first write (string / array<string>) followed by a typed insert
        # would leave segments with conflicting parquet types and make the
        # union read footer-order-dependent.
        concrete = self.manifest.meta.get("schema_concrete", {})
        new_pins: dict[str, str] = {}  # committed by the caller post-write
        for name, want in schema.items():
            if name not in df.columns:
                continue
            dt = df.schema[name].dataType
            ok, cast = _schema_check(dt, want)
            if not ok:
                raise TypeError(
                    f"field {name!r} has invalid type {dt.simpleString()}, "
                    f"expected {want}")
            if isinstance(dt, T.NullType):
                # no type information in the batch — follow the pinned
                # concrete type when one exists, else pin the writable
                # default so every later batch is validated against it
                df = df.withColumn(name, F.col(name).cast(
                    concrete.get(name) or new_pins.get(name) or cast))
            elif cast:
                df = df.withColumn(name, F.col(name).cast(cast))
            # pin/validate by simpleString names (LongType == "bigint")
            got = df.schema[name].dataType.simpleString()
            pinned = concrete.get(name)
            if pinned is None:
                new_pins[name] = got
            elif pinned != got:
                if _widens_to(got, pinned):
                    # lossless widening into the stored type (e.g. bigint
                    # → double, array<int> → array<double>)
                    df = df.withColumn(name, F.col(name).cast(pinned))
                else:
                    raise TypeError(
                        f"field {name!r} arrives as {got} but the table "
                        f"already stores it as {pinned}")
        return df, new_pins

    def _observe_stats(self, df: DataFrame):
        """Attach pass-1 stats to the segment write job (observe_segment_
        stats): the write IS the stats scan, as in the reference's
        streaming StatsCollector inside the segment writer
        (stats_collector.go:110-445). The id column's exact ndv comes
        from the PK sidecar write (_segment_pk) — the upsert-freshness
        proof requires distinctness."""
        from vecgo_spark.plans.pruning import observe_segment_stats

        dim = self.manifest.meta.get("dim")
        return observe_segment_stats(
            df, exclude=(self.vector_col, "_lsn", QCODE_COL, PQCODE_COL,
                         BINCODE_COL, BINNORM_COL),
            vector_col=self.vector_col if dim else None,
            dim=int(dim) if dim else None,
        )

    def _next_lsn(self) -> int:
        # one counter across BOTH pending lists: a delete followed by an
        # insert in the same uncommitted batch must give the segment a
        # strictly greater LSN than the tombstone, or the read filter
        # `_lsn > _tomb_lsn` hides the re-inserted rows
        return self.manifest.lsn + len(self._pending) + len(self._pending_tombs) + 1

    def _assign_ids(self, df: DataFrame) -> tuple[DataFrame, DataFrame]:
        start = self.manifest.next_id
        # materialize the partition id BEFORE any shuffle: the window below
        # repartitions, after which spark_partition_id() would return the
        # post-shuffle id and the offset lookup would miss.
        # persist: the count job and the segment write must observe the SAME
        # partitioning — nondeterministic lineage (sample/shuffle) could
        # otherwise change counts between the two jobs
        df = df.withColumn("_pid", F.spark_partition_id()).persist()
        counts = {
            r["_pid"]: r["cnt"]
            for r in df.groupBy("_pid").agg(F.count(F.lit(1)).alias("cnt")).collect()
        }
        offsets, acc = {}, 0
        for p in sorted(counts):
            offsets[p] = acc
            acc += counts[p]
        self.manifest.next_id = start + acc
        omap = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
        w = Window.partitionBy("_pid").orderBy(F.monotonically_increasing_id())
        assigned = df.withColumn(
            self.id_col,
            (F.lit(start) + omap[F.col("_pid")] + F.row_number().over(w) - F.lit(1)).cast("long"),
        ).drop("_pid")
        return assigned, df

    def delete(self, ids: Sequence[int]) -> None:
        """Tombstone ids (idempotent; BatchDelete engine.go:1186-1302).
        The id list is driver-side, so exact tombstone id stats (count /
        min / max / dense-interval flag) are free — they ride the manifest
        and let count() stay zero-job on tombstoned snapshots. The
        `(id long, _lsn long)` file is written by pyarrow: a Spark write
        of a Python list runs a Python-worker job for a few KB."""
        import pyarrow as pa

        t0 = time.perf_counter()
        self._check_writable()
        lsn = self._next_lsn()
        name = f"tomb-{lsn:08d}-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(TOMB_DIR, name)
        uniq = sorted({int(i) for i in ids})
        fs_write_parquet(os.path.join(self.path, rel), pa.table({
            self.id_col: pa.array(uniq, pa.int64()),
            "_lsn": pa.array([lsn] * len(uniq), pa.int64())}))
        self._pending_tombs.append(rel)
        if uniq:
            self._pending_tomb_stats[rel] = {
                "ids": len(uniq), "min": uniq[0], "max": uniq[-1], "lsn": lsn,
                "dense": uniq[-1] - uniq[0] + 1 == len(uniq),
            }
        self._obs("on_delete", time.perf_counter() - t0, len(uniq))

    def delete_where(self, filter: FilterSet | str) -> int:
        """Delete by predicate. The tombstone parquet is written straight
        from the filtered scan — matching ids never touch the driver, so a
        predicate hitting 1% of a 100 TB table stays an executor-side
        filter+write job."""
        t0 = time.perf_counter()
        self._check_writable()
        lsn = self._next_lsn()
        name = f"tomb-{lsn:08d}-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(TOMB_DIR, name)
        full = os.path.join(self.path, rel)
        from pyspark.sql import Observation

        obs = Observation()
        (
            self.df().where(to_condition(filter))
            .select(F.col(self.id_col).cast("long").alias(self.id_col))
            .withColumn("_lsn", F.lit(lsn).cast("long"))
            # count + min/max ride the write job; df() emits one row per
            # live id, so n here IS the distinct-id count and the dense
            # test max-min+1 == n is sound
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.min(self.id_col).alias("lo"), F.max(self.id_col).alias("hi"))
            .write.mode("error").parquet(full)
        )
        got = obs.get
        n = int(got["n"])
        if n == 0:
            fs_rmtree(full)
            return 0
        self._pending_tombs.append(rel)
        lo, hi = int(got["lo"]), int(got["hi"])
        self._pending_tomb_stats[rel] = {
            "ids": n, "min": lo, "max": hi, "lsn": lsn,
            "dense": hi - lo + 1 == n,
        }
        self._obs("on_delete", time.perf_counter() - t0, n)
        return n

    def commit(self) -> int:
        """Publish staged segments/tombstones as version N+1 (atomic)."""
        t0 = time.perf_counter()
        self._check_writable()
        if not self._pending and not self._pending_tombs:
            return self.manifest.version
        staged_rows = sum(s.rows for s in self._pending)
        m = self.manifest
        meta = dict(m.meta)
        if self._sel_ema is not None and self._sel_ema.persist:
            # opt-in FeedbackStore analog (see enable_adaptive_selectivity)
            meta["selectivity_ema"] = self._sel_ema.to_meta()
        snap = cache_stats.snapshot(self.path)
        if snap:
            # lifetime per-table cache counters ride the manifest (the
            # reference's CacheStats lives as long as its Engine; a
            # reopened table warms from this so table_cache_stats()
            # reports lifetime ratios the way Stats() reports lifetime
            # rows) — estimates-grade meta, like the EMA above
            meta["cache_stats"] = snap
        new = Manifest(
            version=m.version + 1,
            lsn=m.lsn + len(self._pending) + len(self._pending_tombs),
            next_id=m.next_id,
            created_at=time.time(),
            segments=m.segments + self._pending,
            tombstone_files=m.tombstone_files + self._pending_tombs,
            meta=meta,
            tombstone_stats={**m.tombstone_stats, **self._pending_tomb_stats},
        )
        save_manifest(self.path, new)
        self.manifest = new
        self._pending, self._pending_tombs = [], []
        self._pending_tomb_stats = {}
        self._obs("on_flush", time.perf_counter() - t0, staged_rows, new.version)
        return new.version

    # --------------------------------------------------------------- read

    def _read_parquet_cached(self, files: list[str], schema=None) -> DataFrame:
        # Module-level (r14): the cache was per-VectorTable-instance, but
        # serving entry points re-OPEN the table per query (one pinned
        # snapshot per instance — the honest serving model), so every
        # query paid the ~80 ms spark.read.parquet schema/footer
        # resolution again for the same write-once file set. Keyed by
        # (applicationId, file tuple): segment/tombstone/blob files are
        # uuid-named and never rewritten after publish, so the LAZY
        # reader frame is identical for every instance of a live
        # session. Plan METADATA only — every execution still scans the
        # parquet files. Bounded; oldest evicted. A known `schema` (the
        # one recorded at write) skips the schema-inference job a new
        # file set would otherwise launch.
        key = (self._reader_key, *files)
        df = _READER_CACHE.get(key)
        if df is None:
            reader = self.spark.read
            if schema is not None:
                reader = reader.schema(schema)
            df = reader.parquet(*files)
            if len(_READER_CACHE) >= 256:
                _READER_CACHE.pop(next(iter(_READER_CACHE)))
            _READER_CACHE[key] = df
        return df

    def _segment_df(self, segments: list[SegmentMeta]) -> DataFrame | None:
        if not segments:
            return None
        return self._read_parquet_cached(
            [os.path.join(self.path, s.path) for s in segments],
            self._recorded_schema(segments))

    def _tomb_files(self, include_pending: bool = False) -> list[str]:
        tombs = list(self.manifest.tombstone_files)
        return tombs + self._pending_tombs if include_pending else tombs

    def _tombstones(self, include_pending: bool = False) -> DataFrame | None:
        # every delete path writes (id long, _lsn long)
        tombs = self._tomb_files(include_pending)
        if not tombs:
            return None
        return self._read_parquet_cached(
            [os.path.join(self.path, t) for t in tombs],
            f"`{self.id_col}` long, _lsn long")

    def _tomb_ids(self, include_pending: bool = False) -> int | None:
        """Exact tombstoned-id count summed from the manifest stats every
        delete path records, or None when a file has no stats."""
        stats = dict(self.manifest.tombstone_stats)
        if include_pending:
            stats.update(self._pending_tomb_stats)
        total = 0
        for t in self._tomb_files(include_pending):
            st = stats.get(t)
            if st is None or "ids" not in st:
                return None
            total += int(st["ids"])
        return total

    def tomb_broadcastable(self, include_pending: bool = False) -> bool:
        """SIZE GATE for broadcasting the per-id tombstone side of a join
        (maybe_compact's merge past VIS_PREDICATE_MAX_IDS tombstoned
        ids; the kill frame adds its version rows to the same bound, see
        _visible).

        The per-id max-LSN side is bounded by the manifest's exact
        tombstone id counts — known without a Spark job. Broadcast only
        when that bound fits comfortably in an executor (<=
        TOMB_BROADCAST_MAX_IDS rows of (long, long)); a high-churn 100 TB
        table with billions of tombstoned ids degrades to a shuffle join
        instead of OOMing under a forced hint. A tombstone file with
        unknown stats makes the answer False — the join is left unhinted
        and Catalyst/AQE pick the strategy from observed sizes."""
        n = self._tomb_ids(include_pending)
        return n is not None and n <= TOMB_BROADCAST_MAX_IDS

    def df(
        self, filter: FilterSet | str | None = None,
        segments: list[SegmentMeta] | None = None,
        include_pending: bool = False,
        keep_codes: bool = False,
        keep_cluster: bool = False,
    ) -> DataFrame:
        """The live snapshot as a DataFrame: manifest file list (pruned by
        stats when a FilterSet is given; optionally restricted to an
        explicit segment subset) → the snapshot's kill set (tombstones
        and newer versions, _visible) when either exists.

        include_pending=True is the read-your-writes view: committed
        segments ∪ staged-but-uncommitted segments and tombstones — the
        reference's insert-immediately-searchable semantics
        (engine.go:833-921) for a writer session; other readers still see
        only the committed manifest."""
        snapshot = self.manifest.segments if segments is None else segments
        if include_pending and segments is None:
            snapshot = snapshot + self._pending
        segs = snapshot
        if isinstance(filter, FilterSet):
            segs = prune_segments(segs, filter)
        base = self._segment_df(segs)
        if base is None:
            return self.spark.createDataFrame([], self._empty_schema())
        upserts = self.manifest.meta.get("has_upserts")
        if upserts or self._tomb_files(include_pending):
            # predicates on the ID COLUMN restrict the visibility
            # universe soundly (any id they exclude is excluded from the
            # final result by the same predicate below) — past the
            # in-plan kill-set bound they push into the kill frame's
            # scans, so a point read on a 100 TB churned table
            # row-group-prunes instead of aggregating every id
            id_cond = None
            if isinstance(filter, FilterSet):
                id_filters = [f for f in filter.filters
                              if f.key == self.id_col]
                if id_filters:
                    id_cond = to_condition(FilterSet(id_filters))
            base = self._visible(base, include_pending, extra=snapshot,
                                 id_cond=id_cond)
            if upserts and self.manifest.meta.get("has_dup_ids", True):
                # same-LSN duplicates (NULL ids survive the insert-time
                # collapse) tie on the kill set — collapse to one row.
                # Skipped when every insert proved unique batch ids
                # ((id, lsn) is then globally unique, so the kill join
                # already leaves one row per id); pre-flag manifests
                # default to True (conservative).
                w = Window.partitionBy(self.id_col).orderBy(
                    F.col("_lsn").desc())
                base = (base.withColumn("_rn", F.row_number().over(w))
                        .where(F.col("_rn") == 1).drop("_rn"))
        cond = to_condition(filter)
        if cond is not None:
            base = base.where(cond)
        return self._public(base, keep_codes, keep_cluster)

    @staticmethod
    def _public(df: DataFrame, keep_codes: bool = False,
                keep_cluster: bool = False) -> DataFrame:
        """Drop `_lsn` and the internal layout columns; the quantized /
        batch search paths ask for the latter explicitly."""
        df = df.drop("_lsn")
        if not keep_cluster:
            df = df.drop(CLUSTER_COL)
        return df if keep_codes else df.drop(
            QCODE_COL, PQCODE_COL, BINCODE_COL, BINNORM_COL)

    def _visible(self, rows: DataFrame, include_pending: bool = False,
                 id_col: str | None = None, extra=(),
                 id_cond=None) -> DataFrame:
        """`rows` (one per stored row version, carrying the id as
        `id_col` and its `_lsn`) restricted to the versions live in this
        snapshot: a row is kept iff its id has no kill or `_lsn >` its
        kill LSN (_vis_vmax). Every serving path — df(), the lexical,
        minhash, simhash and semdedup artifacts — applies visibility
        here, the reference's one loaded PK index consulted per read
        (internal/pk/mvcc.go:125, search.go:1092-1105).

        Within the bounds the kill set is ONE parsed predicate in the
        plan (_kill_predicate): no join, shuffle, persist or broadcast,
        so a read after a commit runs its own job only. Past them it is
        ONE left join on the kill frame. The kill set covers the FULL
        snapshot (committed segments, staged ones with include_pending,
        plus `extra` explicit segments outside the manifest), never a
        subset — a subset-local resolve would elect a stale version
        whose winner lives in a dropped segment. The frame's broadcast is
        size-gated: it has at most one row per version row (upserts)
        plus one per tombstoned id, both known from the manifest without
        a job; past TOMB_BROADCAST_MAX_IDS the join stays unhinted and
        degrades to a shuffle join at scale."""
        full = list(self.manifest.segments)
        if include_pending:
            full += self._pending
        known = {s.path for s in full}
        full += [s for s in extra if s.path not in known]
        vis = self._vis_vmax(full, include_pending, id_cond)
        id_col = id_col or self.id_col
        if not isinstance(vis, DataFrame):  # a kill set, maybe empty
            return rows.where(_kill_predicate(vis, id_col)) if vis else rows
        if id_col != self.id_col:
            vis = vis.withColumnRenamed(self.id_col, id_col)
        tomb_ids = self._tomb_ids(include_pending)
        versions = (sum(s.rows for s in full)
                    if self.manifest.meta.get("has_upserts") else 0)
        if tomb_ids is not None and versions + tomb_ids <= TOMB_BROADCAST_MAX_IDS:
            vis = F.broadcast(vis)
        return (rows.join(vis, id_col, "left")
                .where(F.col("_kill_lsn").isNull()
                       | (F.col("_lsn") > F.col("_kill_lsn")))
                .select(*rows.columns))

    def _vis_vmax(self, full: list[SegmentMeta], include_pending: bool,
                  id_cond=None) -> tuple | DataFrame | None:
        """The snapshot's kill set — the loaded PK index: per id, kill
        LSN = max(max tombstone LSN, max version LSN − 1), so a row
        version is live iff `_lsn > kill LSN`. A tombstone at LSN T
        kills versions with LSN <= T (a re-insert after it is visible
        again — MVCC delete semantics, internal/pk/mvcc.go:258,
        tombstone.go:47-77), and a newer version kills every older one.
        The `− 1` form stays exact when a partial merge left two
        versions of one id in one segment. Without upserts the kill set
        is the tombstone max alone; version rows come from the persisted
        PK sidecars (pre-sidecar segments fall back to the narrow
        (id, _lsn) projection of their own files), so it never touches
        non-key segment bytes. None when the snapshot has neither.

        When the manifest bounds the version rows plus tombstoned ids by
        TOMB_BROADCAST_MAX_IDS, the set is read on the driver with
        pyarrow — no Spark job (_kill_set) — and returned as
        ((kill LSN, ids), …) groups for _kill_predicate. Past that, or
        when its effective ids exceed VIS_PREDICATE_MAX_IDS, it is the
        (id, _kill_lsn) frame aggregated by Spark from the same files.

        Either form is IMMUTABLE per (manifest version, pending state,
        segment set, tombstone set), so it is built once and reused by
        every read of the serving session (the reference loads its PK
        index once, mvcc.go:125); a frame is persisted, so repeat reads
        pay an InMemoryTableScan. Registry is module-level (serving code
        reopens tables per query), keyed by table path + snapshot
        identity, capped with oldest-first release;
        release_vis_caches() frees it explicitly."""
        upserts = self.manifest.meta.get("has_upserts")
        covered = [s for s in full if s.pk and s.rows] if upserts else []
        uncovered = [s for s in full if not s.pk and s.rows] if upserts else []
        tombs = self._tomb_files(include_pending)
        if not covered and not uncovered and not tombs:
            return None
        key = (self.path, self.manifest.version, include_pending,
               len(self._pending), tuple(sorted(s.path for s in full)),
               tuple(tombs))
        hit = _VIS_CACHE.get(key)
        # An id-restricted read (point-read shape) counts and consults
        # the registry only when the snapshot is within the broadcast
        # gate; past it the row-group-pruned id-restricted frame below
        # stays the scale path — a point read must never shuffle a
        # corpus-sized frame — and counts neither hit nor miss
        # (symmetric — cache_stats.py docstring).
        if id_cond is None or sum(s.rows for s in full) <= TOMB_BROADCAST_MAX_IDS:
            cache_stats.record("pk_index", hit is not None, scope=self.path)
            if hit is not None:
                # LRU, not FIFO: refresh recency so >cap hot snapshots
                # don't thrash every query
                _VIS_CACHE[key] = _VIS_CACHE.pop(key)
                return hit[0]
        pk_files = sorted({os.path.join(self.path, s.pk) for s in covered})
        tomb_ids = self._tomb_ids(include_pending)
        versions = sum(s.rows for s in full) if upserts else 0
        if tomb_ids is not None and versions + tomb_ids <= TOMB_BROADCAST_MAX_IDS:
            groups, scanned = self._kill_set(covered, uncovered, tombs)
            if groups is not None:
                _memo_vis(key, (groups, pk_files, scanned))
                return groups
        legs = []
        if covered:
            # a sidecar's id column has its segment's id type
            id_types = {None if (seg := self._recorded_schema([s])) is None
                        else seg[self.id_col].dataType.simpleString()
                        for s in covered}
            known = len(id_types) == 1 and None not in id_types
            legs.append(self._read_parquet_cached(
                pk_files, f"`{self.id_col}` {id_types.pop()}, _lsn long"
                if known else None))
        if uncovered:
            legs.append(self._segment_df(uncovered))
        legs = [leg.select(self.id_col, (F.col("_lsn") - 1).alias("_lsn"))
                for leg in legs]
        tomb = self._tombstones(include_pending)
        if tomb is not None:
            legs.append(tomb)
        vis = legs[0]
        for leg in legs[1:]:
            vis = vis.unionByName(leg)
        if id_cond is not None:
            # id-restricted one-off past the kill-set bound: the
            # predicate pushes through the union into each scan's
            # PushedFilters (row-group pruning); building the
            # O(distinct ids) frame for a one-off would be a loss
            return (vis.where(id_cond)
                    .groupBy(self.id_col).agg(F.max("_lsn").alias("_kill_lsn")))
        frame = (vis.groupBy(self.id_col).agg(F.max("_lsn").alias("_kill_lsn"))
                 .persist())
        _memo_vis(key, (frame, pk_files, [s.path for s in uncovered]))
        return frame

    def _kill_set(self, covered: list[SegmentMeta],
                  uncovered: list[SegmentMeta], tombs: list[str]):
        """(groups, segment paths read) for the snapshot's EFFECTIVE kill
        set read with pyarrow — the ids whose kill hides a stored row,
        as _kill_groups — or (None, …) past VIS_PREDICATE_MAX_IDS. An id
        whose kill hides nothing would only lengthen the IN-list.
        Versions come from the PK sidecars (one row per id, its max
        _lsn). A segment without one contributes its own (id, _lsn)
        columns; so does one whose recorded id ndv is below its row
        count, since it holds two versions of one id and the sidecar's
        max would hide the older. Without upserts no row is read and
        every tombstoned id is kept."""
        import numpy as np

        def read(paths):
            parts = [_read_id_lsn(os.path.join(self.path, p), self.id_col)
                     for p in paths] or [(np.empty(0, np.int64),) * 2]
            return tuple(np.concatenate(c) for c in zip(*parts))

        def multi(s):
            st = (s.stats or {}).get(self.id_col) or {}
            return s.rows > 1 and st.get("ndv") != s.rows

        scanned = [s.path for s in uncovered + [s for s in covered if multi(s)]]
        row_ids, row_lsns = read(
            [s.pk for s in covered if not multi(s)] + scanned)
        tomb_ids, tomb_lsns = read(tombs)
        ids = np.concatenate([row_ids, tomb_ids])
        kills = np.concatenate([row_lsns - 1, tomb_lsns])
        if not len(ids):
            return (), scanned
        order = np.lexsort((kills, ids))
        ids, kills = ids[order], kills[order]
        last = np.append(ids[1:] != ids[:-1], True)
        ids, kills = ids[last], kills[last]  # per-id max kill, by id
        if covered or uncovered:
            hides = row_lsns <= kills[np.searchsorted(ids, row_ids)]
            eff = np.unique(row_ids[hides])
            ids, kills = eff, kills[np.searchsorted(ids, eff)]
        if len(ids) > VIS_PREDICATE_MAX_IDS:
            return None, scanned
        return _kill_groups(ids, kills), scanned

    def _empty_schema(self):
        from pyspark.sql.types import LongType, StructField, StructType
        return StructType([StructField(self.id_col, LongType())])

    def scan(self, filter: FilterSet | str | None = None) -> DataFrame:
        return self.df(filter)

    def get(self, record_id: int) -> DataFrame:
        """The live version of one id — a point lookup. With tombstones
        or upserts in the snapshot, the id-filtered segment scan and the
        id-filtered tombstone scan are unioned and the row with the
        highest LSN wins, a tombstone first on a tie (a version survives
        only with `_lsn > tombstone LSN`); a winning tombstone means the
        id is deleted. One top-1 job: no kill frame, broadcast or window."""
        t0 = time.perf_counter()
        cond = F.col(self.id_col) == F.lit(int(record_id))
        base = self._segment_df(self.manifest.segments)
        tomb = self._tombstones()
        if base is None or (tomb is None
                            and not self.manifest.meta.get("has_upserts")):
            out = self.df().where(cond)
        else:
            rows = base.where(cond).withColumn("_dead", F.lit(False))
            if tomb is not None:
                rows = rows.unionByName(
                    tomb.where(cond).withColumn("_dead", F.lit(True)),
                    allowMissingColumns=True)
            out = self._public(
                rows.orderBy(F.col("_lsn").desc(), F.col("_dead").desc())
                .limit(1).where(~F.col("_dead")).drop("_dead"))
        self._obs("on_get", time.perf_counter() - t0)
        return out

    def count(self) -> int:
        """Live-row count. When the snapshot carries no tombstones and no
        upserts, segment stats are exact (every write path counts rows into
        SegmentMeta.rows) → answer from the manifest with zero Spark jobs,
        the reference's O(#segments) Stats stance (engine.go:2124-2171).
        Tombstoned snapshots still answer from the manifest when the id
        sets are provably dense intervals (see _manifest_count); otherwise
        visibility is per-row → scan."""
        m = self.manifest
        if not m.meta.get("has_upserts", False):
            if not m.tombstone_files:
                return sum(s.rows for s in m.segments)
            fast = self._manifest_count(m)
            if fast is not None:
                return fast
        return self.df().count()

    def _manifest_count(self, m) -> int | None:
        """Zero-job live-row count for tombstoned snapshots, or None when
        the manifest can't prove it. Sound because integer interval stats
        pin the exact id SET: a segment with max-min+1 == ndv == rows holds
        precisely the ids [min, max] (and with has_upserts False, segment
        id sets are pairwise disjoint); a dense tombstone likewise holds
        exactly [min, max]. A row is hidden iff some tombstone holds its id
        with tombstone lsn >= the row's lsn (the read filter
        `_lsn > _tomb_lsn`); per-row lsn <= SegmentMeta.lsn always, and a
        tombstone that predates a merged segment was either applied at the
        merge (leaving a hole → density fails → fall back) or misses it, so
        comparing against SegmentMeta.lsn never over-hides. Requiring
        pairwise-disjoint dense tombstones rules out double-counting an id
        hidden by two tombstones."""
        tstats = [m.tombstone_stats.get(t) for t in m.tombstone_files]
        # mixed=True marks a compaction-folded file whose rows carry
        # heterogeneous LSNs — the per-file lsn comparison below would
        # over-hide re-inserts, so fall back to the scan
        if any(s is None or not s.get("dense") or s.get("mixed") for s in tstats):
            return None
        tstats = sorted(tstats, key=lambda s: s["min"])
        for a, b in zip(tstats, tstats[1:]):
            if b["min"] <= a["max"]:
                return None  # overlapping tombstones → per-id max-lsn wins
        total = 0
        for seg in m.segments:
            if seg.rows == 0:
                continue
            s = (seg.stats or {}).get(self.id_col)
            # the sidecar ndv is only recorded for rows > 1; a 1-row
            # segment is trivially dense when min == max
            if (not s or s.get("min") is None or s.get("null_count", 1) != 0
                    or (seg.rows > 1 and s.get("ndv") != seg.rows)
                    or int(s["max"]) - int(s["min"]) + 1 != seg.rows):
                return None  # id set not a provable dense interval
            lo, hi = int(s["min"]), int(s["max"])
            live = seg.rows
            for t in tstats:
                if t["lsn"] >= seg.lsn:
                    live -= max(0, min(hi, t["max"]) - max(lo, t["min"]) + 1)
            total += live
        return total

    # ------------------------------------------------- graph index fronts

    @staticmethod
    def _graph_mod(kind: str):
        if kind == "hnsw":
            from vecgo_spark.operators import hnsw as mod
        elif kind == "vamana":
            from vecgo_spark.operators import vamana as mod
        else:
            raise ValueError(f"unknown graph index kind {kind!r}")
        return mod

    def _default_graph_kind(self) -> str:
        """The family the manifest carries (vamana preferred when both)."""
        kind = ("vamana" if "vamana" in self.manifest.meta
                else "hnsw" if "hnsw" in self.manifest.meta else None)
        if kind is None:
            raise KeyError("table has no graph index; "
                           "run build_graph_index first")
        return kind

    def build_graph_index(self, kind: str = "hnsw", **kw) -> int:
        """Persist per-segment graph indexes into the table layout — the
        engine-level front over operators/hnsw.py / operators/vamana.py
        (the reference picks its index per segment build options;
        SURVEY §2.9). kind: "hnsw" (layered, in-memory-style) or "vamana"
        (DiskANN-style; pass pq=PQCodebooks for the compressed layout).
        Returns the new manifest version."""
        return self._graph_mod(kind).build_at_rest(self, **kw)

    def refresh_graph_index(self, kind: str | None = None, **kw) -> int:
        """Incremental graph-index maintenance (the Spark mapping of
        FreshVamana's insert path): build blobs ONLY for segments
        committed since the last build/refresh, reusing the stored build
        params — existing blobs are never rewritten, and after the
        refresh the exact-scan delta leg disappears for those segments.
        No-op when everything is indexed. kind defaults like
        graph_search; vamana PQ layouts need pq= (the same codebooks)."""
        if kind is None:
            kind = self._default_graph_kind()
        t0 = time.perf_counter()
        v = self._graph_mod(kind).refresh_at_rest(self, **kw)
        self._obs("on_build", time.perf_counter() - t0, f"{kind}-refresh")
        return v

    def build_minhash_index(self, text_col: str = "text", **kw) -> int:
        """Persist per-segment MinHash signatures as a table artifact
        (operators/minhash_at_rest.py) so dedup passes re-read fixed-width
        signature columns instead of re-shingling the text column."""
        from vecgo_spark.operators import minhash_at_rest as mar

        t0 = time.perf_counter()
        v = mar.build_minhash_index(self, text_col=text_col, **kw)
        self._obs("on_build", time.perf_counter() - t0, "minhash")
        return v

    def build_semdedup_index(self, model, threshold: float = 0.95,
                             max_cluster: int | None = None) -> int:
        """Persist the SemDeDup assignment rows + exact-verified pair
        list as a table artifact (operators/semdedup_at_rest.py) so the
        semantic-dedup queries serve from stored rows instead of
        re-running the per-cluster gemm per call."""
        from vecgo_spark.operators import semdedup_at_rest as sdr

        t0 = time.perf_counter()
        v = sdr.build_semdedup_index(self, model, threshold=threshold,
                                     max_cluster=max_cluster)
        self._obs("on_build", time.perf_counter() - t0, "semdedup")
        return v

    def refresh_semdedup_index(self, **kw) -> int:
        """Index segments committed since the last semdedup build/refresh."""
        from vecgo_spark.operators import semdedup_at_rest as sdr

        t0 = time.perf_counter()
        v = sdr.refresh_semdedup_index(self, **kw)
        self._obs("on_build", time.perf_counter() - t0, "semdedup-refresh")
        return v

    def semantic_dedup_pairs(self, include_pending: bool = False) -> DataFrame:
        """Stored-artifact SemDeDup pair list for the live snapshot
        (include_pending=True: the writer's staged-inclusive view)."""
        from vecgo_spark.operators import semdedup_at_rest as sdr

        return sdr.semdedup_pairs_at_rest(self,
                                          include_pending=include_pending)

    def semantic_dedup(self, include_pending: bool = False) -> DataFrame:
        """Stored-artifact SemDeDup keep/drop labeling for the live
        snapshot (include_pending=True: the writer's staged-inclusive
        view)."""
        from vecgo_spark.operators import semdedup_at_rest as sdr

        return sdr.semantic_dedup_at_rest(self,
                                          include_pending=include_pending)

    def build_simhash_index(self, text_col: str = "text") -> int:
        """Persist per-segment SimHash signatures as a table artifact
        (operators/simhash_at_rest.py) so banded near-dup passes read one
        long per doc instead of re-hashing the text column."""
        from vecgo_spark.operators import simhash_at_rest as sar

        t0 = time.perf_counter()
        v = sar.build_simhash_index(self, text_col=text_col)
        self._obs("on_build", time.perf_counter() - t0, "simhash")
        return v

    def refresh_simhash_index(self, **kw) -> int:
        """Index segments committed since the last simhash build/refresh."""
        from vecgo_spark.operators import simhash_at_rest as sar

        t0 = time.perf_counter()
        v = sar.refresh_simhash_index(self, **kw)
        self._obs("on_build", time.perf_counter() - t0, "simhash-refresh")
        return v

    @staticmethod
    def _backfill_sidecar_name(raw_seg_path: str) -> str:
        """INJECTIVE deterministic sidecar name for a backfilled segment
        (r11 ADVICE): sanitizing alone can collide ('seg/a' and 'seg~a'
        both sanitize to 'seg~a'), and with mode('overwrite') the second
        write would silently replace the first — two segments would then
        share one sidecar, corrupting the winning-LSN visibility frame.
        A short hash of the RAW path disambiguates; still deterministic,
        so a crashed-run retry overwrites its own orphan."""
        import hashlib
        import re

        raw = raw_seg_path.strip("/")
        return (re.sub(r"[^A-Za-z0-9_.-]", "~", raw)
                + "-" + hashlib.sha256(raw.encode()).hexdigest()[:8])

    def build_pk_index(self) -> int:
        """Backfill PK sidecars ((id, _lsn) projections) for segments
        written before the sidecar family existed — the adoption path for
        old tables (new writes carry their sidecar automatically; the
        reference's persistPKIndex, engine.go:2226-2262). One narrow
        column-pruned job per uncovered segment, ONCE — after which every
        churned subset read stops paying the corpus-wide projection.
        Publishes a metadata-only manifest version when a committed
        segment gained a sidecar (staged segments just carry theirs into
        the next commit). Returns the current manifest version."""
        self._check_writable()
        def backfill(seg) -> bool:
            if seg.pk or not seg.rows:
                return False
            src = self.spark.read.parquet(os.path.join(self.path, seg.path))
            # overwrite: deterministic names + publish-after-all means a
            # crashed prior run leaves unreferenced orphans here — the
            # retry must replace them, not wedge on mode("error")
            seg.pk, _ = self._write_pk_sidecar(
                src, self._backfill_sidecar_name(seg.path), mode="overwrite")
            return True

        committed_changed = any([backfill(s) for s in self.manifest.segments])
        for s in self._pending:
            backfill(s)
        if not committed_changed:
            return self.manifest.version
        m = self.manifest
        new = Manifest(
            version=m.version + 1, lsn=m.lsn, next_id=m.next_id,
            created_at=time.time(), segments=m.segments,
            tombstone_files=m.tombstone_files, meta=dict(m.meta),
            tombstone_stats=dict(m.tombstone_stats),
        )
        save_manifest(self.path, new)
        self.manifest = new
        return new.version

    def build_lexical_index(self, text_col: str = "text") -> int:
        """Persist the BM25 postings/counters as a table artifact
        (operators/lexical_at_rest.py) — the reference's persistent
        lexical.Index (bm25.go Add maintains the index on every write);
        bm25_search_at_rest then reads |query terms| postings instead of
        re-tokenizing the corpus per query."""
        from vecgo_spark.operators import lexical_at_rest as lex

        t0 = time.perf_counter()
        v = lex.build_lexical_index(self, text_col=text_col)
        self._obs("on_build", time.perf_counter() - t0, "lexical")
        return v

    def refresh_lexical_index(self, **kw) -> int:
        """Index segments committed since the last lexical build/refresh."""
        from vecgo_spark.operators import lexical_at_rest as lex

        t0 = time.perf_counter()
        v = lex.refresh_lexical_index(self, **kw)
        self._obs("on_build", time.perf_counter() - t0, "lexical-refresh")
        return v

    def _lexical_serves(self, text_col: str) -> bool:
        """True when the stored lexical index covers `text_col` — a
        request against a DIFFERENT column must not be served from the
        index (it would silently score the wrong column); such requests
        fall back to the recompute path instead."""
        info = self.manifest.meta.get(FAMILY_LEXICAL)
        return info is not None and info.get("text_col", "text") == text_col

    def bm25_search(self, query_text: str, k: int = 10,
                    text_col: str = "text",
                    include_pending: bool = False) -> DataFrame:
        """Top-k BM25 over the live snapshot — served from the stored
        lexical index when it covers `text_col`, else computed from
        text (a text_col the index does not cover never silently serves
        the indexed column). include_pending=True is the writer's
        read-your-writes view: staged rows are searchable immediately,
        the reference's insert path (engine.go:833-921 wires every
        insert through lexicalIndex.Add before any commit)."""
        from vecgo_spark.operators import bm25 as bm25mod
        from vecgo_spark.operators import lexical_at_rest as lex

        if self._lexical_serves(text_col):
            return lex.bm25_search_at_rest(self, query_text, k=k,
                                           include_pending=include_pending)
        return bm25mod.bm25_search(self.df(include_pending=include_pending),
                                   query_text, k=k,
                                   id_col=self.id_col, text_col=text_col)

    def hybrid_search(self, query_vector: Sequence[float], query_text: str,
                      k: int = 10, filter=None, text_col: str = "text",
                      nprobe: int | None = None,
                      include_pending: bool = False) -> DataFrame:
        """DB.HybridSearch (engine.go:1538-1634): vector top-k + BM25 +
        RRF over this table. The lexical leg serves from the stored
        index when one exists (the persistent lexical.Index path); the
        metadata filter applies to the vector leg only (engine.go:1555).
        With `nprobe` (requires the at-rest IVF layout + a covering
        lexical index) the vector leg is the probe-pruned
        search(nprobe=) — the reference's indexed serving economics,
        engine.go:1549: SearchIter never full-scans when an index exists.
        include_pending=True fuses BOTH legs over the writer's
        staged-inclusive snapshot — the reference's one-snapshot hybrid
        (both legs see the memtable, engine.go:833-921)."""
        from vecgo_spark.operators import hybrid as hybridmod

        if self._lexical_serves(text_col):
            return hybridmod.hybrid_search_at_rest(
                self, query_vector, query_text, k=k, filter=filter,
                nprobe=nprobe, include_pending=include_pending)
        if nprobe is not None:
            raise ValueError(
                "nprobe requires a lexical index covering text_col plus "
                "the IVF layout; build/compact first")
        return hybridmod.hybrid_search(
            self.df(include_pending=include_pending), query_vector,
            query_text, k=k, metric=self.metric,
            filter=filter, id_col=self.id_col, vector_col=self.vector_col,
            text_col=text_col)

    def refresh_minhash_index(self, **kw) -> int:
        """Index segments committed since the last build/refresh (stored
        dirs immutable; folds at the max_dirs cap). No-op when current."""
        from vecgo_spark.operators import minhash_at_rest as mar

        t0 = time.perf_counter()
        v = mar.refresh_minhash_index(self, **kw)
        self._obs("on_build", time.perf_counter() - t0, "minhash-refresh")
        return v

    def minhash_signatures(self) -> DataFrame:
        """(id, m0..m{H-1}) for the live snapshot, served from the stored
        artifact — bit-identical to recomputing from text."""
        from vecgo_spark.operators import minhash_at_rest as mar

        return mar.stored_minhash_signatures(self)

    def enable_adaptive_selectivity(self, alpha: float = 0.3,
                                    persist: bool = False):
        """Turn on the table-owned observed-selectivity EMA (the
        reference keeps adaptive selectivity inside its manifest stats,
        stats.go:205-224): filtered graph searches consult and feed it
        automatically. Session-lifetime state by default — estimates,
        not data (the reference likewise doesn't persist RuntimeStats,
        recomputing it from a FeedbackStore on load, stats.go:205-208).
        persist=True is the FeedbackStore analog: commit() snapshots the
        EMA/accuracy/hot-field state into manifest meta and a later
        enable_adaptive_selectivity(persist=True) on a fresh open warms
        from it, so a serving fleet starts with observed estimates.
        Returns the pruning.AdaptiveSelectivity for inspection."""
        if self._sel_ema is None:
            from vecgo_spark.plans.pruning import AdaptiveSelectivity

            self._sel_ema = AdaptiveSelectivity(alpha=alpha, persist=persist)
            if persist and "selectivity_ema" in self.manifest.meta:
                self._sel_ema.load_meta(self.manifest.meta["selectivity_ema"])
        elif persist and not self._sel_ema.persist:
            # upgrade in place (r11 review: a persist=True call on an
            # already-enabled table was silently ignored — no snapshot
            # at commit, no warm-start, no error); live observations win
            # over the stored snapshot, so load first
            if "selectivity_ema" in self.manifest.meta:
                loaded = type(self._sel_ema)(alpha=self._sel_ema.alpha)
                loaded.load_meta(self.manifest.meta["selectivity_ema"])
                loaded._ema.update(self._sel_ema._ema)
                loaded._acc.update(self._sel_ema._acc)
                for f, n in self._sel_ema._fields.items():
                    loaded._fields[f] = loaded._fields.get(f, 0) + n
                loaded._pending = self._sel_ema._pending
                self._sel_ema = loaded
            self._sel_ema.persist = True
        return self._sel_ema

    def graph_search(self, query: Sequence[float], k: int = 10,
                     kind: str | None = None, filter=None, **kw) -> DataFrame:
        """Approximate top-k from a persisted graph index (+ exact delta
        leg + live-snapshot rerank; filtered search is selectivity-driven
        — operators/graph_at_rest.py, consulting the table-owned EMA
        when enable_adaptive_selectivity() is on). kind defaults to
        whichever index the manifest carries (vamana preferred when both
        exist)."""
        if kind is None:
            kind = self._default_graph_kind()
        kw.setdefault("ema", self._sel_ema)
        return self._graph_mod(kind).search_at_rest(self, query, k=k,
                                                    filter=filter, **kw)

    def segment_priorities(self, query: Sequence[float]):
        """Segments nearest-first by the centroid/radius distance LOWER
        bound (SegmentPriority, stats.go:643-677) — the probe /
        early-termination order for kNN over many segments."""
        return segment_priority(self.manifest.segments, list(query), self.vector_col)

    def search(
        self, query: Sequence[float], k: int = 10, filter=None,
        nprobe: int | None = None, segment_budget: int | None = None,
        include_pending: bool = False, **kw,
    ) -> DataFrame:
        """Exact scan top-k, or — when the table carries a materialized IVF
        index and nprobe is given — a probe-pruned ANN search: the nprobe
        nearest partitions are selected driver-side (tiny centroid matrix),
        the manifest prunes every other cluster SEGMENT before spark.read
        sees a file, and the scan touches only probed files. This is the
        point of the at-rest index: probe pruning == file pruning
        (compaction.go:102-152 builds the same partitions per segment)."""
        if nprobe is not None:
            if "ivf" not in self.manifest.meta:
                raise ValueError("nprobe given but table has no IVF index; "
                                 "run compact(cluster_by=...) first")
            from vecgo_spark.operators import ivf as ivfmod

            model = self._load_ivf()
            probes = ivfmod.probe_clusters(model, list(query), nprobe)
            base = self.df(FilterSet([Filter(CLUSTER_COL, "in", probes)]),
                           include_pending=include_pending)
        elif segment_budget is not None:
            # approximate search over the `segment_budget` most promising
            # segments in centroid/radius priority order — the indexless
            # analog of nprobe (stats.go:643-677 early termination)
            best = [s for s, _ in self.segment_priorities(query)[:max(1, segment_budget)]]
            base = self.df(segments=best)
        else:
            base = self.df(include_pending=include_pending)
        return knn.search(base, query, k=k, metric=self.metric, filter=filter,
                          id_col=self.id_col, vector_col=self.vector_col, **kw)

    def search_early_terminate(
        self, query: Sequence[float], k: int = 10, nprobe: int = 1,
        filter=None, include_pending: bool = False, **kw,
    ) -> DataFrame:
        """Bounded-probe ANN with SegmentPriority early termination
        (stats.go:643-677, the reference's probe order + stop rule):
        probed cluster segments are visited nearest-first; the nearest
        segment's exact top-k establishes the running k-th distance D_k,
        and every remaining probed segment whose centroid/radius LOWER
        bound exceeds D_k is skipped — provably no row there can enter
        the top-k, so the result is BIT-IDENTICAL to search(nprobe=...)
        while opening fewer files. Falls back to the plain probe set
        when the table has upserts (a stale same-id version inside the
        first segment could understate D_k), when the metric isn't l2
        (the triangle-inequality bound needs a metric space), or when
        fewer than k rows surface in the nearest probe.

        include_pending=True with staged state also falls back to
        search(nprobe=, include_pending=True): staged segments live
        outside the manifest's stats universe, so the centroid/radius
        lower bounds cannot certify a skip over them — the same
        conservatism as the upsert fallback, and still bit-identical to
        the plain probe set over the pending-inclusive view."""
        if include_pending and (self._pending or self._pending_tombs):
            return self.search(query, k=k, filter=filter, nprobe=nprobe,
                               include_pending=True, **kw)
        (probes, segs), skipped = self._early_terminate_segments(
            list(query), k, nprobe, filter)
        fs = FilterSet([Filter(CLUSTER_COL, "in", probes)])
        base = self.df(fs, segments=segs)
        self._obs("on_search", 0.0, "ivf-early-terminate", k, skipped)
        return knn.search(base, query, k=k, metric=self.metric, filter=filter,
                          id_col=self.id_col, vector_col=self.vector_col, **kw)

    def _early_terminate_segments(self, query, k, nprobe, filter=None):
        """((probes, kept_segments), n_skipped) for search_early_terminate.
        Soundness of the skip: for every row v in segment S,
        ||q − v|| ≥ max(0, ||q − centroid_S|| − radius_S) = bound_S
        (triangle inequality, computed from manifest stats with no I/O);
        if bound_S² > D_k then v's squared-L2 score strictly exceeds the
        current k-th — it can neither displace nor tie into the top-k,
        so dropping S leaves the global (score, id) order unchanged."""
        from vecgo_spark.operators import ivf as ivfmod

        if "ivf" not in self.manifest.meta:
            raise ValueError("early-terminate search needs the IVF layout; "
                             "run compact(cluster_by=...) first")
        model = self._load_ivf()
        probes = ivfmod.probe_clusters(model, query, nprobe)
        fs = FilterSet([Filter(CLUSTER_COL, "in", probes)])
        cand = prune_segments(self.manifest.segments, fs)
        ordered = segment_priority(cand, query, self.vector_col)
        all_segs = [s for s, _ in ordered]
        if (len(ordered) <= 1 or self.metric != "l2"
                or self.manifest.meta.get("has_upserts")):
            return (probes, all_segs), 0
        first = ordered[0][0]
        head = knn.search(
            self.df(fs, segments=[first]), query, k=k, metric="l2",
            filter=filter, id_col=self.id_col, vector_col=self.vector_col,
        ).select("score").collect()
        if len(head) < k:
            return (probes, all_segs), 0
        dk = max(r["score"] for r in head)  # squared L2
        # 1-ulp slack: the driver-side bound and the executor-side fold
        # round differently; never skip a borderline segment
        slack = dk * 1e-9 + 1e-12
        kept = [first] + [s for s, b in ordered[1:] if b * b <= dk + slack]
        return (probes, kept), len(all_segs) - len(kept)

    def batch_search(
        self, queries: DataFrame, k: int = 10, nprobe: int = 1,
        qid_col: str = "qid", qvector_col: str = "qvector",
    ) -> DataFrame:
        """Many-query ANN against the AT-REST layout: the stored _cluster
        column IS the assignment (written at compaction / on the insert
        path), so the batch probe equi-join runs with no re-assignment
        pass over the corpus — probe explode on the broadcast query side,
        cluster_id equi-join, per-query top-k (the distributed BatchSearch
        shape, engine.go:1305-1376, over compaction.go's partitions)."""
        from vecgo_spark.operators import ivf as ivfmod

        if "ivf" not in self.manifest.meta:
            raise ValueError("batch_search needs the materialized IVF layout; "
                             "run compact(cluster_by=...) first")
        base = self.df(keep_cluster=True)
        return ivfmod.batch_search(
            base, self._load_ivf(), queries, k=k, nprobe=nprobe,
            id_col=self.id_col, vector_col=self.vector_col,
            cluster_col=CLUSTER_COL, qid_col=qid_col, qvector_col=qvector_col,
        )

    def _load_ivf(self):
        """IVFModel from the manifest's index entry (cached per version)."""
        import numpy as np

        from vecgo_spark.operators import ivf as ivfmod

        info = self.manifest.meta["ivf"]
        cache = getattr(self, "_ivf_cache", None)
        if cache is not None and cache[0] == info["path"]:
            return cache[1]
        d = json.loads(fs_read_text(os.path.join(self.path, info["path"])))
        model = ivfmod.IVFModel(
            centroids=np.array(d["centroids"], dtype=np.float64), metric=d["metric"]
        )
        self._ivf_cache = (info["path"], model)
        return model

    def search_with_stats(
        self, query: Sequence[float], k: int = 10, filter=None, **kw
    ):
        """search() plus a filled QueryStats (WithStats + Explain surface,
        model/types.go:134-249): manifest-pruning counts from the planner,
        physical plan from Spark. Returns (DataFrame, QueryStats)."""
        from vecgo_spark.explain import QueryStats, spark_plan, timed

        segs = self.manifest.segments
        searched = prune_segments(segs, filter) if isinstance(filter, FilterSet) else segs
        sel_est = None
        if isinstance(filter, FilterSet) and searched:
            total = sum(s.rows for s in searched)
            matched = sum(
                estimate_selectivity(s.stats, s.rows, filter) * s.rows for s in searched
            )
            sel_est = matched / total if total else None
        stats = QueryStats(
            strategy="manifest-prune → exact scan → top-k",
            metric=self.metric,
            k=k,
            segments_total=len(segs),
            segments_searched=len(searched),
            segments_pruned=len(segs) - len(searched),
            selectivity_est=sel_est,
        )
        with timed(stats):
            df = self.search(query, k=k, filter=filter, **kw)
            considered = sum(s.rows for s in searched)
            total = sum(s.rows for s in segs)
            stats.rows_considered = considered
            stats.rows_filtered_out = total - considered
            stats.plan = spark_plan(df)
        self._obs("on_search", stats.elapsed_ms / 1000.0, stats.strategy, k,
                  stats.segments_searched)
        return df, stats

    # --------------------------------------------------------- maintenance

    def compact(self, target_segments: int = 1, cluster_by=None, quantize=None,
                reindex: bool = True) -> int:
        """Rewrite the live snapshot into compacted segments, dropping
        tombstoned/stale rows; publish as a new version (compaction.go:
        29-422 semantics — merge live rows, re-stats).

        cluster_by materializes an IVF index into the layout (the
        reference builds IVF partitions at segment build/compaction,
        compaction.go:102-152, k = rows/8192 at 136-143):
          cluster_by=IVFModel   use a pre-trained model
          cluster_by=int        train (deterministic driver Lloyd's) with
                                that nlist
          cluster_by="auto"     nlist = default_nlist(row_count)
        Every cluster becomes its OWN segment (one subdirectory) whose
        manifest stats pin _cluster to a single value — so search(nprobe=p)
        prunes all but p segments driver-side and the scan never opens the
        other files. The centroid matrix is persisted under _index/ and
        recorded in the manifest; subsequent insert()s assign _cluster on
        the write path, keeping the index fresh.

        quantize persists scalar-quantized codes INTO the segment files —
        the reference stores SQ8 codes inside flat segments
        (internal/segment/flat/writer.go:57-519), so quantized search at
        rest reads codes instead of re-encoding the corpus per query:
          quantize="sq8"        train per-dim bounds now, 255 levels
          quantize="int4"       same, 15 levels
          quantize=ScalarParams use pre-trained bounds
          quantize="bq"         packed sign bits (_b_code ARRAY<BIGINT>),
                                Hamming serving (binary.go:11-130)
          quantize="rabitq"     sign bits + per-row L2 norm (_b_norm),
                                estimator serving (rabitq.go:13-28)
          quantize=BinaryParams pre-set kind/threshold
        Codes land in the hidden _q_code ARRAY<INT> column, the bounds in
        _index/sq-v*.json + manifest meta; insert() encodes new rows on
        the write path and search_quantized() scores from stored codes.

        reindex=True (default) REBUILDS every per-segment artifact family
        the rewrite invalidates (graph blobs, minhash signatures) against
        the new segments with the originally recorded build params — the
        reference rebuilds indexes during compaction itself
        (internal/engine/compaction.go:102-152: merged data is re-indexed
        before publish, never left index-less). reindex=False restores
        the drop-and-rebuild-manually behavior.
        """
        self._check_writable()
        if self._pending or self._pending_tombs:
            # flush-before-compact (the reference compacts FLUSHED
            # segments; its memtable flushes first, compaction.go:29-46).
            # A staged batch must not survive a rewrite that resets the
            # MVCC gates and restarts the LSN cursor: r11 self-review
            # found that compact() with a staged colliding insert
            # published has_upserts=False — df() then skipped version
            # dedup entirely — and the first staged batch's LSN tied the
            # compacted rows', corrupting latest-wins. Committing first
            # folds the staged rows into the rewrite; there is no
            # rollback API, so publishing earlier changes no outcome.
            self.commit()
        t0 = time.perf_counter()
        dropped = len(self.manifest.segments)
        prior_families = {f: dict(self.manifest.meta[f])
                         for f in ("hnsw", "vamana", "minhash", "simhash",
                                   "lexical", "semdedup")
                         if f in self.manifest.meta}
        sq_params, pq_books, bin_params = self._resolve_quantizer(quantize)
        if cluster_by is None:
            v = self._compact_plain(target_segments, sq_params=sq_params,
                                    pq_books=pq_books, bin_params=bin_params)
            self._obs("on_compaction", time.perf_counter() - t0, dropped,
                      len(self.manifest.segments))
            if reindex:
                self._reindex_families(prior_families)
            return self.manifest.version
        from vecgo_spark.operators import ivf as ivfmod

        if isinstance(cluster_by, ivfmod.IVFModel):
            model = cluster_by
        else:
            nlist = (
                ivfmod.default_nlist(sum(s.rows for s in self.manifest.segments))
                if cluster_by == "auto" else int(cluster_by)
            )
            # key = table path + SNAPSHOT version (r12 verdict #6): two
            # compactions of the same committed snapshot reuse the
            # deterministic model; any commit in between changes the
            # version and retrains — never a stale-layout reuse. The
            # scope attributes the lookup to this table's CacheStats.
            model = ivfmod.train_ivf(
                self.df(), self.vector_col, nlist=nlist, metric=self.metric
                if self.metric in ("l2", "cosine") else "l2",
                trainer="driver", order_col=self.id_col,
                cache_key=f"{self.path}@v{self.manifest.version}:{self.vector_col}",
                scope=self.path,
            )
        lsn = self.manifest.lsn + 1
        version = self.manifest.version + 1
        live = self.df().withColumn("_lsn", F.lit(self.manifest.lsn).cast("long"))
        live = self._with_codes(live, sq_params, pq_books, bin_params)
        # a NULL vector has no nearest list: it is kept in list 0, where
        # it scores NULL and ranks last
        assigned = live.withColumn(
            CLUSTER_COL, F.coalesce(ivfmod.assign_expr(model, self.vector_col),
                                    F.lit(0))
        ).withColumn("_part", F.col(CLUSTER_COL))
        name = f"seg-{lsn:08d}-ivf-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(SEG_DIR, name)
        full = os.path.join(self.path, rel)
        # _part is a throwaway twin of _cluster: partitionBy() strips the
        # partition column from the data files, but readers address leaf
        # dirs directly (no hive inference), so the data copy must survive
        (
            assigned.repartition(model.k, "_part")
            .write.partitionBy("_part").mode("error").parquet(full)
        )
        # one agg pass over the written segment → per-cluster stats rows,
        # including the centroid/radius vector profile SegmentPriority
        # needs (stats.go:643-677): radius = max distance to the MODEL
        # centroid — any fixed center satisfies the triangle-inequality
        # bound as long as the radius is measured against it
        written = self.spark.read.parquet(full)
        vv = F.col(self.vector_col).cast("array<double>")
        from vecgo_spark.functions.vector import double_matrix_expr

        cent_of_row = F.element_at(
            double_matrix_expr(model.centroids),
            F.col(CLUSTER_COL).cast("int") + 1)
        d2 = F.aggregate(
            F.zip_with(vv, cent_of_row, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, x: acc + x)
        nrm = F.sqrt(F.aggregate(
            F.zip_with(vv, vv, lambda x, y: x * y),
            F.lit(0.0), lambda acc, x: acc + x))
        per = {
            int(r["c"]): r
            for r in written.groupBy(F.col(CLUSTER_COL).alias("c")).agg(
                F.count(F.lit(1)).alias("rows"),
                F.min(self.id_col).alias("id_min"),
                F.max(self.id_col).alias("id_max"),
                F.max(F.sqrt(d2)).alias("vradius"),
                F.avg(nrm).alias("vmean_norm"),
                F.max(nrm).alias("vmax_norm"),
            ).collect()
        }
        # ONE shared sidecar covers every cluster segment of this rewrite
        # (SegmentMeta.pk may be shared): per-cluster sidecars would mean
        # model.k extra write jobs for zero read benefit — the visibility
        # leg wants the whole family anyway
        pk_rel = self._write_pk_sidecar(written, name)[0] if per else None
        # a cluster dir holds the data columns; `_part` lives in its path
        schema = self._record_schema(written.drop("_part").schema)
        segments = []
        for d in sorted(fs_listdir(full)):
            if not d.startswith("_part="):
                continue
            cid = int(d.split("=", 1)[1])
            sub_rel = os.path.join(rel, d)
            sub_full = os.path.join(full, d)
            size = fs_du(sub_full)
            r = per[cid]
            stats = {
                CLUSTER_COL: {"min": cid, "max": cid, "null_count": 0},
                self.id_col: {"min": r["id_min"], "max": r["id_max"], "null_count": 0},
            }
            if r["vradius"] is not None:
                stats[self.vector_col] = {
                    "centroid": [float(x) for x in model.centroids[cid]],
                    "radius": float(r["vradius"]),
                    "mean_norm": float(r["vmean_norm"]),
                    "max_norm": float(r["vmax_norm"]),
                }
            segments.append(SegmentMeta(
                path=sub_rel, rows=int(r["rows"]), lsn=lsn, bytes=size,
                stats=stats, pk=pk_rel, schema=schema
            ))
        idx_rel = os.path.join(INDEX_DIR, f"ivf-v{version:08d}.json")
        fs_makedirs(os.path.join(self.path, INDEX_DIR))
        fs_write_text(
            os.path.join(self.path, idx_rel),
            json.dumps({"metric": model.metric, "k": model.k,
                        "centroids": model.centroids.tolist()}),
        )
        meta = dict(self.manifest.meta)
        meta["has_upserts"] = False
        meta["has_dup_ids"] = False  # rewrite materialized unique winners
        meta["ivf"] = {"k": model.k, "metric": model.metric, "path": idx_rel}
        meta.pop("hnsw", None)  # compaction replaces every indexed segment
        meta.pop("vamana", None)
        meta.pop("minhash", None)  # rewritten segments invalidate stored signatures
        meta.pop("simhash", None)
        meta.pop("lexical", None)  # ...and stored postings/counters
        meta.pop("semdedup", None)  # ...and stored assignment/pair rows
        self._record_sq_meta(meta, sq_params, pq_books, version, bin_params)
        new = Manifest(
            version=version, lsn=lsn,
            next_id=self.manifest.next_id, created_at=time.time(),
            segments=segments, tombstone_files=[], meta=meta,
        )
        save_manifest(self.path, new)
        self.manifest = new
        self._ivf_cache = (idx_rel, model)
        elapsed = time.perf_counter() - t0
        self._obs("on_compaction", elapsed, dropped, len(new.segments))
        self._obs("on_build", elapsed, "ivf")
        if reindex:
            self._reindex_families(prior_families)
        return self.manifest.version

    def _reindex_families(self, prior: dict) -> None:
        """Rebuild artifact families a full rewrite invalidated, from the
        build params their old manifest entries recorded — compaction
        re-indexes rather than leaving the table index-less
        (compaction.go:102-152; the graph rebuild there is gated on
        segment size, which per-segment building subsumes: every new
        segment gets its own blob). Vamana's PQ layout is reconstructed
        only when the compaction re-recorded codebooks (quantize=...);
        otherwise the rebuilt graph serves full vectors — same recall
        contract, larger blobs."""
        for fam, info in prior.items():
            t0 = time.perf_counter()
            if fam == "minhash":
                self.build_minhash_index(
                    text_col=info["text_col"], n=info["n"],
                    num_hashes=info["num_hashes"])
            elif fam == "hnsw":
                self.build_graph_index(
                    "hnsw", m=info["m"], ef_construction=info["ef_construction"])
            elif fam == "vamana":
                pq = (self._load_pq()
                      if info.get("pq") and "pq" in self.manifest.meta else None)
                self.build_graph_index(
                    "vamana", r=info["r"], l=info["l"], alpha=info["alpha"],
                    pq=pq)
            elif fam == "simhash":
                self.build_simhash_index(text_col=info["text_col"])
            elif fam == "lexical":
                self.build_lexical_index(text_col=info["text_col"])
            elif fam == "semdedup":
                from vecgo_spark.operators import semdedup_at_rest as sdr

                self.build_semdedup_index(
                    sdr._model_from_info(info),
                    threshold=info["threshold"],
                    max_cluster=info["max_cluster"])
            self._obs("on_build", time.perf_counter() - t0, f"{fam}-reindex")

    def _resolve_quantizer(self, quantize):
        """quantize= argument → (ScalarParams | None, PQCodebooks | None,
        BinaryParams | None). Scalar training is one distributed min/max
        agg over the live snapshot; PQ trains on the deterministic ORDER
        BY id sample; binary needs no training at the default sign
        threshold (binary.go:36-40) — the same artifacts a per-query
        train would produce."""
        if quantize is None:
            return None, None, None
        from vecgo_spark.quantization import binary as bqz
        from vecgo_spark.quantization import pq as pqz
        from vecgo_spark.quantization import scalar as sqz

        if isinstance(quantize, (tuple, list)):
            # one scalar + one PQ + one binary family may ride the same
            # layout; the last spec of each kind wins
            sq = pq = bn = None
            for spec in quantize:
                s, p, b = self._resolve_quantizer(spec)
                sq, pq, bn = s or sq, p or pq, b or bn
            return sq, pq, bn
        if isinstance(quantize, sqz.ScalarParams):
            return quantize, None, None
        if isinstance(quantize, pqz.PQCodebooks):
            return None, quantize, None
        if isinstance(quantize, bqz.BinaryParams):
            return None, None, quantize
        levels = {"sq8": 255, "int4": 15}.get(quantize)
        if levels is not None:
            return sqz.train_scalar(self.df(), self.vector_col, levels=levels), None, None
        if quantize == "pq":
            # snapshot-keyed + table-scoped (r12 verdict #6) — same
            # stance as the compact(cluster_by=) IVF training above
            return None, pqz.train_pq(
                self.df(), self.vector_col, order_col=self.id_col,
                cache_key=f"{self.path}@v{self.manifest.version}:{self.vector_col}",
                scope=self.path), None
        if quantize in ("bq", "rabitq"):
            return None, None, bqz.BinaryParams(kind=quantize)
        raise ValueError(
            "quantize must be 'sq8', 'int4', 'pq', 'bq', 'rabitq', "
            f"ScalarParams, PQCodebooks or BinaryParams, got {quantize!r}")

    def _record_sq_meta(self, meta: dict, sq_params, pq_books, version: int,
                        bin_params=None) -> None:
        """Persist trained quantizer artifacts under _index/ and point the
        manifest at them — or, when this rewrite carries no codes, drop any
        stale entry (the rewritten files no longer contain the column).
        Binary params are a kind + threshold, so they live inline in the
        manifest meta (no _index blob to write or vacuum)."""
        if bin_params is None:
            meta.pop("binary", None)
        else:
            meta["binary"] = {"kind": bin_params.kind,
                              "threshold": bin_params.threshold}
        if sq_params is None:
            meta.pop("sq", None)
        else:
            rel = os.path.join(INDEX_DIR, f"sq-v{version:08d}.json")
            fs_makedirs(os.path.join(self.path, INDEX_DIR))
            fs_write_text(
                os.path.join(self.path, rel),
                json.dumps({"levels": sq_params.levels,
                            "mins": list(sq_params.mins), "maxs": list(sq_params.maxs)}),
            )
            meta["sq"] = {"levels": sq_params.levels, "path": rel}
            self._sq_cache = (rel, sq_params)
        if pq_books is None:
            meta.pop("pq", None)
        else:
            rel = os.path.join(INDEX_DIR, f"pq-v{version:08d}.json")
            fs_makedirs(os.path.join(self.path, INDEX_DIR))
            fs_write_text(
                os.path.join(self.path, rel),
                json.dumps({
                    "codebooks": pq_books.codebooks.tolist(),
                    "rotation": None if pq_books.rotation is None
                    else pq_books.rotation.tolist(),
                }),
            )
            meta["pq"] = {"m": pq_books.m, "k": pq_books.k, "path": rel}
            self._pq_cache = (rel, pq_books)

    def _load_pq(self):
        """PQCodebooks from the manifest's pq entry (cached per version)."""
        import numpy as np

        from vecgo_spark.quantization import pq as pqz

        info = self.manifest.meta["pq"]
        cache = getattr(self, "_pq_cache", None)
        if cache is not None and cache[0] == info["path"]:
            return cache[1]
        d = json.loads(fs_read_text(os.path.join(self.path, info["path"])))
        books = pqz.PQCodebooks(
            codebooks=np.array(d["codebooks"], dtype=np.float64),
            rotation=None if d.get("rotation") is None
            else np.array(d["rotation"], dtype=np.float64),
        )
        self._pq_cache = (info["path"], books)
        return books

    def _load_sq(self):
        """ScalarParams from the manifest's sq entry (cached per version)."""
        from vecgo_spark.quantization import scalar as sqz

        info = self.manifest.meta["sq"]
        cache = getattr(self, "_sq_cache", None)
        if cache is not None and cache[0] == info["path"]:
            return cache[1]
        d = json.loads(fs_read_text(os.path.join(self.path, info["path"])))
        params = sqz.ScalarParams(
            mins=tuple(d["mins"]), maxs=tuple(d["maxs"]), levels=int(d["levels"])
        )
        self._sq_cache = (info["path"], params)
        return params

    def _load_binary(self):
        """BinaryParams from the manifest's inline binary entry."""
        from vecgo_spark.quantization import binary as bqz

        info = self.manifest.meta["binary"]
        return bqz.BinaryParams(kind=info["kind"],
                                threshold=float(info["threshold"]))

    def search_quantized(
        self, query: Sequence[float], k: int = 10, filter=None,
        nprobe: int | None = None, refine: int | None = None,
        codes: str | None = None, segment_budget: int | None = None,
    ) -> DataFrame:
        """ANN search scored from the AT-REST quantized codes — no encode
        pass over the corpus at query time (the reference's quantized flat
        segments score stored codes, flat/segment.go:447-753). Optional
        nprobe rides the materialized IVF layout (probe == file pruning);
        optional refine reranks the coarse ADC top-`refine` against the
        full-precision vectors, the WithRefineFactor two-stage pipeline:
        the coarse rows carry their vectors, so the exact score and the
        final (score, id) top-k run on that bounded frame in the same
        plan — one job, no id collect and no second snapshot scan (the
        reference's in-process refine, search.go:913-965).
        codes picks the stored family ("sq" scalar / "pq" product / "bq"
        Hamming / "rabitq" estimator — the last two serve the packed sign
        words the reference keeps in flat segments, binary.go:23-260,
        rabitq.go:13-190, writer.go:57-519); default: whichever the table
        carries (sq > pq > binary when several).

        segment_budget: visit only the `segment_budget` most promising
        segments in SegmentPriority centroid/radius order (stats.go:
        643-677) — the probe-ORDERING analog of search_early_terminate
        for quantized scans. ADC scores are ESTIMATES, so there is no
        sound triangle-inequality stop rule here; the budget is an
        explicit recall/cost knob (recall floor pinned in
        tests/test_quantized_at_rest.py), and omitting it leaves every
        quantized query bit-identical to before."""
        from vecgo_spark.operators import knn as knnmod

        if codes is None:
            if "sq" in self.manifest.meta:
                codes = "sq"
            elif "pq" in self.manifest.meta:
                codes = "pq"
            else:
                codes = self.manifest.meta["binary"]["kind"]
        if codes == "sq":
            from vecgo_spark.quantization import scalar as sqz

            params = self._load_sq()  # raises KeyError if never quantized
        elif codes in ("bq", "rabitq"):
            bin_params = self._load_binary()
            if codes == "rabitq" and bin_params.kind != "rabitq":
                raise ValueError(
                    "table stores plain BQ words without norms — compact "
                    "with quantize='rabitq' to serve the estimator")
        else:
            books = self._load_pq()
        q = list(query)
        if nprobe is not None:
            from vecgo_spark.operators import ivf as ivfmod

            probes = ivfmod.probe_clusters(self._load_ivf(), q, nprobe)
            fs = FilterSet([Filter(CLUSTER_COL, "in", probes)])
            segs = None
            if segment_budget is not None:
                cand = prune_segments(self.manifest.segments, fs)
                ordered = segment_priority(cand, q, self.vector_col)
                segs = [s for s, _ in ordered[:max(1, segment_budget)]]
            base = self.df(fs, keep_codes=True, segments=segs)
        elif segment_budget is not None:
            best = [s for s, _ in
                    self.segment_priorities(q)[:max(1, segment_budget)]]
            base = self.df(keep_codes=True, segments=best)
        else:
            base = self.df(keep_codes=True)
        cond = to_condition(filter)
        if cond is not None:
            base = base.where(cond)
        if codes == "sq":
            score = sqz.adc_sq_l2(params, q, QCODE_COL)
        elif codes in ("bq", "rabitq"):
            from vecgo_spark.functions import vector as vfn
            from vecgo_spark.quantization import binary as bqz

            q_words = F.array(*[
                F.lit(w).cast("bigint")
                for w in bqz.pack_bits_py(q, bin_params.threshold)])
            h = bqz.hamming_words(F.col(BINCODE_COL), q_words)
            if codes == "bq":
                score = h  # integer Hamming, exact
            else:
                # query norm via the SAME expression the encode-path query
                # uses, so at-rest and fresh scores are bit-identical
                q_norm = vfn.l2_norm(F.array(*[F.lit(float(x)) for x in q]))
                score = bqz.rabitq_l2_estimate(
                    h, F.col(BINNORM_COL), q_norm,
                    int(self.manifest.meta["dim"]))
        else:
            from vecgo_spark.quantization import pq as pqz

            # r15: the EXPRESSION form, not the pandas UDF — stored codes
            # mean this is the plan's only Python node, and the per-query
            # ArrowEvalPython round-trip floor (~0.15-0.3 s measured on a
            # no-op pandas UDF) dwarfs the one-time parse of the m×k table
            # literal. Same adc_table values, same left fold over the m
            # terms → bit-identical scores (guide §4.1: prefer built-ins).
            score = pqz.adc_score_expr(books, q, F.col(PQCODE_COL))
        # nulls_last: rows with NULL vectors (allowed by the fused dim
        # check) carry NULL codes → NULL ADC scores, which must never
        # occupy the top-k ahead of real matches (Spark default is
        # NULLS FIRST on asc) — mirrors the cosine null guard in knn.py
        keep = [self.id_col] + ([] if refine is None else [self.vector_col])
        coarse = (
            base.select(*keep, score.alias("score"))
            .orderBy(F.col("score").asc_nulls_last(), F.col(self.id_col).asc())
            .limit(refine or k)
        )
        if refine is None:
            return coarse
        # the refine stage re-scores the bounded coarse frame's own
        # vectors in the same plan: rerank's exact score and (score, id)
        # order, without its id collect and second snapshot scan
        exact = coarse.select(
            self.id_col,
            knnmod.score_expr(self.metric, self.vector_col, q).alias("score"))
        return knnmod._ordered(exact, self.metric, self.id_col).limit(k)

    def _with_codes(self, df: DataFrame, sq_params, pq_books, bin_params=None) -> DataFrame:
        if sq_params is not None:
            from vecgo_spark.quantization import scalar as sqz

            df = df.withColumn(QCODE_COL, sqz.encode(sq_params, self.vector_col))
        if pq_books is not None:
            from vecgo_spark.quantization import pq as pqz

            df = pqz.encode(pq_books, df, self.vector_col, codes_col=PQCODE_COL)
        if bin_params is not None:
            from vecgo_spark.functions import vector as vfn
            from vecgo_spark.quantization import binary as bqz

            dim = int(self.manifest.meta["dim"])
            df = df.withColumn(
                BINCODE_COL,
                bqz.pack_bits(self.vector_col, dim, bin_params.threshold))
            if bin_params.kind == "rabitq":
                # the SAME l2_norm expression the encode-path query uses,
                # so the stored norm is bit-identical to a fresh compute
                df = df.withColumn(BINNORM_COL, vfn.l2_norm(self.vector_col))
        return df

    def _compact_plain(self, target_segments: int, sq_params=None, pq_books=None,
                       bin_params=None) -> int:
        live = self.df().withColumn("_lsn", F.lit(self.manifest.lsn).cast("long"))
        live = self._with_codes(live, sq_params, pq_books, bin_params)
        lsn = self.manifest.lsn + 1
        version = self.manifest.version + 1
        name = f"seg-{lsn:08d}-compact-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(SEG_DIR, name)
        full = os.path.join(self.path, rel)
        live, stats_fin = self._observe_stats(
            live.repartitionByRange(target_segments, F.col(self.id_col))
            .sortWithinPartitions(self.id_col)
        )
        live.write.mode("error").parquet(full)
        written, stats, rows, schema = self._segment_written(
            full, live, stats_fin)
        size = fs_du(full)
        meta = dict(self.manifest.meta)
        meta["has_upserts"] = False  # dedup materialized
        meta["has_dup_ids"] = False  # rewrite materialized unique winners
        meta.pop("ivf", None)  # a plain rewrite drops the clustered layout
        # every indexed segment is being replaced → the per-segment
        # artifact entries are dead here; compact(reindex=True) rebuilds
        # them against the new segments right after publish, and vacuum
        # collects the stale blobs
        meta.pop("hnsw", None)
        meta.pop("vamana", None)
        meta.pop("minhash", None)  # rewritten segments invalidate stored signatures
        meta.pop("simhash", None)
        meta.pop("lexical", None)  # ...and stored postings/counters
        meta.pop("semdedup", None)  # ...and stored assignment/pair rows
        self._record_sq_meta(meta, sq_params, pq_books, version, bin_params)
        pk_rel = self._segment_pk(written, name, stats, rows)
        new = Manifest(
            version=version, lsn=lsn,
            next_id=self.manifest.next_id, created_at=time.time(),
            segments=[SegmentMeta(path=rel, rows=rows, lsn=lsn, bytes=size,
                                  stats=stats, pk=pk_rel, schema=schema)],
            tombstone_files=[], meta=meta,
        )
        save_manifest(self.path, new)
        self.manifest = new
        return new.version

    def maybe_compact(self, policy) -> int | None:
        """Run one policy-driven PARTIAL compaction (CompactionPolicy.Pick,
        internal/engine/policy.go:25-31): merge only the picked segments
        into one, preserving per-row LSNs so global tombstone/upsert
        visibility is untouched; unpicked segments and tombstone files
        stay. Returns the new version, or None if the policy passed."""
        self._check_writable()
        task = policy.pick(self.manifest.segments)
        if task is None:
            return None
        picked = {s.path for s in task.segments}
        merged_src = self._segment_df(task.segments)
        tombs = self.manifest.tombstone_files
        n_tomb = self._tomb_ids()
        if tombs and n_tomb is not None and n_tomb <= VIS_PREDICATE_MAX_IDS:
            # the tombstones' kill set as one in-plan predicate, read
            # with pyarrow: no aggregate, shuffle or broadcast job
            groups = self._kill_set([], [], tombs)[0]
            if groups:
                merged_src = merged_src.where(
                    _kill_predicate(groups, self.id_col))
        elif tombs:
            tmax = (self._tombstones().groupBy(self.id_col)
                    .agg(F.max("_lsn").alias("_tomb_lsn")))
            if self.tomb_broadcastable():
                tmax = F.broadcast(tmax)
            merged_src = (
                merged_src.join(tmax, self.id_col, "left")
                .where(F.col("_tomb_lsn").isNull() | (F.col("_lsn") > F.col("_tomb_lsn")))
                .drop("_tomb_lsn")
            )
        max_lsn = max(s.lsn for s in task.segments)
        name = f"seg-{max_lsn:08d}-tier-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(SEG_DIR, name)
        full = os.path.join(self.path, rel)
        merged, stats_fin = self._observe_stats(
            merged_src.sortWithinPartitions(self.id_col))
        merged.write.mode("error").parquet(full)
        written, stats, rows, schema = self._segment_written(
            full, merged, stats_fin)
        size = fs_du(full)
        keep = [s for s in self.manifest.segments if s.path not in picked]
        applied = max((self._tomb_lsn(t) for t in self.manifest.tombstone_files),
                      default=0)
        pk_rel = self._segment_pk(written, name, stats, rows)
        segments = keep + [SegmentMeta(path=rel, rows=rows, lsn=max_lsn,
                                       bytes=size, stats=stats,
                                       tomb_lsn_applied=applied, pk=pk_rel,
                                       schema=schema, level=int(getattr(
                                           task, "target_level", 0) or 0))]
        # tombstone GC: a tombstone T can be dropped when NO surviving
        # segment can still hold a row it hides — an original append
        # segment is safe iff every row's lsn (== segment lsn) exceeds
        # T's, a merged segment iff T was already applied at its merge
        # (tomb_lsn_applied >= T.lsn), and ANY segment iff the manifest
        # id intervals prove T's ids can't touch it. Same consolidation
        # the reference's compaction performs (tombstone migration,
        # engine.go:1890-1907); keeps the read anti-join and the
        # manifest from growing without bound under partial compactions.
        live_tombs, live_stats = [], {}
        for t in self.manifest.tombstone_files:
            t_lsn = self._tomb_lsn(t)
            tst = self.manifest.tombstone_stats.get(t)
            droppable = all(
                self._seg_safe_from_tomb(s, tst, t_lsn) for s in segments)
            if not droppable:
                live_tombs.append(t)
                if tst is not None:
                    live_stats[t] = tst
        if len(live_tombs) > TOMB_FOLD_MAX_FILES:
            live_tombs, live_stats = self._fold_tombstones(live_tombs)
        new = Manifest(
            version=self.manifest.version + 1,
            lsn=self.manifest.lsn,
            next_id=self.manifest.next_id,
            created_at=time.time(),
            segments=segments,
            tombstone_files=live_tombs,
            meta=dict(self.manifest.meta),
            tombstone_stats=live_stats,
        )
        save_manifest(self.path, new)
        self.manifest = new
        return new.version

    def _seg_safe_from_tomb(self, s: SegmentMeta, tst, t_lsn: int) -> bool:
        """True when tombstone T provably hides nothing in segment s:
        every row outlives T by LSN (append segments carry row lsn ==
        segment lsn; merged ones record the applied watermark), or the
        manifest id intervals are disjoint — interval disjointness
        implies set disjointness, so this only ever KEEPS fewer files,
        never hides a live row."""
        if (s.tomb_lsn_applied >= t_lsn) if s.tomb_lsn_applied else (s.lsn > t_lsn):
            return True
        if tst is not None and "min" in tst and "max" in tst:
            ss = (s.stats or {}).get(self.id_col) or {}
            if ss.get("min") is not None and ss.get("max") is not None:
                return (int(tst["max"]) < int(ss["min"])
                        or int(tst["min"]) > int(ss["max"]))
        return False

    def _fold_tombstones(self, tombs: list[str]):
        """Rewrite many surviving tombstone files into ONE per-id
        max-LSN file (the reference's tombstone migration at compaction,
        engine.go:1890-1907): the read path already reduces tombstones
        to per-id max LSN, so the fold is semantics-preserving by
        construction, while the anti-join input drops to one bounded
        scan and the manifest stops growing under sustained deletes.
        The folded file carries MIXED per-row LSNs, so its stats record
        lsn = max (conservative for the droppable test) and mixed=True —
        _manifest_count refuses mixed files (its interval subtraction
        assumes one LSN per file) and falls back to the scan."""
        from pyspark.sql import Observation

        lsn_max = max(self._tomb_lsn(t) for t in tombs)
        name = f"tomb-{lsn_max:08d}-fold-{uuid.uuid4().hex[:8]}"
        rel = os.path.join(TOMB_DIR, name)
        obs = Observation()
        (
            self.spark.read.parquet(*[os.path.join(self.path, t) for t in tombs])
            .groupBy(self.id_col).agg(F.max("_lsn").alias("_lsn"))
            .observe(obs, F.count(F.lit(1)).alias("n"),
                     F.min(self.id_col).alias("lo"),
                     F.max(self.id_col).alias("hi"))
            .write.mode("error").parquet(os.path.join(self.path, rel))
        )
        got = obs.get
        n, lo, hi = int(got["n"]), int(got["lo"]), int(got["hi"])
        return [rel], {rel: {
            "ids": n, "min": lo, "max": hi, "lsn": lsn_max,
            "dense": hi - lo + 1 == n, "mixed": True,
        }}

    def _tomb_lsn(self, rel: str) -> int:
        """Tombstone file's LSN — from its manifest stats when present,
        else parsed from the `tomb-{lsn:08d}-…` filename."""
        st = self.manifest.tombstone_stats.get(rel)
        if st and "lsn" in st:
            return int(st["lsn"])
        name = os.path.basename(rel)
        try:
            return int(name.split("-")[1])
        except (IndexError, ValueError):
            return 1 << 62  # unknown → treat as newest, never dropped

    def vacuum(self, keep_versions: int = 2, keep_duration: float | None = None) -> dict:
        """GC old manifests + files unreferenced by the kept versions
        (RetentionPolicy{KeepVersions, KeepDuration}, engine.go:39-52)."""
        self._check_writable()
        versions = self.versions()
        keep = set(versions[-keep_versions:]) if keep_versions else set(versions)
        if keep_duration is not None:
            cutoff = time.time() - keep_duration
            for v in versions:
                if load_manifest(self.path, version=v).created_at >= cutoff:
                    keep.add(v)
        keep.add(self.manifest.version)
        referenced: set[str] = set()
        for v in keep:
            m = load_manifest(self.path, version=v)
            referenced.update(s.path for s in m.segments)
            referenced.update(s.pk for s in m.segments if s.pk)
            referenced.update(m.tombstone_files)
            for idx in ("ivf", "sq", "pq", "hnsw", "vamana", "minhash", "simhash", "lexical", "semdedup"):  # every index artifact family
                if idx in m.meta:
                    referenced.add(m.meta[idx]["path"])
                    # graph families grown by incremental refresh carry a
                    # paths LIST — every dir is live
                    referenced.update(m.meta[idx].get("paths", []))
            if FAMILY_LEXICAL in m.meta:
                # per-term docFreq sidecars live at <postings-dir>-df by
                # convention (lexical_at_rest.df_dir)
                from vecgo_spark.operators.lexical_at_rest import df_dir
                from vecgo_spark.operators.graph_at_rest import blob_paths

                referenced.update(
                    df_dir(p) for p in blob_paths(m.meta[FAMILY_LEXICAL]))
            if "semdedup" in m.meta:
                # pair-list sidecars live at <assigned-dir>-pairs by
                # convention (semdedup_at_rest.pairs_dir)
                from vecgo_spark.operators.graph_at_rest import blob_paths
                from vecgo_spark.operators.semdedup_at_rest import pairs_dir

                referenced.update(
                    pairs_dir(p) for p in blob_paths(m.meta["semdedup"]))
        removed_manifests = []
        for v in versions:
            if v not in keep:
                fs_remove_file(manifest_path(self.path, v))
                removed_manifests.append(v)
        # PK sidecars registered on in-memory (not-yet-committed) segment
        # entries stay live — backfill before commit must not be GC'd
        referenced.update(
            s.pk for s in list(self.manifest.segments) + self._pending if s.pk)
        removed_files = []
        for sub in (SEG_DIR, TOMB_DIR, INDEX_DIR, PK_DIR):
            root = os.path.join(self.path, sub)
            for name in fs_listdir(root):
                rel = os.path.join(sub, name)
                # cluster segments are SUBDIRS of one seg-*-ivf dir; the
                # dir itself is live iff any child segment is referenced
                if rel not in referenced and not any(
                    r.startswith(rel + "/") for r in referenced
                ):
                    target = os.path.join(root, name)
                    if name.endswith(".json"):
                        fs_remove_file(target)
                    else:
                        fs_rmtree(target)
                    removed_files.append(rel)
        if removed_files:
            # cached winning-LSN frames of DROPPED snapshots may lazily
            # reference just-GC'd PK sidecars — a never-materialized
            # frame would hit FileNotFound on first use. Evict this
            # table's stale-version entries; the current snapshot's
            # entry stays (its sidecars are referenced ⇒ never GC'd).
            for k in [k for k in _VIS_CACHE
                      if k[0] == self.path and k[1] != self.manifest.version]:
                _drop_vis(k)
            # same exposure for the lexical candidate frames (r12):
            # frames cached for superseded snapshots may reference
            # postings dirs just GC'd — evict stale-snapshot entries,
            # keep the current snapshot's (its dirs are referenced)
            from vecgo_spark.operators import lexical_at_rest as _lex

            _lex.evict_stale(self.path, self.manifest)
        return {"removed_manifests": removed_manifests, "removed_files": removed_files}

    def stats(self) -> dict:
        """Engine stats (engine.go:2124-2171): O(#segments), no data scan."""
        m = self.manifest
        return {
            "version": m.version,
            "lsn": m.lsn,
            "segments": len(m.segments),
            "rows_upper_bound": sum(s.rows for s in m.segments),
            "bytes": sum(s.bytes for s in m.segments),
            # at-rest index footprint from the manifest's per-dir byte
            # accounting (graph_at_rest.record_dir_bytes) — no store walk
            "index_bytes": sum(
                sum((m.meta[f].get("bytes") or {}).values())
                for f in ("hnsw", "vamana", "minhash", "simhash", "lexical",
                          "semdedup")
                if f in m.meta),
            "tombstone_files": len(m.tombstone_files),
            "has_upserts": m.meta.get("has_upserts", False),
            # HotField adaptive-indexing recommendation (stats.go:216-219:
            # "most frequently filtered field, used for adaptive index
            # building") — present when the EMA is enabled and has seen
            # filtered queries; compact(cluster_by=) / stats-sorted
            # rewrites are the actuators a user points at it
            **({"hot_field": hf,
                "hot_field_hint":
                    f"field {hf!r} dominates the filter workload — "
                    "cluster/sort segments by it at the next compact() "
                    "so manifest stats prune its scans"}
               if self._sel_ema is not None
               and (hf := self._sel_ema.hot_field()) is not None else {}),
        }

    @staticmethod
    def cache_stats() -> tuple[int, int]:
        """Combined (hits, misses) of the engine's read-path caches —
        the reference's ``Engine.CacheStats`` (engine.go:2210-2223,
        blockCache + diskCache combined). Here the caches are the keyed
        artifact registries the serving session consults: the loaded
        PK-index frames (``_VIS_CACHE``), trained IVF centroids, and PQ
        codebooks — see vecgo_spark/cache_stats.py for the counting
        stance. Process-global like the registries themselves (a
        SparkSession serves every table in the process), hence static."""
        return cache_stats.cache_stats()

    @staticmethod
    def cache_stats_detail() -> dict:
        """Per-cache breakdown (the reference's ShardStats debug view,
        internal/cache/sharded_lru.go:112)."""
        return cache_stats.cache_stats_detail()

    def table_cache_stats(self) -> tuple[int, int]:
        """THIS table's (hits, misses) — the reference's per-engine-
        instance counters (each Engine owns its caches; ours are
        process-global registries whose pk_index keys lead with the
        table path, so attribution is exact). Two tables served from one
        session report independent numbers; the global ``cache_stats()``
        view is unchanged."""
        return cache_stats.cache_stats(scope=self.path)

    def table_cache_stats_detail(self) -> dict:
        """Per-cache breakdown restricted to this table's lookups."""
        return cache_stats.cache_stats_detail(scope=self.path)
