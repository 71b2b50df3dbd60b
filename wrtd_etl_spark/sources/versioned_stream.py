"""Structured-Streaming read of a versioned table's change feed.

``table_changes`` (sources/versioned.py) is batch-only: each caller must
remember its last version and poll. This module turns the commit log
itself into a streaming SOURCE — offsets ARE version numbers, each
micro-batch is the file-level diff of a commit range, and the checkpoint
makes consumption exactly-once — so incremental maintainers (the
materialized-view refresher, the text-index refresher, a downstream
enrichment sink) subscribe to deltas instead of polling. The reference
capability being scaled is the outbox poll loop (bot/botrun.py:295-309):
"wake up, read what's new, remember where I stopped" — here Spark's
offset log does the remembering.

Semantics: per version, files ADDED since the parent manifest stream as
``_change_type='insert'`` rows and files REMOVED stream as ``'delete'``
rows — exact row-level multiset deltas, because data files are
immutable. Folding the feed (apply deletes, then inserts) reproduces any
snapshot; for append-only ranges the feed is identical to batch
``table_changes``. A compaction streams as delete+insert of the same
rows (physical noise, logical no-op under the fold) — consumers that
only want logical changes can filter on ``_commit_mode``.

Retention contract: ``vacuum`` must retain versions at least as old as
the slowest subscriber's offset, or a restarted stream will find its
next batch's files reclaimed (same rule as Delta CDF).

Scale shape: one ``InputPartition`` per changed file — read parallelism
equals changed-file count. Planning is manifest-only (no data I/O on the
driver) and is the batch feed's: each version's file diff comes from
``_plan_commit_changes`` (sources/versioned.py), which opens only the
segment sidecars the commit changed. An idle table produces empty
batches for free since ``latestOffset`` just reads the pointer.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from .versioned import _plan_commit_changes, _read_manifest_root, _read_pointer


class ChangeFile(InputPartition):
    """One changed data file: read it, tag every row."""

    def __init__(
        self,
        table: str,
        file: str,
        change_type: str,
        version: int,
        mode: str,
        col_map: list[tuple[str, str | None]],
        dv_drop=None,
        dv_take=None,
        rg_filter=None,
        defaults=None,
    ):
        self.table = table
        self.file = file
        self.change_type = change_type
        self.version = version
        self.mode = mode
        # (target_name, file_column_or_None) per output field — resolved
        # on the DRIVER against the manifest's alias map, so executors
        # need no manifest access
        self.col_map = col_map
        # deletion-vector directives (see _load_file_table): dv_drop
        # excludes already-deleted positions when a whole file is
        # emitted; dv_take emits ONLY the newly-deleted positions of a
        # metadata-only delete_dv commit
        self.dv_drop = dv_drop
        self.dv_take = dv_take
        # {target_name: value} for columns ADDED with a DEFAULT after
        # this file was written (r10): the executor fills the constant
        # instead of NULLs, matching the logical read/diff surfaces
        self.defaults = defaults
        # row-group pushdown of the subscriber's skip_filter (r9):
        # only set when NO dv directive rides the file — dv positions
        # are absolute row indices, which skipped groups would shift
        self.rg_filter = rg_filter


def _target_schema(table: str):
    from pyspark.sql.types import StructType

    latest = _read_pointer(table)
    if latest is None:
        raise FileNotFoundError(f"no committed version in {table}")
    manifest = _read_manifest_root(table, latest)
    return StructType.fromJson(manifest["schema"]), manifest


def _to_arrow_schema(fields):
    """Arrow schema for a Spark StructType with timestamps normalized
    tz-naive (Spark's Arrow deserializer for Python-source batches
    expects naive). Shared by the streaming change feed and the batch
    table reader, which call it on the driver when they are built: a
    column type Arrow cannot carry (an interval, say) raises
    ``UNSUPPORTED_DATA_TYPE_FOR_ARROW_CONVERSION`` there, before any
    task starts, since Spark's Python-source transfer is Arrow either
    way."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    return pa.schema(
        [
            pa.field(f.name, pa.timestamp(f.type.unit))
            if pa.types.is_timestamp(f.type) and f.type.tz is not None
            else f
            for f in to_arrow_schema(fields)
        ]
    )


def _col_map(
    fields: list[str], aliases: dict, defaults: dict, seg_schema: dict
) -> "tuple[list[tuple[str, str | None]], dict | None]":
    """How one segment's files present as the table: ``(col_map,
    defaults)``. ``col_map`` is ``[(target_name, file_column_or_None)]``
    per output field, resolved through the alias map (it composes every
    historical rename, so any older file's columns resolve to current
    names); ``defaults`` holds the declared DEFAULT of each column the
    segment predates (None when there is none), which the executor fills
    instead of NULL — what a snapshot read and the logical diff show for
    those rows. Resolved on the DRIVER, so executors need no manifest
    access. Shared by the stream and batch readers."""
    by_current = {
        aliases.get(f["name"], f["name"]): f["name"]
        for f in seg_schema.get("fields", [])
    }
    cm = [(t, by_current.get(t)) for t in fields]
    dflt = {t: defaults[t] for t, src in cm if src is None and t in defaults}
    return cm, dflt or None


def _dv_positions(table: str, ref: str, rel: str):
    """Executor-side load of one file's deletion-vector positions from a
    ``dv-*.json`` sidecar (same shared-FS access as the data files)."""
    import json as _json
    import os as _os

    from .versioned import _dv_unpack

    with open(_os.path.join(table, "_manifests", ref)) as f:
        entry = _json.load(f)[rel]
    return _dv_unpack(entry["pos"])


def _rg_keep_groups(pf, rg_filter) -> "list[int] | None":
    """Row-group indices of ``pf`` that MAY hold matching rows under
    ``rg_filter`` ({"rng": {col: [lo, hi]}, "pts": {col: [vals]}},
    columns already resolved to FILE names). Pure parquet-footer
    arithmetic — keeps a group on ANY doubt (missing stats, type
    mismatch), because this is an I/O saver, never a correctness gate:
    every consumer (Spark re-applying pushed filters; a change-feed
    subscriber applying its own predicate) treats the delivered rows as
    an over-approximation. Returns None when nothing prunes (callers
    take the whole-file fast path)."""

    def _comparable(stat_v, filt_v) -> bool:
        num = (int, float)
        if isinstance(stat_v, bool) or isinstance(filt_v, bool):
            return isinstance(stat_v, bool) and isinstance(filt_v, bool)
        if isinstance(stat_v, num) and isinstance(filt_v, num):
            return True
        return isinstance(stat_v, str) and isinstance(filt_v, str)

    rng = (rg_filter or {}).get("rng") or {}
    pts = (rg_filter or {}).get("pts") or {}
    if not rng and not pts:
        return None
    md = pf.metadata
    col_idx = {}
    for i in range(md.num_columns):
        col_idx[md.schema.column(i).name] = i
    keep: list[int] = []
    for g in range(md.num_row_groups):
        rg_md = md.row_group(g)

        def _bounds(col):
            i = col_idx.get(col)
            if i is None:
                return None
            st = rg_md.column(i).statistics
            if st is None or not st.has_min_max:
                return None
            return st.min, st.max

        alive = True
        for col, (lo, hi) in rng.items():
            b = _bounds(col)
            if b is None:
                continue
            smin, smax = b
            if lo is not None and _comparable(smax, lo) and smax < lo:
                alive = False
                break
            if hi is not None and _comparable(smin, hi) and smin > hi:
                alive = False
                break
        if alive:
            for col, vals in pts.items():
                b = _bounds(col)
                if b is None or not vals:
                    continue
                smin, smax = b
                if all(
                    _comparable(smin, v) and (v < smin or v > smax)
                    for v in vals
                ):
                    alive = False
                    break
        if alive:
            keep.append(g)
    return None if len(keep) == md.num_row_groups else keep


def _load_file_table(
    path: str,
    want,
    dv_drop=None,
    dv_take=None,
    rg_filter=None,
    row_ids: "tuple | None" = None,
    row_cvs: "tuple | None" = None,
):
    """One data file as a pyarrow Table with deletion vectors applied —
    the shared loader of the stream and batch DataSource readers.

    ``rg_filter`` (r9): row-group predicate pushdown — groups whose
    footer min/max provably exclude the pushed range/point filter are
    never materialized (a 128 MB file holds ~100 row groups; a point
    lookup on a clustered key reads 1). Callers pass it ONLY when no
    deletion vector rides the file: dv positions address rows by
    absolute ``_metadata.row_index``, and a skipped leading group would
    shift every surviving position.

    ``row_ids=(base,)`` (r9 row tracking): append a ``_row_id`` column
    — the file's materialized ``__row_id`` where present, else
    ``base + position`` — BEFORE any dv mask, so deletion vectors
    filter the ids together with the rows. Disables row-group pruning
    (positions must stay absolute).

    ``row_cvs=(cv,)`` (r9 row commit versions): append a
    ``_commit_version`` column — the file's materialized ``__row_cv``
    where present, NULLs coalesced to the segment's head-stamped
    ``cv`` (None → NULL, the pre-feature honest unknown). Appended
    before any dv mask like the ids; position-independent, so
    row-group pruning stays legal."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def _append_cv(tbl):
        import pyarrow.compute as pc

        from .versioned import ROW_CV_COL, ROW_CV_OUT

        (cv,) = row_cvs
        const = (
            pa.nulls(tbl.num_rows, pa.int64())
            if cv is None
            else pa.array([int(cv)] * tbl.num_rows, pa.int64())
        )
        if ROW_CV_COL in tbl.column_names:
            vals = tbl.column(ROW_CV_COL).cast(pa.int64()).combine_chunks()
            if cv is not None:
                vals = pc.coalesce(vals, const)
            # the materialized unknown-cv sentinel (carried rows minted
            # before the feature) surfaces as the documented NULL
            from .versioned import ROW_CV_UNKNOWN

            unknown = pc.fill_null(
                pc.equal(vals, pa.scalar(ROW_CV_UNKNOWN, pa.int64())),
                False,
            )
            vals = pc.if_else(unknown, pa.nulls(tbl.num_rows, pa.int64()), vals)
            tbl = tbl.drop_columns([ROW_CV_COL])
        else:
            vals = const
        return tbl.append_column(ROW_CV_OUT, vals)

    def _cv_read_cols(cols):
        if cols is None or row_cvs is None:
            return cols
        from .versioned import ROW_CV_COL

        pf = pq.ParquetFile(path)
        if ROW_CV_COL in pf.schema_arrow.names:
            return list(cols) + [ROW_CV_COL]
        return cols

    if row_ids is not None:
        from .versioned import ROW_ID_COL, ROW_ID_OUT

        (base,) = row_ids
        pf = pq.ParquetFile(path)
        has_col = ROW_ID_COL in pf.schema_arrow.names
        read_cols = _cv_read_cols(want)
        if read_cols is not None and has_col:
            read_cols = list(read_cols) + [ROW_ID_COL]
        tbl = pq.read_table(path, columns=read_cols)
        import numpy as np
        import pyarrow.compute as pc

        n = tbl.num_rows
        pos = (
            pa.array(np.arange(n, dtype="int64") + int(base), pa.int64())
            if base is not None
            else None
        )
        if has_col and pos is not None:
            ids = pc.coalesce(tbl.column(ROW_ID_COL), pos)
        elif has_col:
            ids = tbl.column(ROW_ID_COL).cast(pa.int64())
        elif pos is not None:
            ids = pos
        else:
            raise ValueError(
                f"{path}: no row lineage (no materialized column, no "
                "base) — the planner must refuse untracked files"
            )
        if has_col:
            tbl = tbl.drop_columns([ROW_ID_COL])
        tbl = tbl.append_column(ROW_ID_OUT, ids)
        if row_cvs is not None:
            tbl = _append_cv(tbl)
    else:
        keep = None
        if rg_filter is not None and dv_drop is None and dv_take is None:
            pf = pq.ParquetFile(path)
            keep = _rg_keep_groups(pf, rg_filter)
            if keep is not None:
                if keep:
                    tbl = pf.read_row_groups(
                        keep, columns=_cv_read_cols(want)
                    )
                else:
                    empty = pf.schema_arrow.empty_table()
                    tbl = (
                        empty.select(_cv_read_cols(want))
                        if want is not None
                        else empty
                    )
                return _append_cv(tbl) if row_cvs is not None else tbl
        tbl = pq.read_table(path, columns=_cv_read_cols(want))
        if row_cvs is not None:
            tbl = _append_cv(tbl)
    if dv_take is not None:
        import numpy as np

        t, new_ref, rel, old_ref = dv_take
        pos = _dv_positions(t, new_ref, rel)
        if old_ref is not None:
            pos = np.setdiff1d(pos, _dv_positions(t, old_ref, rel))
        pos = pos[pos < tbl.num_rows]
        tbl = tbl.take(pa.array(pos))
    elif dv_drop is not None:
        import numpy as np

        t, ref, rel = dv_drop
        pos = _dv_positions(t, ref, rel)
        mask = np.ones(tbl.num_rows, dtype=bool)
        mask[pos[pos < tbl.num_rows]] = False
        tbl = tbl.filter(pa.array(mask))
    return tbl


def _to_file_rg_filter(col_map, rg_filter):
    """Translate an rg_filter keyed by CURRENT column names to the
    file's own column names through the driver-resolved col_map;
    columns this file doesn't carry drop out (no stats to prune on)."""
    if not rg_filter:
        return None
    src_of = {tgt: src for tgt, src in col_map if src is not None}
    out = {}
    for part in ("rng", "pts"):
        sub = {
            src_of[c]: v
            for c, v in (rg_filter.get(part) or {}).items()
            if c in src_of
        }
        if sub:
            out[part] = sub
    return out or None


def _merge_cv_rg(file_rg, cv_rg):
    """Fold a ``(cv_after,)`` bound into a FILE-resolved rg_filter as a
    half-open range on the physical ``__row_cv`` column. Only legal for
    files proven null-free on that column (the partition planner's
    job); integer cvs make ``> after`` ≡ ``>= after + 1``."""
    if cv_rg is None:
        return file_rg
    from .versioned import ROW_CV_COL

    out = dict(file_rg or {})
    rng = dict(out.get("rng") or {})
    rng[ROW_CV_COL] = [cv_rg[0] + 1, None]
    out["rng"] = rng
    return out


def _file_arrays(
    path: str, col_map, arrow_schema, dv_drop=None, dv_take=None,
    rg_filter=None, row_ids=None, row_cvs=None, cv_rg=None,
    defaults=None,
):
    """Executor-side parquet read of one data file, projected/cast to the
    target Arrow schema through the driver-resolved ``col_map``
    [(target_name, file_column_or_None)]: absent columns null-fill, casts
    cover widened columns (int32 file → long table) and tz
    normalization — lossless by the manifest's widening rules. Returns
    (arrays, n_rows).

    Deletion-vector awareness: ``dv_drop=(table, ref, rel)`` EXCLUDES
    that vector's positions (reading a live snapshot of a DV'd file);
    ``dv_take=(table, new_ref, rel, old_ref|None)`` emits ONLY the
    positions newly added between the two vectors (the change-feed's
    row-accurate view of a metadata-only DV delete)."""
    import pyarrow as pa

    tbl = _load_file_table(
        path,
        [s for _, s in col_map if s is not None],
        dv_drop,
        dv_take,
        rg_filter=_merge_cv_rg(
            _to_file_rg_filter(col_map, rg_filter), cv_rg
        ),
        row_ids=row_ids,
        row_cvs=row_cvs,
    )
    n = tbl.num_rows
    arrays = []
    for tgt, src in col_map:
        ftype = arrow_schema.field(tgt).type
        if src is not None:
            arrays.append(tbl.column(src).cast(ftype).combine_chunks())
        elif defaults and tgt in defaults:
            # column added WITH a default after this file was written:
            # its rows read the declared constant, not NULL (r10)
            arrays.append(pa.array([defaults[tgt]] * n).cast(ftype))
        else:
            arrays.append(pa.nulls(n, type=ftype))
    if row_ids is not None:
        from .versioned import ROW_ID_OUT

        arrays.append(tbl.column(ROW_ID_OUT).combine_chunks())
    if row_cvs is not None:
        from .versioned import ROW_CV_OUT

        arrays.append(tbl.column(ROW_CV_OUT).combine_chunks())
    return arrays, n


class VersionedChangesStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict):
        import json as _json

        self.table = options["path"]
        # manifest-stats pruning for filtered subscribers: same
        # {col: [lo, hi]} contract as read_snapshot's skip_filter — an
        # over-approximation of the subscriber's predicate; files whose
        # recorded stats cannot intersect are never planned (a filtered
        # subscriber stops paying to read whole commits). Pruning is an
        # optimization, never the filter itself: the subscriber still
        # applies its real predicate; files without stats are kept.
        skip = options.get("skip_filter")
        self.skip_filter = (
            {c: tuple(b) for c, b in _json.loads(skip).items()}
            if skip
            else None
        )
        # the same ranges, pushed one level deeper: row-group footer
        # pruning inside surviving files (still an over-approximation)
        self._rg = (
            {"rng": {c: list(b) for c, b in self.skip_filter.items()}}
            if self.skip_filter
            else None
        )
        start = options.get("startingVersion", "-1")
        if start == "latest":
            p = _read_pointer(self.table)
            self.start_v = p if p is not None else -1
        else:
            self.start_v = int(start)
        # Bounded catch-up (Delta's maxFilesPerTrigger shape, in commit
        # units): a subscriber recovering a month of backlog advances at
        # most N versions per planned batch instead of getting ONE giant
        # batch. Tracked against the last offset this reader actually
        # planned: initialOffset seeds it for a fresh query, and on
        # RESTART Spark's AcceptsLatestSeenOffset hook calls
        # partitions(ck, ck) before the first latestOffset, so the cap
        # is always relative to the checkpoint, never to
        # startingVersion. Under availableNow each RUN is one capped
        # batch (the wrapper freezes our first answer as its target);
        # a processingTime trigger drains in capped batches within one
        # run. 0/absent = unbounded (previous behavior).
        cap = options.get("maxVersionsPerBatch")
        self.max_versions = int(cap) if cap else 0
        if self.max_versions < 0:
            raise ValueError(
                f"maxVersionsPerBatch must be >= 0, got {self.max_versions}"
            )
        # Delta CDF parity: OPTIMIZE produces no change events. A
        # "compact"-mode commit (compact / compact_small_files /
        # reorg_purge) is carry-only BY CONSTRUCTION — its file diff is
        # pure rewrite churn that any folding consumer must cancel —
        # so a subscriber may skip those versions wholesale instead of
        # paying to read, ship, and cancel them. Opt-in: the default
        # keeps the historical per-commit multiset (noise included),
        # which some consumers count on for byte-level auditing.
        self.skip_compactions = (
            str(options.get("skipCompactions", "false")).lower() == "true"
        )
        # seeded HERE, not in initialOffset: the single-batch
        # availableNow fallback asks latestOffset before initialOffset
        self._last_end: int | None = self.start_v
        target, manifest = _target_schema(self.table)
        self.fields = [f["name"] for f in manifest["schema"]["fields"]]
        # the declared output schema in Arrow form, resolved ONCE on the
        # driver: executors hand Spark whole RecordBatches, never rows
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
            StructType,
        )

        full = StructType(
            list(target.fields)
            + [
                StructField("_change_type", StringType()),
                StructField("_commit_version", LongType()),
                StructField("_commit_mode", StringType()),
            ]
        )
        self._arrow_schema = _to_arrow_schema(full)

    def initialOffset(self) -> dict:
        return {"version": self.start_v}

    def latestOffset(self) -> dict:
        p = _read_pointer(self.table)
        if p is None:
            return {"version": self.start_v}
        if self.max_versions and self._last_end is not None:
            p = min(p, self._last_end + self.max_versions)
        return {"version": p}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        a, b = start["version"], end["version"]
        # every planned batch re-anchors the catch-up watermark —
        # including the restart ping partitions(ck, ck) Spark's
        # AcceptsLatestSeenOffset hook sends before the first
        # latestOffset, which plans zero files but anchors the next
        # capped batch at the CHECKPOINT offset
        self._last_end = b
        end_root = _read_manifest_root(self.table, b)
        aliases = end_root.get("aliases", {})
        defaults = end_root.get("defaults") or {}
        parts: list[InputPartition] = []
        for v in range(max(a, -1) + 1, b + 1):
            try:
                root = _read_manifest_root(self.table, v)
            except FileNotFoundError:
                # expire_history trimmed this version: its changes are
                # superseded by the oldest RETAINED version, which
                # delivers its whole state below
                continue
            try:
                prev = (
                    _read_manifest_root(self.table, v - 1) if v > 0 else None
                )
            except FileNotFoundError:
                # parent expired: v is the retention horizon — a
                # subscriber starting below it gets v's whole state as
                # inserts (initial-snapshot semantics); a LAGGING
                # subscriber with pre-horizon state should reset its
                # checkpoint (deletes older than the horizon are
                # unrecoverable by design)
                prev = None
            if (
                self.skip_compactions
                and root["mode"] == "compact"
                and prev is not None
            ):
                # carry-only rewrite: no CDC events (Delta CDF's
                # OPTIMIZE behavior); the horizon version still delivers
                continue
            for kind, schema, f, dv in _plan_commit_changes(
                self.table, root, prev, aliases, self.skip_filter
            ):
                cm, dflt = _col_map(self.fields, aliases, defaults, schema)
                if kind == "grown":
                    # metadata-only DV delete: the file is unchanged but
                    # its vector grew — emit EXACTLY the newly-deleted
                    # positions as delete rows
                    cur, old = dv
                    parts.append(
                        ChangeFile(
                            self.table, f, "delete", v, root["mode"], cm,
                            dv_take=(
                                self.table, cur["ref"], f, old and old["ref"]
                            ),
                            defaults=dflt,
                        )
                    )
                    continue
                parts.append(
                    ChangeFile(
                        self.table, f, kind, v, root["mode"], cm,
                        dv_drop=(self.table, dv["ref"], f) if dv else None,
                        rg_filter=None if dv else self._rg,
                        defaults=dflt,
                    )
                )
        return parts

    def read(self, partition: ChangeFile) -> Iterator:
        # executor-side: plain pyarrow file read, projected and re-ordered
        # to the declared schema (shared _file_arrays path)
        import pyarrow as pa

        sch = self._arrow_schema
        arrays, n = _file_arrays(
            os.path.join(partition.table, partition.file),
            partition.col_map,
            sch,
            dv_drop=partition.dv_drop,
            dv_take=partition.dv_take,
            rg_filter=partition.rg_filter,
            defaults=partition.defaults,
        )
        arrays.append(pa.array([partition.change_type] * n, pa.string()))
        arrays.append(pa.array([partition.version] * n, pa.int64()))
        arrays.append(pa.array([partition.mode] * n, pa.string()))
        yield pa.RecordBatch.from_arrays(arrays, schema=sch)

    def commit(self, end: dict) -> None:
        pass  # the checkpoint offset log is the ledger; nothing to ack


class VersionedChangesDataSource(DataSource):
    """``spark.readStream.format("versioned_changes").option("path", t)``.

    Options: ``path`` (table root, required), ``startingVersion``
    (int, default -1 = stream the full history including version 0's
    snapshot; ``"latest"`` = only commits after stream start),
    ``skip_filter`` (JSON ``{col: [lo, hi]}`` — manifest-stats file
    pruning for filtered subscribers; an over-approximation of the
    subscriber's own predicate, which must still be applied)."""

    @classmethod
    def name(cls) -> str:
        return "versioned_changes"

    def schema(self):
        from pyspark.sql.types import (
            LongType,
            StringType,
            StructField,
        )

        target, _ = _target_schema(self.options["path"])
        return target.add(
            StructField("_change_type", StringType())
        ).add(StructField("_commit_version", LongType())).add(
            StructField("_commit_mode", StringType())
        )

    def streamReader(self, schema) -> VersionedChangesStreamReader:
        # keep the CaseInsensitiveDict: a plain dict() copy would
        # lower-case the keys and silently drop camelCase option lookups
        return VersionedChangesStreamReader(self.options)


def read_changes_stream(
    spark: SparkSession,
    table: str,
    starting_version: int | str = -1,
    skip_filter: dict[str, tuple] | None = None,
    max_versions_per_batch: int = 0,
    skip_compactions: bool = False,
) -> DataFrame:
    """Streaming DataFrame over the table's change feed (registers the
    data source on first use). Columns = table schema +
    ``_change_type`` / ``_commit_version`` / ``_commit_mode``.

    ``skip_filter={col: (lo, hi)}`` prunes changed files by manifest
    stats BEFORE they become input partitions — a filtered subscriber
    of a clustered table reads only the commit slices that can match.
    Same contract as ``read_snapshot``: an over-approximation; apply
    the real predicate downstream.

    ``max_versions_per_batch`` bounds catch-up: a backlogged subscriber
    advances at most that many commits per planned batch (per RUN under
    ``availableNow``), so recovering a month of history never builds
    one giant batch. 0 = unbounded.

    ``skip_compactions=True`` emits NOTHING for ``compact``-mode
    commits (compact / bin-pack / reorg purge — carry-only rewrites):
    Delta CDF's OPTIMIZE behavior. Folding subscribers get the same
    final state without reading, shipping, and canceling the churn."""
    import json as _json

    spark.dataSource.register(VersionedChangesDataSource)
    r = (
        spark.readStream.format("versioned_changes")
        .option("path", table)
        .option("startingVersion", str(starting_version))
    )
    if skip_filter:
        r = r.option(
            "skip_filter",
            _json.dumps({c: list(b) for c, b in skip_filter.items()}),
        )
    if max_versions_per_batch:
        r = r.option("maxVersionsPerBatch", str(max_versions_per_batch))
    if skip_compactions:
        r = r.option("skipCompactions", "true")
    return r.load()
def checkpoint_last_offset(checkpoint: str) -> int | None:
    """Latest committed change-feed offset (end version) recorded in a
    streaming checkpoint, or None before the first batch. This is the
    progress probe the capped-drain loops key on: a pass that leaves it
    unchanged means the backlog is gone."""
    import json as _json
    import os as _os

    odir = _os.path.join(checkpoint, "offsets")
    try:
        files = sorted((f for f in _os.listdir(odir) if f.isdigit()), key=int)
    except FileNotFoundError:
        return None
    if not files:
        return None
    with open(_os.path.join(odir, files[-1])) as f:
        return _json.loads(f.read().strip().splitlines()[-1])["version"]


def drain_changes(
    spark: SparkSession,
    table: str,
    sink,
    checkpoint: str,
    starting_version: int | str = -1,
    skip_filter: dict[str, tuple] | None = None,
    max_versions_per_batch: int = 0,
    max_runs: int = 10_000,
) -> int:
    """Drain the change-feed backlog through ``sink`` (a foreachBatch
    callable) in BOUNDED bites: repeated ``availableNow`` passes, each
    processing at most ``max_versions_per_batch`` commits, until a pass
    makes no offset progress. Returns the number of passes that ran.

    This is the recovery loop a capped subscriber needs: Python
    streaming sources get no admission control from Spark, so one
    ``availableNow`` run is ONE batch — the cap bounds that batch, and
    this helper supplies the re-trigger until the backlog is gone.
    Exactly-once holds across passes and crashes (same checkpoint, same
    offset ledger)."""

    def _last_offset() -> int | None:
        return checkpoint_last_offset(checkpoint)

    runs = 0
    while runs < max_runs:
        before = _last_offset()
        q = (
            read_changes_stream(
                spark,
                table,
                starting_version,
                skip_filter,
                max_versions_per_batch,
            )
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(600)
        runs += 1
        if _last_offset() == before:
            break  # no progress: backlog drained
    return runs
