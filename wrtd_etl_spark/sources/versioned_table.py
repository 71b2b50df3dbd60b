"""Batch DataSource + SQL surface for versioned tables.

``read_snapshot`` (sources/versioned.py) is a Python API: a consumer
must import this package to read a versioned table, which walls the lake
layer off from plain ``spark.sql``. The reference's consumers all reach
state through SQL (functions.py:43-76 ``sql_to_db`` hands any query
string to the warehouse), so the Spark-first parity surface is a
registered data source:

    spark.read.format("versioned_table").option("path", t).load()
    ... .option("version", 3)          # time travel by version
    ... .option("as_of", 1726000000)   # TIMESTAMP AS OF (epoch seconds)
    ... .option("skip_filter", '{"k": [0, 99]}')   # manifest-stats file
                                                   # pruning (JSON)

plus :func:`register_versioned_view`, which drops the pinned read into
the session catalog so ``spark.sql("SELECT ... FROM dim JOIN fact")``
joins versioned tables like any other relation. A view is NOT a
DataSource read: it is ``read_snapshot``'s native parquet scan of the
pinned manifest's files, so SQL pays neither Python planning on the
driver nor a Python worker per scan task; small deletion vectors ride
that plan as literal ``row_index`` filters. The format reader below
serves ``spark.read.format``, the streaming reader and the writers.

With ``spark.sql.python.filterPushdown.enabled`` (session.py sets it),
plain ``.filter`` predicates prune files automatically: Catalyst hands
the reader its range-shaped conjuncts and they tighten the manifest
skip bounds (pruning-only — every filter is returned for
re-evaluation, so pushdown can drop files, never rows).

The WRITE side completes the format:

    df.write.format("versioned_table").option("path", t)
      .mode("append" | "overwrite").save()          # one atomic version
    df.writeStream.format("versioned_table")...     # one version per
                                                    # micro-batch,
                                                    # batch-id ledger →
                                                    # exactly-once

Executor tasks stream Arrow RecordBatches straight into immutable
parquet under ``data/<uuid>/`` and report relpaths as commit messages;
the driver then runs the SAME manifest-commit protocol as
``write_snapshot`` (``_commit_new_segment``: schema-evolution merge,
put-if-absent link, layout-property carry) — so format writes, API
writes, and streaming sinks are one commit path with three surfaces.

Scale shape — shared with the streaming change feed
(sources/versioned_stream.py): planning is manifest-only on the driver
(no data I/O), one ``InputPartition`` per data file so read parallelism
equals file count, ``skip_filter`` pruning happens at plan time against
the manifest's per-file stats, and executors hand Spark whole Arrow
RecordBatches through the same ``_file_arrays`` path the stream reader
uses. The read pins ONE manifest at plan time: a concurrent commit
never tears the file set (same guarantee as ``read_snapshot``).

Semantics parity is tested against ``read_snapshot`` on the same
fixtures, including time travel, schema evolution (rename/widen
resolve through the alias map per segment) and stats pruning.
"""

from __future__ import annotations

import json
import os
import uuid
from collections.abc import Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    InputPartition,
    WriterCommitMessage,
)

from .versioned import (
    _commit_new_segment,
    _head_may_match,
    _is_seg_head,
    _prune_segment_files,
    _read_manifest_root,
    _read_pointer,
    _resolve_seg,
    _segments,
    read_snapshot,
    version_as_of,
)
from .versioned_stream import _file_arrays, _to_arrow_schema


class TableFile(InputPartition):
    """One pinned data file: read, project/cast to the table schema."""

    def __init__(
        self,
        table: str,
        file: str,
        col_map,
        dv_drop=None,
        rg_filter=None,
        row_ids=None,
        row_cvs=None,
        cv_rg=None,
        defaults=None,
    ):
        self.table = table
        self.file = file
        # (target_name, file_column_or_None) per output field — resolved
        # on the DRIVER against the manifest's alias map, so executors
        # need no manifest access (same contract as the stream reader)
        self.col_map = col_map
        # (table, dv_ref, relfile) when the file carries a deletion
        # vector: the executor drops those row positions
        self.dv_drop = dv_drop
        # pushed skip/point filter for ROW-GROUP footer pruning inside
        # this file (r9); None when a dv rides it — vector positions are
        # absolute row indices that skipped groups would shift. Safe
        # because pushFilters is pruning-only: Spark re-applies every
        # pushed predicate on the returned rows.
        self.rg_filter = rg_filter
        # (base,) when the read surfaces _row_id (r9 row tracking):
        # the executor appends coalesce(materialized __row_id,
        # base + position) before any dv mask. Disables rg pruning.
        self.row_ids = row_ids
        # (cv,) when the read surfaces _commit_version (r9 row commit
        # versions): the executor appends coalesce(materialized
        # __row_cv, cv). Position-independent — rg pruning stays legal.
        self.row_cvs = row_cvs
        # (cv_after,) when an incremental read proved this file's
        # materialized __row_cv column is null-free (manifest `cvs`
        # stats): row groups whose max carried cv <= the bound skip
        # (r10 sub-segment sync pruning on the Arrow path). None when
        # a dv rides the file — same absolute-position rule as
        # rg_filter.
        self.cv_rg = cv_rg
        # {target_name: value} for columns ADDED with a DEFAULT after
        # this file was written (r10): fill the constant, not NULLs
        self.defaults = defaults


def _resolve(options) -> tuple[str, int, dict]:
    """(table, pinned version, manifest) from DataSource options —
    called once for schema() and once for the reader; both pin the same
    version because ``version``/``as_of`` resolve deterministically."""
    table = options.get("path")
    if not table:
        raise ValueError("versioned_table requires .option('path', <table>)")
    version = options.get("version")
    as_of = options.get("as_of")
    if version is not None and as_of is not None:
        raise ValueError("pass version or as_of, not both")
    if as_of is not None:
        v = version_as_of(table, float(as_of))
    elif version is not None:
        v = int(version)
    else:
        v = _read_pointer(table)
        if v is None:
            raise FileNotFoundError(f"no committed version in {table}")
    # ROOT only: schema/aliases live in the root; partitions() resolves
    # detail per segment AFTER summary pruning — plan cost is
    # O(#segments + surviving detail), not O(table files)
    return table, v, _read_manifest_root(table, v)


def _row_id_struct(manifest: dict, with_cvs: bool = False):
    """``_nullable_struct`` plus the row-tracking ``_row_id`` column —
    the schema a ``with_row_ids`` read presents (+ ``_commit_version``
    when ``with_cvs``)."""
    from pyspark.sql.types import LongType, StructField, StructType

    base = _nullable_struct(manifest)
    from .versioned import ROW_CV_OUT, ROW_ID_OUT

    fields = list(base.fields) + [StructField(ROW_ID_OUT, LongType(), True)]
    if with_cvs:
        fields.append(StructField(ROW_CV_OUT, LongType(), True))
    return StructType(fields)


def _cv_struct(manifest: dict):
    """``_nullable_struct`` plus only ``_commit_version``."""
    from pyspark.sql.types import LongType, StructField, StructType

    base = _nullable_struct(manifest)
    from .versioned import ROW_CV_OUT

    return StructType(
        list(base.fields) + [StructField(ROW_CV_OUT, LongType(), True)]
    )


def _reader_struct(manifest: dict, with_row_ids: bool, with_cvs: bool):
    if with_row_ids:
        return _row_id_struct(manifest, with_cvs)
    if with_cvs:
        return _cv_struct(manifest)
    return _nullable_struct(manifest)


def _nullable_struct(manifest: dict):
    """The manifest schema with every field nullable — the semantics a
    plain parquet read presents (and evolution null-fills absent
    columns), so format reads schema-match ``read_snapshot``."""
    from pyspark.sql.types import StructType

    return StructType.fromJson(
        {
            **manifest["schema"],
            "fields": [
                {**f, "nullable": True}
                for f in manifest["schema"]["fields"]
            ],
        }
    )


class VersionedTableReader(DataSourceReader):
    def __init__(self, options):
        self.table, self.version, manifest = _resolve(options)
        self.manifest = manifest
        skip = options.get("skip_filter")
        self.skip_filter = (
            {c: tuple(b) for c, b in json.loads(skip).items()} if skip else None
        )
        pts = options.get("point_filter")
        self.point_filter = dict(json.loads(pts)) if pts else None
        self.with_row_ids = (
            str(options.get("with_row_ids", "false")).lower() == "true"
        )
        self.with_cvs = (
            str(options.get("with_commit_versions", "false")).lower()
            == "true"
        )
        cva = options.get("cv_after")
        self.cv_after = int(cva) if cva is not None else None
        if self.cv_after is not None and not self.with_cvs:
            raise ValueError(
                "cv_after requires with_commit_versions=true (the "
                "pruned read surfaces _commit_version for the "
                "consumer's own > filter)"
            )
        self.fields = [f["name"] for f in manifest["schema"]["fields"]]
        self._arrow_schema = _to_arrow_schema(
            _reader_struct(manifest, self.with_row_ids, self.with_cvs)
        )

    def partitions(self) -> Sequence[InputPartition]:
        aliases = self.manifest.get("aliases", {})

        def col_map(seg_schema: dict):
            by_current = {
                aliases.get(f["name"], f["name"]): f["name"]
                for f in seg_schema.get("fields", [])
            }
            return [(t, by_current.get(t)) for t in self.fields]

        parts: list[InputPartition] = []
        for seg in _segments(self.manifest):
            if (
                self.cv_after is not None
                and seg.get("cv") is not None
                and seg.get("cv") <= self.cv_after
            ):
                continue  # every row inside set at or before the bound
            if _is_seg_head(seg):
                if (
                    self.skip_filter or self.point_filter
                ) and not _head_may_match(
                    seg, aliases, self.skip_filter, self.point_filter
                ):
                    continue  # whole segment pruned from the root summary
                seg = _resolve_seg(self.table, seg)
            files = (
                _prune_segment_files(
                    seg, aliases, self.skip_filter, self.point_filter
                )
                if self.skip_filter or self.point_filter
                else seg["files"]
            )
            cvs = seg.get("cvs") or {}
            if self.cv_after is not None and cvs:
                # sub-segment prune (r10, JVM-path twin in
                # changed_rows_since): skip files whose carried-cv
                # range predates the bound; any NULL cv coalesces to
                # the surviving head cv and keeps its file
                def _admits(f: str) -> bool:
                    st = cvs.get(f)
                    if st is None or st["nulls"]:
                        return True
                    return st["hi"] is not None and st["hi"] > self.cv_after
                files = [f for f in files if _admits(f)]
            cm = col_map(seg["schema"])
            tdef = self.manifest.get("defaults") or {}
            dmap = (
                {t: tdef[t] for t, sc in cm if sc is None and t in tdef}
                or None
                if tdef
                else None
            )
            dvs = seg.get("dvs", {})
            rg = None
            if (self.skip_filter or self.point_filter) and not (
                self.with_row_ids
            ):
                rg = {}
                if self.skip_filter:
                    rg["rng"] = {
                        c: list(b) for c, b in self.skip_filter.items()
                    }
                if self.point_filter:
                    rg["pts"] = {
                        c: list(v) for c, v in self.point_filter.items()
                    }
            row_base: dict[str, tuple] = {}
            if self.with_row_ids:
                from .versioned import _seg_row_tracked

                if not _seg_row_tracked(seg):
                    raise ValueError(
                        f"{self.table}: segment files lack row lineage "
                        "(written before row tracking); cannot attach "
                        "row ids"
                    )
                rmap = seg.get("rows", {})
                rb = seg.get("row_base")
                for f in seg["files"]:
                    if f in rmap:
                        row_base[f] = (int(rb) + int(rmap[f][0]),)
                    else:
                        row_base[f] = (None,)  # materialized column only
            seg_cv = (seg.get("cv"),) if self.with_cvs else None

            def _cv_rg(f: str):
                # row-group bound only when the file's materialized cv
                # column is PROVEN null-free (manifest cvs stats) — a
                # null row's effective cv is the head cv, which parquet
                # group stats on the column cannot see
                if self.cv_after is None or self.with_row_ids or f in dvs:
                    return None
                st = cvs.get(f)
                if st is None or st["nulls"]:
                    return None
                return (self.cv_after,)

            parts.extend(
                TableFile(
                    self.table,
                    f,
                    cm,
                    dv_drop=(
                        (self.table, dvs[f]["ref"], f)
                        if f in dvs
                        else None
                    ),
                    rg_filter=None if f in dvs else rg,
                    row_ids=row_base.get(f),
                    row_cvs=seg_cv,
                    cv_rg=_cv_rg(f),
                    defaults=dmap,
                )
                for f in files
            )
        return parts

    def read(self, partition: TableFile) -> Iterator:
        if partition is None:
            # zero input partitions (an empty table — e.g. schema-only
            # CREATE's v0, or everything pruned): Spark still invokes
            # read once with a None partition; yield no batches
            return
        path = os.path.join(partition.table, partition.file)
        if self._arrow_schema is not None:
            import pyarrow as pa

            arrays, _ = _file_arrays(
                path,
                partition.col_map,
                self._arrow_schema,
                dv_drop=partition.dv_drop,
                rg_filter=partition.rg_filter,
                row_ids=partition.row_ids,
                row_cvs=partition.row_cvs,
                cv_rg=partition.cv_rg,
                defaults=partition.defaults,
            )
            yield pa.RecordBatch.from_arrays(
                arrays, schema=self._arrow_schema
            )
            return
        from .versioned import ROW_CV_OUT, ROW_ID_OUT
        from .versioned_stream import (
            _load_file_table,
            _merge_cv_rg,
            _to_file_rg_filter,
        )

        want = [s for _, s in partition.col_map if s is not None]
        tbl = _load_file_table(
            path,
            want,
            dv_drop=partition.dv_drop,
            rg_filter=_merge_cv_rg(
                _to_file_rg_filter(partition.col_map, partition.rg_filter),
                partition.cv_rg,
            ),
            row_ids=partition.row_ids,
            row_cvs=partition.row_cvs,
        )
        n = tbl.num_rows
        dflt = partition.defaults or {}
        cols = {
            tgt: (
                tbl.column(src).to_pylist()
                if src is not None
                else [dflt.get(tgt)] * n
            )
            for tgt, src in partition.col_map
        }
        names = [t for t, _ in partition.col_map]
        if partition.row_ids is not None:
            cols[ROW_ID_OUT] = tbl.column(ROW_ID_OUT).to_pylist()
            names = names + [ROW_ID_OUT]
        if partition.row_cvs is not None:
            cols[ROW_CV_OUT] = tbl.column(ROW_CV_OUT).to_pylist()
            names = names + [ROW_CV_OUT]
        for i in range(n):
            yield tuple(cols[t][i] for t in names)


class VersionedTablePushdownReader(VersionedTableReader):
    """The same reader WITH Catalyst filter pushdown. Split into a
    subclass because merely DEFINING ``pushFilters`` makes Spark refuse
    the reader when ``spark.sql.python.filterPushdown.enabled`` is false
    (the shipped default) — the plain reader must stay usable on a
    vanilla session; ``.option("pushdown", "true")`` (or
    :func:`read_versioned`, which probes the session conf) selects this
    one."""

    def pushFilters(self, filters):
        """Catalyst filter pushdown → manifest-stats file pruning: a
        plain ``df.filter("k < 100")`` over a format read prunes files
        with NO manual skip_filter. Range-shaped conjuncts (=, <, <=,
        >, >=, IN over one column) tighten the reader's [lo, hi] per
        column; everything is RETURNED to Spark for re-evaluation, so
        the pushdown is pruning-only — exactly skip_filter's contract
        (an over-approximation can drop files, never rows, and rows the
        stats kept are still filtered by Spark)."""
        from pyspark.sql.datasource import (
            EqualTo,
            GreaterThan,
            GreaterThanOrEqual,
            In,
            LessThan,
            LessThanOrEqual,
        )

        bounds: dict[str, list] = {}
        # =/IN conjuncts also carry exact value sets: ranges feed the
        # min/max stats, the sets feed bloom membership pruning — the
        # only prune that bites for scattered keys. ANDed conjuncts
        # intersect.
        values: dict[str, set] = {}

        def restrict(col: str, vals):
            try:
                s = set(vals)
            except TypeError:
                return
            values[col] = s if col not in values else (values[col] & s)

        def tighten(col: str, lo, hi):
            cur = bounds.setdefault(col, [None, None])
            if lo is not None and (cur[0] is None or lo > cur[0]):
                cur[0] = lo
            if hi is not None and (cur[1] is None or hi < cur[1]):
                cur[1] = hi

        for f in filters:
            # single-segment attributes ONLY: a predicate on a nested
            # field like s.k must not prune on a top-level column that
            # happens to share the leaf name k — that would make
            # pushdown semantic, not pruning-only
            attr = getattr(f, "attribute", None)
            col = attr[0] if attr and len(attr) == 1 else None
            if col is None or col not in self.fields:
                continue
            if isinstance(f, EqualTo) and f.value is not None:
                tighten(col, f.value, f.value)
                restrict(col, [f.value])
            elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
                # stats pruning is inclusive-range; strict vs non-strict
                # only ever KEEPS a boundary file it could drop — safe
                tighten(col, f.value, None)
            elif isinstance(f, (LessThan, LessThanOrEqual)):
                tighten(col, None, f.value)
            elif isinstance(f, In) and f.value and None not in f.value:
                restrict(col, f.value)
                try:
                    tighten(col, min(f.value), max(f.value))
                except TypeError:
                    pass  # un-orderable literals: no range to derive
        if bounds:
            merged = dict(self.skip_filter or {})
            for c, (lo, hi) in bounds.items():
                if c in merged:
                    plo, phi = merged[c]
                    lo = plo if lo is None else (lo if plo is None else max(lo, plo))
                    hi = phi if hi is None else (hi if phi is None else min(hi, phi))
                merged[c] = (lo, hi)
            self.skip_filter = merged
        if values:
            merged_pts = dict(self.point_filter or {})
            for c, s in values.items():
                merged_pts[c] = sorted(
                    s & set(merged_pts[c]), key=repr
                ) if c in merged_pts else sorted(s, key=repr)
            self.point_filter = merged_pts
        return filters  # Spark re-applies everything: pruning-only pushdown

class VersionedTableDataSource(DataSource):
    """``spark.read.format("versioned_table")`` — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "versioned_table"

    def schema(self):
        _, _, manifest = _resolve(self.options)
        return _reader_struct(
            manifest,
            str(self.options.get("with_row_ids", "false")).lower()
            == "true",
            str(
                self.options.get("with_commit_versions", "false")
            ).lower()
            == "true",
        )

    def reader(self, schema) -> VersionedTableReader:
        # keep the CaseInsensitiveDict (a dict() copy would lower-case
        # keys and break camelCase lookups — same gotcha as the stream)
        if str(self.options.get("pushdown", "")).lower() == "true":
            return VersionedTablePushdownReader(self.options)
        return VersionedTableReader(self.options)

    def writer(self, schema, overwrite: bool):
        return VersionedTableWriter(self.options, schema, overwrite)

    def streamWriter(self, schema, overwrite: bool):
        return VersionedTableStreamWriter(self.options, schema, overwrite)


def read_versioned(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    as_of: float | None = None,
    skip_filter: dict[str, tuple] | None = None,
    point_filter: dict[str, list] | None = None,
    with_row_ids: bool = False,
    with_commit_versions: bool = False,
    changed_after: int | None = None,
) -> DataFrame:
    """DataFrame over the registered batch source — ``read_snapshot``
    semantics (time travel, stats pruning) through the DataSource API.
    When the session has ``spark.sql.python.filterPushdown.enabled``,
    the pushdown reader is selected automatically and plain ``.filter``
    predicates prune files via manifest stats with no explicit
    ``skip_filter``.

    ``with_row_ids=True`` appends ``_row_id`` — the stable row-tracking
    id (r9) — so pure-SQL consumers can do keyed incremental work over
    pinned views. Raises on tables with pre-tracking segments; disables
    row-group pruning (ids are positional).

    ``with_commit_versions=True`` appends ``_commit_version`` — the
    version that last set each row's values (r9 row commit versions) —
    so SQL consumers can filter "changed since v" from metadata.
    Position-independent: row-group pruning stays on.

    ``changed_after=v`` is the DataSource twin of
    ``changed_rows_since`` (r10): implies ``with_commit_versions``,
    prunes at every grain from metadata — segments whose head cv
    predates the bound, files whose recorded carried-cv range does
    (manifest ``cvs`` stats), and row groups inside null-free files
    (footer stats on the materialized ``__row_cv``) — and applies the
    ``_commit_version > v`` filter on the surviving rows."""
    spark.dataSource.register(VersionedTableDataSource)
    r = spark.read.format("versioned_table").option("path", table)
    try:
        if (
            str(
                spark.conf.get(
                    "spark.sql.python.filterPushdown.enabled", "false"
                )
            ).lower()
            == "true"
        ):
            r = r.option("pushdown", "true")
    except Exception:
        pass  # conf unreadable: stay on the plain reader
    if version is not None:
        r = r.option("version", str(version))
    if as_of is not None:
        r = r.option("as_of", repr(float(as_of)))
    if skip_filter:
        r = r.option(
            "skip_filter",
            json.dumps({c: list(b) for c, b in skip_filter.items()}),
        )
    if point_filter:
        r = r.option(
            "point_filter",
            json.dumps({c: list(v) for c, v in point_filter.items()}),
        )
    if with_row_ids:
        r = r.option("with_row_ids", "true")
    if with_commit_versions or changed_after is not None:
        r = r.option("with_commit_versions", "true")
    if changed_after is not None:
        r = r.option("cv_after", str(int(changed_after)))
    df = r.load()
    if changed_after is not None:
        from pyspark.sql import functions as F

        from .versioned import ROW_CV_OUT

        df = df.filter(F.col(ROW_CV_OUT) > int(changed_after))
    return df


def register_versioned_view(
    spark: SparkSession,
    name: str,
    table: str,
    version: int | None = None,
    as_of: float | None = None,
    with_row_ids: bool = False,
    with_commit_versions: bool = False,
    skip_filter: dict[str, tuple] | None = None,
    point_filter: dict[str, list] | None = None,
) -> DataFrame:
    """Pin the (latest unless ``version``/``as_of``) snapshot as a temp
    view so plain ``spark.sql`` joins versioned tables like any other
    relation. The view stays pinned to the version resolved NOW — later
    commits don't move it (re-register to advance), which is exactly the
    reader-isolation contract of the manifest design.

    The view is :func:`~.versioned.read_snapshot`'s native parquet scan,
    not the Python DataSource: time travel, deletion vectors, schema
    evolution and the ``skip_filter``/``point_filter`` file pruning all
    resolve on the driver from the manifest. ``with_row_ids=True``
    exposes the stable ``_row_id`` to SQL; ``with_commit_versions=True``
    exposes ``_commit_version``."""
    df = read_snapshot(
        spark,
        table,
        version=version,
        as_of=as_of,
        skip_filter=skip_filter,
        point_filter=point_filter,
        with_row_ids=with_row_ids,
        with_commit_versions=with_commit_versions,
    )
    df.createOrReplaceTempView(name)
    return df


# ---------------------------------------------------------------------------
# Write side: df.write.format("versioned_table") and
# df.writeStream.format("versioned_table") — a REAL distributed write
# path: executor tasks stream Arrow RecordBatches into parquet files
# under data/<uuid>/ and return the relpaths as commit messages; the
# DRIVER then runs the exact same manifest-commit protocol as
# write_snapshot (sources/versioned._commit_new_segment: schema merge,
# rename guard, layout carry, put-if-absent link). Task retries and
# aborts leave only unreferenced files, which the vacuum age guard
# reclaims — the same crash contract as every other writer.
#
# Layout note: a DataSource writer cannot shuffle, so `layout_by`
# clustering is not applied here — write through `write_snapshot` for a
# clustered commit, or let `maybe_compact` re-cluster later (the table's
# recorded layout property is preserved by the commit protocol either
# way).
# ---------------------------------------------------------------------------


class FilesWritten(WriterCommitMessage):
    def __init__(self, files):
        self.files = files


class VersionedTableWriter(DataSourceArrowWriter):
    def __init__(self, options, schema, overwrite: bool):
        self.table = options.get("path")
        if not self.table:
            raise ValueError(
                "versioned_table requires .option('path', <table>)"
            )
        self.mode = "overwrite" if overwrite else "append"
        self.schema_json = schema.jsonValue()
        sc = options.get("stats_cols")
        self.stats_cols = json.loads(sc) if sc else None
        ex = options.get("extra")
        self.extra = json.loads(ex) if ex else None
        self.snap_id = uuid.uuid4().hex  # one data dir per write job

    def write(self, iterator):
        """Executor task: stream RecordBatches into ONE parquet file
        (row-group per incoming batch); empty tasks write nothing."""
        import pyarrow.parquet as pq

        writer = None
        rel = None
        try:
            for batch in iterator:
                if batch.num_rows == 0:
                    continue
                if writer is None:
                    ddir = os.path.join(self.table, "data", self.snap_id)
                    os.makedirs(ddir, exist_ok=True)
                    rel = os.path.join(
                        "data", self.snap_id,
                        f"part-{uuid.uuid4().hex}.parquet",
                    )
                    writer = pq.ParquetWriter(
                        os.path.join(self.table, rel), batch.schema
                    )
                writer.write_batch(batch)
        finally:
            if writer is not None:
                writer.close()
        return FilesWritten([rel] if rel is not None else [])

    def _files(self, messages) -> list[str]:
        return sorted(
            f for m in messages if m is not None for f in m.files
        )

    def commit(self, messages) -> None:
        _commit_new_segment(
            self.table,
            self._files(messages),
            self.schema_json,
            self.mode,
            self.extra,
            self.stats_cols,
            None,
            None,
        )

    def abort(self, messages) -> None:
        for m in messages or []:
            for f in m.files if m is not None else []:
                try:
                    os.remove(os.path.join(self.table, f))
                except FileNotFoundError:
                    pass


class VersionedTableStreamWriter(VersionedTableWriter, DataSourceStreamArrowWriter):
    """Micro-batch commits with the batch-id ledger of
    streaming/versioned_sink.py: each batch is ONE append version whose
    manifest extra records the batch id; a crash-replayed batch matches
    the newest commit's ledger and becomes a no-op — exactly-once on top
    of foreachBatch-style at-least-once delivery, now reachable as
    ``df.writeStream.format("versioned_table")``."""

    def commit(self, messages, batchId: int) -> None:
        files = self._files(messages)
        if not files:
            return  # empty trigger: no new version (sink convention)
        prev = _read_pointer(self.table)
        if prev is not None:
            m = _read_manifest_root(self.table, prev)
            if m.get("extra", {}).get("batch_id") == batchId:
                # replayed delivery: this batch's rows are already
                # committed; the just-written files stay unreferenced
                # and age out via vacuum
                return
        _commit_new_segment(
            self.table,
            files,
            self.schema_json,
            "overwrite" if prev is None else "append",
            {**(self.extra or {}), "batch_id": batchId},
            self.stats_cols,
            None,
            None,
        )

    def abort(self, messages, batchId: int) -> None:
        VersionedTableWriter.abort(self, messages)
