"""Versioned parquet tables: manifest-pinned snapshots with time travel.

The reference's state tables are Postgres rows, so readers always see a
transactionally consistent table (functions.py:178-183). Our
swap-on-rename parquet tables (operators/upsert.py) are crash-atomic but
still expose exactly one version, and a reader that lists the directory
during a writer's swap can observe a mixed file set. The
lakehouse-standard fix (the Delta/Iceberg log design, distilled) is to
make the FILE LIST itself the unit of commit:

* data files are immutable, written once under ``data/<snapshot-uuid>/``;
* a manifest ``_manifests/v{N}.json`` names the exact files of version N
  plus schema, per-file column statistics, and lineage metadata;
* THE MANIFEST CREATE IS THE COMMIT: the manifest is staged to a tmp
  file and published with ``os.link`` — an atomic PUT-IF-ABSENT, so two
  writers racing for version N get exactly one winner (the loser's link
  raises FileExistsError and it rebases onto the new latest). This is
  the Delta-log commit primitive; no catalog service needed on a
  POSIX-semantics store.
* ``_latest`` is a monotonic pointer CACHE, not the source of truth:
  readers start from it and probe forward for newer committed manifests,
  so a crash between the manifest link and the pointer update can never
  hide a committed version, and a stale cache never regresses one.

Consequences, each tested:

* crash before the manifest link leaves the previous version intact and
  the table readable (the torn-write test) — data files and staged tmp
  manifests are orphans for ``vacuum``;
* two CONCURRENT appends both survive: the link loser rebases, carrying
  the winner's segments forward (serializable append);
* time travel: ``read_snapshot(..., version=N)``;
* rollback is NON-destructive: a new version whose file list equals the
  old one (history is preserved, matching ``RESTORE TABLE`` semantics);
* ``vacuum`` deletes only files no retained manifest references.

Schema evolution is SEGMENT-based: every commit records its own file
group (segment) with the exact schema those files were written with,
plus the table-level merged schema. Appends may add columns, WIDEN types
(int→long, float→double, int-family→double — lossless only), and RENAME
columns (an alias map, composed across renames); the read path
reconstructs the current schema per segment (rename → cast → unionByName)
only when segments actually diverge — uniform tables keep the single
zero-overhead parquet scan. Old snapshots still read bit-identical
through time travel because segments are immutable.

Data skipping: ``write_snapshot(..., stats_cols=[...])`` records per-file
min/max for the chosen columns in the manifest (driver-side parquet
footer reads — O(#files) metadata, the same cost class as the commit
itself), and ``read_snapshot(..., skip_filter={col: (lo, hi)})`` hands
Spark only the files whose range intersects — at 100 TB, manifest-level
file pruning is THE read-path lever (this is what makes the Z-order
layout of operators/zorder.py pay off end-to-end). Pruning is an
optimization, never a semantic filter: callers still apply their real
predicate; files without stats are always kept.

Manifest I/O is driver-side ``os``/``json`` — the same scale shape as any
metastore commit: O(#files) metadata, never data-sized. Data moves only
through executor-parallel ``df.write.parquet``.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_MANIFESTS = "_manifests"
_LATEST = "_latest"

#: lossless widenings, by Spark simpleString type name
_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}
# merge_into collects up to this many distinct source keys for
# membership (stats + bloom) file pruning; larger sources are
# backfill-shaped and keep range pruning only
_POINT_PRUNE_MAX_KEYS = 200_000
_FLOAT_RANK = {"float": 1, "double": 2}


class QualityGateViolation(ValueError):
    """A write-gated commit was refused: the batch failed its declared
    data-quality checks. The violating rows were written to the
    quarantine table named in the message."""


class CommitConflict(RuntimeError):
    """A concurrent writer committed first and the operation cannot be
    rebased automatically (compact/rollback) — re-read and retry."""


class _IdentityRestage(Exception):
    """Internal: the commit's base moved and its IDENTITY high-water
    mark with it — the staged files carry ids minted from a stale high
    and must be re-assigned and re-staged (never re-linked)."""


class UniqueConstraintViolation(QualityGateViolation):
    """A commit would have introduced duplicate values of a persisted
    UNIQUE constraint's key — within the batch, or between the batch and
    the rows already in the table."""


def _manifest_path(table: str, version: int) -> str:
    return os.path.join(table, _MANIFESTS, f"v{version}.json")


def _read_pointer(table: str) -> int | None:
    """Latest COMMITTED version: pointer cache + forward probe.

    The probe makes the cache advisory — a committed manifest the cache
    doesn't know about yet (crash or concurrent writer between link and
    pointer update) is always found; amortized O(1) probes per read."""
    try:
        with open(os.path.join(table, _LATEST)) as f:
            v: int | None = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        v = None
    probe = 0 if v is None else v + 1
    while os.path.exists(_manifest_path(table, probe)):
        v = probe
        probe += 1
    return v


def _read_manifest_root(table: str, version: int) -> dict:
    """The root manifest document ONLY — segment heads (ref + coarse
    summary), never the per-file detail. O(#segments) bytes regardless
    of table size: the planning/commit fast path at 800k files, where
    the resolved form is a multi-GB document."""
    with open(_manifest_path(table, version)) as f:
        return json.load(f)


def _read_manifest(table: str, version: int) -> dict:
    """The manifest with every segment RESOLVED to its full per-file
    form ({files, schema, stats, blooms}) and the flat ``files`` list
    materialized — the shape ALL pre-sharding code consumes. Callers
    that only need table properties or segment summaries should use
    :func:`_read_manifest_root` instead."""
    m = _read_manifest_root(table, version)
    segs = m.get("segments")
    if segs is not None and any(_is_seg_head(s) for s in segs):
        segs = [_resolve_seg(table, s) for s in segs]
        m["segments"] = segs
        m["files"] = [f for s in segs for f in s["files"]]
    return m


def _is_seg_head(seg: dict) -> bool:
    """True for a sharded segment reference (detail lives in its own
    immutable sidecar file); False for a full in-root segment dict."""
    return "ref" in seg and "files" not in seg


def _seg_detail_path(table: str, ref: str) -> str:
    return os.path.join(table, _MANIFESTS, ref)


def _resolve_seg(table: str, seg: dict) -> dict:
    """One segment in full per-file form. The head's ``ref`` is NOT
    carried into the resolved dict: resolved segments are freely copied
    and mutated by the rewrite paths ({**seg, "files": ...}), and a
    stale ref on a mutated copy would silently commit the OLD detail.

    A head may carry ``drop`` — physical column names ALTER DROP
    removed lazily (the immutable sidecar keeps their stats/blooms on
    disk; an 800k-file ALTER stays O(root)). They are filtered here, so
    every consumer of a RESOLVED segment sees the scrubbed form the
    eager rewrite used to produce."""
    if not _is_seg_head(seg):
        return seg
    with open(_seg_detail_path(table, seg["ref"])) as f:
        d = json.load(f)
    full = {
        "files": d["files"],
        "schema": seg["schema"],
        "stats": d.get("stats", {}),
    }
    if d.get("blooms"):
        full["blooms"] = d["blooms"]
    if d.get("dvs"):
        full["dvs"] = d["dvs"]
    if d.get("rows"):
        full["rows"] = d["rows"]
        if seg.get("row_base") is not None:
            # absolute base rides the HEAD (re-minted on commit races);
            # carried here so resolved copies that re-shard (DV growth,
            # partial keeps) preserve the lineage
            full["row_base"] = seg["row_base"]
    if d.get("rid"):
        full["rid"] = d["rid"]
    if d.get("cvs"):
        full["cvs"] = d["cvs"]
    if "cv" in seg:
        # commit version rides the HEAD (stamped in the commit loop,
        # like row_base) — carried so resolved copies keep the lineage
        full["cv"] = seg["cv"]
    drop = set(seg.get("drop", []))
    if drop:
        full["stats"] = {
            p: {c: v for c, v in st.items() if c not in drop}
            for p, st in full["stats"].items()
        }
        if full.get("blooms"):
            full["blooms"] = {
                p: {c: v for c, v in bl.items() if c not in drop}
                for p, bl in full["blooms"].items()
            }
    return full


def _seg_summary(stats: dict[str, dict], n_files: int) -> dict[str, list]:
    """Coarse per-SEGMENT [min,max] per column — the union of the
    per-file stats, kept in the root head so planning can prune a whole
    segment without opening its detail sidecar. A column missing stats
    in ANY file is omitted (an open bound would be semantic pruning).

    ``n_files`` is the segment's REAL file count, not ``len(stats)``: a
    file with no stats entry at all (zero row groups, NaN-poisoned
    double footer, stats stripped) must make every column's bound open
    — otherwise ``_head_may_match`` could prune the whole segment
    including the stats-less file that per-file pruning always keeps."""
    if not stats or n_files <= 0:
        return {}
    acc: dict[str, list] = {}
    counts: dict[str, int] = {}
    for fs in stats.values():
        for c, (lo, hi) in fs.items():
            counts[c] = counts.get(c, 0) + 1
            if c not in acc:
                acc[c] = [lo, hi]
            else:
                if lo < acc[c][0]:
                    acc[c][0] = lo
                if hi > acc[c][1]:
                    acc[c][1] = hi
    return {c: v for c, v in acc.items() if counts[c] == n_files}


def _write_seg_detail(table: str, seg: dict) -> dict:
    """Persist one segment's per-file detail as an immutable sidecar
    (``_manifests/seg-<uuid>.json``) and return its root HEAD: ref +
    schema + file/byte counts + coarse stat summary + bloom accounting.
    Written BEFORE the root link, same crash contract as data files —
    a loser's orphaned sidecar is debris for vacuum, never corruption."""
    ref = f"seg-{uuid.uuid4().hex}.json"
    detail: dict = {"files": seg["files"], "stats": seg.get("stats", {})}
    if seg.get("blooms"):
        detail["blooms"] = seg["blooms"]
    if seg.get("dvs"):
        detail["dvs"] = seg["dvs"]
    if seg.get("rows"):
        # row tracking: per-file [segment-relative offset, count] —
        # immutable once staged (only the head's row_base shifts on a
        # commit race)
        detail["rows"] = seg["rows"]
    if seg.get("rid"):
        detail["rid"] = seg["rid"]
    if seg.get("cvs"):
        # per-file __row_cv ranges (sub-segment pruning for
        # changed_rows_since) — immutable detail, like stats
        detail["cvs"] = seg["cvs"]
    os.makedirs(os.path.join(table, _MANIFESTS), exist_ok=True)
    tmp = _seg_detail_path(table, ref) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(detail, f)
    os.replace(tmp, _seg_detail_path(table, ref))
    nbytes = 0
    for rel in seg["files"]:
        try:
            nbytes += os.path.getsize(os.path.join(table, rel))
        except FileNotFoundError:
            pass  # racing vacuum of a superseded lineage
    head = {
        "ref": ref,
        "schema": seg["schema"],
        "n_files": len(seg["files"]),
        "bytes": nbytes,
        "summary": _seg_summary(seg.get("stats", {}), len(seg["files"])),
        # union over files (summary keeps only all-file columns): the
        # stat/bloom SURFACE rewrites must re-record, without detail I/O
        "stats_cols": sorted(
            {c for fs in seg.get("stats", {}).values() for c in fs}
        ),
    }
    blooms = seg.get("blooms", {})
    if blooms:
        head["bloom_cols"] = sorted(
            {c for fb in blooms.values() for c in fb}
        )
        head["bloom_bytes"] = sum(
            int(b["m"]) // 8 for fb in blooms.values() for b in fb.values()
        )
    if seg.get("dvs"):
        head["dv_rows"] = sum(
            int(v.get("n", 0)) for v in seg["dvs"].values()
        )
    if seg.get("rows"):
        # head-level so the commit loop can mint/adopt row_base without
        # opening the detail it just wrote
        head["rows_minted"] = sum(n for _, n in seg["rows"].values())
        if seg.get("row_base") is not None:
            head["row_base"] = seg["row_base"]
    elif seg.get("rid"):
        head["rows_minted"] = 0
    if "cv" in seg:
        head["cv"] = seg["cv"]
    return head


def _shard_manifest(table: str, manifest: dict) -> dict:
    """The compact root for serialization: every full segment becomes a
    head whose detail was just written; segments already carried as
    heads pass through untouched (the O(1)-per-old-segment append path).
    The flat ``files`` list never reaches here (see ``_NOT_CARRIED``)."""
    heads = [
        s if _is_seg_head(s) else _write_seg_detail(table, s)
        for s in manifest["segments"]
    ]
    return {**manifest, "segments": heads}


def _segments(manifest: dict) -> list[dict]:
    """Commit's file groups; legacy manifests become one synthetic
    segment carrying the table schema."""
    if "segments" in manifest:
        return manifest["segments"]
    return [
        {
            "files": manifest["files"],
            "schema": manifest["schema"],
            "stats": manifest.get("file_stats", {}),
        }
    ]


def _advance_pointer(table: str, version: int) -> None:
    """Best-effort monotonic cache update (readers never trust it
    blindly, see _read_pointer)."""
    cur = None
    try:
        with open(os.path.join(table, _LATEST)) as f:
            cur = int(f.read().strip())
    except (FileNotFoundError, ValueError):
        pass
    if cur is not None and cur >= version:
        return
    ppath = os.path.join(table, _LATEST)
    tmp = f"{ppath}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        f.write(str(version))
    os.replace(tmp, ppath)


def _try_commit(table: str, version: int, manifest: dict) -> bool:
    """PUT-IF-ABSENT commit of ``manifest`` as version N: stage to tmp,
    publish with os.link (atomic, fails if v{N}.json exists). True iff
    this writer won version N.

    The serialized root is SHARDED: full segments are spilled to
    immutable per-segment detail sidecars (files + per-file stats +
    blooms) and the root keeps only heads (ref + schema + coarse
    summary) — so root size is O(#segments), not O(#files), and an
    append that carries heads forward rewrites NO detail bytes. A lost
    race may orphan freshly-written sidecars; vacuum sweeps them by
    age, exactly like staged ``.tmp`` manifests."""
    os.makedirs(os.path.join(table, _MANIFESTS), exist_ok=True)
    mpath = _manifest_path(table, version)
    tmp = f"{mpath}.{uuid.uuid4().hex}.tmp"
    with open(tmp, "w") as f:
        json.dump(_shard_manifest(table, manifest), f)
    try:
        os.link(tmp, mpath)
    except FileExistsError:
        os.remove(tmp)
        return False
    except FileNotFoundError:
        # a concurrent vacuum swept our staged tmp (possible only when it
        # outlived the retention age, i.e. this writer stalled for that
        # long) — nothing was published, so treat it as a lost race and
        # let the caller restage
        return False
    os.remove(tmp)
    _advance_pointer(table, version)
    return True


#: What a version-0 commit starts from. Every later commit starts from its
#: parent's root instead (Delta's rule: a commit is a set of changes to the
#: previous snapshot, and table metadata carries over unless one changes it).
_ROOT_DEFAULTS = {
    "segments": [],
    "schema": None,
    "schema_evolved": False,
    "aliases": {},
    "layout": None,
    "constraints": {},
    "generated": {},
    "unique": {},
    "identity": {},
    "defaults": {},
    "row_high": 0,
    "props": {},
    "extra": {},
}
#: Root keys that never carry: ``metrics`` describe exactly one commit, and
#: the flat ``files``/``file_stats`` are the legacy form of ``segments``.
_NOT_CARRIED = ("metrics", "files", "file_stats")


def _carried_root(root: dict) -> dict:
    """``root`` as the starting point of a new commit: defaults filled in,
    a legacy flat file list folded into its segment, per-commit keys
    dropped."""
    out = {**_ROOT_DEFAULTS, **root, "segments": _segments(root)}
    for k in _NOT_CARRIED:
        out.pop(k, None)
    return out


def _commit(table: str, changes: Callable, lost: str) -> "int | None":
    """The one optimistic commit loop: read the latest root, ask
    ``changes(prev, base)`` for the fields this commit sets (``prev`` is
    the parent version or None, ``base`` its :func:`_carried_root`), and
    put-if-absent ``{**base, **changes}`` as the next version; a lost link
    race re-reads and asks again. ``changes`` may raise to refuse (e.g. a
    conflict it cannot rebase) or return None when there is nothing to
    commit. Raises :class:`CommitConflict` with ``lost`` after 20 lost
    races."""
    for _ in range(20):
        prev = _read_pointer(table)
        base = (
            dict(_ROOT_DEFAULTS)
            if prev is None
            else _carried_root(_read_manifest_root(table, prev))
        )
        upd = changes(prev, base)
        if upd is None:
            return None
        version = 0 if prev is None else prev + 1
        manifest = {
            **base,
            **upd,
            "version": version,
            "parent": prev,
            "committed_at": time.time(),
        }
        if _try_commit(table, version, manifest):
            return version
    raise CommitConflict(lost)


def latest_version(table: str) -> int | None:
    return _read_pointer(table)


def manifest_info(table: str, version: int | None = None) -> dict:
    """The (latest unless given) manifest minus the file lists — version,
    mode, parent, schema, committed_at, and caller ``extra``."""
    if version is None:
        version = _read_pointer(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    m = dict(_read_manifest_root(table, version))
    m.pop("files", None)
    m.pop("segments", None)
    return m


def _schema_fields(schema_json: dict) -> dict[str, dict]:
    return {f["name"]: f for f in schema_json.get("fields", [])}


def _widened(a: object, b: object) -> object | None:
    """The wider of two Spark type-json values if losslessly compatible,
    else None. Complex (non-string) types must match exactly."""
    if a == b:
        return a
    if not (isinstance(a, str) and isinstance(b, str)):
        return None
    if a in _INT_RANK and b in _INT_RANK:
        return a if _INT_RANK[a] >= _INT_RANK[b] else b
    if a in _FLOAT_RANK and b in _FLOAT_RANK:
        return a if _FLOAT_RANK[a] >= _FLOAT_RANK[b] else b
    # int-family -> double is lossless ONLY up to integer (int32 fits a
    # float64's 53-bit mantissa exactly); long -> double silently rounds
    # values above 2**53 (9007199254740993 reads back ...992), which is
    # why Delta's type-widening feature excludes it too — refuse it here
    # for both ALTER widening and the append path's schema merge.
    small_int = {"byte", "short", "integer"}
    if (a in small_int and b == "double") or (b in small_int and a == "double"):
        return "double"
    # date -> timestamp_ntz (Delta's temporal widening, r12): every
    # date widens to its midnight wall-clock timestamp — deterministic
    # and timezone-free on BOTH read paths (Arrow casts date32 ->
    # timestamp[us] at midnight; Spark's date -> timestamp_ntz cast is
    # the same wall time). date -> timestamp (ltz) is NOT offered:
    # Spark's cast to an instant goes through the SESSION timezone, so
    # two readers with different sessions would disagree about the
    # stored value — the same read-surface-divergence reason Delta
    # restricts its widening to timestamp_ntz.
    if {a, b} == {"date", "timestamp_ntz"}:
        return "timestamp_ntz"
    d = _dec_params(a), _dec_params(b)
    if d[0] and d[1] and d[0][1] == d[1][1]:
        # decimal(p,s) -> decimal(p+k,s): same scale, precision growth
        # only — every old value is exactly representable (Delta/Iceberg
        # v3 both ship this widening). Scale changes shift the physical
        # unscaled integers and are refused.
        return a if d[0][0] >= d[1][0] else b
    return None


def _dec_params(t: object) -> "tuple[int, int] | None":
    """(precision, scale) when ``t`` is a decimal type-json string."""
    if isinstance(t, str) and t.startswith("decimal("):
        p, s = t[len("decimal(") : -1].split(",")
        return int(p), int(s)
    return None


def _merge_schemas(prev: dict, new: dict, where: str) -> tuple[dict, bool]:
    """(merged schema json, evolved?): union of columns, common columns
    widened; incompatible changes raise (narrowing silently would corrupt
    the read path for every older segment)."""
    prev_fields = _schema_fields(prev)
    merged: list[dict] = []
    evolved = False
    seen = set()
    for f in prev.get("fields", []):
        name = f["name"]
        seen.add(name)
        if name not in _schema_fields(new):
            merged.append(f)
            evolved = True  # new batch lacks an old column
            continue
        nf = _schema_fields(new)[name]
        wide = _widened(nf["type"], f["type"])
        if wide is None:
            raise ValueError(
                f"{where}: incompatible type change for column {name!r}: "
                f"{f['type']!r} -> {nf['type']!r} (only lossless widening "
                "is supported)"
            )
        if wide != f["type"] or wide != nf["type"]:
            evolved = True
        merged.append({**f, "type": wide, "nullable": True})
    for f in new.get("fields", []):
        if f["name"] not in seen:
            merged.append({**f, "nullable": True})
            evolved = True
    return {**prev, "fields": merged}, evolved


def _json_val(v):
    """Stats values as JSON-native, ORDER-PRESERVING encodings: dates/
    timestamps via isoformat (lexicographic == chronological); decimals
    as floats (float() is monotone over Decimal, so order survives —
    EXACTNESS does not, which is why :func:`_collect_file_stats` widens
    stored decimal bounds outward one ULP: recorded [min,max] is then a
    superset of the true range and pruning stays conservative no matter
    which way a user bound's own float conversion rounds). Bytes have
    no lossless order-preserving JSON form ('replace' decoding can
    reorder), so binary columns never get stats — callers compare bounds
    through this same mapping, keeping pruning type-safe."""
    import decimal

    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    return v


def _widen_stat_bounds(lo, hi):
    """Outward-widened JSON encodings of a file's [lo, hi] for types
    whose JSON form is inexact (decimals -> floats): one ULP down on the
    min, one ULP up on the max, so the recorded range is a SUPERSET of
    the true one and data skipping never turns semantic."""
    import decimal
    import math

    if isinstance(lo, decimal.Decimal):
        f = float(lo)
        lo = math.nextafter(f, -math.inf) if f != lo else f
    if isinstance(hi, decimal.Decimal):
        f = float(hi)
        hi = math.nextafter(f, math.inf) if f != hi else f
    return lo, hi


def _collect_file_stats(
    table: str, rel_files: list[str], cols: list[str]
) -> dict[str, dict[str, list]]:
    """relpath → {col: [min, max]} from parquet footers (driver-side,
    O(#files) metadata reads; values JSON-native so manifests stay
    engine-agnostic). Binary columns are skipped — see _json_val."""
    import json as _json

    import pyarrow.parquet as pq

    def _dec_scale(column_schema) -> int | None:
        """Scale when the column's logical type is DECIMAL, else None.
        Spark writes decimal(p<=18) as INT32/INT64 physical, which this
        container's pyarrow cannot decode through ``statistics.min``
        (ArrowNotImplementedError) — but ``min_raw``/``max_raw`` expose
        the UNSCALED integer (bytes big-endian two's-complement for the
        FLBA encoding), which rescales exactly."""
        lt = column_schema.logical_type
        if lt is None or lt.type != "DECIMAL":
            return None
        return int(_json.loads(lt.to_json())["scale"])

    def _dec_val(raw, scale: int):
        import decimal

        if isinstance(raw, bytes):
            raw = int.from_bytes(raw, "big", signed=True)
        return decimal.Decimal(raw).scaleb(-scale)

    out: dict[str, dict[str, list]] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        stats: dict[str, list] = {}
        for c in cols:
            if c not in idx:
                continue
            scale = _dec_scale(md.schema.column(idx[c]))
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(idx[c]).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                if scale is not None:
                    mn = _dec_val(s.min_raw, scale)
                    mx = _dec_val(s.max_raw, scale)
                else:
                    mn, mx = s.min, s.max
                if isinstance(mn, bytes) or isinstance(mx, bytes):
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if ok and lo is not None:
                lo, hi = _widen_stat_bounds(lo, hi)
                stats[c] = _trunc_string_stat(_json_val(lo), _json_val(hi))
        if stats:
            out[rel] = stats
    return out


def _collect_file_cv_stats(
    table: str, rel_files: list[str]
) -> dict[str, dict]:
    """relpath → {"lo", "hi", "nulls"} over the materialized
    ``__row_cv`` column (footer-only, like :func:`_collect_file_stats`)
    — the per-file commit-version range that lets
    :func:`changed_rows_since` prune INSIDE a rewritten segment: a
    compaction mixing years-old rows with one fresh batch carries head
    ``cv`` = the rewrite's version, but each FILE's carried versions
    bound what an incremental sync can find there. ``nulls`` counts
    rows whose cv coalesces to the head cv at read (rows this rewrite
    itself set) — any null forces the file to stay in scope. Files
    whose footer can't prove the range are simply omitted (kept)."""
    import pyarrow.parquet as pq

    out: dict[str, dict] = {}
    for rel in rel_files:
        md = pq.ParquetFile(os.path.join(table, rel)).metadata
        idx = {
            md.schema.column(i).name: i for i in range(md.num_columns)
        }
        if ROW_CV_COL not in idx:
            continue
        lo = hi = None
        nulls = 0
        ok = True
        for rg in range(md.num_row_groups):
            cmd = md.row_group(rg).column(idx[ROW_CV_COL])
            s = cmd.statistics
            if s is None or s.null_count is None:
                ok = False
                break
            nulls += s.null_count
            if s.has_min_max:
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            elif s.null_count != cmd.num_values:
                ok = False  # non-null values with no bounds: unprovable
                break
        if ok:
            out[rel] = {"lo": lo, "hi": hi, "nulls": nulls}
    return out


#: Longest string stored verbatim in manifest min/max stats. Past it,
#: the LOWER bound truncates (a prefix is always <= the full value) and
#: the UPPER bound truncates-then-increments its last character so it
#: stays a strict upper bound — Delta's dataSkippingStringPrefixLength
#: idea. Pruning gets coarser, never wrong; without this, stats on a
#: document-text column would embed whole documents in every manifest.
STAT_STRING_MAX = 64


def _trunc_string_stat(lo, hi) -> list:
    if not (isinstance(lo, str) and isinstance(hi, str)):
        return [lo, hi]
    if len(lo) > STAT_STRING_MAX:
        lo = lo[:STAT_STRING_MAX]
    if len(hi) > STAT_STRING_MAX:
        cut = hi[:STAT_STRING_MAX]
        # increment the rightmost non-maximal character and drop the
        # tail: the result compares STRICTLY greater than every string
        # sharing the prefix. All-U+10FFFF prefixes (practically
        # impossible) keep the full value — correct, just not short.
        for i in range(len(cut) - 1, -1, -1):
            if ord(cut[i]) < 0x10FFFF:
                nxt = ord(cut[i]) + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    # never mint a lone surrogate (U+D7FF + 1): it is
                    # unencodable as UTF-8 and would crash every later
                    # encode of the stored bound (e.g. _stat_rank).
                    # U+E000 is the next real codepoint — still a
                    # strict upper bound for any prefix <= U+D7FF.
                    nxt = 0xE000
                hi = cut[:i] + chr(nxt)
                break
        else:
            pass  # keep full hi: still a valid upper bound
    return [lo, hi]


def _collect_file_blooms(
    spark: SparkSession, table: str, rel_files: list[str], cols: list[str]
) -> dict[str, dict[str, dict]]:
    """relpath → {col: bloom dict} (sources/bloom.py sketches) for the
    just-written files. The per-file sketch is built EXECUTOR-side — one
    file per task, each opened directly with pyarrow, so a 1000-file
    commit blooms in parallel and the driver receives only ~1 KiB per
    file/column, the same metadata-only footprint as the min/max stats.

    pyarrow (NOT pandas) supplies the values: Arrow→pandas degrades a
    nullable int64 column to float64, so an id >= 2**53 would tokenize
    as 'f:...' at build time while the probe side's Python int
    tokenizes as 'i:...' — a silent FALSE NEGATIVE that breaks the
    zero-false-negative pruning contract. ``Table.column(c).drop_null()
    .to_pylist()`` yields exact Python ints at any magnitude."""
    import json as _json

    if not rel_files or not cols:
        return {}
    tbl = table
    want = list(cols)
    # literal-array range plan instead of createDataFrame + repartition
    # (same rationale as _dv_positions_df: a tiny createDataFrame costs
    # ~300 ms of session round-trips and the repartition a shuffle)
    rels_arr = F.array(*[F.lit(r) for r in rel_files])
    src = spark.range(0, len(rel_files), 1, min(len(rel_files), 64)).select(
        F.element_at(rels_arr, (F.col("id") + 1).cast("int")).alias("rel")
    )

    def per_files(it):
        import pandas as pd
        import pyarrow.parquet as pq

        from wrtd_etl_spark.sources.bloom import build as _bloom_build

        for pdf in it:
            out = []
            for rel in pdf["rel"]:
                path = os.path.join(tbl, rel)
                names = [
                    c for c in want if c in pq.read_schema(path).names
                ]
                if not names:
                    continue
                t = pq.read_table(path, columns=names)
                for c in names:
                    bl = _bloom_build(
                        t.column(c).drop_null().to_pylist()
                    )
                    if bl is not None:
                        out.append((rel, c, _json.dumps(bl)))
            yield pd.DataFrame(out, columns=["rel", "c", "bloom"])

    rows = src.mapInPandas(
        per_files, schema="rel string, c string, bloom string"
    ).collect()
    out: dict[str, dict[str, dict]] = {}
    for r in rows:
        out.setdefault(r.rel, {})[r.c] = _json.loads(r.bloom)
    return out


#: Table-wide cap on manifest bloom bytes (env-overridable). At ~800k
#: files × 1-128 KiB per file/column, unbounded sketches grow the
#: metadata layer to GBs; past the budget, NEW files' blooms are
#: OR-folded to half size (zero-false-negative preserving) until they
#: fit, and dropped entirely (pruning degrades to stats-only, never
#: wrong) if even floor-sized sketches overflow.
BLOOM_BUDGET_BYTES = int(
    os.environ.get("SPARK_GRAFT_BLOOM_BUDGET", 256 << 20)
)


def _table_bloom_bytes(table: str, version: "int | None" = None) -> int:
    """Total bloom sidecar bytes the (latest unless given) version
    references — from root heads alone, no detail I/O."""
    if version is None:
        version = _read_pointer(table)
    if version is None:
        return 0
    return sum(
        _seg_bloom_bytes(s)
        for s in _segments(_read_manifest_root(table, version))
    )


def _seg_bloom_bytes(seg: dict) -> int:
    """Bloom bytes of one segment: a head records its total; an inline
    (resolved) segment carries the sketches themselves."""
    if _is_seg_head(seg):
        return seg.get("bloom_bytes", 0)
    return sum(
        int(b["m"]) // 8
        for fb in seg.get("blooms", {}).values()
        for b in fb.values()
    )


def _enforce_bloom_budget(
    table: str, blooms: dict, existing_bytes: int
) -> dict:
    """Degrade the NEW files' blooms until ``existing + new`` fits
    :data:`BLOOM_BUDGET_BYTES`: fold (halve) every sketch per round —
    zero false negatives survive folding (sources/bloom.py:fold) — and
    if the floor still overflows, drop the new blooms with a warning
    (absent bloom = always keep: pruning weakens, correctness holds)."""
    if not blooms:
        return blooms
    from .bloom import fold as _fold

    def nbytes(bl):
        return sum(
            int(b["m"]) // 8 for fb in bl.values() for b in fb.values()
        )

    while existing_bytes + nbytes(blooms) > BLOOM_BUDGET_BYTES:
        folded_any = False
        out: dict = {}
        for f, fb in blooms.items():
            nf = {}
            for c, b in fb.items():
                fb2 = _fold(b)
                if fb2 is not None:
                    nf[c] = fb2
                    folded_any = True
                else:
                    nf[c] = b
            out[f] = nf
        blooms = out
        if not folded_any:
            import warnings

            warnings.warn(
                f"{table}: bloom byte budget exhausted "
                f"({existing_bytes}B existing, cap {BLOOM_BUDGET_BYTES}B)"
                " — new files committed WITHOUT bloom sketches; point "
                "pruning degrades to stats-only on them. Raise "
                "SPARK_GRAFT_BLOOM_BUDGET or compact to reclaim.",
                stacklevel=3,
            )
            return {}
    return blooms


# ---------------------------------------------------------------------------
# Deletion vectors (merge-on-read deletes)
# ---------------------------------------------------------------------------
#: A DV delete collects the matching rows' (file, row_index) positions on
#: the driver; past this many positions the copy-on-write path is the
#: better plan anyway (the rewrite is row-proportional too, and it
#: reclaims the bytes) — ``strategy="auto"`` falls back.
DV_MAX_POSITIONS = int(
    os.environ.get("SPARK_GRAFT_DV_MAX_POSITIONS", 5_000_000)
)
#: Up to this many TOTAL deleted positions across the files a read
#: touches, the driver parses the sidecars and the vectors ride the plan
#: as literals (:func:`_dv_filter`): no Python worker, no join. Above it
#: the positions parse executor-side (``mapInPandas``) and anti-join —
#: the only path that scales to ``DV_MAX_POSITIONS``. Reading a 200k-row,
#: 8-file table (local[4]), literals took 0.27 s against the anti-join's
#: 0.83 s at 400 positions, 0.37 against 0.67 s at 4,000, and lost at
#: 16,666 (0.95 against 0.72 s): the cap sits below the crossover.
DV_LITERAL_POSITIONS = 4096
#: Below this many TOTAL deleted positions the read-side anti-join
#: broadcasts the position set; above it, a shuffle join.
DV_BROADCAST_POSITIONS = 2_000_000


def _dv_pack(positions) -> str:
    """Sorted row indexes → base64 little-endian int64 — the sidecar
    encoding. Positions are parquet ``_metadata.row_index`` values,
    stable for immutable files by construction."""
    import numpy as np

    arr = np.asarray(sorted(set(int(p) for p in positions)), dtype="<i8")
    import base64

    return base64.b64encode(arr.tobytes()).decode()


def _dv_unpack(b64: str):
    import base64

    import numpy as np

    return np.frombuffer(base64.b64decode(b64), dtype="<i8")


def _dv_sidecar_path(table: str, ref: str) -> str:
    return os.path.join(table, _MANIFESTS, ref)


def _write_dv_sidecar(table: str, files: dict[str, list]) -> str:
    """Persist {relfile: [cumulative positions]} as an immutable
    ``dv-<uuid>.json`` sidecar; returns the ref. Same crash contract as
    data/segment sidecars: written before the root link, orphaned by a
    lost race, swept by vacuum."""
    ref = f"dv-{uuid.uuid4().hex}.json"
    doc = {
        rel: {"pos": _dv_pack(pos), "n": len(set(map(int, pos)))}
        for rel, pos in files.items()
    }
    os.makedirs(os.path.join(table, _MANIFESTS), exist_ok=True)
    tmp = _dv_sidecar_path(table, ref) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(doc, f)
    os.replace(tmp, _dv_sidecar_path(table, ref))
    return ref


def _seg_dvs(seg: dict) -> dict[str, dict]:
    """{relfile: {"ref", "n"}} for one RESOLVED segment ({} if none)."""
    return seg.get("dvs", {})


# ---------------------------------------------------------------------------
# Row tracking (row lineage for rewrite-exact CDC)
# ---------------------------------------------------------------------------
#: Physical column name materialized into REWRITTEN files so carried rows
#: keep their ids across compaction/purge/CoW DML. Hidden from every
#: reader surface (explicit-schema reads ignore it; the inference fast
#: path drops it). Delta Lake's row tracking is the same split: fresh
#: files get a manifest-assigned base (``row_base`` in the segment head +
#: per-file ``[offset, n]`` in the immutable detail — ids are pure
#: metadata, so a lost commit race just re-mints the base, never
#: restages data), while rewrites materialize the ids they must preserve.
ROW_ID_COL = "__row_id"
#: Public column name row-id-aware scans attach.
ROW_ID_OUT = "_row_id"
#: Physical column materialized into REWRITTEN files so CARRIED rows keep
#: the version that last set their values. Fresh/modified rows leave it
#: NULL and the read side coalesces to their segment's commit version
#: (``cv`` on the head — pure metadata, stamped in the commit loop like
#: ``row_base``). So ``_commit_version`` means: the commit that last
#: INSERTED or UPDATED the row's values — maintenance rewrites
#: (compact/recluster/purge) and deletes of OTHER rows never bump it.
ROW_CV_COL = "__row_cv"
#: Public column name commit-version-aware scans attach.
ROW_CV_OUT = "_commit_version"
#: Sentinel materialized for CARRIED rows whose source commit version is
#: unknown (minted before the cv feature). A carried NULL would be
#: indistinguishable from "this rewrite set my values" and the read-side
#: coalesce would promote legacy rows to the maintenance commit's
#: version; the sentinel keeps "unknown" distinct across any chain of
#: rewrites and maps back to NULL at every public surface.
ROW_CV_UNKNOWN = -1


def _cv_public(col):
    """Map the internal unknown-cv sentinel back to the documented NULL
    at a public surface."""
    return F.when(col == ROW_CV_UNKNOWN, F.lit(None).cast("long")).otherwise(
        col
    )


def _collect_file_rows(table: str, files: list[str]) -> dict[str, int]:
    """Exact per-file row counts from the parquet footers — zero data
    I/O, threaded (commits stage tens of files, not thousands)."""
    import pyarrow.parquet as pq
    from concurrent.futures import ThreadPoolExecutor

    def _n(rel: str) -> int:
        return pq.ParquetFile(os.path.join(table, rel)).metadata.num_rows

    with ThreadPoolExecutor(max_workers=8) as ex:
        return dict(zip(files, ex.map(_n, files)))


def _attach_row_offsets(seg: dict, table: str) -> dict:
    """Stamp row-tracking metadata onto a freshly-staged segment: every
    file not already id-materialized gets a ``[segment-relative offset,
    row count]`` entry under ``rows`` (offsets cumsum'd in file order —
    they never change after staging, so they live in the immutable
    detail; only the segment's absolute ``row_base`` is minted at commit
    time). ``rows_minted`` (head-level) is what the commit loop adds to
    the table's ``row_high``."""
    rid = set(seg.get("rid", []))
    counts = _collect_file_rows(
        table, [f for f in seg["files"] if f not in rid]
    )
    rows: dict[str, list] = {}
    off = 0
    for f in seg["files"]:
        if f in rid:
            continue
        n = counts[f]
        rows[f] = [off, n]
        off += n
    out = {**seg, "rows": rows, "rows_minted": off}
    return out


def _seg_row_tracked(seg: dict) -> bool:
    """True when EVERY file of a resolved segment carries row lineage:
    a minted ``rows`` entry (needs the head's ``row_base``) or a
    materialized ``__row_id`` column (listed in ``rid``)."""
    rows = seg.get("rows", {})
    rid = set(seg.get("rid", []))
    if not all(f in rows or f in rid for f in seg["files"]):
        return False
    minted = [f for f in seg["files"] if f in rows and f not in rid]
    return not minted or seg.get("row_base") is not None


def _assign_row_bases(segments: list[dict], row_high: int):
    """Mint absolute ``row_base`` values for the fresh segments of a
    commit (those carrying ``rows_minted`` but no ``row_base`` yet) from
    the table's high-water mark. Pure metadata — called INSIDE the
    commit retry loops, so a lost race re-mints from the winner's mark
    without touching any staged byte. Returns (segments, new_high)."""
    out = []
    high = row_high
    for s in segments:
        if s.get("row_base") is None and s.get("rows_minted"):
            s = {**s, "row_base": high}
            high += s["rows_minted"]
        out.append(s)
    return out, high


def _dv_literal_positions(table: str, dv_map) -> "dict[str, list] | None":
    """{file basename: positions} parsed on the driver when the
    manifest-recorded total is at most ``DV_LITERAL_POSITIONS``, else
    None (the vectors stay executor-side). Each sidecar opens once."""
    if sum(int(v.get("n", 0)) for v in dv_map.values()) > DV_LITERAL_POSITIONS:
        return None
    by_ref: dict[str, list] = {}
    for rel, v in dv_map.items():
        by_ref.setdefault(v["ref"], []).append(rel)
    out: dict[str, list] = {}
    for ref, rels in by_ref.items():
        with open(_dv_sidecar_path(table, ref)) as f:
            doc = json.load(f)
        for rel in rels:
            out[os.path.basename(rel)] = _dv_unpack(doc[rel]["pos"]).tolist()
    return out


def _dv_positions_df(spark: SparkSession, table: str, dv_map) -> DataFrame:
    """(__dv_base, __dv_pos) rows for every position in ``dv_map``
    ({relfile: {"ref", "n"}}) — the path for vectors above
    ``DV_LITERAL_POSITIONS``. Positions parse EXECUTOR-side from the
    sidecars (mapInPandas over refs — the driver never loads them);
    the result is broadcast-hinted when the manifest-recorded total is
    small. File basenames are globally unique (uuid-named writes)."""
    total = sum(int(v.get("n", 0)) for v in dv_map.values())
    refs = sorted(
        {(v["ref"], os.path.basename(rel)) for rel, v in dv_map.items()}
    )
    # literal-array range plan instead of createDataFrame + repartition:
    # a tiny spark.createDataFrame costs ~300 ms of session round-trips
    # in Spark 4 and the repartition added a shuffle stage; range() with
    # explicit numSlices spreads one ref per task with neither.
    refs_arr = F.array(
        *[
            F.struct(F.lit(r).alias("ref"), F.lit(b).alias("base"))
            for r, b in refs
        ]
    )
    src = (
        spark.range(0, len(refs), 1, min(len(refs), 32))
        .select(
            F.element_at(
                refs_arr, (F.col("id") + 1).cast("int")
            ).alias("__x")
        )
        .select("__x.*")
    )
    tbl = table

    def parse(it):
        import pandas as pd

        for pdf in it:
            out_b, out_p = [], []
            by_ref: dict[str, set] = {}
            for ref, base in zip(pdf["ref"], pdf["base"]):
                by_ref.setdefault(ref, set()).add(base)
            for ref, bases in by_ref.items():
                with open(os.path.join(tbl, _MANIFESTS, ref)) as f:
                    doc = json.load(f)
                for rel, entry in doc.items():
                    b = os.path.basename(rel)
                    if b not in bases:
                        continue
                    for p in _dv_unpack(entry["pos"]).tolist():
                        out_b.append(b)
                        out_p.append(p)
            yield pd.DataFrame({"__dv_base": out_b, "__dv_pos": out_p})

    dv_df = src.mapInPandas(parse, "__dv_base string, __dv_pos long")
    if total <= DV_BROADCAST_POSITIONS:
        dv_df = F.broadcast(dv_df)
    return dv_df


def _dv_filter(
    spark: SparkSession,
    table: str,
    df: DataFrame,
    dv_map,
    *,
    take: bool = False,
    minus=None,
    base: str = "_metadata.file_name",
    pos: str = "_metadata.row_index",
) -> DataFrame:
    """``df`` without the rows at the (file basename, row index)
    positions of ``dv_map`` ({relfile: {"ref", "n"}}) — or, with
    ``take=True``, only those rows, less the positions ``minus`` (an
    earlier vector of the same files) already held: a commit's vector
    delta. ``base``/``pos`` name the basename and row-index columns; the
    default is the raw parquet scan's ``_metadata``, so ``df`` must then
    still be that scan.

    Every vector consumer applies vectors here, so this is the one place
    that picks how. Up to ``DV_LITERAL_POSITIONS`` recorded positions
    the driver parses the sidecars and the positions ride the plan as
    literals: ``row_index IN (...) AND basename:row_index IN (...)``,
    two flat Catalyst ``InSet``s whatever the file count (the row-index
    test runs first, so only rows at a vectored position build the
    string key). The lists are parsed as one SQL
    string: a ``Column.isin`` of a few thousand values pays a JVM call
    per value, seconds on the driver. Above the constant the positions
    parse executor-side (:func:`_dv_positions_df`) and join — the only
    path that scales to ``DV_MAX_POSITIONS``."""
    if not dv_map:
        return df.filter(F.lit(False)) if take else df
    lit = _dv_literal_positions(table, dv_map)
    sub = _dv_literal_positions(table, minus) if minus else {}
    if lit is not None and sub is not None:
        hits = {(b, p) for b, ps in lit.items() for p in ps} - {
            (b, p) for b, ps in sub.items() for p in ps
        }
        if not hits:
            hit = F.lit(False)
        else:
            # basenames are uuid-named part files: no quote to escape
            rows = ",".join(map(str, sorted({p for _, p in hits})))
            keys = ",".join(f"'{b}:{p}'" for b, p in sorted(hits))
            hit = F.expr(
                f"{pos} IN ({rows}) AND "
                f"concat({base}, ':', CAST({pos} AS STRING)) IN ({keys})"
            )
        return df.filter(hit if take else ~hit)
    dv_df = _dv_positions_df(spark, table, dv_map)
    if minus:
        dv_df = dv_df.join(
            _dv_positions_df(spark, table, minus),
            ["__dv_base", "__dv_pos"],
            "left_anti",
        )
        total = sum(int(v.get("n", 0)) for v in dv_map.values())
        if total <= DV_BROADCAST_POSITIONS:
            dv_df = F.broadcast(dv_df)
    keyed = df.withColumn("__dv_base", F.col(base)).withColumn(
        "__dv_pos", F.col(pos)
    )
    return keyed.join(
        dv_df, ["__dv_base", "__dv_pos"], "inner" if take else "left_anti"
    ).drop("__dv_base", "__dv_pos")


def _point_keeps(st, bl, vals) -> bool:
    """File-keep decision for one column of a point filter: the file
    survives unless its [min,max] excludes EVERY value or its bloom
    contains NONE of them. Type-mismatched comparisons keep the file
    (pruning must never be semantic)."""
    if st is not None and vals:
        try:
            enc = [_cmp_val(v) for v in vals]
            if all(
                e is not None and (e < st[0] or e > st[1]) for e in enc
            ):
                return False
        except TypeError:
            pass
    if bl is not None and vals:
        from .bloom import contains_any

        if not contains_any(bl, list(vals)):
            return False
    return True


def _constraint_checks(constraints: dict[str, str]) -> list[dict]:
    """Persisted CHECK constraints as operators/quality.py row checks.
    Delta semantics: a row violates only when the expression evaluates
    to FALSE — NULL passes (pair with an explicit IS NOT NULL check to
    reject NULLs)."""
    return [
        {
            "kind": "row",
            "name": f"check:{name}",
            "bad": ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)),
        }
        for name, expr in sorted(constraints.items())
    ]


def _table_constraints(table: str) -> dict[str, str]:
    """The latest version's persisted CHECK constraints ({} if none or
    the table doesn't exist yet)."""
    p = _read_pointer(table)
    if p is None:
        return {}
    return _read_manifest_root(table, p).get("constraints", {})


def _table_generated(table: str) -> dict[str, str]:
    """The latest version's GENERATED ALWAYS AS columns
    ({column: SQL expression}; {} if none or no table)."""
    p = _read_pointer(table)
    if p is None:
        return {}
    return _read_manifest_root(table, p).get("generated", {})


def _table_identity(table: str) -> dict[str, dict]:
    """The latest version's IDENTITY columns
    ({column: {"start", "step", "high"}}; {} if none or no table)."""
    p = _read_pointer(table)
    if p is None:
        return {}
    return _read_manifest_root(table, p).get("identity", {})


def _assign_identity(
    df: DataFrame, name: str, spec: dict
) -> tuple[DataFrame, int]:
    """``df`` + column ``name`` = CONTIGUOUS ids
    ``high+step, high+2*step, …`` (no gaps, no duplicates) assigned
    distributed: pin the batch (localCheckpoint — the two passes below
    must see identical partitions), collect ONE row per partition
    (bounded driver data), exclusive-prefix the counts driver-side, and
    add a per-partition row_number — one exchange over the BATCH, never
    a global single-task sort. Returns (df_with_ids, row_count).

    monotonically_increasing_id is famously NOT contiguous (63-bit
    partition-salted); it serves only as the stable within-partition
    order under the row_number window."""
    from pyspark.sql import Window

    high, step = int(spec["high"]), int(spec["step"])
    df = df.localCheckpoint(eager=False)
    src = df.withColumn("__pid", F.spark_partition_id())
    counts = {
        r["__pid"]: r["count"]
        for r in src.groupBy("__pid").count().collect()
    }
    n = sum(counts.values())
    if n == 0:
        return df.withColumn(name, F.lit(None).cast("long")), 0
    offsets, acc = {}, 0
    for p in sorted(counts):
        offsets[p] = acc
        acc += counts[p]
    off_map = F.create_map(
        *[
            lit
            for p in sorted(offsets)
            for lit in (F.lit(p), F.lit(offsets[p]))
        ]
    )
    w = Window.partitionBy("__pid").orderBy(F.monotonically_increasing_id())
    out = (
        src.withColumn("__rn", F.row_number().over(w) - 1)
        .withColumn(
            name,
            (
                F.lit(high)
                + (off_map[F.col("__pid")] + F.col("__rn") + 1)
                * F.lit(step)
            ).cast("long"),
        )
        .drop("__pid", "__rn")
    )
    return out, n


def _generated_as_constraints(gen: dict[str, str]) -> dict[str, str]:
    """Generated-column verification expressed as CHECK constraints, so
    every existing gate (write pre-gate + quarantine, rewrite gate, the
    DataSource dual-engine staged-file gate) enforces it unchanged.
    ``IS NOT DISTINCT FROM`` is the null-safe equality both Spark and
    DuckDB parse, and it never yields NULL — CHECK's NULL-passes rule
    cannot exempt a stale value."""
    return {
        # names are validated as plain identifiers at add time — quoted
        # forms differ between the two engines
        f"generated_{name}": f"{name} IS NOT DISTINCT FROM ({expr})"
        for name, expr in gen.items()
    }


def _enforce_constraints_on_files(
    table: str, rel_files: list[str], constraints: dict[str, str]
) -> None:
    """Post-staging constraint gate for writers that stage parquet
    executor-side (the versioned_table DataSource): one scan of the new
    files, refuse the commit on any violation.

    The DataSource writer's ``commit`` runs in a SANDBOXED Python worker
    process with no SparkSession, so the gate is dual-engine: with a
    session (in-process callers) it is one Spark agg scan; without one
    it evaluates the same boolean expression with DuckDB over the staged
    files. FAIL-CLOSED: a constraint that cannot be verified (no
    engine, or an expression outside the ANSI subset both engines parse)
    refuses the commit rather than waving dirty data through — which is
    why constraint expressions should stay plain ANSI comparisons."""
    if not constraints or not rel_files:
        return
    paths = [os.path.join(table, f) for f in rel_files]
    active = SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )
    if active is not None:
        from ..operators.quality import run_checks

        df = active.read.parquet(*paths)
        failed = [
            r
            for r in run_checks(
                df, _constraint_checks(constraints)
            ).collect()
            if not r.passed
        ]
        if failed:
            detail = "; ".join(
                f"{r.check}: {r.violations}/{r.total}" for r in failed
            )
            raise QualityGateViolation(
                f"commit to {table} refused — persisted constraint(s) "
                f"violated: {detail}"
            )
        return
    try:
        import duckdb
    except ImportError as e:  # pragma: no cover - env without duckdb
        raise QualityGateViolation(
            f"commit to {table} refused — persisted constraints "
            f"{sorted(constraints)} cannot be verified in this sandboxed "
            f"writer (no SparkSession, no duckdb): {e}"
        )
    con = duckdb.connect()
    file_list = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    for name, expr in sorted(constraints.items()):
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet([{file_list}]) "
                f"WHERE NOT coalesce(({expr}), TRUE)"
            ).fetchone()[0]
        except Exception as e:
            raise QualityGateViolation(
                f"commit to {table} refused — constraint {name!r} "
                f"({expr!r}) could not be verified in the sandboxed "
                f"writer: {e}; write through write_snapshot instead"
            )
        if n:
            raise QualityGateViolation(
                f"commit to {table} refused — persisted constraint "
                f"check:{name} violated: {n} row(s)"
            )


# UNIQUE constraints: how many distinct batch keys we are willing to
# carry driver-side to point-prune the existence probe; above this the
# probe falls back to a distributed semi-join over the full file set
_UNIQ_POINT_CAP = 50_000


def _table_unique(table: str) -> dict[str, list[str]]:
    """The latest version's persisted UNIQUE constraints
    ({name: [key columns]}; {} if none or the table doesn't exist)."""
    p = _read_pointer(table)
    if p is None:
        return {}
    return _read_manifest_root(table, p).get("unique", {})


def _uniq_spark():
    return SparkSession.getActiveSession() or getattr(
        SparkSession, "_instantiatedSession", None
    )


def _uniq_read(table: str, rel_files: list[str], cols: list[str]):
    """Non-NULL key tuples of ``cols`` in ``rel_files`` — a Spark
    DataFrame with an active session, else a DuckDB relation (the
    sandboxed DataSource-writer commit), else fail closed. SQL UNIQUE
    semantics: a tuple with any NULL component never conflicts."""
    paths = [os.path.join(table, f) for f in rel_files]
    active = _uniq_spark()
    if active is not None:
        return active.read.parquet(*paths).select(*cols).na.drop("any"), None
    try:
        import duckdb
    except ImportError as e:  # pragma: no cover - env without duckdb
        raise UniqueConstraintViolation(
            f"commit to {table} refused — UNIQUE constraint on {cols} "
            f"cannot be verified here (no SparkSession, no duckdb): {e}"
        )
    con = duckdb.connect()
    file_list = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    notnull = " AND ".join(
        '"' + c.replace('"', '""') + '" IS NOT NULL' for c in cols
    )
    rel = con.sql(
        f"SELECT {quoted} FROM read_parquet([{file_list}]) WHERE {notnull}"
    )
    return rel, con


def _uniq_dup_in_files(
    table: str, rel_files: list[str], cols: list[str]
) -> bool:
    """True when some non-NULL key tuple appears more than once WITHIN
    the given files."""
    if not rel_files:
        return False
    keys, con = _uniq_read(table, rel_files, cols)
    if con is None:
        return bool(
            keys.groupBy(*cols)
            .count()
            .filter(F.col("count") > 1)
            .take(1)
        )
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    return bool(
        con.sql(
            f"SELECT 1 FROM ({keys.sql_query()}) GROUP BY {quoted} "
            f"HAVING count(*) > 1 LIMIT 1"
        ).fetchone()
    )


def _uniq_overlap_exists(
    table: str,
    new_rel: list[str],
    existing_rel: list[str],
    cols: list[str],
) -> bool:
    """True when any non-NULL key tuple of the staged files also exists
    in the given existing files."""
    if not new_rel or not existing_rel:
        return False
    new_keys, con = _uniq_read(table, new_rel, cols)
    if con is None:
        old_keys, _ = _uniq_read(table, existing_rel, cols)
        return bool(old_keys.join(new_keys.distinct(), cols, "semi").take(1))
    old_paths = ", ".join(
        "'" + os.path.join(table, f).replace("'", "''") + "'"
        for f in existing_rel
    )
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    notnull = " AND ".join(
        '"' + c.replace('"', '""') + '" IS NOT NULL' for c in cols
    )
    return bool(
        con.sql(
            f"SELECT 1 FROM (SELECT {quoted} FROM read_parquet([{old_paths}]) "
            f"WHERE {notnull}) t SEMI JOIN (SELECT DISTINCT * FROM "
            f"({new_keys.sql_query()})) s USING ({quoted}) LIMIT 1"
        ).fetchone()
    )


def _collect_one_round(df: DataFrame) -> list:
    """``collect()`` a LIMITed plan in ONE job: executeTake's incremental
    partition scheme (1, 4, 16, ... partitions per round) fires a job per
    round whenever the limit is NOT reached early — for a capped
    distinct-key probe that is the common case, so force every partition
    into the first round. The session conf is restored immediately (the
    commit paths are single-threaded)."""
    spark = df.sparkSession
    key = "spark.sql.limit.initialNumPartitions"
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset conf
        prev = None
    spark.conf.set(key, "2147483647")
    try:
        return df.collect()
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def _observe_checks(
    df: DataFrame, obs: Observation, checks: list[dict]
) -> DataFrame:
    """``df`` observing the row count (``__t``) and each row check's
    violation count (``__v<i>``) on its next execution."""
    return df.observe(
        obs,
        F.count(F.lit(1)).alias("__t"),
        *[
            F.sum(F.when(c["bad"], 1).otherwise(0)).alias(f"__v{i}")
            for i, c in enumerate(checks)
        ],
    )


def _obs_get(obs: Observation, df: DataFrame, *aggs: Column) -> dict:
    """Observed metrics of the action that just ran, with a fallback for
    plans Spark executes WITHOUT firing CollectMetrics: a LocalRelation
    source (tests, tiny in-memory batches) can fold the whole probe into
    a driver-side ``executeCollect`` that runs no job, so the Scala
    Observation publishes ``Row.empty`` and ``toPyRow`` raises. Recompute
    the same aggregates over ``df`` (the observe input) with one plain
    agg job then — values identical by definition. Parquet-backed paths
    always run a real job and never pay this."""
    try:
        return obs.get
    except Exception:  # noqa: BLE001 — empty metrics row, see docstring
        return df.agg(*aggs).collect()[0].asDict()


def _uniq_probe(
    table: str, rel_files: list[str], cols: list[str]
) -> "tuple[bool, dict[str, list] | None]":
    """Fused batch probe (r13 perf): ``(dup_within_batch,
    point_filter)`` — ONE grouped-aggregation job answers both the
    within-batch duplicate check and the distinct-key count that gates
    membership pruning (was two separate jobs re-reading the staged
    files); the distinct keys collect in a second small job only when
    few enough to carry driver-side. Point filter is None when a dup
    was found (the commit refuses anyway) or the batch is too
    distinct."""
    keys, con = _uniq_read(table, rel_files, cols)
    if con is None:
        # ONE action for the common (point-prunable) case (r14): the
        # total row count rides the capped distinct-key collect via
        # observe() — duplicates exist iff it exceeds the number of
        # distinct keys, and the collected keys ARE the point filter.
        # Only an over-cap batch pays a second (exact distinct count)
        # aggregate for the dup gate alone.
        obs = Observation()
        rows = _collect_one_round(
            keys.observe(obs, F.count(F.lit(1)).alias("__c"))
            .distinct()
            .limit(_UNIQ_POINT_CAP + 1)
        )
        total = int(
            _obs_get(obs, keys, F.count(F.lit(1)).alias("__c"))["__c"] or 0
        )
        if len(rows) <= _UNIQ_POINT_CAP:
            if total > len(rows):
                return True, None
            if not rows:
                return False, {}
            return False, {
                c: sorted({r[i] for r in rows}) for i, c in enumerate(cols)
            }
        nk = keys.agg(
            F.count_distinct(F.struct(*cols)).alias("__nk")
        ).collect()[0]["__nk"]
        if total > nk:
            return True, None
        return False, None
    quoted = ", ".join('"' + c.replace('"', '""') + '"' for c in cols)
    if con.sql(
        f"SELECT 1 FROM ({keys.sql_query()}) GROUP BY {quoted} "
        f"HAVING count(*) > 1 LIMIT 1"
    ).fetchone():
        return True, None
    rows = con.sql(
        f"SELECT DISTINCT * FROM ({keys.sql_query()}) "
        f"LIMIT {_UNIQ_POINT_CAP + 1}"
    ).fetchall()
    if len(rows) > _UNIQ_POINT_CAP:
        return False, None
    if not rows:
        return False, {}
    return False, {
        c: sorted({r[i] for r in rows}) for i, c in enumerate(cols)
    }


def _uniq_point_filter(
    table: str, rel_files: list[str], cols: list[str]
) -> dict[str, list] | None:
    """Per-column distinct values of the staged batch keys, for
    stats/bloom file pruning of the existence probe — None when the
    batch is too distinct to carry driver-side (the probe then scans
    unpruned, still one semi-join)."""
    keys, con = _uniq_read(table, rel_files, cols)
    if con is None:
        rows = keys.distinct().limit(_UNIQ_POINT_CAP + 1).collect()
    else:
        rows = con.sql(
            f"SELECT DISTINCT * FROM ({keys.sql_query()}) "
            f"LIMIT {_UNIQ_POINT_CAP + 1}"
        ).fetchall()
    if len(rows) > _UNIQ_POINT_CAP:
        return None
    if not rows:
        return {}
    return {c: sorted({r[i] for r in rows}) for i, c in enumerate(cols)}


def _enforce_unique_on_commit(
    table: str,
    new_files: list[str],
    df_schema: dict,
    prev: int,
    uniq: dict[str, list[str]],
    checked_internal: set,
    probed: dict,
) -> None:
    """The UNIQUE gate for one commit attempt against base version
    ``prev``: refuse duplicated keys within the staged files, and keys
    that already exist in the table as of ``prev``. The put-if-absent
    link makes this serializable — if another writer lands after the
    probe, OUR link fails and the retry re-probes just the files that
    commit added (``delta_files``), so concurrent clean appends never
    sneak a duplicate past each other.

    Constraints whose key columns are absent from the batch schema are
    vacuously satisfied (the appended rows read back as NULL keys, which
    SQL UNIQUE exempts)."""
    if not new_files:
        return  # an empty batch stages no files and can conflict with nothing
    fields = set(_schema_fields(df_schema))
    pf_cache: dict[str, "dict | None"] = {}
    for name, cols in sorted(uniq.items()):
        if not set(cols) <= fields:
            continue
        if name not in checked_internal:
            # fuse the dup check with the point-filter collect when the
            # existence probe below will need it anyway (one fewer pass
            # over the staged files)
            if prev is not None and probed.get(name) is None:
                dup, pf_cache[name] = _uniq_probe(table, new_files, cols)
            else:
                dup = _uniq_dup_in_files(table, new_files, cols)
            if dup:
                raise UniqueConstraintViolation(
                    f"commit to {table} refused — UNIQUE {name} "
                    f"({cols}): duplicate keys within the batch"
                )
            checked_internal.add(name)
        if prev is None or probed.get(name) == prev:
            continue
        if probed.get(name) is None:
            existing = None  # full (pruned) probe of version prev
        else:
            existing = delta_files(table, probed[name], prev)
        if existing is None:
            m = _read_manifest_root(table, prev)
            if m.get("schema_evolved"):
                # evolved segments may predate the key columns; the
                # file-list read path can't NULL-fill, so probe through
                # the schema-aware reader (in-process writers only)
                active = _uniq_spark()
                if active is None:
                    raise UniqueConstraintViolation(
                        f"commit to {table} refused — UNIQUE {name} "
                        "cannot be verified against an evolved table "
                        "from a sandboxed writer; use write_snapshot"
                    )
                new_keys, _ = _uniq_read(table, new_files, cols)
                # point-prune the probe like the unevolved path: the
                # alias map rides through read_snapshot's per-file
                # stat/bloom pruning, so a renamed key column keeps the
                # candidate-files-only probe — no compact required
                pf = (
                    pf_cache[name]
                    if name in pf_cache
                    else _uniq_point_filter(table, new_files, cols)
                )
                old = (
                    read_snapshot(
                        active, table, version=prev, point_filter=pf
                    )
                    .select(*cols)
                    .na.drop("any")
                )
                if old.join(new_keys.distinct(), cols, "semi").take(1):
                    raise UniqueConstraintViolation(
                        f"commit to {table} refused — UNIQUE {name} "
                        f"({cols}): key already present in the table"
                    )
                probed[name] = prev
                continue
            pf = (
                pf_cache[name]
                if name in pf_cache
                else _uniq_point_filter(table, new_files, cols)
            )
            existing, _total = files_for_read(
                table, version=prev, point_filter=pf
            )
        if _uniq_overlap_exists(table, new_files, existing, cols):
            raise UniqueConstraintViolation(
                f"commit to {table} refused — UNIQUE {name} ({cols}): "
                f"key already present in the table"
            )
        probed[name] = prev


def _compose_aliases(prev_aliases: dict, renames: dict) -> dict:
    """Flattened historical-name → current-name map: composing
    ``renames`` (old → new, names as of the previous version) onto the
    existing map keeps chains a→b→c resolvable from any epoch."""
    out = {k: renames.get(v, v) for k, v in prev_aliases.items()}
    for old, new in renames.items():
        out.setdefault(old, new)
    return out


def _layout_num_expr(dt, col: str):
    """Numeric quantization expression for one clustering key, by Spark
    type: numerics/booleans cast to double directly; TIMESTAMP casts to
    double as epoch seconds; DATE has NO double cast (it yields NULL —
    the silent-unclustered bug this replaces) so it maps to epoch days
    via ``datediff``. STRING maps to an order-preserving byte-prefix
    rank: the first 7 UTF-8 bytes read big-endian as an int64
    (``conv(hex(rpad(substring(encode(s), 1, 7), 7, x'00')), 16, 10)``)
    — ranking ONLY, so prefix collisions past 7 bytes merely coarsen
    the curve; file-skipping correctness always comes from the real
    min/max stats, which parquet keeps for strings natively. 7 bytes,
    not 8: byte 8 would push non-ASCII first bytes (>= 0xC2) past the
    signed-BIGINT range that ``conv`` can return exactly. The bytes
    are sliced AFTER encode (``substring`` on BINARY slices bytes) —
    a 7-CHARACTER prefix could exceed 8 bytes under multibyte UTF-8
    and overflow. Anything else (binary, complex) raises: a type we
    cannot rank onto the curve must fail at write time, never record
    a layout it didn't apply."""
    from pyspark.sql.types import (
        BooleanType,
        DateType,
        NumericType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if isinstance(dt, DateType):
        return F.datediff(F.col(col), F.to_date(F.lit("1970-01-01")))
    if isinstance(dt, TimestampNTZType):
        # NTZ has no double cast; route through TIMESTAMP (epoch
        # seconds) — ranking only, so the session-tz offset is harmless
        return F.col(col).cast("timestamp").cast("double")
    if isinstance(dt, StringType):
        return F.conv(
            F.hex(
                F.rpad(
                    F.substring(F.encode(F.col(col), "UTF-8"), 1, 7),
                    7,
                    F.lit(b"\x00"),
                )
            ),
            16,
            10,
        ).cast("bigint")
    if isinstance(dt, (NumericType, BooleanType, TimestampType)):
        return F.col(col).cast("double")
    raise TypeError(
        f"layout_by column {col!r} has unsupported type {dt.simpleString()}: "
        "Z-order clustering needs a numeric, boolean, date, timestamp, "
        "or string key (binary/complex keys need a derived numeric column)"
    )


def _layout_bounds_from_segstats(
    df: DataFrame, segs: list[dict], layout_by: list[str]
) -> "list[tuple[float, float]] | None":
    """Quantization bounds for :func:`_apply_layout` read off the victim
    segments' MANIFEST stats — driver-side metadata, ZERO Spark jobs —
    instead of a min/max aggregate that re-executes the full replacement
    plan (r14, guide §1.2/§5: the clustered-rewrite plan already runs for
    range sampling and the write; the bounds agg was a third execution).

    Sound because zorder_key's contract is 'values are CLAMPED into the
    bounds, so stale stats degrade clustering but never correctness': a
    rewrite whose replacement rows stay inside the replaced files' stats
    (callers guarantee the DML does not touch the layout columns) gets
    exact bounds; parquet-level widening only loosens them outward.

    Returns None (caller falls back to the aggregate) unless every layout
    column is NUMERIC/BOOLEAN in ``df`` — those convert to the double
    quantization domain by plain float(), with no driver-side twin of the
    string/date/timestamp expression mappings to drift — and every victim
    file carries stats for every layout column."""
    from pyspark.sql.types import BooleanType, NumericType

    try:
        for c in layout_by:
            if not isinstance(df.schema[c].dataType, (NumericType, BooleanType)):
                return None
    except KeyError:
        return None
    bounds: list[tuple[float, float]] = []
    for c in layout_by:
        lo = hi = None
        for seg in segs:
            stats = seg.get("stats", {})
            for f in seg.get("files", []):
                st = stats.get(f, {}).get(c)
                if not st or st[0] is None or st[1] is None:
                    return None
                v0, v1 = float(st[0]), float(st[1])
                lo = v0 if lo is None else min(lo, v0)
                hi = v1 if hi is None else max(hi, v1)
        if lo is None:
            return None  # no victim files: nothing to derive from
        bounds.append((lo, hi))
    return bounds


def _apply_layout(
    df: DataFrame,
    layout_by: list[str],
    layout_files: int | None,
    strict: bool = True,
    bounds: "list[tuple[float, float]] | None" = None,
) -> DataFrame:
    """Z-cluster ``df`` along ``layout_by`` (operators/zorder.py key +
    repartitionByRange + sortWithinPartitions) so each output file covers
    a narrow slice of the key space — the property manifest stats +
    ``skip_filter`` turn into file pruning.

    Key types: numeric / timestamp keys quantize via a double cast;
    DATE keys via epoch-day (``datediff`` — a date's double cast is
    NULL, which silently wrote UNCLUSTERED files before r7). Strings
    and other unorderable-as-number types are REFUSED loudly — see
    :func:`_layout_num_expr` — never silently degraded: the manifest
    records the layout property, so a no-op here would claim a
    clustering that doesn't exist.

    Returns ``df`` unchanged when any layout column is absent (schema
    evolution removed it from this batch) or when ANY layout column's min
    aggregates to NULL (empty or all-NULL input — nothing to cluster;
    checking only the first column would raise an opaque
    ``float(None)`` TypeError on mixed inputs).

    ``strict=False`` is the CARRIED-layout re-apply mode (rewrite /
    compact / maintenance of a table whose recorded layout predates the
    type guard): an unsupported key type skips clustering with a
    warning instead of raising, so DML and maintenance on a legacy
    table keep working (its files simply stay unclustered, which is
    what they already were). Fresh ``layout_by`` declarations keep the
    hard raise.

    ``bounds`` (aligned to ``layout_by``, quantization-domain floats)
    skips the min/max aggregate entirely — rewrite/compact callers pass
    :func:`_layout_bounds_from_segstats` so the replacement plan
    executes one time fewer (r14); zorder_key clamps, so approximate
    bounds can only coarsen the curve, never break it."""
    from ..operators.zorder import zorder_key

    if not layout_by or any(c not in df.columns for c in layout_by):
        return df
    try:
        nums = {
            c: _layout_num_expr(df.schema[c].dataType, c) for c in layout_by
        }
    except TypeError:
        if strict:
            raise
        import warnings

        warnings.warn(
            f"carried layout {layout_by} has a non-clusterable key type; "
            "writing unclustered (legacy layout — re-declare with a "
            "numeric derived column to restore clustering)",
            stacklevel=2,
        )
        return df
    if bounds is None:
        aggs = []
        for c in layout_by:
            aggs += [
                F.min(nums[c]).alias(f"__lo_{c}"),
                F.max(nums[c]).alias(f"__hi_{c}"),
            ]
        row = df.agg(*aggs).collect()[0]
        if any(row[f"__lo_{c}"] is None for c in layout_by):
            return df
        bounds = [
            (float(row[f"__lo_{c}"]), float(row[f"__hi_{c}"]))
            for c in layout_by
        ]
    z = zorder_key([nums[c] for c in layout_by], bounds)
    df = df.withColumn("__z", z)
    df = (
        df.repartitionByRange(layout_files, "__z")
        if layout_files
        else df.repartitionByRange("__z")
    )
    return df.sortWithinPartitions("__z").drop("__z")


def _write_data(df: DataFrame, table: str) -> list[str]:
    snap_id = uuid.uuid4().hex
    data_dir = os.path.join(table, "data", snap_id)
    df.write.parquet(data_dir)
    out = []
    for f in sorted(os.listdir(data_dir)):
        if not f.endswith(".parquet"):
            continue
        # empty partitions still emit a parquet file; referencing it
        # buys nothing (a zero-row scan task per file) and, having no
        # stats, it blocks every disjointness proof (skip/point/rebase
        # pruning keeps stat-less files by rule). Drop at the source.
        import pyarrow.parquet as pq

        if pq.ParquetFile(os.path.join(data_dir, f)).metadata.num_rows == 0:
            os.remove(os.path.join(data_dir, f))
            continue
        out.append(os.path.join("data", snap_id, f))
    return out


def write_snapshot(
    df: DataFrame,
    table: str,
    mode: str = "overwrite",
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    renames: dict[str, str] | None = None,
    layout_by: list[str] | None = None,
    layout_files: int | None = None,
    layout_bounds: "list[tuple[float, float]] | None" = None,
    checks: list[dict] | None = None,
    quarantine: str | None = None,
    bloom_cols: list[str] | None = None,
) -> int:
    """Commit ``df`` as a new version; returns the version number.

    ``mode='append'`` carries the previous version's segments forward;
    ``'overwrite'`` starts fresh. Either way old data files are untouched
    (immutable) until ``vacuum``. ``extra`` is JSON-serializable caller
    metadata stored in the manifest (e.g. the source versions a
    materialized view was built from). ``stats_cols`` records per-file
    min/max for those columns (enables ``skip_filter`` reads).
    ``renames`` (append only) declares {previous-name: new-name} column
    renames; older segments are re-labelled at read time.

    ``checks`` (operators/quality.py constraints) gates the commit:
    a failing batch raises :class:`QualityGateViolation` with NO version
    committed, and the violating rows are appended to ``quarantine``
    (default ``<table>__quarantine``, itself a versioned table).

    ``layout_by`` clusters the committed files along the Z-curve of the
    given (numeric) columns — operators/zorder.py's layout, integrated so
    ONE call produces narrow per-file ranges AND the manifest stats that
    let ``skip_filter`` exploit them (``layout_by`` columns join
    ``stats_cols`` automatically). ``layout_files`` sizes the output.

    ``bloom_cols`` records a per-file bloom sketch (sources/bloom.py)
    for those columns, enabling ``point_filter`` pruning — membership
    lookups on columns the table is NOT clustered by, which min/max
    stats cannot prune. Like the layout, bloomed columns are a table
    property: appends re-bloom their new files for every previously
    bloomed column automatically.

    Concurrency: the data files are written once; the manifest commit is
    put-if-absent and REBASES on conflict — a concurrent append's
    segments are carried forward, so racing appends serialize instead of
    losing one side (last-write-wins applies only to racing overwrites,
    which is their semantics)."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"unsupported mode: {mode!r}")
    if renames and mode != "append":
        raise ValueError("renames are only meaningful for mode='append'")
    # GENERATED ALWAYS AS columns: computed when the batch omits them,
    # VERIFIED (below, as synthetic CHECKs) when the batch supplies them
    gen = _table_generated(table)
    if gen:
        p = _read_pointer(table)
        declared = {
            f["name"]: f["type"]
            for f in _read_manifest_root(table, p)["schema"]["fields"]
        }
        from pyspark.sql.types import StructField, _parse_datatype_json_value

        for gname, gexpr in sorted(gen.items()):
            if gname not in df.columns:
                df = df.withColumn(
                    gname,
                    F.expr(gexpr).cast(
                        _parse_datatype_json_value(declared[gname])
                    ),
                )
    # persisted CHECK constraints (add_check_constraint) gate every
    # write exactly like an explicit checks= suite — incl. quarantine
    persisted = {**_table_constraints(table), **_generated_as_constraints(gen)}
    if renames and persisted:
        # refuse BEFORE the gate evaluates raw exprs against the renamed
        # batch (the constraint text cannot be rewritten mechanically)
        import re as _re

        refs = sorted(
            {
                cname
                for old in renames
                for cname, expr in persisted.items()
                if _re.search(rf"\b{_re.escape(old)}\b", expr)
            }
        )
        if refs:
            raise ValueError(
                f"cannot rename column(s) referenced by CHECK "
                f"constraint(s) {refs}; drop them first"
            )
    if persisted:
        checks = list(checks or []) + _constraint_checks(persisted)
    gate_obs = None
    gate_cols: "list[str] | None" = None
    if checks:
        # Write-time constraint gate (operators/quality.py suite): a
        # dirty batch is refused with NO version committed, and its
        # violating rows land in a Spark-readable quarantine table (the
        # DLQ idea applied to commits) so the producer can inspect and
        # replay.
        from ..operators.quality import run_checks, violating_rows

        if all(c["kind"] == "row" for c in checks):
            # r14 (guide §1.2): row checks are conditional sums — they
            # ride the WRITE job via observe() instead of paying a
            # separate full scan of df. The staged files ARE the single
            # pinned evaluation (stronger than the old localCheckpoint:
            # the gate verdict covers exactly the rows that were
            # written), a refused batch's files orphan for vacuum, and
            # the quarantine payload re-reads the staged parquet so a
            # non-deterministic df cannot quarantine different rows
            # than it staged. Verdict is checked right after
            # _write_data, before any gate/bloom/commit work.
            gate_obs = Observation()
            gate_cols = list(df.columns)
        else:
            # unique/fk checks need their own shuffle/join jobs — keep
            # the pre-write gate (pin one evaluation so a
            # non-deterministic df cannot pass the gate yet commit
            # different rows)
            df = df.localCheckpoint(eager=False)
            report = run_checks(df, checks).collect()
            failed = [r for r in report if not r.passed]
            if failed:
                qt = quarantine or table.rstrip("/") + "__quarantine"
                bad = violating_rows(df, checks)
                write_snapshot(
                    bad,
                    qt,
                    mode="append"
                    if _read_pointer(qt) is not None
                    else "overwrite",
                )
                detail = "; ".join(
                    f"{r.check}: {r.violations}/{r.total}" for r in failed
                )
                raise QualityGateViolation(
                    f"commit to {table} refused — {detail}; violating rows "
                    f"quarantined in {qt}"
                )
    os.makedirs(os.path.join(table, _MANIFESTS), exist_ok=True)
    declared_layout = (
        {"by": list(layout_by), "files": layout_files} if layout_by else None
    )
    ident = _table_identity(table)
    for iname in sorted(ident):
        if iname in df.columns:
            raise ValueError(
                f"column {iname!r} is GENERATED ALWAYS AS IDENTITY on "
                f"{table}: the engine assigns it; do not supply values"
            )
    df_in = df
    for _ in range(20):
        df = df_in
        identity_update = None
        if ident:
            # contiguous assignment from the CURRENT high-water mark; a
            # lost commit race re-reads the mark and RESTAGES (ids are
            # baked into the staged parquet — re-linking would duplicate
            # or gap the sequence)
            identity_update = {}
            for iname, spec in sorted(ident.items()):
                df, n = _assign_identity(df, iname, spec)
                identity_update[iname] = (
                    spec["high"],
                    spec["high"] + n * spec["step"],
                )
            stats_cols = sorted(set(stats_cols or []) | set(ident))
        if layout_by:
            # a DECLARED layout must be applicable: _apply_layout's
            # silent return paths exist for the maintenance re-apply of
            # a CARRIED layout over an evolved batch, not for a fresh
            # declaration
            missing = [c for c in layout_by if c not in df.columns]
            if missing:
                raise ValueError(
                    f"layout_by column(s) {missing} not in the batch"
                )
            # ``layout_bounds``: caller-known key domain (e.g. an IVF
            # index's cell ids are exactly 0..n_cells-1) skips the
            # min/max aggregate — one fewer execution of the batch plan
            # (r14, guide §1.2); zorder_key clamps, so an over-wide
            # domain only coarsens the curve
            df = _apply_layout(
                df, layout_by, layout_files, bounds=layout_bounds
            )
            stats_cols = sorted(set(stats_cols or []) | set(layout_by))
        elif mode == "append":
            # an append to a clustered table ingests UNclustered (Delta
            # semantics: fast ingest, OPTIMIZE re-clusters) but must
            # still record stats on the layout columns, so pruned reads
            # stay honest and compaction can measure what it restores
            p0 = _read_pointer(table)
            inherited = (
                _read_manifest_root(table, p0).get("layout")
                if p0 is not None
                else None
            )
            if inherited:
                stats_cols = sorted(
                    set(stats_cols or []) | set(inherited["by"])
                )
        if gate_obs is not None:
            # above the layout's range exchange, so the observation
            # counts exactly the written rows once (range sampling runs
            # the plan below the exchange and would count them again)
            df = _observe_checks(df, gate_obs, checks)
        new_files = _write_data(df, table)
        if gate_obs is not None:
            # observed row-check verdict from the write job (r14): a
            # violation quarantines the STAGED rows (exactly what the
            # gate measured) and refuses before any commit work; the
            # staged files orphan for vacuum. Spent after one read —
            # an identity-restage retry re-writes the same rows and
            # must not re-await the observation.
            got = gate_obs.get
            gate_obs = None
            total = int(got["__t"] or 0)
            failed = [
                (c, int(got[f"__v{i}"] or 0))
                for i, c in enumerate(checks)
                if int(got[f"__v{i}"] or 0) > 0
            ]
            if failed:
                from ..operators.quality import violating_rows

                qt = quarantine or table.rstrip("/") + "__quarantine"
                staged = df.sparkSession.read.parquet(
                    *[os.path.join(table, f) for f in new_files]
                ).select(*gate_cols)
                bad = violating_rows(staged, checks)
                write_snapshot(
                    bad,
                    qt,
                    mode="append"
                    if _read_pointer(qt) is not None
                    else "overwrite",
                )
                detail = "; ".join(
                    f"{c['name']}: {v}/{total}" for c, v in failed
                )
                raise QualityGateViolation(
                    f"commit to {table} refused — {detail}; violating "
                    f"rows quarantined in {qt}"
                )
        bloom_set = set(bloom_cols or [])
        if mode == "append":
            # bloomed columns are a table property like the layout: an
            # append must re-bloom its new files or point pruning
            # silently decays to stats-only on the unclustered tail
            p0 = _read_pointer(table)
            if p0 is not None:
                for seg in _segments(_read_manifest_root(table, p0)):
                    if _is_seg_head(seg):
                        bloom_set |= set(seg.get("bloom_cols", []))
                    else:
                        bloom_set |= {
                            c
                            for fb in seg.get("blooms", {}).values()
                            for c in fb
                        }
        _spark, _files, _mode = df.sparkSession, new_files, mode

        def _bloom_thunk(bloom_set=frozenset(bloom_set)):
            # evaluated by _commit_new_segment AFTER the UNIQUE pre-gate
            # (r13 perf): a refused commit skips the bloom jobs entirely
            return _enforce_bloom_budget(
                table,
                _collect_file_blooms(
                    _spark, table, _files, sorted(bloom_set)
                )
                if bloom_set
                else {},
                _table_bloom_bytes(table) if _mode == "append" else 0,
            )

        try:
            return _commit_new_segment(
                table,
                new_files,
                df.schema.jsonValue(),
                mode,
                extra,
                stats_cols,
                renames,
                declared_layout,
                _bloom_thunk,
                constraints_checked=True,
                identity_update=identity_update,
            )
        except _IdentityRestage:
            # staged files reference stale ids: orphan them for vacuum,
            # re-read the advanced high-water marks, assign afresh
            ident = _table_identity(table)
    raise CommitConflict(
        f"identity assignment on {table} kept losing the commit race"
    )


def _commit_new_segment(
    table: str,
    new_files: list[str],
    df_schema: dict,
    mode: str,
    extra: dict | None,
    stats_cols: list[str] | None,
    renames: dict[str, str] | None,
    declared_layout: dict | None,
    blooms: "dict[str, dict] | Callable | None" = None,
    constraints_checked: bool = False,
    identity_update: "dict[str, tuple[int, int]] | None" = None,
) -> int:
    """Commit already-written data files as a new version: the
    rebase-on-conflict manifest loop shared by :func:`write_snapshot`
    and the ``versioned_table`` DataSource writers
    (sources/versioned_table.py) — executors stage parquet however they
    like; THIS is the single commit protocol (schema merge, rename
    guard, layout carry, put-if-absent link)."""
    constraints = _table_constraints(table)
    generated = _table_generated(table)
    if not constraints_checked:
        # DataSource writers stage executor-side, so the gate runs over
        # the staged files; a refusal leaves orphans for vacuum, never a
        # committed dirty version (write_snapshot pre-gates instead and
        # passes constraints_checked=True). Generated columns verify as
        # synthetic CHECKs — a format writer must SUPPLY them (no
        # compute-if-absent outside write_snapshot), so a missing column
        # fails the equality probe fail-closed.
        gate = {**constraints, **_generated_as_constraints(generated)}
        if gate:
            _enforce_constraints_on_files(table, new_files, gate)
    stats = (
        _collect_file_stats(table, new_files, stats_cols)
        if stats_cols
        else {}
    )
    uniq_checked_internal: set = set()
    uniq_probed: dict = {}
    if callable(blooms):
        # blooms arrive as a THUNK from write_snapshot (r13 perf): a
        # UNIQUE-refused commit must not pay the bloom-collection jobs,
        # so pre-gate against the current base first — the probe results
        # seed checked_internal/probed, making the loop's re-gate a
        # no-op when the base didn't move.
        prev0 = _read_pointer(table)
        uniq0 = (
            _read_manifest_root(table, prev0).get("unique", {})
            if prev0 is not None
            else {}
        )
        if uniq0:
            _enforce_unique_on_commit(
                table,
                new_files,
                df_schema,
                prev0 if mode == "append" else None,
                uniq0,
                uniq_checked_internal,
                uniq_probed,
            )
        blooms = blooms()
    new_segment = {"files": new_files, "schema": df_schema, "stats": stats}
    if blooms:
        new_segment["blooms"] = blooms
    # row tracking: per-file [offset, count] from the staged footers —
    # offsets are segment-relative and race-stable, so they can live in
    # the immutable detail; the absolute row_base is minted per attempt
    # inside the loop below (pure metadata — a lost race re-mints, it
    # never restages data, unlike IDENTITY whose ids are baked in)
    new_segment = _attach_row_offsets(new_segment, table)
    rows_minted = new_segment.pop("rows_minted")  # head recomputes it
    # shard ONCE, outside the retry loop: the new segment's detail
    # sidecar is version-independent, so a lost link race re-stages only
    # the tiny root, and the commit writes O(new files) detail bytes —
    # never O(table files) (the pre-sharding single-manifest rewrite)
    new_segment = _write_seg_detail(table, new_segment)

    gated = {**constraints, **_generated_as_constraints(generated)}

    def attempt(prev: "int | None", base: dict) -> dict:
        nonlocal constraints, generated
        uniq = base["unique"]
        if prev is not None:
            # constraints/generated are re-read per attempt (like
            # `unique`): a retry that stamped the pre-race dicts would
            # silently ERASE a concurrently-added constraint from every
            # future version. Any entries the original gate didn't cover
            # are gated now over the staged files, fail-closed.
            cur_c, cur_g = base["constraints"], base["generated"]
            if cur_c != constraints or cur_g != generated:
                regate = {
                    name: expr
                    for name, expr in {
                        **cur_c,
                        **_generated_as_constraints(cur_g),
                    }.items()
                    if gated.get(name) != expr
                }
                if regate:
                    _enforce_constraints_on_files(
                        table, new_files, regate
                    )
                    gated.update(regate)
                constraints, generated = cur_c, cur_g
        ident_cur = base["identity"]
        if identity_update is not None:
            # the ids in the staged files were minted from the high
            # marks recorded here; any drift means another writer
            # consumed the same range — restage, never re-link
            for c, (exp, _new) in identity_update.items():
                if ident_cur.get(c, {}).get("high") != exp:
                    raise _IdentityRestage(c)
            ident_new = {c: dict(s) for c, s in ident_cur.items()}
            for c, (_exp, new) in identity_update.items():
                ident_new[c]["high"] = new
        elif ident_cur:
            # sandboxed format writers cannot run the distributed
            # assignment — fail closed rather than commit NULL ids
            raise ValueError(
                f"{table} has IDENTITY column(s) "
                f"{sorted(ident_cur)}: write through write_snapshot "
                "(the versioned_table format writer cannot assign ids)"
            )
        else:
            ident_new = {}
        if uniq:
            # probe is pinned to base `prev`; if another commit wins the
            # link race we loop and re-probe only its delta — UNIQUE
            # stays serializable under optimistic concurrency
            _enforce_unique_on_commit(
                table,
                new_files,
                df_schema,
                prev if mode == "append" else None,
                uniq,
                uniq_checked_internal,
                uniq_probed,
            )
        if mode == "append" and prev is not None:
            aliases = _compose_aliases(base["aliases"], renames or {})
            prev_schema = base["schema"]
            if renames:
                missing = [
                    o
                    for o in renames
                    if o not in _schema_fields(prev_schema)
                ]
                if missing:
                    raise ValueError(
                        f"rename of unknown column(s): {missing}"
                    )
                # a CHECK constraint stores a raw SQL expression — it
                # cannot be rewritten mechanically, so renaming a column
                # it references is refused (drop the constraint first);
                # UNIQUE keys and the clustered layout store plain column
                # lists and simply follow the rename below
                import re as _re

                refs = [
                    (cname, old)
                    for old in renames
                    for cname, expr in base["constraints"].items()
                    if _re.search(rf"\b{_re.escape(old)}\b", expr)
                ]
                if refs:
                    raise ValueError(
                        f"cannot rename column(s) referenced by CHECK "
                        f"constraint(s) {sorted(set(c for c, _ in refs))}; "
                        "drop them first"
                    )
                uholders = sorted(
                    cname
                    for cname, ucols in base["unique"].items()
                    if any(o in ucols for o in renames)
                )
                if uholders:
                    raise ValueError(
                        f"cannot rename column(s) referenced by UNIQUE "
                        f"constraint(s) {uholders}; drop them first"
                    )
                # GENERATED columns store raw SQL expressions too —
                # renaming the generated column itself or any column
                # its expression references would silently break the
                # supplied-value gate (r11; same rule as CHECK)
                grefs = sorted(
                    {
                        gname
                        for old in renames
                        for gname, gexpr in base["generated"].items()
                        if gname == old
                        or _re.search(rf"\b{_re.escape(old)}\b", gexpr)
                    }
                )
                if grefs:
                    raise ValueError(
                        f"cannot rename column(s) referenced by "
                        f"GENERATED column(s) {grefs}; drop them first"
                    )
                irefs = sorted(set(renames) & set(base["identity"]))
                if irefs:
                    raise ValueError(
                        f"cannot rename IDENTITY column(s) {irefs}: the "
                        "engine assigns them by name across commit "
                        "retries; drop the identity property first"
                    )
            if renames:
                prev_schema = {
                    **prev_schema,
                    "fields": [
                        {**f, "name": renames.get(f["name"], f["name"])}
                        for f in prev_schema["fields"]
                    ],
                }
            # a HISTORICAL name may not be reintroduced as a new column:
            # the alias map is table-level, so the read path would
            # re-label the reborn column into its renamed successor —
            # silent corruption. Refuse at write time (checked against
            # the POST-rename schema, so appending the old name alongside
            # its own rename is caught too).
            reborn = [
                f["name"]
                for f in df_schema.get("fields", [])
                if aliases.get(f["name"], f["name"]) != f["name"]
                and f["name"] not in _schema_fields(prev_schema)
            ]
            if reborn:
                raise ValueError(
                    f"column name(s) {reborn} were renamed away earlier "
                    "in this table's history and cannot be reintroduced "
                    "(the alias map would re-label them); pick new names"
                )
            schema, evolved_now = _merge_schemas(
                prev_schema, df_schema, f"append to {table}"
            )
            evolved = (
                bool(base["schema_evolved"]) or evolved_now or bool(renames)
            )
            segments = base["segments"] + [new_segment]
            # layout is a TABLE property (like Delta clustering columns):
            # declaring one on an append updates it, otherwise it carries
            # forward so maintenance always knows what to restore
            layout = declared_layout or base["layout"]
            if renames and layout and not declared_layout:
                # the layout spec is a plain column list: it follows the
                # rename, so maintenance keeps re-clustering the same
                # physical data under its new name
                layout = {
                    **layout,
                    "by": [renames.get(c, c) for c in layout["by"]],
                }
        else:
            aliases = {}
            schema = df_schema
            evolved = False
            segments = [new_segment]
            layout = declared_layout
        # mint the new segment's absolute row base from the CURRENT
        # high-water mark (per attempt: a lost race re-mints from the
        # winner's mark — metadata only, nothing restages)
        new_segment["row_base"] = base["row_high"]
        # the version that set these rows' values — per attempt, like
        # row_base (a lost race re-stamps metadata, never data)
        new_segment["cv"] = 0 if prev is None else prev + 1
        # constraints, UNIQUE keys and table properties (maintenance
        # policy etc.) carry from the base, like Delta TBLPROPERTIES —
        # they survive every commit incl. overwrite
        return {
            "mode": mode,
            "segments": segments,
            "schema": schema,
            "schema_evolved": evolved,
            "aliases": aliases,
            "layout": layout,
            "identity": ident_new,
            # defaults survive any commit whose schema keeps the column
            # (an overwrite that drops it drops the default with it);
            # rename keys FOLLOW the rename (r11: a renamed defaulted
            # column used to silently lose its default — pre-ALTER
            # segments read NULL again)
            "defaults": {
                (renames or {}).get(c, c): dv
                for c, dv in base["defaults"].items()
                if (renames or {}).get(c, c) in _schema_fields(schema)
            },
            "row_high": base["row_high"] + rows_minted,
            "extra": extra or {},
        }

    # write order IS the crash contract: data files exist, then the
    # manifest link (THE commit point), then the pointer cache; a crash
    # before the link leaves the previous version fully intact. A lost
    # race rebases on the new latest (append picks up the winner's
    # segments; overwrite just takes the next slot).
    return _commit(
        table, attempt, f"could not commit to {table} after 20 attempts"
    )


def _read_segments(
    spark: SparkSession, table: str, manifest: dict,
    with_row_ids: bool = False,
    with_commit_versions: bool = False,
    cv_after: "int | None" = None,
    with_positions: bool = False,
) -> DataFrame:
    """Evolved-table read: per segment rename (alias map) → lossless cast
    to the table schema → unionByName with NULL fill for absent columns.
    Column order pinned to the manifest schema.

    ``with_positions=True`` attaches ``__dvb``/``__dvp`` (file basename,
    row index), captured from the raw scan like the row ids' — the
    position source of merge-on-read DML (:func:`_dv_candidate_scan`).

    ``with_row_ids=True`` attaches the stable row id as ``__row_id``
    (ROW_ID_COL): files that materialized the column (rewrites) read it
    directly; freshly-minted files derive ``row_base + offset +
    _metadata.row_index`` through one broadcast join on the (tiny)
    per-file base map. Raises ValueError when any file lacks lineage
    (pre-tracking segment) — callers fall back to untracked reads.

    ``with_commit_versions=True`` attaches ``__row_cv`` (ROW_CV_COL) —
    the version that last set each row's values: materialized on files
    a rewrite carried, NULL on fresh/modified rows, coalesced to the
    segment's head-stamped ``cv`` (a pure per-segment literal — no base
    map, no row_index). Segments written before the feature have no
    ``cv`` and surface NULL (honest unknown)."""
    from pyspark.sql.types import LongType, StructType

    target = StructType.fromJson(manifest["schema"])
    aliases = manifest.get("aliases", {})
    bases: list[tuple[str, int]] = []
    if with_row_ids:
        for seg in _segments(manifest):
            if not _seg_row_tracked(seg):
                raise ValueError(
                    f"{table}: segment files lack row lineage "
                    "(written before row tracking); cannot attach row ids"
                )
            rmap = seg.get("rows", {})
            rid = set(seg.get("rid", []))
            for f in seg["files"]:
                if f not in rid:
                    off, _n = rmap[f]
                    bases.append(
                        (
                            os.path.basename(f),
                            int(seg["row_base"]) + int(off),
                        )
                    )
    # FUSE same-schema segments into ONE parquet relation (r13 perf):
    # a lifecycle table accrues one segment per commit, and reading
    # them as N separate relations cost N read.parquet plans, N DV
    # anti-joins and an N-way union — all driver latency and extra
    # stages. Segments sharing a schema are read together; per-segment
    # head cvs become a per-FILE literal map keyed on the file
    # basename, and every group's deletion vectors anti-join once.
    import json as _json

    groups: dict[str, dict] = {}
    # past a few thousand files a fused per-file cv literal map would
    # bloat the analyzed plan — key the groups on (schema, cv) instead,
    # which keeps each group's cv a plain literal (same plan family the
    # bases map uses for row ids, see below)
    n_total_files = sum(len(s["files"]) for s in _segments(manifest))
    cv_in_key = with_commit_versions and n_total_files > 2048
    for seg in _segments(manifest):
        if not seg["files"]:
            continue
        schema = StructType.fromJson(seg["schema"])
        if with_row_ids and ROW_ID_COL not in schema.names:
            # materialized files carry the column; minted files
            # NULL-fill under schema-on-read and derive from the base
            schema = schema.add(ROW_ID_COL, LongType(), True)
        if with_commit_versions and ROW_CV_COL not in schema.names:
            schema = schema.add(ROW_CV_COL, LongType(), True)
        key = _json.dumps(schema.jsonValue(), sort_keys=True)
        if cv_in_key:
            key += f"|cv={seg.get('cv')}"
        g = groups.setdefault(
            key, {"schema": schema, "files": [], "cvs": {}, "dvs": {}}
        )
        g["files"] += list(seg["files"])
        if with_commit_versions:
            for f in seg["files"]:
                g["cvs"][os.path.basename(f)] = seg.get("cv")
        fset = set(seg["files"])
        g["dvs"].update(
            {rel: v for rel, v in _seg_dvs(seg).items() if rel in fset}
        )
    out = None
    for g in groups.values():
        part = spark.read.schema(g["schema"]).parquet(
            *[os.path.join(table, f) for f in g["files"]]
        )
        if cv_after is not None and with_commit_versions:
            # pushable PHYSICAL-column predicate, applied before the
            # coalesce (which would block pushdown): parquet row-group
            # stats on the materialized __row_cv prune inside rewritten
            # files for free. NULL cv = set by this segment's commit
            # (head cv), which outlives any root-surviving bound — keep.
            part = part.filter(
                F.col(ROW_CV_COL).isNull()
                | (F.col(ROW_CV_COL) > F.lit(cv_after))
            )
        need_base = with_row_ids or with_positions or (
            with_commit_versions
            and len({v for v in g["cvs"].values()}) > 1
        )
        if need_base:
            # _metadata is only reachable on the raw file relation —
            # capture BEFORE the dv anti-join's projection
            part = part.withColumn(
                "__rt_f",
                F.element_at(
                    F.split(F.col("_metadata.file_path"), "/"), -1
                ),
            )
        if with_row_ids or with_positions:
            part = part.withColumn("__rt_ix", F.col("_metadata.row_index"))
        if with_commit_versions:
            # per-segment head cv: NULL (fresh/modified row) coalesces
            # to the cv of the commit that wrote the row's file; a
            # pre-feature segment (no cv) yields the UNKNOWN sentinel
            # so a later rewrite materializes it instead of a NULL that
            # would alias "modified here". Public surfaces map the
            # sentinel back to NULL. One segment per group → a plain
            # literal; mixed cvs → a per-file basename map.
            cvs = {b: v for b, v in g["cvs"].items() if v is not None}
            distinct = {v for v in g["cvs"].values()}
            if len(distinct) == 1:
                cv_expr = F.lit(next(iter(distinct))).cast("long")
            else:
                entries: list = []
                for b in sorted(cvs):
                    entries += [F.lit(b), F.lit(cvs[b])]
                cv_expr = (
                    F.element_at(
                        F.create_map(*entries), F.col("__rt_f")
                    ).cast("long")
                    if entries
                    else F.lit(None).cast("long")
                )
            part = part.withColumn(
                ROW_CV_COL,
                F.coalesce(
                    F.col(ROW_CV_COL),
                    cv_expr,
                    F.lit(ROW_CV_UNKNOWN).cast("long"),
                ),
            )
        if g["dvs"]:
            # merge-on-read: drop DV-deleted rows while _metadata is
            # still reachable (before the rename/cast projection)
            part = _dv_filter(spark, table, part, g["dvs"])
        cols = []
        for c in part.columns:
            cur = aliases.get(c, c)
            col = F.col(c).alias(cur)
            tf = next((f for f in target.fields if f.name == cur), None)
            if tf is not None:
                col = F.col(c).cast(tf.dataType).alias(cur)
            cols.append(col)
        part = part.select(*cols)
        defaults = manifest.get("defaults") or {}
        if defaults:
            # initial-default fill (r10): a segment whose schema lacks
            # a defaulted column was written before the ALTER (or by an
            # append that omitted it) — its rows read the default, not
            # NULL. Per-SEGMENT, before the union: a segment that HAS
            # the column keeps its explicit values, including NULLs.
            have = set(part.columns)
            for f in target.fields:
                if f.name in defaults and f.name not in have:
                    part = part.withColumn(
                        f.name, F.lit(defaults[f.name]).cast(f.dataType)
                    )
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    extras = ([ROW_ID_COL] if with_row_ids else []) + (
        [ROW_CV_COL] if with_commit_versions else []
    )
    if out is None:
        out = spark.createDataFrame([], target)
        for c in extras:
            out = out.withColumn(c, F.lit(None).cast("long"))
        if with_positions:
            out = out.withColumn("__dvb", F.lit(None).cast("string"))
            out = out.withColumn("__dvp", F.lit(None).cast("long"))
        return out
    for f in target.fields:
        # a column added by alter_add_column exists in the table schema
        # before ANY segment carries it — fill its declared default
        # (NULL when none), same as an evolved append would
        if f.name not in out.columns:
            out = out.withColumn(
                f.name,
                F.lit((manifest.get("defaults") or {}).get(f.name)).cast(
                    f.dataType
                ),
            )
    if with_row_ids:
        # per-file base lookup: a literal map expression for the common
        # case (whole-stage codegen, no driver-side DataFrame — a tiny
        # spark.createDataFrame costs ~300 ms of session round-trips in
        # Spark 4, which dominated every CoW DML commit); past a few
        # thousand files fall back to a broadcast join so the analyzed
        # plan never carries a megabyte of literals
        if not bases:
            base_expr = F.lit(None).cast("long")
        elif len(bases) <= 2048:
            entries: list = []
            for f, b in bases:
                entries += [F.lit(f), F.lit(b)]
            base_expr = F.element_at(
                F.create_map(*entries), F.col("__rt_f")
            )
        else:
            base_df = spark.createDataFrame(
                bases, "__rt_f string, __rt_b long"
            )
            out = out.join(F.broadcast(base_df), "__rt_f", "left")
            base_expr = F.col("__rt_b")
        out = out.withColumn(
            ROW_ID_COL,
            F.coalesce(F.col(ROW_ID_COL), base_expr + F.col("__rt_ix")),
        )
    if with_positions:
        extras += [
            F.col("__rt_f").alias("__dvb"),
            F.col("__rt_ix").alias("__dvp"),
        ]
    return out.select(*[f.name for f in target.fields], *extras)


def _cmp_val(v):
    """Comparison image of a query bound / point value: ``_json_val``,
    except a pure DATE extends to its midnight timestamp string — after
    a date→timestamp_ntz widening, date-shaped and timestamp-shaped
    encodings of the same instant must share one total order, and
    midnight extension is exact (a date IS its midnight in the widened
    type). Recorded manifest stats stay untouched; only comparisons
    canonicalize."""
    import datetime as _dt

    e = _json_val(v)
    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return e + "T00:00:00"
    return e


def _stat_ext(st, ftype):
    """A segment's recorded [min,max] in comparison space: stats of a
    DATE-typed field extend to their midnight timestamp image so they
    compare exactly against timestamp bounds (the segment may predate a
    date→timestamp_ntz widening). Gated on the SEGMENT's declared field
    type — never on string shape, so a string column whose values look
    like dates is never touched."""
    if st is None or ftype != "date":
        return st
    return [
        s + "T00:00:00" if isinstance(s, str) and len(s) == 10 else s
        for s in st
    ]


def _head_may_match(
    head: dict,
    aliases: dict,
    skip_filter: dict[str, tuple] | None,
    point_filter: dict[str, list] | None = None,
) -> bool:
    """Segment-level pruning decision from the root head's coarse
    [min,max] summary — False only when NO file in the segment can
    match, so the detail sidecar is never opened. Columns absent from
    the summary keep the segment (never semantic). This is what makes
    planning O(#segments) at the root: an 800k-file table's point
    lookup opens detail for only the segments whose summary admits the
    key."""
    summary = head.get("summary") or {}
    if not summary:
        return True

    def seg_name(cur: str) -> str | None:
        for f in _schema_fields(head["schema"]):
            if aliases.get(f, f) == cur:
                return f
        return None

    def ftype(col: str):
        return _schema_fields(head["schema"]).get(col, {}).get("type")

    for c, (lo, hi) in (skip_filter or {}).items():
        col = seg_name(c)
        if col is None or col not in summary:
            continue
        smin, smax = _stat_ext(summary[col], ftype(col))
        lo, hi = _cmp_val(lo), _cmp_val(hi)
        if (hi is not None and smin is not None and smin > hi) or (
            lo is not None and smax is not None and smax < lo
        ):
            return False
    for c, vals in (point_filter or {}).items():
        col = seg_name(c)
        if col is None or col not in summary:
            continue
        if not _point_keeps(_stat_ext(summary[col], ftype(col)), None, vals):
            return False
    return True


def _prune_segment_files(
    seg: dict,
    aliases: dict,
    skip_filter: dict[str, tuple] | None,
    point_filter: dict[str, list] | None = None,
) -> list[str]:
    """Files of one segment whose recorded [min,max] can intersect every
    requested range AND whose stats/bloom can contain at least one value
    of every point filter; files lacking stats for a column are always
    kept (pruning must never be semantic)."""
    # filter keys are CURRENT names; stats were recorded under the
    # segment's own names — resolve through the alias map
    def seg_name(cur: str) -> str | None:
        for f in _schema_fields(seg["schema"]):
            if aliases.get(f, f) == cur:
                return f
        return None

    # bounds go through the same JSON encoding as the stored stats, so a
    # datetime.date bound compares against an isoformat-string min/max
    # instead of raising (and order is preserved by construction)
    resolved = {
        seg_name(c): (_cmp_val(lo), _cmp_val(hi))
        for c, (lo, hi) in (skip_filter or {}).items()
    }
    resolved_pts = {
        seg_name(c): vals for c, vals in (point_filter or {}).items()
    }
    seg_types = {
        n: f.get("type") for n, f in _schema_fields(seg["schema"]).items()
    }
    kept = []
    for path in seg["files"]:
        stats = seg.get("stats", {}).get(path, {})
        blooms = seg.get("blooms", {}).get(path, {})
        keep = True
        for col, (lo, hi) in resolved.items():
            if col is None or col not in stats:
                continue
            fmin, fmax = _stat_ext(stats[col], seg_types.get(col))
            if (hi is not None and fmin is not None and fmin > hi) or (
                lo is not None and fmax is not None and fmax < lo
            ):
                keep = False
                break
        if keep:
            for col, vals in resolved_pts.items():
                if col is None:
                    continue
                if not _point_keeps(
                    _stat_ext(stats.get(col), seg_types.get(col)),
                    blooms.get(col),
                    vals,
                ):
                    keep = False
                    break
        if keep:
            kept.append(path)
    return kept


def files_for_read(
    table: str,
    version: int | None = None,
    skip_filter: dict[str, tuple] | None = None,
    point_filter: dict[str, list] | None = None,
) -> tuple[list[str], int]:
    """(files the read will hand Spark, total files in the version) —
    the data-skipping decision, exposed for tests and EXPLAIN-style
    tooling. ``skip_filter`` prunes by range vs min/max stats;
    ``point_filter={col: [values]}`` prunes by membership vs stats AND
    per-file bloom sketches (``bloom_cols`` at write time) — the
    ``key IN (...)`` shape range stats cannot prune on unclustered
    columns."""
    if version is None:
        version = _read_pointer(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    manifest = _read_manifest_root(table, version)
    total = sum(
        s["n_files"] if _is_seg_head(s) else len(s["files"])
        for s in _segments(manifest)
    )
    kept = [
        f
        for s in _plan_snapshot(table, manifest, skip_filter, point_filter)
        for f in s["files"]
    ]
    return kept, total


def _plan_snapshot(
    table: str,
    root: dict,
    skip_filter: "dict[str, tuple] | None" = None,
    point_filter: "dict[str, list] | None" = None,
    cv_after: "int | None" = None,
) -> list[dict]:
    """The segments a read of ``root`` sees, RESOLVED and cut to the
    files it must open — the one driver-side snapshot plan behind
    :func:`read_snapshot`, :func:`changed_rows_since`,
    :func:`files_for_read` and the ``versioned_table`` reader. Pruning,
    cheapest first, never semantic:

    * ``cv_after``: a segment whose head ``cv`` is at or below the bound
      holds no row set after it (carried rows materialize older
      versions; fresh rows coalesce to the head cv) and is dropped at
      the root.
    * ``skip_filter``/``point_filter``: the root head's coarse summary
      drops whole segments, so their detail sidecars never open; the
      survivors' per-file stats and blooms drop files.
    * ``cv_after`` inside a REWRITTEN segment (head cv = the rewrite's
      version even when most rows are old): a file is skipped when its
      recorded carried-cv range (``cvs``) predates the bound and it holds
      no NULL-cv row (those coalesce to the surviving head cv). The
      all-unknown file (hi = the -1 sentinel) is skippable too: unknown
      rows never pass ``> cv_after``."""
    aliases = root.get("aliases", {})
    filtered = bool(skip_filter or point_filter)

    def admits(st: "dict | None") -> bool:
        if st is None or st["nulls"]:
            return True  # no proof, or NULL-cv rows: stay in scope
        return st["hi"] is not None and st["hi"] > cv_after

    out = []
    for seg in _segments(root):
        cv = seg.get("cv")
        if cv_after is not None and cv is not None and cv <= cv_after:
            continue
        if _is_seg_head(seg):
            if filtered and not _head_may_match(
                seg, aliases, skip_filter, point_filter
            ):
                continue
            seg = _resolve_seg(table, seg)
        files = seg["files"]
        if filtered:
            files = _prune_segment_files(
                seg, aliases, skip_filter, point_filter
            )
        cvs = seg.get("cvs")
        if cv_after is not None and cvs:
            files = [f for f in files if admits(cvs.get(f))]
        out.append(seg if files is seg["files"] else {**seg, "files": files})
    return out


def version_as_of(table: str, ts: float) -> int:
    """The version a reader at wall-clock ``ts`` (epoch seconds) would
    have seen: the newest version with ``committed_at <= ts`` — Delta's
    ``TIMESTAMP AS OF``. Raises if the table didn't exist yet at ``ts``.

    ``committed_at`` is stamped when the manifest is STAGED; the link is
    the commit point moments later, so as-of resolution is approximate
    within a commit's staging window — the same tolerance as Delta's
    file-modification-time rule."""
    latest = _read_pointer(table)
    if latest is None:
        raise FileNotFoundError(f"no committed version in {table}")
    for v in range(latest, -1, -1):
        try:
            if _read_manifest_root(table, v).get("committed_at", 0.0) <= ts:
                return v
        except FileNotFoundError:
            raise ValueError(
                f"{table}: ts={ts} predates the retained history "
                f"(expire_history trimmed the log below v{v + 1})"
            )
    raise ValueError(
        f"{table} has no version committed at or before ts={ts}"
    )


def read_snapshot(
    spark: SparkSession,
    table: str,
    version: int | None = None,
    skip_filter: dict[str, tuple] | None = None,
    as_of: float | None = None,
    point_filter: dict[str, list] | None = None,
    with_row_ids: bool = False,
    with_commit_versions: bool = False,
) -> DataFrame:
    """DataFrame pinned to one manifest (the latest unless ``version``
    or ``as_of`` — epoch seconds, resolved via :func:`version_as_of`).

    ``skip_filter={col: (lo, hi)}`` prunes files via manifest statistics
    and ``point_filter={col: [values]}`` via stats + bloom sketches —
    pure optimizations; the caller still applies the real predicate
    (None bounds are open-ended).

    ``with_row_ids=True`` attaches ``_row_id`` — the stable row id row
    tracking maintains across compaction/purge/CoW rewrites (Delta row
    lineage). Raises ValueError on tables with pre-tracking segments.

    ``with_commit_versions=True`` attaches ``_commit_version`` — the
    version whose commit last INSERTED or UPDATED each row's values
    (Delta row commit versions). Maintenance rewrites and deletes of
    other rows never bump it; rows from segments written before the
    feature surface NULL."""
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version or as_of, not both")
        version = version_as_of(table, as_of)
    if version is None:
        version = _read_pointer(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    manifest = _read_manifest_root(table, version)
    segs = _plan_snapshot(table, manifest, skip_filter, point_filter)
    if with_row_ids or with_commit_versions:
        out = _read_segments(
            spark,
            table,
            {**manifest, "segments": segs},
            with_row_ids=with_row_ids,
            with_commit_versions=with_commit_versions,
        )
        if with_row_ids:
            out = out.withColumnRenamed(ROW_ID_COL, ROW_ID_OUT)
        if with_commit_versions:
            out = out.withColumn(
                ROW_CV_COL, _cv_public(F.col(ROW_CV_COL))
            ).withColumnRenamed(ROW_CV_COL, ROW_CV_OUT)
        return out
    if manifest.get("schema_evolved") and "segments" in manifest:
        return _read_segments(
            spark, table, {**manifest, "segments": segs}
        )
    from pyspark.sql.types import StructType

    paths = [f for s in segs for f in s["files"]]
    if not paths:
        if manifest.get("schema"):
            return spark.createDataFrame(
                [], StructType.fromJson(manifest["schema"])
            )
        return spark.createDataFrame([], schema="struct<>")
    reader = spark.read
    if manifest.get("schema_evolved"):
        # legacy evolved manifest without segments: parquet footer merge
        reader = reader.option("mergeSchema", "true")
    elif manifest.get("schema"):
        # every file carries the manifest schema: reading with it skips
        # the footer-inference job and never surfaces hidden columns
        reader = reader.schema(StructType.fromJson(manifest["schema"]))
    out = reader.parquet(*[os.path.join(table, f) for f in paths])
    dv_map = {
        rel: v
        for s in segs
        for rel, v in _seg_dvs(s).items()
        if rel in set(s["files"])
    }
    if dv_map:
        out = _dv_filter(spark, table, out, dv_map)
    for hidden in (ROW_ID_COL, ROW_CV_COL):
        if hidden in out.columns:
            # rewritten files materialize row ids / commit versions as
            # physical columns; the schema-INFERRED fast path must
            # never leak them
            out = out.drop(hidden)
    return out


def delta_files(
    table: str, from_version: int, to_version: int | None = None
) -> list[str] | None:
    """Files ADDED by the commits in (from_version, to_version] — the
    read set for incremental maintenance (fold only what's new, never
    rescan history).

    Returns None when the delta is UNDEFINED: some commit in the range
    is not a plain append (overwrite/compact/rollback rewrite lineage),
    or the appends evolved the schema (a mixed-schema delta read would
    silently mis-type) — callers fall back to a full rebuild."""
    if to_version is None:
        to_version = _read_pointer(table)
    if to_version is None or from_version >= to_version:
        return []
    out: list[str] = []
    try:
        prev_m = _read_manifest_root(table, from_version)
        for v in range(from_version + 1, to_version + 1):
            m = _read_manifest_root(table, v)
            if m["mode"] != "append" or m.get("schema_evolved"):
                return None
            # appends strictly EXTEND the segment list (the commit
            # protocol's carry), so the delta is the positional tail —
            # only ITS detail sidecars are opened, O(delta) not O(table)
            segs, prev_segs = _segments(m), _segments(prev_m)
            if len(segs) < len(prev_segs):
                return None  # not an extension: undefined, rebuild
            for s in segs[len(prev_segs) :]:
                out.extend(_resolve_seg(table, s)["files"])
            prev_m = m
    except FileNotFoundError:
        return None  # range predates expire_history's horizon: undefined
    return out


def commit_modes(
    table: str, from_version: int, to_version: int | None = None
) -> list[str]:
    """Modes of the commits in (from_version, to_version] — the
    driver-side classification incremental maintainers key off:
    all-append ranges compose from delta files, compact-only ranges are
    logical no-ops (stamp bump, no data read), anything else means
    arbitrary rewrites and an honest rebuild. O(#versions) manifest
    reads, no data I/O."""
    if to_version is None:
        to_version = _read_pointer(table)
    if to_version is None or from_version >= to_version:
        return []
    try:
        return [
            _read_manifest_root(table, v)["mode"]
            for v in range(from_version + 1, to_version + 1)
        ]
    except FileNotFoundError:
        # the range predates expire_history's horizon: report it the way
        # a rewrite would, so classification-driven maintainers rebuild
        return ["overwrite"]


def delete_where(
    spark: SparkSession,
    table: str,
    predicate,
    prune: dict[str, tuple] | None = None,
    isolation: str = "write_serializable",
    strategy: str = "cow",
    point: "dict[str, list] | None" = None,
) -> int:
    """DELETE: commit a new version with every row matching
    ``predicate`` removed (SQL semantics — NULL predicate rows are
    kept).

    ``strategy`` picks the physical plan (Delta's two delete modes):

    * ``"cow"`` (default) — copy-on-write: rewrite only the files that
      might contain matches; cost proportional to the TOUCHED FILES'
      bytes, reclaims space immediately.
    * ``"dv"`` — merge-on-read DELETION VECTORS: record the matching
      rows' (file, row_index) positions in an immutable sidecar and
      commit METADATA ONLY; cost proportional to the DELETED ROWS, no
      data file is written. Reads anti-join the positions (zero cost
      for tables without DVs); ``compact`` materializes survivors and
      sheds the vectors. A point-delete of 100 rows from a 100-TB table
      is one small sidecar instead of a multi-GB file rewrite — the
      reason Delta made DVs its default. Refused (ValueError) on tables
      with UNIQUE constraints (the append-side existence probe scans
      raw files and would resurrect deleted keys) and when the match
      count exceeds ``DV_MAX_POSITIONS`` (a rewrite is the better plan
      past that, and the driver holds the positions).
    * ``"auto"`` — ``dv`` when eligible, else ``cow``.

    ``point={col: [values]}`` prunes candidates by MEMBERSHIP against
    per-file stats + bloom sketches — the GDPR / right-to-be-forgotten
    shape: erasing a handful of scattered keys from a date-clustered
    100-TB table touches only the files whose blooms admit a key,
    where a range ``prune`` would scan everything. Combined with
    ``strategy="dv"`` the erasure is bloom-pruned AND metadata-only.
    Same over-approximation contract as ``prune``.

    ``prune`` is the same {col: (lo, hi)} shape as ``skip_filter`` and
    should over-approximate the predicate: files whose recorded min/max
    cannot intersect it carry forward UNTOUCHED (no read, no write) —
    manifest stats turn a table rewrite into a surgical one, which is
    the entire point of recording them at write time. Pruning is an
    optimization only: the predicate itself is still applied to every
    rewritten row, so a too-wide ``prune`` costs I/O, never correctness
    (too-narrow WOULD miss rows — pass None to rewrite everything).

    Time travel is untouched: the previous version still references the
    pre-delete files until ``vacuum`` retention allows reclaim.

    ``isolation``: under ``"write_serializable"`` (the default — Delta's
    default level) a concurrent plain APPEND no longer aborts the
    delete: its segments are carried into the rewritten manifest
    untouched, the history reading append-then-delete-of-older-rows.
    ``"serializable"`` restores strict behavior (any concurrent commit
    raises :class:`CommitConflict`)."""
    base, manifest = _dml_base(table, strategy)
    spec = _DmlSpec(
        "delete",
        _blind_rebase(isolation),
        match=predicate,
        prune=prune,
        point=point,
    )
    return _run_dml(spark, table, base, manifest, spec, strategy)


def _dv_candidate_scan(
    spark: SparkSession,
    table: str,
    manifest: dict,
    rewrite_segs: list[dict],
) -> DataFrame:
    """The candidate files as a read presents them (:func:`_read_segments`:
    alias map, casts, default and NULL fill) PLUS ``__dvb``/``__dvp``
    (file basename, row_index) — the position source for merge-on-read
    deletes/updates. Rows an EXISTING deletion vector already removed
    are excluded, so a MoR update can never resurrect them and a repeat
    delete never re-collects them."""
    return _read_segments(
        spark,
        table,
        {**manifest, "segments": rewrite_segs},
        with_positions=True,
    )


@dataclass
class _DmlSpec:
    """One DML statement as :func:`_run_dml` executes it. The public
    verbs validate their arguments and fill this in; the candidate
    split, the copy-on-write / deletion-vector choice, insert handling
    and the commit are shared.

    * ``match`` — the row predicate (DELETE / UPDATE / REPLACE WHERE;
      SQL NULL semantics: a NULL row is not matched). None means the
      keyed join of the candidates against ``src`` on ``keys`` (MERGE:
      the source renamed to ``__s_*`` plus the ``__s_del`` flag and the
      ``__m`` match marker).
    * ``sets`` — ``{target_col: Column}`` applied to the matched rows
      that survive. None means no SET clause: surviving matched rows
      stay in place untouched.
    * Dropped rows: MERGE drops the matched rows whose source row sets
      ``__s_del``; a predicate verb drops every match when it has no
      SET clause and none otherwise.
    * ``inserts`` — the rows to insert, before the MERGE anti-join,
      identity minting and default fill.
    * ``by_source`` — MERGE's ``when_not_matched_by_source``.
    * ``prune`` / ``point`` — the candidate-file pruning
      (:func:`_split_for_rewrite`); ``rebase`` — the concurrent-append
      guard handed to :func:`_commit_rewrite`.
    * ``schema`` / ``extra`` — an evolving merge's widened schema and
      the caller metadata to commit; ``nk`` bounds a deletion-vector
      merge's insert count for file sizing (distinct source keys)."""

    verb: str
    rebase: "Callable[[dict], bool] | None"
    match: "Column | None" = None
    src: "DataFrame | None" = None
    keys: "list[str]" = field(default_factory=list)
    sets: "dict[str, Column] | None" = None
    inserts: "DataFrame | None" = None
    by_source: "str | dict[str, Column] | None" = None
    prune: "dict[str, tuple] | None" = None
    point: "dict[str, list] | None" = None
    schema: "dict | None" = None
    extra: "dict | None" = None
    nk: int = 0


#: operationMetrics each deletion-vector commit records
_DV_METRICS = {
    "delete": ("rows_deleted",),
    "update": ("rows_updated",),
    "merge": ("rows_matched", "rows_deleted", "rows_updated", "rows_inserted"),
}


def _dml_base(table: str, strategy: str = "cow") -> "tuple[int, dict]":
    """The base version of a DML statement and its ROOT manifest:
    rewrites touch detail sidecars only for segments the statement can
    reach; everything else carries as heads."""
    base = _read_pointer(table)
    if base is None:
        raise FileNotFoundError(f"no committed version in {table}")
    if strategy not in ("cow", "dv", "auto"):
        raise ValueError(
            f"strategy must be 'cow', 'dv' or 'auto', got {strategy!r}"
        )
    return base, _read_manifest_root(table, base)


def _run_dml(
    spark: SparkSession,
    table: str,
    base: int,
    manifest: dict,
    spec: _DmlSpec,
    strategy: str = "cow",
) -> int:
    """Run one DML statement — Delta's shape: ONE "find touched files"
    stage, then a single branch to a rewrite or to deletion vectors.

    1. :func:`_split_for_rewrite` splits the version into carried and
       candidate files.
    2. Copy-on-write reads the candidates and rewrites the survivors
       (matched rows updated, dropped rows filtered out). Deletion
       vectors scan the candidates (:func:`_dv_candidate_scan`), pull
       the matched positions and fold them into each file's vector
       (:func:`_dv_mark_deleted`); the updated matched rows are
       re-emitted. ``"dv"`` raises where vectors are refused;
       ``"auto"`` falls back to copy-on-write.
    3. The rewritten/updated rows and the inserts land as ONE fresh
       segment (:func:`_rewrite_segment`), and :func:`_commit_rewrite`
       commits, restaging minted identity ids on a race."""
    from pyspark.sql.types import StructType

    carried, rewrite_segs, origins = _split_for_rewrite(
        manifest, manifest.get("aliases", {}), spec.prune, spec.point,
        table=table,
    )
    schema = spec.schema or manifest["schema"]
    target = StructType.fromJson(schema)
    keyed = spec.src is not None
    sets = spec.sets or {}
    drop = F.col("__s_del") if keyed else F.lit(spec.sets is None)

    def _join(cand: DataFrame, how: str) -> DataFrame:
        cond = None
        for k in spec.keys:
            c = cand[k] == spec.src[f"__s_{k}"]
            cond = c if cond is None else cond & c
        return cand.join(spec.src, cond, how)

    refusal = None
    n_matched = n_del = 0
    if strategy != "cow":
        if manifest.get("unique"):
            refusal = (
                "table has UNIQUE constraints (the append-side existence "
                "probe reads raw files and would see deleted keys); use "
                "strategy='cow'"
            )
        elif spec.by_source is not None:
            refusal = (
                "when_not_matched_by_source quantifies over every file — "
                "inherently copy-on-write; use strategy='cow'"
            )
        elif rewrite_segs:
            # an evolving merge's widened fields NULL/default-fill the
            # way any evolved read does
            cand = _dv_candidate_scan(
                spark, table, {**manifest, "schema": schema}, rewrite_segs
            )
            hit = (
                _join(cand, "inner")
                if keyed
                else cand.filter(F.coalesce(spec.match, F.lit(False)))
            )
            if keyed or spec.sets is not None:
                # UPDATE and MERGE may re-read the match for the fresh
                # segment: pin it, so the position pull (which
                # materializes the checkpoint) and the write see one
                # evaluation
                hit = hit.localCheckpoint(eager=False)
            pulled = hit
            if keyed:
                # ONE job (r14 perf): the match/delete counts ride the
                # position pull via observe(), which sits below the
                # victim filter so it counts every matched row
                obs = Observation()
                pulled = hit.observe(
                    obs,
                    F.count(F.lit(1)).alias("__m"),
                    F.sum(F.when(F.col("__s_del"), 1).otherwise(0)).alias(
                        "__d"
                    ),
                )
            if spec.sets is None:
                pulled = pulled.filter(drop)
            # the position pull IS the count (r14): the size cap is
            # checked on the collected frame
            pdf = _dv_positions_pdf(pulled.select("__dvb", "__dvp"))
            word = "matched" if keyed else "matching"
            if pdf is None:
                refusal = (
                    f"{word} positions exceed spark.driver.maxResultSize; "
                    "a copy-on-write rewrite is the better plan"
                )
            elif len(pdf) > DV_MAX_POSITIONS:
                refusal = (
                    f"{len(pdf)} {word} rows exceed DV_MAX_POSITIONS "
                    f"({DV_MAX_POSITIONS}); a copy-on-write rewrite is the "
                    "better plan"
                )
            elif keyed:
                got = obs.get
                n_matched, n_del = got["__m"], int(got["__d"] or 0)
            else:
                n_matched = len(pdf)
                n_del = n_matched if spec.sets is None else 0
        if refusal is not None and strategy == "dv":
            what = "merge into" if keyed else f"{spec.verb} on"
            raise ValueError(
                f"deletion-vector {what} {table} refused: {refusal}"
            )
    dv = strategy != "cow" and refusal is None

    parts: list[DataFrame] = []  # the fresh segment's rows, in order
    if dv:
        tracked = False
        segments = (
            _dv_mark_deleted(table, carried, rewrite_segs, origins, pdf)
            if rewrite_segs
            else list(carried)
        )
        if spec.sets is not None and n_matched - n_del > 0:
            parts.append(
                hit.filter(~drop).select(
                    *[
                        (sets[f.name] if f.name in sets else F.col(f.name))
                        .cast(f.dataType)
                        .alias(f.name)
                        for f in target.fields
                    ]
                )
            )
    else:
        segments = list(carried)
        tracked = bool(rewrite_segs) and all(
            _seg_row_tracked(s) for s in rewrite_segs
        )
        if rewrite_segs:
            # the same rename/cast/union path a read uses, so the match
            # sees CURRENT column names/types and (DV-aware) never
            # resurrects a row a deletion vector removed. Rewritten rows
            # keep their row ids and commit versions.
            cand = _read_segments(
                spark,
                table,
                {**manifest, "segments": rewrite_segs},
                with_row_ids=tracked,
                with_commit_versions=tracked,
            )
            # no broadcast hint on the merge join: a CDC batch is small
            # and AQE broadcasts it; a backfill must be able to sort-merge
            joined = _join(cand, "left") if keyed else cand
            matched = (
                F.col("__m").isNotNull()
                if keyed
                else F.coalesce(spec.match, F.lit(False))
            )
            by_source = (
                spec.by_source if isinstance(spec.by_source, dict) else {}
            )
            cols = []
            for f in target.fields:
                # an evolving merge's NEW column has no value in old rows
                expr = (
                    F.col(f.name).cast(f.dataType)
                    if f.name in cand.columns
                    else F.lit(None).cast(f.dataType)
                )
                if f.name in sets:
                    expr = F.when(
                        matched, sets[f.name].cast(f.dataType)
                    ).otherwise(expr)
                if f.name in by_source:
                    expr = F.when(
                        ~matched, by_source[f.name].cast(f.dataType)
                    ).otherwise(expr)
                cols.append(expr.alias(f.name))
            if tracked:
                # updated rows are the SAME logical rows: they keep their
                # ids (the keyed CDC diff reports value changes), but the
                # commit version resets (NULL → the fresh segment's cv at
                # read) wherever values may change: every row under a
                # by-source update, else the matched rows that survive
                if by_source:
                    modified = F.lit(True)
                else:
                    modified = matched if keyed else matched & ~drop
                cols.append(F.col(ROW_ID_COL))
                cols.append(
                    F.when(modified, F.lit(None).cast("long"))
                    .otherwise(F.col(ROW_CV_COL))
                    .alias(ROW_CV_COL)
                )
            survives = ~(matched & drop)
            if spec.by_source == "delete":
                survives = survives & matched
            parts.append(joined.filter(survives).select(*cols))

    ident = manifest.get("identity", {})
    identity_update = None
    n_ins = 0
    ins_obs = None
    fixed = list(parts)  # what a restage writes again unchanged
    if spec.inserts is not None:
        raw = spec.inserts
        if keyed and rewrite_segs:
            # carried files provably hold no source key (prune contract),
            # so the candidates ARE the key universe; with NO candidates
            # the merge is pure insert and skips the join (an RDD-backed
            # empty probe keeps a vestigial SortMergeJoin; r14, §2.4)
            raw = raw.join(cand.select(*spec.keys), spec.keys, "left_anti")
        dflt = manifest.get("defaults", {})

        def insert_rows(rows: DataFrame) -> DataFrame:
            # write-default: a NEW row omitting a defaulted column gets
            # the declared constant, as the append path reads it back
            cols = [
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in rows.columns
                    else F.lit(dflt.get(f.name)).cast(f.dataType)
                ).alias(f.name)
                for f in target.fields
            ]
            if tracked:
                # NEW rows: NULL id, the rewrite mints metadata bases
                cols.append(F.lit(None).cast("long").alias(ROW_ID_COL))
                cols.append(F.lit(None).cast("long").alias(ROW_CV_COL))
            return rows.select(*cols)

        def mint(marks: dict):
            # not-matched inserts mint CONTIGUOUS ids from the high-water
            # marks (the base's, or a racing append's on restage)
            rows, update, n = raw, {}, 0
            for name, col in sorted(ident.items()):
                col = {**col, "high": marks.get(name, col)["high"]}
                rows, n = _assign_identity(rows, name, col)
                update[name] = (col["high"], col["high"] + n * col["step"])
            return rows, update, n

        if ident:
            ins, identity_update, n_ins = mint(ident)
            if n_ins:
                parts.append(insert_rows(ins))
            else:
                identity_update = None  # zero inserts: nothing minted
        else:
            ins = insert_rows(raw)
            if dv:
                # no pre-count job (r14): the insert count rides the write
                ins_obs = Observation()
                ins = ins.observe(ins_obs, F.count(F.lit(1)).alias("__i"))
            parts.append(ins)

    n_upd = n_matched - n_del if spec.sets is not None else 0
    # a deletion-vector segment is matched+inserted-rows sized (small by
    # the position cap): a handful of files, not one per scan task
    bound = n_upd + (spec.nk if ins_obs is not None else n_ins)
    fresh_files = max(1, min(bound // 500_000 + 1, 8)) if dv else None

    def write(frames: "list[DataFrame]") -> dict:
        rows = frames[0]
        for p in frames[1:]:
            rows = rows.unionByName(p)
        return _rewrite_segment(
            spark,
            table,
            manifest,
            rewrite_segs,
            segments,
            rows,
            schema=spec.schema,
            # a delete or update cannot alter other columns; inserts and
            # merges may alter any
            changed_cols=(
                None if keyed or spec.inserts is not None else set(sets)
            ),
            target_files=fresh_files,
            may_mint=tracked and spec.inserts is not None,
        )

    fresh = []
    if parts:
        seg = write(parts)
        if ins_obs is not None:
            n_ins = int(ins_obs.get["__i"] or 0)
        if seg["files"]:
            fresh.append(seg)
    minted = None
    if identity_update:

        def restage(latest_ident: dict):
            # a carried append advanced the mark: re-mint the insert ids
            # from the NEW high and re-stage ONLY the fresh segment (same
            # rows, shifted ids); carried and vectored segments stay
            ins2, update, _n = mint(latest_ident)
            return segments + [write(fixed + [insert_rows(ins2)])], update

        minted = (identity_update, restage)

    counts = {
        "rows_matched": n_matched,
        "rows_deleted": n_del,
        "rows_updated": n_upd,
        "rows_inserted": n_ins,
    }
    return _commit_rewrite(
        table,
        base,
        manifest,
        segments + fresh,
        f"{spec.verb}_dv" if dv else spec.verb,
        extra=spec.extra,
        schema=spec.schema,
        rebase=spec.rebase,
        minted=minted,
        metrics={k: counts[k] for k in _DV_METRICS[spec.verb]} if dv else None,
    )


def _dv_positions_pdf(hits: DataFrame):
    """Arrow-collect (__dvb, __dvp, ...) hit positions into a pandas
    frame — ONE job, no checkpoint, no pre-count (r14: the count used to
    be a second pass over the candidate scan). Returns None when the
    transfer trips ``spark.driver.maxResultSize`` so DV callers can bail
    to copy-on-write the way an over-cap count did. Spark has no error
    class for that overflow, so the conf name in the message is the
    marker; every other failure propagates."""
    try:
        return hits.toPandas()
    except Exception as e:  # noqa: BLE001 — py4j surfaces SparkException
        if "maxResultSize" in str(e):
            return None
        raise


def _dv_mark_deleted(
    table: str,
    carried: list[dict],
    rewrite_segs: list[dict],
    origins: list[tuple],
    pdf,
) -> list[dict]:
    """Union the collected (__dvb, __dvp) hit positions (a pandas frame
    — Arrow transfer, not Row collect: at DV_MAX_POSITIONS (5M) the
    Row-object form is GBs of driver heap; the pandas frame is two flat
    columns, ~80 MB) into each file's cumulative vector, persist ONE new
    sidecar, and return the new version's segments: ``carried`` plus the
    candidates with updated ``dvs`` entries — same files, new metadata.
    A candidate whose files gained no position carries as the parent
    segment it was cut from (``origins``, see :func:`_split_for_rewrite`),
    so its head and sidecar stay shared with the parent version. The
    vector stage of every merge-on-read DELETE, UPDATE and MERGE
    (:func:`_run_dml`)."""
    base_to_rel = {
        os.path.basename(f): f
        for seg in rewrite_segs
        for f in seg["files"]
    }
    new_pos: dict[str, list] = {
        base_to_rel[b]: grp["__dvp"].astype("int64").tolist()
        for b, grp in pdf.groupby("__dvb", sort=False)
    }
    # cumulative per file: union the new positions into any existing
    # vector (old sidecars stay for old versions — immutable, like data)
    merged: dict[str, list] = {}
    for seg in rewrite_segs:
        for rel, entry in _seg_dvs(seg).items():
            if rel in new_pos:
                with open(_dv_sidecar_path(table, entry["ref"])) as f:
                    old = json.load(f)[rel]
                new_pos[rel].extend(_dv_unpack(old["pos"]).tolist())
    for rel, pos in new_pos.items():
        merged[rel] = sorted(set(pos))
    ref = _write_dv_sidecar(table, merged) if merged else None
    out = list(carried)
    for seg, (parent, kept) in zip(rewrite_segs, origins):
        if not any(rel in merged for rel in seg["files"]):
            out = [s for s in out if s is not kept]
            out.append(parent)
            continue
        dvs = dict(_seg_dvs(seg))
        for rel in seg["files"]:
            if rel in merged:
                dvs[rel] = {"ref": ref, "n": len(merged[rel])}
        out.append({**seg, "dvs": dvs})
    return out


def _blind_rebase(isolation: str):
    """rebase argument for predicate rewrites (delete/update/replace):
    WriteSerializable admits every concurrent append unconditionally —
    the rewrite's read set is closed over its own base snapshot, so
    appended files carry untouched and the outcome equals the serial
    order rewrite-then-append (exactly Delta's default level)."""
    if isolation == "write_serializable":
        return lambda seg: True
    if isolation == "serializable":
        return None
    raise ValueError(
        f"isolation must be 'write_serializable' or 'serializable', "
        f"got {isolation!r}"
    )


def replace_where(
    spark: SparkSession,
    table: str,
    predicate,
    df: DataFrame,
    prune: dict[str, tuple] | None = None,
    isolation: str = "write_serializable",
) -> int:
    """Atomic partial overwrite — Delta's ``replaceWhere``: ONE commit
    deletes every row matching ``predicate`` and inserts ``df``, the
    backfill idiom (recompute one day/region/source slice and swap it in
    without ever exposing a half-replaced table to readers).

    ``df`` must conform to the predicate: a replacement row that does
    NOT satisfy it would silently escape the next backfill of the same
    slice, so nonconforming input raises (Delta's
    "data does not match replaceWhere" check) and nothing commits.

    ``prune`` follows :func:`delete_where`'s contract — an
    over-approximation of the predicate; files that cannot contain
    matches carry forward untouched, so replacing one slice of a
    clustered 100-TB table rewrites that slice's files, not the table.
    SQL NULL semantics: NULL-predicate rows are kept. The change feed
    sees honest delete+insert pairs; time travel still reads the
    pre-replace state."""
    base, manifest = _dml_base(table)
    if manifest.get("identity"):
        raise ValueError(
            f"{table} has IDENTITY column(s) "
            f"{sorted(manifest['identity'])}: replace_where supplies "
            "rows verbatim, which would bypass GENERATED ALWAYS "
            "assignment — use merge_into or delete+append instead"
        )
    bad = df.filter(~F.coalesce(predicate, F.lit(False))).limit(1).collect()
    if bad:
        raise ValueError(
            f"replace_where input contains rows that do not satisfy the "
            f"predicate (first: {bad[0].asDict()}); the replacement for a "
            f"slice must stay inside that slice"
        )
    spec = _DmlSpec(
        "replace",
        _blind_rebase(isolation),
        match=predicate,
        inserts=df,
        prune=prune,
    )
    return _run_dml(spark, table, base, manifest, spec)


def _split_for_rewrite(
    manifest: dict,
    aliases: dict,
    prune: dict[str, tuple] | None,
    point: dict[str, list] | None = None,
    table: str | None = None,
) -> tuple[list[dict], list[dict], list[tuple]]:
    """Partition the version's segments into (carried, rewrite): files
    whose stats CANNOT intersect ``prune`` (range) / ``point`` (value
    membership vs stats + blooms) carry forward untouched (by reference
    — no read, no write); the rest are rewrite candidates. ``prune=None``
    with ``point=None`` means rewrite everything. The first stage of
    every DML statement (:func:`_run_dml`) — the surgical-rewrite
    primitive.

    Sharded manifests (``table`` given): a head whose root summary
    excludes the predicate — or that survives per-file pruning fully
    intact — carries as the HEAD, so the rewritten commit reuses its
    detail sidecar byte-for-byte; only partially-kept segments restage
    detail.

    Returns ``(carried, rewrite, origins)``: ``origins[i]`` is the
    parent segment ``rewrite[i]`` was cut from and that segment's part
    in ``carried`` (None when every file is a candidate)."""
    carried: list[dict] = []
    rewrite_segs: list[dict] = []
    origins: list[tuple] = []
    for seg in _segments(manifest):
        head = seg if _is_seg_head(seg) else None
        if head is not None:
            if (prune or point) and not _head_may_match(
                seg, aliases, prune, point
            ):
                carried.append(head)
                continue
            seg = _resolve_seg(table, seg)
        cand = (
            set(_prune_segment_files(seg, aliases, prune, point))
            if prune or point
            else set(seg["files"])
        )
        if not cand and head is not None:
            carried.append(head)
            continue
        keep = [f for f in seg["files"] if f not in cand]
        kept = None
        if keep:
            # kept files keep their deletion vectors; replaced files'
            # vectors die with the files
            kept = _seg_part(seg, keep)
            carried.append(kept)
        if cand:
            # The candidate segment must carry ONLY cand-file sidecar
            # state: a stale dv/stat/bloom entry for a file kept by the
            # carried part would be re-persisted by _dv_mark_deleted and
            # could later shadow the owning segment's newer ref.
            rewrite_segs.append(_seg_part(seg, sorted(cand)))
            origins.append((head or seg, kept))
    return carried, rewrite_segs, origins


def _seg_part(seg: dict, files: list[str]) -> dict:
    """``seg`` cut down to ``files``: every per-file map (stats, blooms,
    deletion vectors, row offsets, cv ranges) and the materialized-id
    list trim with them. Row offsets are SEGMENT-relative and never
    renumber, so a part preserves every kept file's (row_base + offset)
    ids."""
    members = set(files)
    out = {**seg, "files": files}
    for key in ("stats", "blooms", "dvs", "rows", "cvs"):
        sub = {k: v for k, v in seg.get(key, {}).items() if k in members}
        if sub or key == "stats":
            out[key] = sub
        else:
            out.pop(key, None)
    rid = [f for f in seg.get("rid", []) if f in members]
    if rid:
        out["rid"] = rid
    else:
        out.pop("rid", None)
    return out


def _rewrite_segment(
    spark: SparkSession,
    table: str,
    manifest: dict,
    rewrite_segs: list[dict],
    carried: list[dict],
    rows: DataFrame,
    schema: dict | None = None,
    changed_cols: "set[str] | None" = None,
    target_files: int | None = None,
    may_mint: bool = False,
) -> dict:
    """Write ``rows`` as the replacement segment for ``rewrite_segs``,
    re-collecting file stats for every column the replaced files had
    stats on (so data skipping keeps working across rewrites).
    ``schema`` overrides the segment's recorded schema (an evolving
    merge writes the WIDENED schema). ``carried`` are the other
    segments the new version keeps; only their blooms count against
    the bloom budget.

    When the table records a clustered layout, the replacement rows are
    re-clustered along it before writing — a merge/update/delete must
    not silently de-cluster what the write path paid to cluster. The
    rewrite targets as many files as it REPLACES (capped by the recorded
    ``layout_files``): proportional to the touched slice, never an
    AQE-collapse to one wide-stats file, so per-file stats stay at least
    as narrow as the files being replaced."""
    aliases = manifest.get("aliases", {})
    constraints = {
        **manifest.get("constraints", {}),
        **_generated_as_constraints(manifest.get("generated", {})),
    }
    rw_obs = None
    rw_checks: list[dict] = []
    if constraints:
        # Delta enforces CHECK on UPDATE/MERGE output too. r14 (guide
        # §1.2): persisted constraints are row checks by construction,
        # so the gate rides the WRITE job via observe() instead of a
        # separate FULL execution of the replacement plan (on clustered
        # tables that plan already runs for bounds + range sampling —
        # the gate was a fourth execution). A violating rewrite stages
        # files that orphan for vacuum; no version ever references them.
        rw_checks = _constraint_checks(constraints)
        rw_obs = Observation()
    # UNIQUE enforcement on rewrites: only constraints whose key columns
    # this rewrite can actually alter (``changed_cols``; None = assume
    # all, e.g. MERGE inserts) need checking — a delete or an update of
    # non-key columns cannot create a duplicate where none existed
    uniq = {
        name: cols
        for name, cols in manifest.get("unique", {}).items()
        if changed_cols is None or set(cols) & changed_cols
    }
    if uniq:
        rewritten = {f for s in rewrite_segs for f in s["files"]}
        for name, cols in sorted(uniq.items()):
            keys = rows.select(*cols).na.drop("any")
            # fused probe (r13: one grouped agg answered the dup check
            # AND the distinct-key count; r14: ONE action for the common
            # point-prunable case — the row count rides the capped
            # distinct-key collect via observe(), duplicates exist iff
            # it exceeds the number of distinct keys, and the collected
            # keys ARE the point filter)
            u_obs = Observation()
            vals = _collect_one_round(
                keys.observe(u_obs, F.count(F.lit(1)).alias("__c"))
                .distinct()
                .limit(_UNIQ_POINT_CAP + 1)
            )
            total = int(
                _obs_get(u_obs, keys, F.count(F.lit(1)).alias("__c"))["__c"]
                or 0
            )
            if len(vals) <= _UNIQ_POINT_CAP:
                nk = len(vals)
                pf = {
                    c: sorted({r[i] for r in vals})
                    for i, c in enumerate(cols)
                }
            else:
                nk = int(
                    keys.agg(
                        F.count_distinct(F.struct(*cols)).alias("__nk")
                    ).collect()[0]["__nk"]
                )
                pf = None
            if total > nk:
                raise UniqueConstraintViolation(
                    f"rewrite of {table} refused — UNIQUE {name} ({cols}):"
                    " duplicate keys among the replacement rows"
                )
            if nk == 0:
                continue  # no non-NULL replacement keys: nothing to hit
            # the carried files that may hold a replacement key: a
            # segment whose coarse bounds exclude them never opens detail
            carried_segs = [
                {**s, "files": [f for f in s["files"] if f not in rewritten]}
                for s in _plan_snapshot(table, manifest, None, pf)
            ]
            if any(s["files"] for s in carried_segs):
                old = _read_segments(
                    spark, table, {**manifest, "segments": carried_segs}
                ).select(*cols).na.drop("any")
                if old.join(keys.distinct(), cols, "semi").take(1):
                    raise UniqueConstraintViolation(
                        f"rewrite of {table} refused — UNIQUE {name} "
                        f"({cols}): a replacement row's key already exists"
                        " in a carried file"
                    )
    layout = manifest.get("layout")
    if layout:
        # ``target_files`` overrides the replaced-count sizing: a
        # bin-packing compaction WANTS fewer files than it replaces
        replaced = target_files or (
            sum(len(s["files"]) for s in rewrite_segs) or 1
        )
        cap = layout.get("files") or replaced
        # when the DML provably leaves the layout columns untouched
        # (delete / update of other columns / maintenance), quantization
        # bounds come off the victim files' manifest stats — one fewer
        # full execution of the replacement plan (r14, guide §1.2)
        lb = (
            _layout_bounds_from_segstats(rows, rewrite_segs, layout["by"])
            if changed_cols is not None
            and not (set(layout["by"]) & changed_cols)
            else None
        )
        rows = _apply_layout(
            rows,
            layout["by"],
            max(1, min(replaced, cap)),
            strict=False,
            bounds=lb,
        )
    elif target_files is not None:
        rows = rows.coalesce(max(1, target_files))
    if rw_obs is not None:
        # observed above the layout (see write_snapshot): once, on
        # exactly the written rows
        rows = _observe_checks(rows, rw_obs, rw_checks)
    # row tracking through rewrites: when the caller threaded __row_id
    # (a CoW/compaction scan over a tracked table), the replacement
    # files MATERIALIZE the ids — carried rows keep their identity so
    # the keyed CDC diff cancels them by id instead of shuffling both
    # snapshots. ``may_mint`` (merge/replace with fresh inserts): the
    # NULL-id rows ride the SAME files (one write, the join never
    # recomputes) and the files register metadata bases spanning their
    # FULL row count — the read path's coalesce(__row_id, base +
    # row_index) hands carried rows their materialized ids and minted
    # rows the positional fallback, unique because carried rows simply
    # never use their base slots (id-space gaps are free in an int64;
    # uniqueness is the contract — Delta's fresh/materialized split).
    rid_files: list[str] = []
    if ROW_ID_COL in rows.columns:
        files_new = _write_data(rows, table)
        if not may_mint:
            rid_files = files_new
    else:
        files_new = _write_data(rows, table)
    if rw_obs is not None:
        got = rw_obs.get
        total = int(got["__t"] or 0)
        failed = [
            (c, int(got[f"__v{i}"] or 0))
            for i, c in enumerate(rw_checks)
            if int(got[f"__v{i}"] or 0) > 0
        ]
        if failed:
            detail = "; ".join(
                f"{c['name']}: {v}/{total}" for c, v in failed
            )
            raise QualityGateViolation(
                f"rewrite of {table} refused — persisted constraint(s) "
                f"violated by replacement rows: {detail}"
            )
    # stat columns come from the WHOLE version, not just the rewritten
    # files — an insert-only merge whose pruning carried every old file
    # must still record stats on its fresh files, or skipping degrades.
    # Heads carry the column SURFACE (stats_cols/bloom_cols) in the
    # root, so this never opens a detail sidecar.
    stat_cols_set: set = set()
    bloom_cols_set: set = set()
    for seg in list(_segments(manifest)) + list(rewrite_segs):
        if _is_seg_head(seg):
            stat_cols_set |= set(seg.get("stats_cols", []))
            bloom_cols_set |= set(seg.get("bloom_cols", []))
        else:
            stat_cols_set |= {
                c
                for fs in seg.get("stats", {}).values()
                for c in fs
            }
            bloom_cols_set |= {
                c
                for fb in seg.get("blooms", {}).values()
                for c in fb
            }
    stat_cols = sorted(aliases.get(c, c) for c in stat_cols_set)
    stats = (
        _collect_file_stats(table, files_new, stat_cols)
        if stat_cols
        else {}
    )
    # same rule for blooms: the replacement files re-bloom every column
    # any replaced file had a bloom on, so point pruning survives
    # merge/update/delete instead of decaying file by file
    bloom_cols = sorted(aliases.get(c, c) for c in bloom_cols_set)
    out = {
        "files": files_new,
        "schema": schema if schema is not None else manifest["schema"],
        "stats": stats,
    }
    if bloom_cols:
        blooms = _enforce_bloom_budget(
            table,
            _collect_file_blooms(spark, table, files_new, bloom_cols),
            # the replaced files' blooms leave with them: a full compact
            # re-blooms at full size instead of folding its own sketches
            sum(_seg_bloom_bytes(s) for s in carried),
        )
        if blooms:
            out["blooms"] = blooms
    if rid_files:
        out["rid"] = rid_files
    if ROW_CV_COL in rows.columns:
        # per-file commit-version ranges: sub-segment pruning for
        # changed_rows_since across this rewrite (footer-only)
        cvs = _collect_file_cv_stats(table, files_new)
        if cvs:
            out["cvs"] = cvs
    # non-materialized files mint metadata bases at commit time
    out = _attach_row_offsets(out, table)
    # sentinel: a FRESH rewrite segment's commit version is stamped in
    # the commit loop (the final version isn't known here — rebases
    # shift it); carried pre-feature segments simply lack the key
    out["cv"] = None
    return out


def _rebase_appends(
    table: str, base: int, prev: int, base_manifest: dict, guard
) -> "tuple[list[dict], dict] | None":
    """The logical-conflict check behind optimistic rewrites: when every
    commit in (base, prev] is a plain same-schema append, return its new
    segments (to carry into the rebased rewrite) plus the latest
    manifest (a further rebase slices its carry from there; the commit
    loop adopts that root's ``extra`` — the streaming batch-id ledger,
    without which replayed micro-batches would double-ingest — layout
    and properties). ``guard(segment) -> bool`` is the mode-specific
    commutation proof (merge: appended files cannot contain any source
    key); any failure returns None and the caller raises."""
    segs: list[dict] = []
    prev_m = base_manifest
    for v in range(base + 1, prev + 1):
        m = _read_manifest_root(table, v)
        if m["mode"] != "append":
            return None
        if m.get("schema") != base_manifest["schema"]:
            return None  # append evolved the schema: rebase would lose it
        if m.get("aliases", {}) != base_manifest.get("aliases", {}):
            return None
        for prop in ("constraints", "generated", "unique"):
            # a concurrent ALTER (add_check_constraint / add_unique /
            # add_generated_column commits as a zero-segment append)
            # must NOT be adopted silently: the rewrite's replacement
            # rows were never validated against it — strict conflict,
            # the caller re-runs and gates under the new rules
            if m.get(prop, {}) != base_manifest.get(prop, {}):
                return None
        new = _segments(m)[len(_segments(prev_m)) :]
        # guards inspect per-file stats/blooms (merge's disjointness
        # proof) — run them on the RESOLVED form, but carry the HEAD so
        # the rebased commit rewrites none of the append's detail bytes
        if guard is not None and not all(
            guard(_resolve_seg(table, s)) for s in new
        ):
            return None
        segs.extend(new)
        prev_m = m
    return segs, prev_m


def _commit_rewrite(
    table: str,
    base: int,
    manifest: dict,
    segments: list[dict],
    mode: str,
    extra: dict | None = None,
    schema: dict | None = None,
    rebase=None,
    minted: "tuple[dict[str, tuple[int, int]], Callable] | None" = None,
    metrics: dict | None = None,
) -> int:
    """Commit a rewrite (DML or any OPTIMIZE kind) based on version
    ``base`` through the one :func:`_commit` loop. The rewrite sets only
    its segments, schema, evolved flag, IDENTITY and row-id marks, and
    (when given) ``extra`` and ``metrics``; every other table field
    carries from the latest root. ``schema`` overrides the committed
    table schema (evolving merge). ``metrics`` (Delta DESCRIBE HISTORY
    operationMetrics shape) records counts the operation already
    computed — never a new job.

    Concurrency: with ``rebase=None`` a concurrent commit raises —
    strict serializability, the rewrite reflects a superseded snapshot.
    With ``rebase=guard`` (a ``segment -> bool`` commutation check), the
    Delta-style optimistic protocol applies: if every intervening commit
    is a plain append whose new segments pass the guard, they are
    carried into the rewritten manifest and the commit retries on the
    new base — concurrent ingest no longer kills maintenance. A
    zero-segment append (an ALTER ... SET TBLPROPERTIES) commutes too,
    and its properties carry like any other root field. Anything
    unprovable (a racing rewrite, schema evolution, a new constraint, a
    guard miss) still raises.

    ``minted=(identity_update, restage)`` (minting merges):
    ``identity_update`` maps each IDENTITY column to the (old, new)
    high-water marks this rewrite minted between. ``restage`` is called
    when the rebase proof succeeds but a carried commit ADVANCED such a
    mark — ``restage(latest_identity) -> (segments, identity_update)``
    re-assigns the fresh segment's minted ids from the new mark and
    re-stages ONLY that segment (the write_snapshot restage-on-race
    idiom: ids are baked into staged parquet, so re-linking would
    duplicate or gap the sequence)."""
    identity_update, restage = minted or (None, None)
    table_schema = schema if schema is not None else manifest["schema"]
    if manifest.get("unique") and rebase is not None:
        # the rewrite's UNIQUE probe covered the files of `base` only;
        # an append carried in by rebase was never checked against the
        # replacement rows — strict conflict, caller re-runs on new base
        rebase = None
    evolved = (
        bool(manifest.get("aliases"))
        or bool(manifest.get("schema_evolved"))
        or any(s["schema"] != table_schema for s in segments)
    )
    carried_appends: list[dict] = []

    def attempt(prev: int, latest: dict) -> dict:
        nonlocal base, manifest, segments, identity_update, evolved
        nonlocal carried_appends
        if prev != base:
            rb = (
                _rebase_appends(table, base, prev, manifest, rebase)
                if rebase is not None
                else None
            )
            if rb is None:
                raise CommitConflict(
                    f"concurrent commit to {table} during {mode} (based "
                    f"on v{base}); re-run"
                )
            carried_segs, manifest = rb
            if identity_update is not None:
                # this rewrite MINTED ids from base's high-water mark.
                # The rebase guard already proved the interleaved commits
                # are plain appends disjoint from the source keys; the
                # only remaining hazard is the minted RANGE itself — so
                # a mark that did NOT drift commutes outright (r8 sharp
                # edge #2), and a drifted mark RESTAGES the fresh
                # segment from the new mark when the caller supplied the
                # re-assign hook — never a full merge re-run.
                drifted = [
                    c
                    for c, (exp, _n) in identity_update.items()
                    if latest["identity"].get(c, {}).get("high") != exp
                ]
                if drifted:
                    fresh_segments, identity_update = restage(
                        latest["identity"]
                    )
                    # the restaged list replaces THIS rewrite's segments
                    # only — appends carried in earlier loop iterations
                    # ride along (they live in carried_appends)
                    segments = fresh_segments + carried_appends
            carried_appends = carried_appends + carried_segs
            segments = segments + carried_segs
            evolved = evolved or any(
                s["schema"] != table_schema for s in carried_segs
            )
            base = prev
        # the latest root supplies everything this rewrite does not set:
        # layout, constraints, defaults, properties and the streaming
        # ledger of any append it rebased over, and the advanced IDENTITY
        # and row-id marks of those appends (ids this rewrite must never
        # reuse); our own minted marks overlay them
        ident = dict(latest["identity"])
        for c, (_exp, new) in (identity_update or {}).items():
            ident[c] = {**ident.get(c, {}), "high": new}
        # mint row bases for THIS rewrite's fresh segments per attempt
        # (copies — a retried loop re-mints from the adopted mark, so a
        # lost race can never double-assign an id range)
        seg_final, row_high = _assign_row_bases(segments, latest["row_high"])
        # stamp the fresh segments' commit version (the _rewrite_segment
        # sentinel) with the version this attempt will take; carried
        # segments keep the cv of the commit that wrote their rows
        seg_final = [
            {**s, "cv": prev + 1} if ("cv" in s and s["cv"] is None) else s
            for s in seg_final
        ]
        out = {
            "mode": mode,
            "segments": seg_final,
            "schema": table_schema,
            "schema_evolved": evolved,
            "identity": ident,
            "row_high": row_high,
        }
        if extra is not None:
            out["extra"] = extra
        if metrics:
            out["metrics"] = metrics
        return out

    return _commit(
        table, attempt, f"{mode} on {table} kept losing the commit race"
    )


def update_where(
    spark: SparkSession,
    table: str,
    predicate,
    set_exprs: dict[str, "Column | object"],
    prune: dict[str, tuple] | None = None,
    isolation: str = "write_serializable",
    strategy: str = "cow",
    point: "dict[str, list] | None" = None,
) -> int:
    """UPDATE with the same two physical plans as :func:`delete_where`:
    ``strategy="cow"`` (default) rewrites the candidate files;
    ``"dv"`` is the merge-on-read decomposition — matched rows'
    positions join the deletion vectors and the UPDATED rows land as a
    fresh segment, ONE atomic commit whose cost is proportional to the
    matched rows (``"auto"`` picks dv when eligible; same UNIQUE and
    position-cap rules as delete).

    Copy-on-write semantics: commit a new version where every row
    matching ``predicate`` has the ``set_exprs`` columns replaced
    (``{col: Column-or-literal}``, evaluated over the row), rewriting
    ONLY the files that might contain matches — symmetric to
    :func:`delete_where`, with the same ``prune`` contract (an
    over-approximation of the predicate; too-wide costs I/O, never
    correctness). SQL NULL semantics: a NULL predicate row is NOT
    matched and keeps its values.

    The reference capability is ``UPDATE messages SET posted = TRUE``
    (bot/botrun.py:163-167, 308-309) — at lake scale an update must not
    rewrite the whole table. The change feed sees the rewrite as
    delete+insert pairs (the honest row-level diff of an update); time
    travel still reads the pre-update state."""
    base, manifest = _dml_base(table, strategy)
    locked = sorted(set(set_exprs) & set(manifest.get("identity", {})))
    if locked:
        raise ValueError(
            f"IDENTITY column(s) {locked} cannot be UPDATE targets "
            "(GENERATED ALWAYS)"
        )
    bad = [c for c in set_exprs if c not in _schema_fields(manifest["schema"])]
    if bad:
        raise ValueError(f"update of unknown column(s): {bad}")
    spec = _DmlSpec(
        "update",
        _blind_rebase(isolation),
        match=predicate,
        sets={
            c: v if isinstance(v, Column) else F.lit(v)
            for c, v in set_exprs.items()
        },
        prune=prune,
        point=point,
    )
    return _run_dml(spark, table, base, manifest, spec, strategy)


def merge_into(
    spark: SparkSession,
    table: str,
    source: DataFrame,
    keys: list[str],
    when_matched: "str | dict[str, str]" = "replace",
    delete_when=None,
    insert: bool = True,
    prune: "str | dict[str, tuple] | None" = "auto",
    evolve_schema: bool = False,
    source_meta_cols: "list[str] | tuple[str, ...]" = (),
    when_not_matched_by_source: "str | dict[str, Column | object] | None" = None,
    extra: dict | None = None,
    strategy: str = "cow",
) -> int:
    """General MERGE INTO: ONE atomic commit doing matched-update /
    matched-delete / not-matched-insert against a versioned table — the
    reference's ``INSERT ... ON CONFLICT DO UPDATE``
    (functions.py:178-183) at lake scale, where the previous decomposition
    (``delete_where`` + swap upsert) took two commits with a torn window
    between them.

    * ``keys`` — equi-join columns; source keys must be UNIQUE (checked;
      a many-to-one merge is ambiguous, same rule as Delta MERGE).
    * ``when_matched`` — ``"replace"`` (every shared column takes the
      source value), ``"keep"`` (matched target rows unchanged —
      insert-only merge), or ``{target_col: source_col}`` for a partial
      ``DO UPDATE SET``.
    * ``delete_when`` — optional Column over the SOURCE row (e.g.
      ``F.col("op") == "D"``): matched rows whose source row satisfies it
      are deleted instead of updated; unmatched delete rows are no-ops.
    * ``insert`` — insert source rows (minus delete rows) whose key
      matches nothing; columns absent from the source NULL-fill.
    * ``prune`` — ``"auto"`` derives the skip range from the source's
      key min/max (files whose key stats cannot intersect ANY source key
      carry forward untouched), a dict uses :func:`delete_where`'s
      contract, ``None`` rewrites everything. Pruning is correct because
      a carried file provably holds no source key, so its rows can be
      neither matched nor block an insert.

    Untouched files carry by reference; time travel reads the pre-merge
    state; the change feed sees delete+insert pairs. A concurrent commit
    raises :class:`CommitConflict` (re-run on the new base).

    ``evolve_schema=True`` widens the table to the union of its schema
    and the source's DATA columns (adds + lossless widening, the append
    path's rules): the CDC case where the upstream gained a column.
    ``source_meta_cols`` names source columns that are transport
    metadata (op flags, offsets) and must never become table columns —
    ``delete_when`` may still reference them.

    ``extra`` replaces the committed manifest's caller metadata (default
    carries the previous version's forward) — lineage stamping for CDC
    consumers and index maintainers.

    ``strategy`` picks the physical plan for MATCHED rows — the same
    choice, made at the same site, as :func:`delete_where` /
    :func:`update_where`:

    * ``"cow"`` (default) — copy-on-write: every file that might hold a
      matched key is rewritten; cost O(touched files' bytes).
    * ``"dv"`` — merge-on-read: matched rows' positions join each
      file's deletion vector and the updates + not-matched inserts land
      as ONE fresh segment — cost O(matched rows + inserts), the CDC
      upsert shape at 100 TB (a 10k-row batch into a 100-TB table
      commits a sidecar and a few small files, never a file rewrite).
      Refused on UNIQUE-constrained tables (the append-side probe scans
      raw files), with ``when_not_matched_by_source`` (the clause
      quantifies over every file — inherently CoW), and past
      ``DV_MAX_POSITIONS`` matches. ``evolve_schema`` composes: the
      fresh segment writes the widened schema, old files pad on read.
    * ``"auto"`` — ``dv`` when eligible, else ``cow``.

    ``when_not_matched_by_source`` handles TARGET rows whose key appears
    in no source row — the full-snapshot dimension sync Delta supports:
    ``"delete"`` removes them, ``{target_col: Column-or-literal}``
    updates them in place (e.g. ``{"active": F.lit(False)}``), all in
    the SAME atomic commit as the matched/not-matched clauses — the
    previous decomposition (merge + separate delete commit) left a torn
    window between the two. The clause quantifies over ABSENT keys, so
    key-range pruning is unsound with it: every file must be rewritten
    (``prune`` is forced to None; passing an explicit prune dict
    raises, because a carried file's unmatched rows would silently
    escape the clause)."""
    base, manifest = _dml_base(table, strategy)
    aliases = manifest.get("aliases", {})
    schema_json = manifest["schema"]
    data_cols = [c for c in source.columns if c not in set(source_meta_cols)]
    if evolve_schema:
        src_schema = {
            "type": "struct",
            "fields": [
                f
                for f in source.schema.jsonValue()["fields"]
                if f["name"] in set(data_cols)
            ],
        }
        schema_json, _ = _merge_schemas(
            schema_json, src_schema, f"merge into {table}"
        )
    tcols = list(_schema_fields(schema_json))
    # keys must pre-exist in the TABLE schema (evolution adds payload
    # columns, never join keys — a source-only key cannot match anything)
    missing = [
        k
        for k in keys
        if k not in _schema_fields(manifest["schema"]) or k not in source.columns
    ]
    if missing:
        raise ValueError(f"merge key(s) {missing} absent from table or source")
    ident = manifest.get("identity", {})
    for iname in sorted(ident):
        if iname in source.columns or iname in keys:
            raise ValueError(
                f"column {iname!r} is GENERATED ALWAYS AS IDENTITY on "
                f"{table}: the engine assigns it; merge on a natural "
                "key and omit it from the source"
            )
    if when_matched == "replace":
        mapping = {c: c for c in data_cols if c in tcols and c not in keys}
    elif when_matched == "keep":
        mapping = {}
    elif isinstance(when_matched, dict):
        bad = [
            (t, s)
            for t, s in when_matched.items()
            if t not in tcols or s not in source.columns
        ]
        if bad:
            raise ValueError(f"update mapping references unknown column(s): {bad}")
        locked = sorted(set(when_matched) & set(ident))
        if locked:
            raise ValueError(
                f"IDENTITY column(s) {locked} cannot be update targets"
            )
        mapping = dict(when_matched)
    else:
        raise ValueError(f"unsupported when_matched: {when_matched!r}")
    if when_not_matched_by_source is not None:
        if isinstance(when_not_matched_by_source, dict):
            bad = [c for c in when_not_matched_by_source if c not in tcols]
            if bad:
                raise ValueError(
                    f"when_not_matched_by_source references unknown "
                    f"column(s): {bad}"
                )
        elif when_not_matched_by_source != "delete":
            raise ValueError(
                "when_not_matched_by_source must be 'delete' or a "
                f"{{col: value}} dict, got {when_not_matched_by_source!r}"
            )
        if isinstance(prune, dict):
            raise ValueError(
                "prune cannot be combined with when_not_matched_by_source: "
                "a carried file's rows would escape the clause"
            )
        prune = None  # the clause quantifies over absent keys — see docstring

    # Source probe: the many-to-one ambiguity check (like Delta's
    # DELTA_MULTIPLE_SOURCE_ROW_MATCHING_TARGET), the auto-prune key
    # range, and the point-membership key list. r13 fused three jobs
    # into a grouped agg; r14 makes the CDC-sized case ONE action: the
    # row count and per-key ranges ride the capped distinct-key collect
    # via observe(), the collected keys ARE the membership filter (the
    # difference between rewriting the table and rewriting a handful of
    # files at 100 TB), and duplicates exist iff the observed row count
    # exceeds the distinct-key count. Only an over-cap (backfill-sized)
    # source pays a second exact-distinct aggregate, for the ambiguity
    # gate alone — it keeps the range prune and skips membership
    # pruning as before.
    def _dup_raise():
        dup = (
            source.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > 1)
            .limit(1)
            .collect()
        )
        kv = {k: dup[0][k] for k in keys}
        raise ValueError(f"source has multiple rows for merge key {kv}")

    point = None
    nk = 0
    if prune == "auto":
        p_obs = Observation()
        p_aggs = [F.count(F.lit(1)).alias("__cnt")]
        for k in keys:
            p_aggs += [
                F.min(k).alias(f"__lo_{k}"),
                F.max(k).alias(f"__hi_{k}"),
            ]
        krows = _collect_one_round(
            source.observe(p_obs, *p_aggs)
            .select(*keys)
            .distinct()
            .limit(_POINT_PRUNE_MAX_KEYS + 1)
        )
        got = _obs_get(p_obs, source, *p_aggs)
        cnt = int(got["__cnt"] or 0)
        prune = {
            k: (got[f"__lo_{k}"], got[f"__hi_{k}"])
            for k in keys
            if got[f"__lo_{k}"] is not None
        } or None
        if len(krows) <= _POINT_PRUNE_MAX_KEYS:
            nk = len(krows)
            if cnt > nk:
                _dup_raise()
            if nk:
                point = {k: [r[k] for r in krows] for k in keys}
        else:
            nk = int(
                source.agg(
                    F.count_distinct(F.struct(*keys)).alias("__nk")
                ).collect()[0]["__nk"]
            )
            if cnt > nk:
                _dup_raise()
    else:
        # no range probe wanted (prune=None or an explicit dict): a
        # single global aggregate still gates ambiguity — struct() is
        # never NULL, so NULL-keyed rows count as distinct keys exactly
        # like a groupBy would treat them.
        row = source.agg(
            F.count(F.lit(1)).alias("__cnt"),
            F.count_distinct(F.struct(*keys)).alias("__nk"),
        ).collect()[0]
        nk = int(row["__nk"] or 0)
        if (row["__cnt"] or 0) > nk:
            _dup_raise()

    # source, renamed out of the target namespace, with the delete flag
    # evaluated over the ORIGINAL source row (op-flag columns usable even
    # if the table doesn't have them)
    del_col = (
        F.coalesce(delete_when, F.lit(False))
        if delete_when is not None
        else F.lit(False)
    )
    src_payload = sorted({*mapping.values(), *keys})
    src = source.select(
        *[F.col(c).alias(f"__s_{c}") for c in src_payload],
        del_col.alias("__s_del"),
        F.lit(1).alias("__m"),
    )
    inserts = None
    if insert:
        inserts = (
            source
            if delete_when is None
            else source.filter(~F.coalesce(delete_when, F.lit(False)))
        )
    if isinstance(when_not_matched_by_source, dict):
        when_not_matched_by_source = {
            c: v if isinstance(v, Column) else F.lit(v)
            for c, v in when_not_matched_by_source.items()
        }

    def _append_commutes(seg: dict) -> bool:
        # Delta-style logical conflict detection: a concurrent append
        # commutes with this merge only if its files PROVABLY cannot
        # contain any source key (stats/bloom disjointness) — then no
        # matched row escaped the rewrite and no not-matched insert got
        # duplicated, and the rebase is genuinely serializable, not just
        # write-serializable. No key bounds (prune=None, by-source
        # sync, oversized source) or no stats on the appended files →
        # unprovable → conflict.
        if prune is None and point is None:
            return False
        return not _prune_segment_files(seg, aliases, prune, point)

    spec = _DmlSpec(
        "merge",
        _append_commutes,
        src=src,
        keys=keys,
        sets={t: F.col(f"__s_{c}") for t, c in mapping.items()} or None,
        inserts=inserts,
        by_source=when_not_matched_by_source,
        prune=prune,
        point=point,
        schema=schema_json,
        extra=extra,
        nk=nk,
    )
    return _run_dml(spark, table, base, manifest, spec, strategy)


#: Commit modes whose rewrites PRESERVE row lineage (carried rows
#: materialize their ids; fresh rows mint) — eligible for the keyed CDC
#: diff. Overwrite and rollback re-stamp identity wholesale and keep the
#: value-canceling exceptAll semantics.
_KEYED_CDC_MODES = frozenset(
    {
        "append",
        "delete",
        "update",
        "merge",
        "delete_dv",
        "update_dv",
        "merge_dv",
        "compact",
        "replace",
    }
)


def _contains_map(dtype) -> bool:
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        return True
    if isinstance(dtype, ArrayType):
        return _contains_map(dtype.elementType)
    if isinstance(dtype, StructType):
        return any(_contains_map(f.dataType) for f in dtype.fields)
    return False


def _map_canon(col, dtype):
    """Order-canonical, EQUALITY-COMPARABLE image of a possibly
    map-typed column: Spark defines no equality on maps (key order is
    unspecified), but ``array_sort(map_entries(m))`` is deterministic
    and comparable — two maps are equal iff their sorted entry arrays
    are (keys are unique and non-null by construction). Recurses
    through arrays/structs so nested maps canonicalize too; non-map
    types pass through untouched. Used ONLY inside the keyed diff's
    value-equality predicate — emitted rows keep the original values."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        entries = F.map_entries(col)
        if _contains_map(dtype.keyType) or _contains_map(dtype.valueType):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    _map_canon(e["key"], dtype.keyType).alias("key"),
                    _map_canon(e["value"], dtype.valueType).alias("value"),
                ),
            )
        return F.array_sort(entries)
    if isinstance(dtype, ArrayType) and _contains_map(dtype.elementType):
        return F.transform(col, lambda x: _map_canon(x, dtype.elementType))
    if isinstance(dtype, StructType) and _contains_map(dtype):
        # NULL-struct guard: F.struct(...) alone would turn a NULL
        # struct into a non-NULL struct of NULL fields, making the
        # canonical image non-injective (a NULL-struct -> struct-of-
        # NULLs update would diff as no-change, and exceptAll-path
        # emissions would distort the value). The null literal adopts
        # the otherwise-branch's struct type.
        return F.when(col.isNull(), F.lit(None)).otherwise(
            F.struct(
                *[
                    _map_canon(col[f.name], f.dataType).alias(f.name)
                    for f in dtype.fields
                ]
            )
        )
    return col


def _map_uncanon(col, dtype):
    """Inverse of :func:`_map_canon`: rebuild the ORIGINAL map-typed
    value from its canonical sorted-entry image (entry keys are unique,
    so ``map_from_entries`` restores the map losslessly; entry ORDER is
    unspecified in Spark maps, so no information was destroyed)."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    if isinstance(dtype, MapType):
        entries = col
        if _contains_map(dtype.keyType) or _contains_map(dtype.valueType):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    _map_uncanon(e["key"], dtype.keyType).alias("key"),
                    _map_uncanon(e["value"], dtype.valueType).alias("value"),
                ),
            )
        return F.map_from_entries(entries)
    if isinstance(dtype, ArrayType) and _contains_map(dtype.elementType):
        return F.transform(col, lambda x: _map_uncanon(x, dtype.elementType))
    if isinstance(dtype, StructType) and _contains_map(dtype):
        # same NULL-struct guard as _map_canon: a NULL struct must
        # round-trip to NULL, not to a struct of NULL fields
        return F.when(col.isNull(), F.lit(None)).otherwise(
            F.struct(
                *[
                    _map_uncanon(col[f.name], f.dataType).alias(f.name)
                    for f in dtype.fields
                ]
            )
        )
    return col


def _harmonize(
    new: DataFrame, old: DataFrame, defaults: dict, hidden: tuple = ()
) -> "tuple[DataFrame, DataFrame]":
    """The two sides of a diff on one column set: old's columns cast to
    new's types, a column only new has padded on the old side with its
    declared DEFAULT (NULL when none), and a column only old has
    surfaced on the new side as NULL. ``hidden`` columns are left alone.
    The default pad matters: the new side's carried rows read a column
    ALTERed in with a default as that default, so a NULL pad would turn
    every carried row into an insert+delete pair — with it they cancel.
    Shared by the keyed and exceptAll branches of :func:`table_changes`
    and :func:`sync_changes`' full diff."""
    new_types = {c: t for c, t in new.dtypes if c not in hidden}
    old_types = {c: t for c, t in old.dtypes if c not in hidden}
    for c, t in new_types.items():
        if c not in old_types:
            old = old.withColumn(c, F.lit(defaults.get(c)).cast(t))
        elif old_types[c] != t:
            old = old.withColumn(c, F.col(c).cast(t))
    for c in [c for c in old_types if c not in new_types]:
        new = new.withColumn(c, F.lit(None).cast(old_types[c]))
    return new, old


def _changed_segments(
    table: str, root: dict, prev_root: "dict | None"
) -> "tuple[list[dict], list[dict]]":
    """(cur, prev) segments of two roots RESOLVED, with every segment
    whose sidecar ref appears in BOTH dropped from both sides: a shared
    ref is identical detail (files, vectors, lineage) and contributes
    nothing to a diff, so the shared bulk of an 800k-file table is never
    opened. ``prev_root=None`` (version 0, or an expired parent) makes
    every segment of ``root`` changed."""
    cur = _segments(root)
    prev = _segments(prev_root) if prev_root is not None else []
    shared = {s["ref"] for s in cur if _is_seg_head(s)} & {
        s["ref"] for s in prev if _is_seg_head(s)
    }

    def changed(segs: list[dict]) -> list[dict]:
        return [
            _resolve_seg(table, s)
            for s in segs
            if not (_is_seg_head(s) and s["ref"] in shared)
        ]

    return changed(cur), changed(prev)


def _plan_commit_changes(
    table: str,
    root: dict,
    prev_root: "dict | None",
    aliases: dict,
    skip_filter: "dict[str, tuple] | None" = None,
) -> "list[tuple[str, dict, str, object]]":
    """One commit's file diff against its parent root, in emission order
    — the one change plan behind :func:`table_changes_physical` and the
    streaming change feed. Each entry is ``(kind, segment schema, file,
    vector)``:

    * ``"insert"`` — a file the parent lacks; ``vector`` is its current
      deletion-vector entry or None (a file can arrive already vectored:
      rollback to / clone of a DV'd version — its deleted rows never
      insert).
    * ``"grown"`` — a file in both whose vector changed (a merge-on-read
      DML moved no file); ``vector`` is ``(current entry, parent entry
      or None)``, and only the positions the current one adds are
      deleted rows.
    * ``"delete"`` — a parent file the commit removed; ``vector`` is its
      parent entry or None (rows the vector already deleted were
      emitted when it landed and must not delete twice).

    Only segments whose sidecar ref changed are opened
    (:func:`_changed_segments`); membership is decided over their
    UNPRUNED files, so a file moved between segments never reads as
    removed + inserted. ``skip_filter`` then drops files whose recorded
    stats (the current side's, the parent's for removals) cannot
    intersect it — a subscriber's over-approximation, emitting nothing
    on either side for such files. ``prev_root=None`` (version 0, or an
    expired parent) delivers the whole root as inserts."""
    cur_segs, prev_segs = _changed_segments(table, root, prev_root)

    def side(segs: list[dict]):
        files: set[str] = set()
        dvs: dict[str, dict] = {}
        allow: "set[str] | None" = set() if skip_filter else None
        for s in segs:
            mem = set(s["files"])
            files |= mem
            # filter to the segment's own files: an entry for a file the
            # segment no longer owns must not shadow the owner's
            dvs.update({k: e for k, e in _seg_dvs(s).items() if k in mem})
            if allow is not None:
                allow.update(_prune_segment_files(s, aliases, skip_filter))
        return files, dvs, allow

    cur_files, cur_dvs, cur_allow = side(cur_segs)
    prev_files, prev_dvs, prev_allow = side(prev_segs)
    out: list[tuple] = []
    for s in cur_segs:
        for f in s["files"]:
            if cur_allow is not None and f not in cur_allow:
                continue
            if f not in prev_files:
                out.append(("insert", s["schema"], f, cur_dvs.get(f)))
            elif f in cur_dvs and cur_dvs[f] != prev_dvs.get(f):
                out.append(
                    ("grown", s["schema"], f, (cur_dvs[f], prev_dvs.get(f)))
                )
    for s in prev_segs:
        for f in s["files"]:
            if prev_allow is not None and f not in prev_allow:
                continue
            if f not in cur_files:
                out.append(("delete", s["schema"], f, prev_dvs.get(f)))
    return out


def _table_changes_keyed(
    spark: SparkSession, table: str, from_version: int, to_version: int
) -> "DataFrame | None":
    """Row-id keyed diff between two versions — O(changed segments), the
    row-tracking answer to CDC across rewrites (VERDICT r8 ask #1).

    Plan: segments whose sidecar ref appears in BOTH endpoint roots are
    IDENTICAL (files, vectors, lineage) and cancel without a read; the
    remaining segments of each side scan WITH row ids, and one
    full-outer join on the id classifies every row — id only on the new
    side → insert, only on the old side → delete, both sides with equal
    values → carried by a rewrite, cancels. A compaction's churn
    vanishes for the cost of joining only the REWRITTEN bytes; the old
    exceptAll fallback shuffled both full snapshots.

    Map-typed columns (the engine's own semi-structured ``props``
    idiom) compare through :func:`_map_canon` — sorted entry arrays,
    recursively for nested maps — so they no longer force the
    exceptAll fallback; emitted rows still carry the ORIGINAL map
    values.

    Returns None whenever the proof doesn't hold — a mode outside
    ``_KEYED_CDC_MODES`` (overwrite/rollback re-mint identity), expired
    history, or pre-tracking segments — and the caller falls back to
    exceptAll."""
    from functools import reduce

    try:
        modes = commit_modes(table, from_version, to_version)
    except FileNotFoundError:
        return None
    if not modes or any(m not in _KEYED_CDC_MODES for m in modes):
        return None
    try:
        to_root = _read_manifest_root(table, to_version)
        from_root = _read_manifest_root(table, from_version)
    except FileNotFoundError:
        return None
    cur_segs, prev_segs = _changed_segments(table, to_root, from_root)
    if not all(_seg_row_tracked(s) for s in cur_segs + prev_segs):
        return None  # pre-tracking files in the diff scope: honest diff
    new = _read_segments(
        spark, table, {**to_root, "segments": cur_segs}, with_row_ids=True
    ).withColumnRenamed(ROW_ID_COL, "__n_rid")
    old = _read_segments(
        spark,
        table,
        {**from_root, "segments": prev_segs},
        with_row_ids=True,
    ).withColumnRenamed(ROW_ID_COL, "__o_rid")
    new, old = _harmonize(
        new, old, to_root.get("defaults") or {}, ("__n_rid", "__o_rid")
    )
    data_cols = [c for c in new.columns if c != "__n_rid"]
    n2 = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in data_cols], "__n_rid"
    )
    o2 = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in data_cols], "__o_rid"
    )
    j = n2.join(o2, F.col("__n_rid") == F.col("__o_rid"), "full_outer")
    types = {f.name: f.dataType for f in new.schema.fields}

    def _cmp(c):
        n, o = F.col(f"__n_{c}"), F.col(f"__o_{c}")
        if _contains_map(types[c]):
            return _map_canon(n, types[c]).eqNullSafe(
                _map_canon(o, types[c])
            )
        return n.eqNullSafe(o)

    same = reduce(
        lambda a, b: a & b, [_cmp(c) for c in data_cols], F.lit(True)
    )
    changed = j.filter(
        F.col("__n_rid").isNull() | F.col("__o_rid").isNull() | ~same
    )
    inserts = changed.filter(F.col("__n_rid").isNotNull()).select(
        *[F.col(f"__n_{c}").alias(c) for c in data_cols]
    ).withColumn("_change_type", F.lit("insert"))
    deletes = changed.filter(F.col("__o_rid").isNotNull()).select(
        *[F.col(f"__o_{c}").alias(c) for c in data_cols]
    ).withColumn("_change_type", F.lit("delete"))
    return inserts.unionByName(deletes)


def changed_rows_since(
    spark: SparkSession,
    table: str,
    since_version: int,
    version: int | None = None,
) -> DataFrame:
    """Rows whose VALUES were set by a commit after ``since_version`` —
    the current images of inserts and updates, with ``_commit_version``
    attached. Deletes are not represented (a snapshot filter cannot
    show absence); consumers needing the full diff use
    :func:`table_changes`.

    The point is the SCAN SHAPE: a segment's head-stamped ``cv`` bounds
    every row inside it (carried rows materialize their ORIGINAL, older
    versions; fresh rows coalesce to the head cv), so segments with
    ``cv <= since_version`` are pruned at the ROOT — their detail
    sidecars never open and their files are never read. On an
    append-mostly table, "what changed since yesterday's sync" reads
    only the segments committed since then: metadata-priced incremental
    consumption without a change-feed subscription. Pre-feature
    segments (no ``cv``) are conservatively kept; their rows carry NULL
    ``_commit_version`` and fall out of the ``> since_version`` filter
    (honest: their change time is unknown).

    Inside a REWRITTEN segment (head cv = the rewrite's version even
    when most rows are old), pruning continues at two finer grains:
    per-file ``__row_cv`` ranges recorded at rewrite time (``cvs`` in
    the detail sidecar) skip whole files whose carried versions all
    predate the bound, and a pushed-down physical predicate on the
    materialized column lets parquet row-group stats skip inside the
    files that remain."""
    if version is None:
        version = _read_pointer(table)
        if version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    root = _read_manifest_root(table, version)
    out = _read_segments(
        spark,
        table,
        {
            **root,
            "segments": _plan_snapshot(table, root, cv_after=since_version),
        },
        with_commit_versions=True,
        cv_after=since_version,
    )
    out = out.withColumn(ROW_CV_COL, _cv_public(F.col(ROW_CV_COL)))
    return out.filter(F.col(ROW_CV_COL) > since_version).withColumnRenamed(
        ROW_CV_COL, ROW_CV_OUT
    )


def sync_changes(
    spark: SparkSession,
    table: str,
    since_version: int,
    keys: list[str],
    to_version: int | None = None,
    full_diff: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """One-call incremental sync (r11, VERDICT r10 ask #5):
    ``(upserts, deleted_keys)`` such that applying "merge the upserts
    by ``keys``, then delete ``deleted_keys``" to the consumer's copy
    of version ``since_version`` reproduces version ``to_version`` —
    the full diff :func:`changed_rows_since` alone couldn't express
    (a snapshot filter cannot show absence), WITHOUT a change-feed
    subscription and without the exceptAll fallback's two-snapshot
    shuffle.

    * ``upserts`` — :func:`changed_rows_since`'s cv-pruned current
      images (``_commit_version`` attached): root prune on head cv,
      per-file carried-cv ranges, pushed ``__row_cv`` row-group
      predicate. Old segments are never opened.
    * ``deleted_keys`` — distinct key tuples that LEFT the table:
      planned from the manifest file diff
      (:func:`table_changes_physical`, zero exchanges on the feed
      itself — DV commits surface their position DELTAS row-exactly,
      removed files read only their own rows), with compaction
      commits skipped outright (``skip_compactions`` — pure carry
      noise). A copy-on-write rewrite's carried/updated rows appear
      as paired delete+insert of the same key and cancel in ONE
      delta-sized ``exceptAll`` on the key columns; only keys whose
      row count actually shrank survive. A key inserted and deleted
      inside the range cancels too — it is absent from both
      endpoints, so the sync correctly never mentions it.

    ``keys`` must identify rows (the table's merge/primary key — the
    same uniqueness contract as :func:`merge_into`); on a multiset
    key the result degrades to "count decreased". Map-typed keys are
    refused (set operations are undefined over maps). Cost:
    O(changed files read) + one shuffle of the delta-sized key sets —
    the same metadata price as the r9-r10 sync story, now returning
    the deletes it used to tell consumers to compose by hand.

    ``full_diff=True`` (r12, VERDICT r11 missing #3) makes the one-call
    API total: a resurrect-capable range (rollback / overwrite /
    expired history — where a restored row's commit version predates
    the bound and the cv-pruned upsert side would miss it) routes
    through a keyed diff of the two snapshots instead of raising.
    Same ``(upserts, deleted_keys)`` contract, honest full cost: both
    snapshots shuffle once on the key. Value comparison is null-safe
    over map-canonical images, old columns pad to the new schema with
    declared defaults (the same harmonization as
    :func:`table_changes`) so carried rows cancel, and upserts carry
    ``_commit_version`` (a restored row honestly reports its ORIGINAL
    value-setting commit). The default stays the refusal — consumers
    should see that their cheap incremental path broke."""
    from pyspark.sql.types import StructType

    if to_version is None:
        to_version = _read_pointer(table)
        if to_version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    schema = StructType.fromJson(
        _read_manifest_root(table, to_version)["schema"]
    )
    fields = {f.name: f.dataType for f in schema.fields}
    missing = [k for k in keys if k not in fields]
    if missing:
        raise ValueError(f"sync keys {missing} not in {table}'s schema")
    mapped = [k for k in keys if _contains_map(fields[k])]
    if mapped:
        raise ValueError(
            f"sync keys {mapped} are map-typed: set operations are "
            "undefined over maps — sync on a scalar key"
        )
    # resurrect-capable commits break the contract honestly rather than
    # silently: a rollback (or an overwrite, or a range whose history
    # expired) can restore a row whose value-setting commit PREDATES the
    # bound — it is new relative to the consumer's copy, but
    # changed_rows_since correctly reports its old version and the
    # upsert side would miss it. Those consumers need table_changes'
    # full diff.
    unsafe = sorted(
        {
            m
            for m in commit_modes(table, since_version, to_version)
            if m == "overwrite" or m.startswith("rollback")
        }
    )
    if unsafe and not full_diff:
        raise ValueError(
            f"sync_changes cannot cover commit mode(s) {unsafe} in "
            f"({since_version}, {to_version}]: a restored row's commit "
            "version predates the bound, so the upsert side would miss "
            "it — diff this range with table_changes, or pass "
            "full_diff=True for the keyed two-snapshot diff at its "
            "honest full cost"
        )
    if unsafe:
        from functools import reduce

        # keyed two-snapshot diff: both snapshots shuffle once on the
        # key — the honest price of diffing across a resurrect. Value
        # comparison ignores _commit_version on purpose (a restored
        # row keeps its original cv; its VALUE reappearing is what
        # makes it an upsert).
        old = read_snapshot(spark, table, version=since_version)
        new = read_snapshot(
            spark, table, version=to_version, with_commit_versions=True
        )
        data_cols = [c for c in new.columns if c != ROW_CV_OUT]
        _, old = _harmonize(
            new,
            old,
            _read_manifest_root(table, to_version).get("defaults") or {},
            (ROW_CV_OUT,),
        )
        old = old.select(*data_cols)  # old-only (dropped) columns gone
        types = {f.name: f.dataType for f in new.schema.fields}
        vals = [c for c in data_cols if c not in keys]

        def _img(df, side):
            # keys renamed per side: the join below must be NULL-SAFE on
            # the key columns (a plain name equi-join never matches a
            # null-keyed row against its counterpart, reporting an
            # unchanged null-keyed row as delete+upsert — and the
            # consumer's MERGE wouldn't match it either)
            return df.select(
                *[F.col(k).alias(f"__{side}_k_{k}") for k in keys],
                F.lit(True).alias(f"__in_{side}"),
                *[
                    _map_canon(F.col(c), types[c]).alias(f"__{side}_{c}")
                    for c in vals
                ],
            )

        cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"__n_k_{k}").eqNullSafe(F.col(f"__o_k_{k}"))
                for k in keys
            ],
        )
        j = _img(new, "n").join(_img(old, "o"), cond, "full_outer")
        same = reduce(
            lambda a, b: a & b,
            [F.col(f"__n_{c}").eqNullSafe(F.col(f"__o_{c}")) for c in vals],
            F.lit(True),
        )
        up_keys = j.filter(
            F.col("__in_n").isNotNull()
            & (F.col("__in_o").isNull() | ~same)
        ).select(*[F.col(f"__n_k_{k}").alias(k) for k in keys])
        semi_cond = reduce(
            lambda a, b: a & b,
            [
                F.col(f"t.{k}").eqNullSafe(F.col(f"u.{k}"))
                for k in keys
            ],
        )
        upserts = (
            new.alias("t")
            .join(up_keys.alias("u"), semi_cond, "left_semi")
        )
        deleted = (
            j.filter(F.col("__in_n").isNull())
            .select(*[F.col(f"__o_k_{k}").alias(k) for k in keys])
            .distinct()
        )
        return upserts, deleted
    upserts = changed_rows_since(
        spark, table, since_version, version=to_version
    )
    feed = table_changes_physical(
        spark, table, since_version, to_version, skip_compactions=True
    )
    deleted = (
        feed.filter(F.col("_change_type") == "delete")
        .select(*keys)
        .exceptAll(
            feed.filter(F.col("_change_type") == "insert").select(*keys)
        )
        .distinct()
    )
    return upserts, deleted


def table_changes(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """Row-level changes between two committed versions — the read side
    of a change data feed: every returned row carries ``_change_type`` ∈
    {insert, delete}; unchanged rows don't appear.

    Append-only ranges read ONLY the appended files (O(delta), no
    history rescan — the manifests already know which files are new).
    Any other lineage (overwrite/compact/rollback) falls back to a
    symmetric EXCEPT ALL over both snapshots — a full shuffle of both
    versions, which IS the honest cost of diffing a rewrite; keyed
    consumers should prefer ``operators/diff.table_diff`` for
    cheaper keyed semantics. Schema evolution across the range is
    handled by padding to the union schema (lossless casts only).
    Map-typed columns work on every path (r10): the keyed diff and
    the exceptAll fallback both compare maps through their canonical
    sorted-entry image (:func:`_map_canon`; set ops are undefined
    over raw maps), and emitted rows carry real map values."""
    if to_version is None:
        to_version = _read_pointer(table)
        if to_version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    delta = delta_files(table, from_version, to_version)
    if delta is not None:
        if not delta:
            from pyspark.sql.types import StructType

            base = spark.createDataFrame(
                [],
                StructType.fromJson(
                    _read_manifest_root(table, to_version)["schema"]
                ),
            )
        else:
            base = spark.read.parquet(
                *[os.path.join(table, f) for f in delta]
            )
        return base.withColumn("_change_type", F.lit("insert"))
    # DV fast path (r8): a range whose every commit only ADDS files or
    # grows deletion vectors (append / delete_dv / update_dv / merge_dv
    # — none removes a file) has NO rewrite noise to cancel, so the
    # manifest-planned physical feed IS the exact logical delta: O(delta
    # rows) instead of shuffling BOTH snapshots through exceptAll. The
    # one semantic nuance: an update that rewrites a row to its
    # identical old value appears as a delete+insert pair here (Delta
    # CDF's behavior) where exceptAll would cancel it.
    try:
        dv_only = all(
            m in ("append", "delete_dv", "update_dv", "merge_dv")
            for m in commit_modes(table, from_version, to_version)
        )
    except FileNotFoundError:
        dv_only = False  # expired history below the range: honest diff
    if dv_only:
        from pyspark.sql.types import StructType as _ST

        if any(
            _contains_map(f.dataType)
            for f in _ST.fromJson(
                _read_manifest_root(table, to_version)["schema"]
            ).fields
        ):
            # exceptAll (set op) is undefined over map columns; the
            # keyed row-id diff below canonicalizes maps and every
            # dv-only mode is keyed-eligible, so it takes over
            dv_only = False
    if dv_only:
        phys = table_changes_physical(
            spark, table, from_version, to_version
        ).drop("_commit_version", "_commit_mode")
        # NET semantics repair (latent r8 bug, caught by the stateful
        # model's CDC-fold invariant): the physical feed is per-COMMIT,
        # so a row appended at v and DV-deleted at v' > v inside the
        # range emits BOTH an insert and a delete — but this logical
        # surface drops the version column, leaving the consumer no
        # order to fold them in. Cancel opposing multiset pairs the way
        # exceptAll endpoint semantics would: both sides are DELTA-
        # sized, so the cancel costs O(changed rows), never a snapshot.
        ins = phys.filter(F.col("_change_type") == "insert").drop(
            "_change_type"
        )
        dels = phys.filter(F.col("_change_type") == "delete").drop(
            "_change_type"
        )
        return ins.exceptAll(dels).withColumn(
            "_change_type", F.lit("insert")
        ).unionByName(
            dels.exceptAll(ins).withColumn("_change_type", F.lit("delete"))
        )
    # Keyed row-id diff (r9): a range whose rewrites all preserved row
    # lineage diffs on the STABLE ROW ID over only the CHANGED segments
    # — a partial compaction/purge/CoW DML costs O(rewritten bytes), and
    # its carried rows cancel by id, never a double-snapshot shuffle.
    keyed = _table_changes_keyed(spark, table, from_version, to_version)
    if keyed is not None:
        return keyed
    new, old = _harmonize(
        read_snapshot(spark, table, version=to_version),
        read_snapshot(spark, table, version=from_version),
        _read_manifest_root(table, to_version).get("defaults") or {},
    )
    old = old.select(*new.columns)
    # set ops are undefined over MapType: diff map columns through
    # their canonical sorted-entry image and restore the original type
    # on the way out (lossless — map keys are unique)
    map_types = {
        f.name: f.dataType
        for f in new.schema.fields
        if _contains_map(f.dataType)
    }
    for c, t in map_types.items():
        new = new.withColumn(c, _map_canon(F.col(c), t))
        old = old.withColumn(c, _map_canon(F.col(c), t))
    out = new.exceptAll(old).withColumn(
        "_change_type", F.lit("insert")
    ).unionByName(
        old.exceptAll(new).withColumn("_change_type", F.lit("delete"))
    )
    for c, t in map_types.items():
        out = out.withColumn(c, _map_uncanon(F.col(c), t))
    return out


def table_changes_physical(
    spark: SparkSession,
    table: str,
    from_version: int,
    to_version: int | None = None,
    skip_filter: dict[str, tuple] | None = None,
    skip_compactions: bool = False,
) -> DataFrame:
    """Row-level multiset delta from the FILE diff of each commit in
    (from_version, to_version] — files added since the parent stream as
    ``_change_type='insert'`` rows, files removed as ``'delete'`` —
    with ``_commit_version`` / ``_commit_mode`` attached.

    It reads the same per-commit change plan as the streaming
    change-feed source (:func:`_plan_commit_changes`), one scan per
    change kind and segment schema, and is the cheap alternative to
    :func:`table_changes`' exceptAll fallback: data
    files are immutable, so the diff is EXACT as a multiset, planning
    touches only manifests, reading touches only changed files, and the
    plan has ZERO exchanges. The trade: a copy-on-write rewrite's
    untouched-but-rewritten rows appear as paired delete+insert (they
    cancel under a fold; the logical mode's exceptAll cancels them for
    you at the price of shuffling both snapshots), and a compaction is
    all noise. Schema evolution pads through the end manifest's alias
    map, like any read.

    Deletion-vector commits (``delete_dv``/``update_dv``) move no
    files, but their row deletes ARE surfaced: the per-file vector
    DELTA (new-minus-old positions) reads just the delta rows of the
    shadowed files as ``'delete'``; a later rewrite that removes a DV'd
    file excludes the already-vectored positions from its file-removal
    deletes, so a folding consumer never double-deletes. Small vectors
    (``DV_LITERAL_POSITIONS``) filter as plan literals; larger sidecars
    parse executor-side and join, broadcast when small — the base file
    diff keeps its zero-shuffle plan.

    ``skip_filter={col: (lo, hi)}`` prunes changed files by manifest
    stats before they are read — the streaming source's subscriber-
    predicate contract, batch-side: an over-approximation of the
    consumer's real predicate (files whose recorded bounds cannot
    intersect emit NOTHING on either side of the diff — consistent,
    because every row of such a file fails the predicate). Purely an
    optimization; apply the real predicate downstream."""
    from pyspark.sql.types import StructType

    if to_version is None:
        to_version = _read_pointer(table)
        if to_version is None:
            raise FileNotFoundError(f"no committed version in {table}")
    end_manifest = _read_manifest_root(table, to_version)
    target = StructType.fromJson(end_manifest["schema"])
    aliases = end_manifest.get("aliases", {})
    end_defaults = end_manifest.get("defaults") or {}

    def scan(kind: str, schema: dict, fds: list, v: int, mode: str):
        """Read one group's files, apply its vectors, pad to the end
        schema, stamp CDC meta."""
        part = spark.read.schema(StructType.fromJson(schema)).parquet(
            *[os.path.join(table, f) for f, _ in fds]
        )
        if kind == "grown":
            part = _dv_filter(
                spark,
                table,
                part,
                {f: cur for f, (cur, _) in fds},
                take=True,
                minus={f: prev for f, (_, prev) in fds if prev is not None},
            )
        else:
            drop = {f: dv for f, dv in fds if dv is not None}
            if drop:
                part = _dv_filter(spark, table, part, drop)
        cur = {aliases.get(c, c): c for c in part.columns}
        cols = []
        for f in target.fields:
            src = cur.get(f.name)
            cols.append(
                F.col(src).cast(f.dataType).alias(f.name)
                if src is not None
                # a column added WITH a default after these files were
                # written reads the declared constant, not NULL (r10)
                else F.lit(end_defaults.get(f.name))
                .cast(f.dataType)
                .alias(f.name)
            )
        return part.select(
            *cols,
            F.lit("delete" if kind == "grown" else kind).alias("_change_type"),
            F.lit(v).cast("long").alias("_commit_version"),
            F.lit(mode).alias("_commit_mode"),
        )

    pieces = []
    for v in range(max(from_version, -1) + 1, to_version + 1):
        m_root = _read_manifest_root(table, v)
        if skip_compactions and m_root["mode"] == "compact" and v > 0:
            # Delta CDF's OPTIMIZE behavior, batch-side: carry-only
            # rewrites emit nothing instead of cancellable churn
            continue
        p_root = _read_manifest_root(table, v - 1) if v > 0 else None
        # one read per (change kind, segment schema): files sharing a
        # schema batch into a single multi-file scan; vector deltas last
        groups: dict[tuple, tuple[dict, list]] = {}
        for kind, schema, f, dv in _plan_commit_changes(
            table, m_root, p_root, aliases, skip_filter
        ):
            key = (kind, json.dumps(schema, sort_keys=True))
            groups.setdefault(key, (schema, []))[1].append((f, dv))
        for (kind, _), (schema, fds) in sorted(
            groups.items(), key=lambda kv: kv[0][0] == "grown"
        ):
            pieces.append(scan(kind, schema, fds, v, m_root["mode"]))
    if not pieces:
        out = spark.createDataFrame([], StructType(list(target.fields)))
        for name, t in (
            ("_change_type", "string"),
            ("_commit_version", "long"),
            ("_commit_mode", "string"),
        ):
            out = out.withColumn(name, F.lit(None).cast(t))
        return out
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def history(table: str) -> list[dict]:
    """Commit log, newest first (version, mode, parent, n_files, ts;
    plus ``metrics`` — Delta's operationMetrics — on commits that
    recorded them: the merge-on-read DML paths, where the row counts
    were already computed for the position cap, and every OPTIMIZE
    kind, whose file counts the rewrite already knows; both cost
    nothing)."""
    latest = _read_pointer(table)
    if latest is None:
        return []
    out = []
    for v in range(latest, -1, -1):
        try:
            m = _read_manifest_root(table, v)
        except FileNotFoundError:
            break  # expire_history trimmed the log below this horizon
        out.append(
            {
                "version": m["version"],
                "mode": m["mode"],
                "parent": m["parent"],
                "n_files": sum(
                    s["n_files"] if _is_seg_head(s) else len(s["files"])
                    for s in _segments(m)
                ),
                "committed_at": m["committed_at"],
                **(
                    {"metrics": m["metrics"]} if m.get("metrics") else {}
                ),
            }
        )
    return out


def rollback(table: str, version: int) -> int:
    """RESTORE semantics: commit a NEW version whose file list is the
    target's — history stays intact, vacuum keeps shared files alive.

    The restore carries the target's FULL read metadata (segments,
    schema, evolved flag, aliases, extra): restoring an append-evolved
    version must keep the segment read path on, or the evolved columns
    silently vanish."""
    target = _carried_root(_read_manifest_root(table, version))

    def attempt(prev: int, latest: dict) -> dict:
        # IDENTITY and row-id high-water marks never decrease: a RESTORE
        # discards rows, not the promise that minted ids are never
        # reissued — carry the LATEST marks, not the target's. Properties
        # are CONFIG, not data: a restore rewinds rows, not the current
        # maintenance policy.
        return {
            **target,
            "mode": f"rollback:{version}",
            **{k: latest[k] for k in ("identity", "row_high", "props")},
        }

    return _commit(
        table, attempt, f"rollback of {table} kept losing the commit race"
    )


# table-property keys maybe_compact consults when the caller leaves the
# corresponding argument unset — the table carries its own maintenance
# policy (Delta TBLPROPERTIES style), so every maintainer (streaming
# sink, feed daemon, index refreshers, SQL OPTIMIZE-when-needed) applies
# ONE policy without each caller re-plumbing thresholds
MAINTENANCE_PROPS = (
    "maintain.max_files",
    "maintain.target_files",
    "maintain.small_bytes",
    "maintain.target_bytes",
    "maintain.dv_rows_max",
)


def table_properties(table: str) -> dict[str, str]:
    """The latest version's table properties ({} when none/missing)."""
    p = _read_pointer(table)
    if p is None:
        return {}
    return dict(_read_manifest_root(table, p).get("props") or {})


def set_table_properties(table: str, props: "dict[str, str]") -> int:
    """Delta's ALTER TABLE SET TBLPROPERTIES: merge string key/values
    into the table's property map in one metadata commit. Properties
    are table-level CONFIG — they survive every commit including
    overwrite/compact/clone, and RESTORE keeps the CURRENT policy (a
    restore rewinds rows, not configuration). ``maintain.*`` keys feed
    :func:`maybe_compact`'s defaults (see MAINTENANCE_PROPS); numeric
    maintenance values are validated here so a typo fails at SET time,
    not inside a 3 a.m. maintenance pass."""
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    clean: dict[str, str] = {}
    for k, v in props.items():
        if not isinstance(k, str) or not k:
            raise ValueError(f"property key must be a non-empty string: {k!r}")
        sv = str(v)
        if k in MAINTENANCE_PROPS:
            try:
                if int(sv) <= 0:
                    raise ValueError
            except ValueError:
                raise ValueError(
                    f"property {k!r} must be a positive integer, got {sv!r}"
                ) from None
        clean[k] = sv
    cur = table_properties(table)
    return _commit_props(table, {"props": {**cur, **clean}})


def unset_table_properties(table: str, keys: "list[str]") -> int:
    """ALTER TABLE UNSET TBLPROPERTIES: remove keys (missing keys are
    ignored, Delta's IF EXISTS behavior) in one metadata commit."""
    cur = table_properties(table)
    return _commit_props(
        table, {"props": {k: v for k, v in cur.items() if k not in keys}}
    )


def check_constraints(table: str) -> dict[str, str]:
    """The table's persisted CHECK constraints ({name: boolean SQL
    expression})."""
    return dict(_table_constraints(table))


def _commit_constraints(table: str, constraints: dict[str, str]) -> int:
    return _commit_props(table, {"constraints": constraints})


def _commit_props(table: str, updates: dict) -> int:
    """Metadata-only commit replacing table properties: same files and
    segments, mode 'append' with nothing appended — so delta-based
    consumers (MVs, indexes, the change feed) see an empty advance, not
    a rewrite. Carries segment HEADS from the root: an ALTER on an
    800k-file table rewrites zero detail bytes."""

    def attempt(prev: "int | None", base: dict) -> dict:
        if prev is None:
            raise FileNotFoundError(f"no committed version in {table}")
        return {"mode": "append", **updates}

    lost = f"property change on {table} kept losing the commit race"
    return _commit(table, attempt, lost)


def add_check_constraint(
    spark: SparkSession, table: str, name: str, expr: str
) -> int:
    """Persist a Delta-style CHECK constraint: ``expr`` is a boolean SQL
    expression every row must satisfy (NULL passes — SQL CHECK
    semantics). From this commit on, EVERY write path enforces it:
    ``write_snapshot`` pre-gates (violations quarantined like an
    explicit ``checks=`` suite), merge/update/delete/replace refuse
    replacement rows that violate, and the versioned_table DataSource
    writers gate their staged files before the commit lands.

    Like Delta's ``ADD CONSTRAINT``, the CURRENT snapshot is validated
    first — a constraint the existing data already violates is refused,
    so a green table can never turn retroactively red."""
    cur = _table_constraints(table)
    if name in cur:
        raise ValueError(
            f"constraint {name!r} already exists on {table} "
            f"({cur[name]!r}); drop it first"
        )
    probe = [
        {
            "kind": "row",
            "name": f"check:{name}",
            "bad": ~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True)),
        }
    ]
    from ..operators.quality import run_checks

    report = run_checks(read_snapshot(spark, table), probe).collect()
    bad = [r for r in report if not r.passed]
    if bad:
        raise ValueError(
            f"cannot add constraint {name!r} to {table}: existing data "
            f"violates it ({bad[0].violations}/{bad[0].total} rows)"
        )
    return _commit_constraints(table, {**cur, name: expr})


def drop_check_constraint(table: str, name: str) -> int:
    """Remove a persisted CHECK constraint (raises if absent)."""
    cur = _table_constraints(table)
    if name not in cur:
        raise ValueError(f"no constraint {name!r} on {table}")
    return _commit_constraints(
        table, {k: v for k, v in cur.items() if k != name}
    )


def generated_columns(table: str) -> dict[str, str]:
    """The table's GENERATED ALWAYS AS columns ({column: SQL expr})."""
    return dict(_table_generated(table))


def identity_columns(table: str) -> dict[str, dict]:
    """The table's GENERATED ALWAYS AS IDENTITY columns
    ({column: {"start", "step", "high"}} — ``high`` is the last value
    assigned; the next row gets ``high + step``)."""
    return {c: dict(s) for c, s in _table_identity(table).items()}


def add_identity_column(
    table: str, name: str, start: int = 1, step: int = 1
) -> int:
    """Declare a Delta-style GENERATED AS IDENTITY column: from this
    commit on, every row written through :func:`write_snapshot` (and
    every ``merge_into`` not-matched insert) is assigned the next value
    of the sequence ``start, start+step, …`` — CONTIGUOUS (no gaps, no
    duplicates), assigned DISTRIBUTED (per-partition counts + exclusive
    prefix + within-partition row_number: one exchange over the batch,
    never a single-task global sort — the surrogate-key shape of the
    reference's Postgres ``serial``, create_tables.sql:3, which Spark's
    ``monotonically_increasing_id`` explicitly does NOT provide).

    Concurrency: the high-water mark lives in the manifest; a writer
    that loses the put-if-absent link race RESTAGES its files with ids
    minted from the advanced mark (ids are baked into parquet — two
    writers can both land, serialized, each with a disjoint dense
    range). Supplying the column explicitly is refused everywhere
    (write/merge/update/replace) — GENERATED **ALWAYS** semantics.

    Like Delta, IDENTITY attaches at creation time: declaring on a
    table that already has data is refused (existing rows would read
    back NULL ids, breaking density) — declare right after creating the
    (possibly empty) table."""
    if step == 0:
        raise ValueError("identity step must be non-zero")
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    root = _read_manifest_root(table, p)
    n_files = sum(
        s["n_files"] if _is_seg_head(s) else len(s["files"])
        for s in _segments(root)
    )
    if n_files:
        raise ValueError(
            f"cannot add IDENTITY column to {table}: the table already "
            f"has data ({n_files} files) — existing rows would have no "
            "ids; declare identity on a fresh (empty) table"
        )
    if name in _schema_fields(root["schema"]):
        raise ValueError(f"column {name!r} already exists on {table}")
    aliases = root.get("aliases", {})
    if name in aliases and aliases[name] != name:
        raise ValueError(
            f"column name {name!r} was renamed away earlier in this "
            "table's history and cannot be reintroduced; pick a new name"
        )
    field = {
        "name": name,
        "type": "long",
        "nullable": True,
        "metadata": {},
    }
    schema = {
        **root["schema"],
        "fields": list(root["schema"]["fields"]) + [field],
    }
    ident = {
        **root.get("identity", {}),
        name: {"start": start, "step": step, "high": start - step},
    }
    return _commit_props(table, {"schema": schema, "identity": ident})


def drop_identity_column(table: str, name: str) -> int:
    """Detach the IDENTITY property from ``name`` (the column stays, as
    plain data — Delta's ``ALTER COLUMN ... DROP IDENTITY``)."""
    cur = _table_identity(table)
    if name not in cur:
        raise ValueError(f"no IDENTITY column {name!r} on {table}")
    return _commit_props(
        table, {"identity": {k: v for k, v in cur.items() if k != name}}
    )


def add_generated_column(
    spark: SparkSession, table: str, name: str, expr: str
) -> int:
    """Persist a Delta-style GENERATED ALWAYS AS column: from this
    commit on, ``write_snapshot`` COMPUTES ``name`` as ``expr`` when a
    batch omits it and VERIFIES it (null-safe equality, enforced through
    the CHECK gate on every write path incl. rewrites and DataSource
    staged files) when a batch supplies it — a stored value can never
    drift from its formula.

    The column must already exist in the schema and the CURRENT
    snapshot must satisfy the equality (declare after materializing, or
    include the column at creation); names must be plain identifiers
    (the verification text is parsed by both Spark and DuckDB)."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(
            f"generated column name {name!r} must be a plain identifier"
        )
    cur = _table_generated(table)
    if name in cur:
        raise ValueError(
            f"column {name!r} is already generated on {table} "
            f"({cur[name]!r}); drop it first"
        )
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    if name not in _schema_fields(_read_manifest(table, p)["schema"]):
        raise ValueError(
            f"column {name!r} does not exist on {table}; generated "
            "columns are declared over an existing (materialized) column"
        )
    probe = _constraint_checks(
        _generated_as_constraints({name: expr})
    )
    from ..operators.quality import run_checks

    bad = [
        r
        for r in run_checks(read_snapshot(spark, table), probe).collect()
        if not r.passed
    ]
    if bad:
        raise ValueError(
            f"cannot declare {name!r} GENERATED AS ({expr}) on {table}: "
            f"existing data diverges ({bad[0].violations}/{bad[0].total} "
            "rows)"
        )
    return _commit_props(table, {"generated": {**cur, name: expr}})


def drop_generated_column(table: str, name: str) -> int:
    """Remove the GENERATED property (the column itself stays)."""
    cur = _table_generated(table)
    if name not in cur:
        raise ValueError(f"no generated column {name!r} on {table}")
    return _commit_props(
        table, {"generated": {k: v for k, v in cur.items() if k != name}}
    )


def unique_constraints(table: str) -> dict[str, list[str]]:
    """The table's persisted UNIQUE constraints ({name: [key cols]})."""
    return {k: list(v) for k, v in _table_unique(table).items()}


def add_unique_constraint(
    spark: SparkSession, table: str, name: str, cols: list[str]
) -> int:
    """Persist an ENFORCED UNIQUE constraint over ``cols`` — the
    primary-key guarantee lakehouse formats document but don't enforce
    (Delta/Iceberg treat PKs as informational). From this commit on,
    every write path refuses a commit that would duplicate a key:
    appends probe their keys against the table with stats/bloom file
    pruning (``point_filter`` — the probe reads candidate files, not
    the table), rewrites re-check only when they can alter key columns,
    and concurrent writers stay serializable (the put-if-absent link
    re-probes exactly the files a race winner added; rewrite rebase is
    disabled). SQL semantics: a key tuple with any NULL component never
    conflicts.

    The CURRENT snapshot is validated first — a constraint the existing
    data already violates is refused."""
    cur = _table_unique(table)
    if name in cur:
        raise ValueError(
            f"unique constraint {name!r} already exists on {table} "
            f"({cur[name]}); drop it first"
        )
    if not cols:
        raise ValueError("unique constraint needs at least one column")
    p = _read_pointer(table)
    if p is not None and any(
        _seg_dvs(_resolve_seg(table, s) if _is_seg_head(s) else s)
        for s in _segments(_read_manifest_root(table, p))
    ):
        # the append-side existence probe reads raw files and would see
        # DV-deleted keys as live — materialize first, then constrain
        raise ValueError(
            f"cannot add unique constraint to {table} while deletion "
            "vectors are present; run compact() to materialize them "
            "first"
        )
    snap = read_snapshot(spark, table)
    missing = [c for c in cols if c not in snap.columns]
    if missing:
        raise ValueError(f"unknown unique-key column(s): {missing}")
    dup = (
        snap.select(*cols)
        .na.drop("any")
        .groupBy(*cols)
        .count()
        .filter(F.col("count") > 1)
        .take(1)
    )
    if dup:
        key = {c: dup[0][c] for c in cols}
        raise ValueError(
            f"cannot add unique constraint {name!r} to {table}: existing "
            f"data violates it (e.g. key {key} appears {dup[0]['count']}x)"
        )
    return _commit_props(table, {"unique": {**cur, name: list(cols)}})


def drop_unique_constraint(table: str, name: str) -> int:
    """Remove a persisted UNIQUE constraint (raises if absent)."""
    cur = _table_unique(table)
    if name not in cur:
        raise ValueError(f"no unique constraint {name!r} on {table}")
    return _commit_props(
        table, {"unique": {k: v for k, v in cur.items() if k != name}}
    )


def alter_cluster_by(
    table: str, by: "list[str] | None", files: int | None = None
) -> int:
    """Metadata-only CLUSTER BY (Delta's ``ALTER TABLE ... CLUSTER BY``
    / liquid-clustering redeclaration): record a NEW clustered layout —
    or ``by=None`` to uncluster — without touching any data file. From
    this commit on, appends record stats on the new keys, and the next
    ``compact`` / maintenance rewrite re-clusters the data along them
    (Delta semantics: the declaration is instant, OPTIMIZE applies it).

    The declaration is validated like a fresh ``layout_by``: every key
    must exist in the CURRENT schema with a clusterable type (numeric /
    boolean / date / timestamp) — recording a layout the writer can
    never apply would poison every future maintenance rewrite."""
    from pyspark.sql.types import StructType

    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = _read_manifest_root(table, p)
    if not by:
        if m.get("layout") is None:
            raise ValueError(f"{table} has no clustered layout to drop")
        return _commit_props(table, {"layout": None})
    target = StructType.fromJson(m["schema"])
    missing = [c for c in by if c not in {f.name for f in target.fields}]
    if missing:
        raise ValueError(
            f"cluster-by column(s) {missing} not in {table}'s schema"
        )
    for c in by:
        _layout_num_expr(target[c].dataType, c)  # raises on bad types
    layout: dict = {"by": list(by)}
    if files:
        layout["files"] = int(files)
    return _commit_props(table, {"layout": layout})


def alter_add_column(
    spark: SparkSession, table: str, name: str, dtype: str,
    default=None,
) -> int:
    """Metadata-only ADD COLUMN (Delta's ALTER TABLE ADD COLUMNS): the
    schema widens by one nullable field, no data file is touched, and
    every existing row reads back NULL — exactly what an evolved append
    would have produced, for free. ``dtype`` is a Spark SQL type string
    (``"string"``, ``"decimal(12,2)"``, ``"array<double>"``).

    ``default`` (r10, Iceberg v3's initial-default): a JSON-native
    scalar every row in a segment that LACKS the physical column reads
    back instead of NULL — existing rows immediately, and future
    appends that omit the column. Pure metadata: the value lives in
    the root manifest's ``defaults`` map and is filled at read; a
    rewrite (compact/CoW DML) materializes it into real bytes as a
    side effect of reading. Immutable once set (changing it would
    retroactively rewrite history's values), and every diff surface
    pads schema-crossing comparisons with it so carried rows cancel
    instead of surfacing as insert+delete churn.

    A name that was renamed away earlier in the table's history cannot
    be reintroduced (the alias map would re-label it — the same reborn
    rule the append path enforces)."""
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = _read_manifest_root(table, p)
    field = spark.createDataFrame([], f"`{name}` {dtype}").schema.jsonValue()[
        "fields"
    ][0]
    field["nullable"] = True
    if name in _schema_fields(m["schema"]):
        raise ValueError(f"column {name!r} already exists on {table}")
    aliases = m.get("aliases", {})
    if name in aliases and aliases[name] != name:
        raise ValueError(
            f"column name {name!r} was renamed away earlier in this "
            "table's history and cannot be reintroduced; pick a new name"
        )
    schema = {
        **m["schema"],
        "fields": list(m["schema"]["fields"]) + [field],
    }
    updates: dict = {"schema": schema, "schema_evolved": True}
    if default is not None:
        if not isinstance(default, (bool, int, float, str)):
            raise ValueError(
                "default must be a JSON-native scalar "
                f"(bool/int/float/str), got {type(default).__name__}"
            )
        # validate AND coerce at ALTER time: a default that doesn't
        # cast to the declared type would otherwise diverge between
        # read surfaces (Spark's cast silently NULLs, the Arrow
        # DataSource raises at scan time) and the declared value would
        # never be surfaced. Store the already-coerced JSON form so
        # both fill paths agree byte-for-byte.
        try:
            coerced = (
                spark.range(1)
                .select(F.lit(default).cast(dtype).alias("v"))
                .head()[0]
            )
        except Exception as e:
            raise ValueError(
                f"default {default!r} does not cast to {dtype}: {e}"
            ) from None
        if coerced is None:
            raise ValueError(
                f"default {default!r} does not cast to {dtype} "
                "(Spark cast yields NULL)"
            )
        import decimal as _dec

        if isinstance(coerced, _dec.Decimal):
            stored = str(coerced)  # exact; casts back losslessly
        elif isinstance(coerced, (bool, int, float, str)):
            stored = coerced
        else:
            stored = _json_val(coerced)  # date/timestamp -> isoformat
            if not isinstance(stored, (bool, int, float, str)):
                # no JSON-native round-trip (e.g. binary): keep the
                # validated original — both fill paths re-cast it
                stored = default
        updates["defaults"] = {**m.get("defaults", {}), name: stored}
    return _commit_props(table, updates)


def alter_widen_column(
    spark: SparkSession, table: str, name: str, dtype: str
) -> int:
    """Metadata-only TYPE WIDENING (Delta's type-widening feature): the
    column's declared type grows to ``dtype`` — byte→short→int→long,
    float→double, byte/short/int→double, decimal(p,s)→decimal(p+k,s),
    the exact lossless set the append path's schema merge already
    accepts (long→double is REFUSED: float64's 53-bit mantissa rounds
    longs above 2**53, and Delta excludes it for the same reason;
    decimal scale changes are refused because they shift the physical
    unscaled integers) — and no data file is touched:
    every read path casts each segment's physical values to the TABLE
    type (``_read_segments`` / the Arrow DataSource col_map), so old
    files keep their narrow encoding until a rewrite naturally re-types
    them. Manifest min/max stats and bloom tokens are value-canonical
    (an int32 5 and an int64 5 hash and rank identically), so data
    skipping keeps working across the change. Narrowing and
    same-type no-ops are refused."""
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = _read_manifest_root(table, p)
    fields = _schema_fields(m["schema"])
    if name not in fields:
        raise ValueError(f"no column {name!r} on {table}")
    cur_t = fields[name]["type"]
    new_t = spark.createDataFrame([], f"`{name}` {dtype}").schema.jsonValue()[
        "fields"
    ][0]["type"]
    if new_t == cur_t:
        raise ValueError(
            f"column {name!r} already has type {cur_t!r}"
        )
    if _widened(new_t, cur_t) != new_t:
        raise ValueError(
            f"cannot widen {name!r}: {cur_t!r} -> {new_t!r} is not a "
            "lossless widening (int-family upcasts, float->double, "
            "byte/short/int->double, decimal precision growth at fixed "
            "scale, date->timestamp_ntz only; long->double loses "
            "precision above 2**53; date->timestamp (ltz) would read "
            "back session-timezone-dependent instants — widen to "
            "timestamp_ntz instead)"
        )
    schema = {
        **m["schema"],
        "fields": [
            {**f, "type": new_t} if f["name"] == name else f
            for f in m["schema"]["fields"]
        ],
    }
    return _commit_props(
        table, {"schema": schema, "schema_evolved": True}
    )


def alter_rename_column(table: str, old: str, new: str) -> int:
    """Metadata-only RENAME COLUMN (Delta's column-mapping rename,
    which this engine's alias map has implemented since round 1 on the
    append path — this lifts it to a standalone ALTER, no data batch
    required): the ROOT schema field takes the new name and the
    table-level alias map composes {old: new}, so every older segment's
    physical label re-resolves at read/stat/bloom-pruning time. Zero
    data files and zero detail sidecars are touched.

    Refused while the column is referenced by a CHECK constraint, a
    UNIQUE constraint, or a GENERATED column expression (raw SQL text
    cannot be rewritten mechanically — drop those first), and for
    IDENTITY columns (the engine assigns them by name across commit
    retries). The clustered layout and any declared DEFAULT follow the
    rename. A name renamed away earlier cannot be the target (the
    alias map would re-label the reborn column into its successor —
    the same rule every write path enforces)."""
    import re as _re

    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = _read_manifest_root(table, p)
    fields = _schema_fields(m["schema"])
    if old not in fields:
        raise ValueError(f"no column {old!r} on {table}")
    if old == new:
        raise ValueError(f"rename of {old!r} to itself")
    if new in fields:
        raise ValueError(f"column {new!r} already exists on {table}")
    aliases = m.get("aliases", {})
    if new in aliases and aliases[new] != new:
        raise ValueError(
            f"column name {new!r} was renamed away earlier in this "
            "table's history and cannot be reintroduced; pick a new name"
        )
    crefs = sorted(
        cname
        for cname, expr in m.get("constraints", {}).items()
        if _re.search(rf"\b{_re.escape(old)}\b", expr)
    )
    if crefs:
        raise ValueError(
            f"cannot rename column(s) referenced by CHECK "
            f"constraint(s) {crefs}; drop them first"
        )
    uholders = sorted(
        cname
        for cname, ucols in m.get("unique", {}).items()
        if old in ucols
    )
    if uholders:
        raise ValueError(
            f"cannot rename column(s) referenced by UNIQUE "
            f"constraint(s) {uholders}; drop them first"
        )
    grefs = sorted(
        gname
        for gname, gexpr in m.get("generated", {}).items()
        if gname == old or _re.search(rf"\b{_re.escape(old)}\b", gexpr)
    )
    if grefs:
        raise ValueError(
            f"cannot rename column(s) referenced by GENERATED "
            f"column(s) {grefs}; drop them first"
        )
    if old in m.get("identity", {}):
        raise ValueError(
            f"cannot rename IDENTITY column {old!r}: the engine assigns "
            "it by name across commit retries; drop the identity "
            "property first"
        )
    updates: dict = {
        "schema": {
            **m["schema"],
            "fields": [
                {**f, "name": new} if f["name"] == old else f
                for f in m["schema"]["fields"]
            ],
        },
        "aliases": _compose_aliases(aliases, {old: new}),
        "schema_evolved": True,
    }
    layout = m.get("layout")
    if layout and old in (layout.get("by") or []):
        updates["layout"] = {
            **layout,
            "by": [new if c == old else c for c in layout["by"]],
        }
    if old in m.get("defaults", {}):
        d = dict(m["defaults"])
        d[new] = d.pop(old)
        updates["defaults"] = d
    return _commit_props(table, updates)


def alter_drop_column(table: str, name: str) -> int:
    """Metadata-only DROP COLUMN: the field leaves the table schema AND
    every segment's recorded read schema, so no scan ever loads it again
    — the data files keep the bytes (time travel to a pre-drop version
    still reads them; ``compact`` physically sheds them), and a later
    ``alter_add_column`` of the same name yields NULLs, never the
    resurrected old values.

    Refused while the column is referenced by the clustered layout, a
    UNIQUE constraint, or (textually) a CHECK constraint — drop those
    first, the error names them.

    Scale shape (r8): the scrub is LAZY. The commit touches only the
    ROOT — head schemas lose the field and each shadowed head records
    the physical labels in ``drop``; the immutable detail sidecars are
    NOT restaged (``_resolve_seg`` filters their stats/blooms on read).
    ALTER DROP on an 800k-file table is O(#segments), not O(#files)."""
    p = _read_pointer(table)
    if p is None:
        raise FileNotFoundError(f"no committed version in {table}")
    # ROOT only: heads carry schema + stat/bloom SURFACE, which is all
    # the scrub needs; detail sidecars stay byte-identical on disk
    m = _read_manifest_root(table, p)
    if name not in _schema_fields(m["schema"]):
        raise ValueError(f"no column {name!r} on {table}")
    layout = m.get("layout") or {}
    if name in (layout.get("by") or []):
        raise ValueError(
            f"cannot drop {name!r}: it is a clustered-layout column "
            f"({layout['by']}); rewrite the layout first"
        )
    holders = [
        cname
        for cname, cols in m.get("unique", {}).items()
        if name in cols
    ]
    if holders:
        raise ValueError(
            f"cannot drop {name!r}: UNIQUE constraint(s) {holders} "
            "reference it; drop them first"
        )
    import re as _re

    word = _re.compile(rf"\b{_re.escape(name)}\b")
    refs = [
        cname
        for cname, expr in m.get("constraints", {}).items()
        if word.search(expr)
    ]
    if refs:
        raise ValueError(
            f"cannot drop {name!r}: CHECK constraint(s) {refs} mention "
            "it; drop them first"
        )
    grefs = [
        g
        for g, gexpr in m.get("generated", {}).items()
        if g == name or word.search(gexpr)
    ]
    if grefs:
        raise ValueError(
            f"cannot drop {name!r}: generated column(s) {grefs} are it "
            "or derive from it; drop the generated property first"
        )
    schema = {
        **m["schema"],
        "fields": [
            f for f in m["schema"]["fields"] if f["name"] != name
        ],
    }
    al = m.get("aliases", {})
    segments = []
    for seg in _segments(m):
        # the physical label(s) feeding `name` in THIS segment — the
        # segment's own (pre-rename) names, which also key stats/blooms
        phys = {
            f["name"]
            for f in seg["schema"]["fields"]
            if al.get(f["name"], f["name"]) == name
        }
        new_schema = {
            **seg["schema"],
            "fields": [
                f
                for f in seg["schema"]["fields"]
                if f["name"] not in phys
            ],
        }
        if _is_seg_head(seg):
            # lazy scrub: head-level surface only; the sidecar keeps the
            # bytes and _resolve_seg filters them through head["drop"]
            new_seg = {**seg, "schema": new_schema}
            if phys:
                new_seg["drop"] = sorted(
                    set(seg.get("drop", [])) | phys
                )
                new_seg["summary"] = {
                    c: v
                    for c, v in seg.get("summary", {}).items()
                    if c not in phys
                }
                new_seg["stats_cols"] = [
                    c
                    for c in seg.get("stats_cols", [])
                    if c not in phys
                ]
                if "bloom_cols" in seg:
                    new_seg["bloom_cols"] = [
                        c for c in seg["bloom_cols"] if c not in phys
                    ]
            segments.append(new_seg)
            continue
        new_seg = {
            **seg,
            "schema": new_schema,
            "stats": {
                path: {c: v for c, v in st.items() if c not in phys}
                for path, st in seg.get("stats", {}).items()
            },
        }
        if seg.get("blooms"):
            new_seg["blooms"] = {
                path: {c: v for c, v in bl.items() if c not in phys}
                for path, bl in seg["blooms"].items()
            }
        segments.append(new_seg)
    aliases = {
        old: cur
        for old, cur in m.get("aliases", {}).items()
        if cur != name and old != name
    }
    return _commit_props(
        table,
        {
            "schema": schema,
            "segments": segments,
            "aliases": aliases,
            "schema_evolved": True,
            # the default dies with the column — a later re-add of the
            # same name starts clean (NULLs unless a new default)
            "defaults": {
                c: v
                for c, v in m.get("defaults", {}).items()
                if c != name
            },
        },
    )


def describe_table(table: str) -> dict:
    """DESCRIBE DETAIL: one dict summarizing the table's current state —
    version, commit mode/time, column names and types, every table
    property (clustered layout, CHECK / UNIQUE / GENERATED constraints,
    bloomed and statted columns), file count and total on-disk bytes,
    and how many history versions remain readable. One manifest read
    plus one ``stat`` per data file; no Spark job."""
    latest = _read_pointer(table)
    if latest is None:
        raise FileNotFoundError(f"no committed version in {table}")
    m = _read_manifest_root(table, latest)
    # sharded heads carry counts/bytes/column surfaces in the root —
    # ONE cheap read at any table size; legacy full segments fall back
    # to a per-file stat pass
    n_files = 0
    size_bytes = 0
    bloom_bytes = 0
    dv_rows = 0
    stats_cols_set: set = set()
    bloom_cols_set: set = set()
    for seg in _segments(m):
        if _is_seg_head(seg):
            n_files += seg["n_files"]
            size_bytes += seg.get("bytes", 0)
            bloom_bytes += seg.get("bloom_bytes", 0)
            dv_rows += seg.get("dv_rows", 0)
            stats_cols_set |= set(seg.get("stats_cols", []))
            bloom_cols_set |= set(seg.get("bloom_cols", []))
            continue
        dv_rows += sum(
            int(v.get("n", 0)) for v in _seg_dvs(seg).values()
        )
        n_files += len(seg["files"])
        for f in seg["files"]:
            try:
                size_bytes += os.path.getsize(os.path.join(table, f))
            except FileNotFoundError:
                pass  # racing vacuum of a superseded file list
        stats_cols_set |= {
            c for fs in seg.get("stats", {}).values() for c in fs
        }
        for fb in seg.get("blooms", {}).values():
            bloom_cols_set |= set(fb)
            bloom_bytes += sum(int(b["m"]) // 8 for b in fb.values())
    stats_cols = sorted(stats_cols_set)
    bloom_cols = sorted(bloom_cols_set)
    return {
        "table": table,
        "version": latest,
        "mode": m["mode"],
        "committed_at": m.get("committed_at"),
        "columns": {
            f["name"]: f["type"] for f in m["schema"]["fields"]
        },
        "schema_evolved": bool(m.get("schema_evolved")),
        "layout": m.get("layout"),
        "constraints": m.get("constraints", {}),
        "unique": m.get("unique", {}),
        "generated": m.get("generated", {}),
        "defaults": m.get("defaults", {}),
        "stats_columns": stats_cols,
        "bloom_columns": bloom_cols,
        "num_files": n_files,
        "size_bytes": size_bytes,
        "bloom_bytes": bloom_bytes,
        "dv_rows": dv_rows,
        "retained_versions": len(history(table)),
        "props": m.get("props", {}),
        "extra": m.get("extra", {}),
    }


def convert_to_versioned(
    spark: SparkSession,
    table: str,
    stats_cols: "list[str] | None" = None,
    bloom_cols: "list[str] | None" = None,
) -> int:
    """CONVERT TO DELTA's shape (r12): adopt an existing plain-parquet
    directory as versioned-table v0 WITHOUT moving or rewriting a byte
    — the onboarding path for the 100-TB corpus that already exists.

    Every ``*.parquet`` under ``table`` (recursively, ``_manifests``
    excluded) is referenced IN PLACE by relative path. Files group by
    their FOOTER schema into one segment per distinct schema — the
    evolved-read machinery (per-segment cast to the merged table
    schema, nullable union) makes a directory that accumulated schema
    drift read correctly on day one; incompatible drift (type
    narrowing) refuses with the same message as any append. Optional
    ``stats_cols``/``bloom_cols`` backfill pruning metadata during the
    conversion (footer reads / executor scans — the
    :func:`collect_statistics` machinery).

    Adopted rows predate row tracking and commit versions — they read
    back honestly NULL-cv / raise on ``with_row_ids`` like any
    pre-tracking segment, and the first rewrite (compact / CoW DML)
    mints lineage as it materializes. One caveat, documented rather
    than hidden: ``vacuum`` reclaims only files under ``data/`` (the
    engine's own staging layout), so adopted ORIGINALS superseded by a
    later rewrite stay on disk until removed by hand — the price of a
    zero-copy adoption that never takes ownership of foreign paths."""
    if _read_pointer(table) is not None:
        raise ValueError(
            f"{table} is already a versioned table (v{_read_pointer(table)})"
        )
    rels: list[str] = []
    for dirpath, dirnames, filenames in os.walk(table):
        dirnames[:] = [d for d in dirnames if d != _MANIFESTS]
        for f in filenames:
            if f.endswith(".parquet"):
                rels.append(
                    os.path.relpath(os.path.join(dirpath, f), table)
                )
    if not rels:
        raise FileNotFoundError(f"no parquet files under {table}")
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_schema

    groups: dict[str, dict] = {}
    for rel in sorted(rels):
        sch = from_arrow_schema(pq.read_schema(os.path.join(table, rel)))
        key = json.dumps(sch.jsonValue(), sort_keys=True)
        groups.setdefault(
            key, {"schema": sch.jsonValue(), "files": []}
        )["files"].append(rel)
    schema_json = None
    evolved = False
    for g in groups.values():
        if schema_json is None:
            schema_json = g["schema"]
        else:
            schema_json, ev = _merge_schemas(
                schema_json, g["schema"], f"convert {table}"
            )
            evolved = True
    segments = []
    for g in groups.values():
        seg: dict = {"files": g["files"], "schema": g["schema"], "stats": {}}
        if stats_cols:
            cols = [
                c
                for c in stats_cols
                if c in _schema_fields(g["schema"])
            ]
            if cols:
                seg["stats"] = _collect_file_stats(table, g["files"], cols)
        if bloom_cols:
            cols = [
                c
                for c in bloom_cols
                if c in _schema_fields(g["schema"])
            ]
            if cols:
                seg["blooms"] = _collect_file_blooms(
                    spark, table, g["files"], cols
                )
        segments.append(seg)
    lost = f"{table} was converted/created concurrently"

    def attempt(prev: "int | None", base: dict) -> dict:
        if prev is not None:
            raise CommitConflict(lost)
        return {
            "mode": "overwrite",
            "segments": segments,
            "schema": schema_json,
            "schema_evolved": evolved or len(groups) > 1,
            "extra": {"converted_from": "parquet", "adopted_files": len(rels)},
        }

    return _commit(table, attempt, lost)


def collect_statistics(
    spark: SparkSession,
    table: str,
    stats_cols: "list[str] | None" = None,
    bloom_cols: "list[str] | None" = None,
) -> "int | None":
    """ANALYZE-style stats/bloom BACKFILL (r12): record min/max stats
    and/or bloom sketches for existing files that lack them — the
    adoption path for a table written before anyone passed
    ``stats_cols=``/``bloom_cols=``, whose reads can start pruning
    WITHOUT rewriting a byte of data.

    Cost shape: stats come from parquet FOOTERS (driver-side, O(missing
    files) metadata reads — no data I/O); blooms scan only the missing
    files' requested columns executor-side (the write path's own
    ``_collect_file_blooms``, one file per task, ~1 KiB/file/column back
    to the driver, budget-enforced like every bloom). The commit swaps
    segment detail sidecars for enriched twins — file lists, rows, row
    ids, cvs, DVs all byte-identical — under mode ``append`` with an
    unchanged segment count, so change-feed consumers see an EMPTY
    advance (no row changed, and ``delta_files``' positional-tail rule
    reads it as such). Returns the new version, or None when nothing
    was missing (idempotent re-run). Columns resolve through the alias
    map, so a renamed column backfills its old segments' physical
    label; unknown columns and binary columns (no stable stat encoding)
    simply contribute nothing."""
    want_stats = list(stats_cols or [])
    want_blooms = list(bloom_cols or [])
    if not want_stats and not want_blooms:
        raise ValueError("pass stats_cols and/or bloom_cols to backfill")

    def attempt(p: "int | None", root: dict) -> "dict | None":
        if p is None:
            raise FileNotFoundError(f"no committed version in {table}")
        aliases = root["aliases"]
        existing_bloom_bytes = sum(
            _seg_bloom_bytes(s) for s in root["segments"]
        )
        new_segs: list = []
        changed = False
        for seg in root["segments"]:
            full = _resolve_seg(table, seg)
            fields = set(_schema_fields(full["schema"]))

            def phys(cur: str):
                for f in fields:
                    if aliases.get(f, f) == cur:
                        return f
                return None

            stats = {k: dict(v) for k, v in full.get("stats", {}).items()}
            blooms = {k: dict(v) for k, v in full.get("blooms", {}).items()}
            seg_changed = False
            todo = [c for c in (phys(c) for c in want_stats) if c]
            missing = sorted(
                {
                    f
                    for f in full["files"]
                    for c in todo
                    if c not in stats.get(f, {})
                }
            )
            if todo and missing:
                got = _collect_file_stats(table, missing, todo)
                for f, st in got.items():
                    for c, b in st.items():
                        if c not in stats.setdefault(f, {}):
                            stats[f][c] = b
                            seg_changed = True
            todo_b = [c for c in (phys(c) for c in want_blooms) if c]
            missing_b = sorted(
                {
                    f
                    for f in full["files"]
                    for c in todo_b
                    if c not in blooms.get(f, {})
                }
            )
            if todo_b and missing_b:
                got_b = _collect_file_blooms(spark, table, missing_b, todo_b)
                got_b = _enforce_bloom_budget(
                    table, got_b, existing_bloom_bytes
                )
                for f, fb in got_b.items():
                    for c, b in fb.items():
                        if c not in blooms.setdefault(f, {}):
                            blooms[f][c] = b
                            seg_changed = True
                existing_bloom_bytes += _seg_bloom_bytes({"blooms": got_b})
            if not seg_changed:
                new_segs.append(seg)  # head carries byte-for-byte
                continue
            changed = True
            full2 = {**full, "stats": stats}
            if blooms:
                full2["blooms"] = blooms
            new_segs.append(_write_seg_detail(table, full2))
        return {"mode": "append", "segments": new_segs} if changed else None

    return _commit(
        table,
        attempt,
        f"statistics backfill on {table} kept losing the commit race",
    )


def clone_table(
    src: str,
    dst: str,
    version: int | None = None,
    as_of: float | None = None,
) -> int:
    """Zero-copy clone (Delta's SHALLOW CLONE, made vacuum-safe): the
    chosen source version's data files are HARDLINKED into ``dst`` under
    the same relative paths and committed as the clone's version 0.

    Data files are immutable by the format's contract (every write path
    creates new files; only ``vacuum`` unlinks), so a shared inode can
    never observe writes from either side — and unlike a path-reference
    shallow clone, ``vacuum`` on the source only removes the SOURCE's
    directory entry: the clone's link keeps the bytes alive. Cross-
    filesystem links fall back to a real copy, file by file.

    Everything that makes the table behave carries: schema, alias map
    (evolved tables keep reading), clustered layout, per-file stats and
    bloom sketches (keyed by the preserved relative paths), CHECK and
    UNIQUE constraints. History does NOT carry — the clone starts fresh
    at v0 with lineage in ``extra`` — and neither does the streaming
    batch-id ledger (a sink checkpoint replayed against a clone must
    re-deliver, not silently no-op)."""
    if _read_pointer(dst) is not None:
        raise ValueError(f"clone target {dst} already exists")
    if as_of is not None:
        if version is not None:
            raise ValueError("pass version or as_of, not both")
        version = version_as_of(src, as_of)
    if version is None:
        version = _read_pointer(src)
        if version is None:
            raise FileNotFoundError(f"no committed version in {src}")
    m = _read_manifest_root(src, version)

    def _link_sidecar(ref: str) -> None:
        sp = _seg_detail_path(src, ref)
        dp = _seg_detail_path(dst, ref)
        os.makedirs(os.path.dirname(dp), exist_ok=True)
        try:
            os.link(sp, dp)
        except FileExistsError:
            pass  # re-cloning over a failed attempt
        except OSError:
            shutil.copy2(sp, dp)

    segs: list[dict] = []
    for seg in _segments(m):
        if _is_seg_head(seg):
            # sidecars are immutable like data: hardlink the detail
            # file and carry the head verbatim — the clone's manifest
            # work is O(#segments), zero detail bytes restaged
            _link_sidecar(seg["ref"])
            resolved = _resolve_seg(src, seg)
            files = resolved["files"]
        else:
            resolved = seg
            files = seg["files"]
        # deletion-vector sidecars travel with their segments (same
        # immutability argument), so a clone of a DV'd version reads
        # the same live rows
        for v in _seg_dvs(resolved).values():
            _link_sidecar(v["ref"])
        segs.append(seg)
        for rel in files:
            s = os.path.join(src, rel)
            d = os.path.join(dst, rel)
            os.makedirs(os.path.dirname(d), exist_ok=True)
            try:
                os.link(s, d)
            except OSError:  # cross-device (EXDEV) or FS w/o hardlinks
                shutil.copy2(s, d)
    lost = f"clone target {dst} was created concurrently"

    def attempt(prev: "int | None", base: dict) -> dict:
        if prev is not None:
            raise CommitConflict(lost)
        return {
            **_carried_root(m),
            "mode": "overwrite",
            "segments": segs,
            "extra": {"cloned_from": src, "clone_source_version": version},
        }

    return _commit(dst, attempt, lost)


def expire_history(
    table: str,
    keep_last: "int | None" = None,
    keep_hours: "float | None" = None,
) -> list[int]:
    """Trim the commit log: Delta's ``logRetentionDuration``, as a
    version count (``keep_last``), a duration off each manifest's
    ``committed_at`` (``keep_hours`` — the natural form for a per-minute
    sink: "keep 7 days", not "keep 10,080"), or BOTH (a version is
    retained if EITHER rule keeps it — union retention, so adding a
    time bound can only keep more, never starve a count-based
    consumer). With neither given, defaults to ``keep_last=100``. The
    latest version is always retained. A streaming sink committing once
    a minute writes half a million manifests a year; the table's
    CURRENT state never needs more than the latest one (every manifest
    is self-contained), history is what grows.

    Deleting a manifest forfeits time travel / rollback / ``as_of`` to
    that version (they raise ``FileNotFoundError``; ``history()`` stops
    at the horizon) and makes ``delta_files`` ranges that start below it
    undefined — incremental consumers that far behind rebuild, exactly
    as they do across a compaction. Data files are NOT touched here:
    run :func:`vacuum` AFTER expiry to reclaim files only the expired
    manifests referenced. Returns the expired version numbers."""
    if keep_last is None and keep_hours is None:
        keep_last = 100
    latest = _read_pointer(table)
    if latest is None:
        return []
    cutoff = (
        time.time() - keep_hours * 3600.0
        if keep_hours is not None
        else None
    )
    removed = []
    for v in range(latest):
        if keep_last is not None and v > latest - keep_last:
            break  # inside the count window — so is everything newer
        if cutoff is not None:
            try:
                m = _read_manifest_root(table, v)
            except FileNotFoundError:
                continue  # already expired
            if m.get("committed_at", 0.0) >= cutoff:
                # commit times are monotone: everything newer is
                # inside the time window too
                break
        try:
            os.remove(_manifest_path(table, v))
            removed.append(v)
        except FileNotFoundError:
            continue  # already expired
    return removed


def vacuum(
    table: str,
    keep_last: int = 1,
    tmp_age_s: float = 3600.0,
    dry_run: bool = False,
) -> list[str]:
    """Delete data files referenced by NO retained manifest (the newest
    ``keep_last`` versions are retained; older manifests stay as history
    but their exclusive files go). Also sweeps staged-but-never-linked
    ``*.tmp`` manifests and pointer files older than ``tmp_age_s`` — the
    debris of crashed or race-losing commits; the age threshold keeps
    the sweep from racing an IN-FLIGHT writer's freshly staged tmp.
    The SAME age threshold guards unreferenced data files: a concurrent
    commit writes data first and links its manifest later, so only
    unreferenced files at least ``tmp_age_s`` old are reclaimed
    (mirroring Delta's retention check). Returns the deleted paths.

    ``dry_run=True`` (Delta's VACUUM DRY RUN): report the data files a
    real run would reclaim — same retention walk, same age guard — and
    delete NOTHING (tmp/sidecar debris is not swept either)."""
    latest = _read_pointer(table)
    if latest is None:
        return []

    def _sweep(path: str) -> None:
        if dry_run:
            return
        try:
            if time.time() - os.path.getmtime(path) >= tmp_age_s:
                os.remove(path)
        except FileNotFoundError:
            pass  # a concurrent winner removed its own tmp — fine

    mdir = os.path.join(table, _MANIFESTS)
    for f in os.listdir(mdir) if os.path.isdir(mdir) else []:
        if f.endswith(".tmp"):
            _sweep(os.path.join(mdir, f))
    for f in os.listdir(table):
        if f.startswith(_LATEST + ".") and f.endswith(".tmp"):
            _sweep(os.path.join(table, f))
    # segment-detail sidecars referenced by NO existing root (race
    # losers' shards, or details whose every referencing root was
    # expire_history'd) — age-guarded for the same in-flight reason.
    # Referenced sidecars are kept even for roots outside the retention
    # window: history manifests stay READABLE (metadata) after their
    # exclusive data files go, exactly as before sharding.
    if os.path.isdir(mdir):
        referenced: set[str] = set()
        dv_referenced: set[str] = set()
        for f in os.listdir(mdir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    with open(os.path.join(mdir, f)) as fh:
                        root = json.load(fh)
                except (OSError, ValueError):
                    continue
                for s in root.get("segments", []):
                    if _is_seg_head(s):
                        referenced.add(s["ref"])
                    else:
                        dv_referenced.update(
                            v["ref"] for v in s.get("dvs", {}).values()
                        )
        for ref in referenced:
            # deletion-vector refs live inside the segment details —
            # a dv sidecar is live while ANY existing root's segment
            # points at it
            try:
                with open(os.path.join(mdir, ref)) as fh:
                    dv_referenced.update(
                        v["ref"]
                        for v in json.load(fh).get("dvs", {}).values()
                    )
            except (OSError, ValueError):
                continue
        for f in os.listdir(mdir):
            if (
                f.startswith("seg-")
                and f.endswith(".json")
                and f not in referenced
            ) or (
                f.startswith("dv-")
                and f.endswith(".json")
                and f not in dv_referenced
            ):
                _sweep(os.path.join(mdir, f))
    keep_from = max(0, latest - keep_last + 1)
    # live set from the HEAD DIFF: consecutive roots share almost every
    # segment ref (appends extend, rewrites swap a few), and a detail
    # sidecar is immutable per ref — so each unique ref is opened ONCE
    # across the whole retained window instead of once per version
    # (_read_manifest resolved every version's full sidecar fan-out,
    # O(keep_last × segments) opens on a long-retained table)
    live: set[str] = set()
    live_refs: set[str] = set()
    for v in range(keep_from, latest + 1):
        for s in _segments(_read_manifest_root(table, v)):
            if not _is_seg_head(s):
                live.update(s["files"])  # legacy inline segment
            elif s["ref"] not in live_refs:
                live_refs.add(s["ref"])
                live.update(_resolve_seg(table, s)["files"])
    deleted = []
    now = time.time()
    data_root = os.path.join(table, "data")
    for snap in os.listdir(data_root) if os.path.isdir(data_root) else []:
        snap_dir = os.path.join(data_root, snap)
        for f in os.listdir(snap_dir):
            rel = os.path.join("data", snap, f)
            if f.endswith(".parquet") and rel not in live:
                # age guard (Delta-style retention check): a concurrent
                # writer stages data files FIRST and links the manifest
                # LATER, so an unreferenced-but-young file may belong to
                # an in-flight commit — deleting it would let the commit
                # succeed while publishing a manifest of dead files.
                # Only files older than tmp_age_s can be true orphans.
                try:
                    if now - os.path.getmtime(
                        os.path.join(table, rel)
                    ) < tmp_age_s:
                        continue
                    if not dry_run:
                        os.remove(os.path.join(table, rel))
                except FileNotFoundError:
                    continue
                deleted.append(rel)
        if dry_run:
            continue
        try:
            remaining = os.listdir(snap_dir)
        except FileNotFoundError:
            continue
        if not any(f.endswith(".parquet") for f in remaining):
            shutil.rmtree(snap_dir)
    return sorted(deleted)


def compact(
    spark: SparkSession,
    table: str,
    target_files: int = 1,
) -> int:
    """OPTIMIZE: rewrite the LATEST version's data into ``target_files``
    coalesced files and commit the rewrite as a new version.

    Append-heavy tables (one file set per micro-batch under
    streaming/cdc.py) accumulate small files until scan planning is
    dominated by per-file overhead — the standard lakehouse fix is a
    background rewrite that changes the FILE LAYOUT but not the rows.
    Readers are never disturbed: the rewrite commits through the same
    put-if-absent manifest link, old versions still reference the old
    files (time travel intact), and ``vacuum`` reclaims them once
    retention allows.

    Concurrency: the full rewrite is the OPTIMIZE family's widest victim
    set ("every live file") through the same :func:`_rewrite_victims`
    tail, so it rebases like the incremental kinds — a concurrent plain
    append carries into the compacted version untouched, while any other
    intervening commit (a rewrite, schema evolution, a new constraint)
    raises :class:`CommitConflict`; re-run.

    A table committed with ``layout_by`` RE-CLUSTERS here: the manifest
    records the layout spec, and compaction re-applies the Z-order
    (bounds from the replaced files' stats) instead of a plain
    coalesce — so the unclustered tail the appends accrued folds back
    into narrow-stats files and ``skip_filter`` pruning is RESTORED by
    maintenance rather than destroyed by it. File count comes from the
    recorded ``layout_files`` (fallback ``target_files``). The stats and
    bloom surfaces, row ids and commit versions carry like every
    rewrite's."""
    base = _read_pointer(table)
    if base is None:
        raise FileNotFoundError(f"no committed version in {table}")
    manifest = _read_manifest(table, base)
    layout = manifest.get("layout") or {}
    return _rewrite_victims(
        spark,
        table,
        base,
        manifest,
        {f for seg in _segments(manifest) for f in seg["files"]},
        min_files=layout.get("files") or target_files,
    )


def data_file_count(table: str, version: int | None = None) -> int:
    """Number of data files the (latest unless given) manifest references."""
    if version is None:
        version = _read_pointer(table)
    m = _read_manifest_root(table, version)
    return sum(
        s["n_files"] if _is_seg_head(s) else len(s["files"])
        for s in _segments(m)
    )


def compact_small_files(
    spark: SparkSession,
    table: str,
    small_bytes: int = 32 << 20,
    target_bytes: int = 128 << 20,
    among: "set[str] | None" = None,
) -> int | None:
    """Incremental OPTIMIZE (bin-packing): rewrite ONLY the data files
    smaller than ``small_bytes`` into ~``target_bytes`` files; everything
    already well-sized carries by reference, untouched.

    :func:`compact` rewrites the whole table — the right tool for a
    small dimension, a non-starter at scale: a 100-TB table with a
    streaming small-file tail must fold the tail, not re-shuffle 100 TB
    to fix 100 MB. This is Delta's ``OPTIMIZE`` bin-packing semantics:
    victims are chosen by on-disk size from the manifest's file list
    (one ``stat`` per file, no data I/O), read once, re-clustered along
    the table's recorded layout (or coalesced), and committed through
    the rewrite protocol — same stats/bloom re-collection, same CHECK
    gate, same optimistic rebase over concurrent appends (row content is
    unchanged, so any append commutes). Returns the new version, or None
    when fewer than two victims exist (nothing to pack).

    ``among`` (Delta's ``OPTIMIZE ... WHERE`` scope) restricts victims
    to the given relpaths — callers derive the set from stats pruning
    so a predicate-scoped pack touches only the matching slice of a
    100-TB table; a superset scope only adds candidates, never changes
    row content, so the rewrite stays maintenance-invisible."""
    base = _read_pointer(table)
    if base is None:
        raise FileNotFoundError(f"no committed version in {table}")
    manifest = _read_manifest(table, base)
    sizes = {
        f: os.path.getsize(os.path.join(table, f)) for f in manifest["files"]
    }
    victims = {f for f, s in sizes.items() if s < small_bytes}
    if among is not None:
        victims &= set(among)
    if len(victims) < 2:
        return None
    return _rewrite_victims(spark, table, base, manifest, victims, target_bytes)


def _rewrite_victims(
    spark: SparkSession,
    table: str,
    base: int,
    manifest: dict,
    victims: set,
    target_bytes: "int | None" = None,
    min_files: int = 1,
) -> int:
    """Shared tail of the whole OPTIMIZE family (:func:`compact`,
    :func:`compact_small_files`, :func:`recluster`,
    :func:`reorg_purge`): each picks its victim files, then this splits
    every segment around ``victims``, reads ONLY the victim rows
    (through their deletion vectors, keeping row ids and commit
    versions), rewrites them as one fresh segment re-clustered along the
    recorded layout, and commits as an append-commuting ``compact`` with
    Delta's OPTIMIZE ``operationMetrics``. Output files: enough to hold
    the victim bytes at ``target_bytes`` each (None: no byte target),
    floored at ``min_files`` (recluster keeps the recorded layout
    granularity even when the victim bytes would pack into fewer files —
    a single wide output file would still be row-group-prunable, but
    file-level skipping is the cheaper first gate). Unresolved heads
    carry byte-for-byte: a caller leaves a segment sharded only when its
    root-level screen proved no file inside can be a victim."""
    carried: list[dict] = []
    rewrite_segs: list[dict] = []
    for seg in _segments(manifest):
        if _is_seg_head(seg):
            carried.append(seg)
            continue
        keep = [f for f in seg["files"] if f not in victims]
        hit = [f for f in seg["files"] if f in victims]
        if keep:
            carried.append(_seg_part(seg, keep))
        if hit:
            rewrite_segs.append(_seg_part(seg, hit))
    tracked = all(_seg_row_tracked(s) for s in rewrite_segs)
    rows = _read_segments(
        spark,
        table,
        {**manifest, "segments": rewrite_segs},
        # rewritten rows are carries: they keep their ids so the keyed
        # CDC diff cancels a compaction to an EMPTY delta — and their
        # commit versions (maintenance never bumps a row's cv)
        with_row_ids=tracked,
        with_commit_versions=tracked,
    )
    victim_bytes = sum(
        os.path.getsize(os.path.join(table, f)) for f in victims
    )
    n_out = max(
        1, min_files, -(-victim_bytes // target_bytes) if target_bytes else 1
    )
    new_segment = _rewrite_segment(
        spark,
        table,
        manifest,
        rewrite_segs,
        carried,
        rows,
        changed_cols=set(),  # pure layout change: rows are untouched
        target_files=n_out,
    )
    return _commit_rewrite(
        table,
        base,
        manifest,
        carried + [new_segment],
        "compact",
        # a pure layout rewrite commutes with ANY concurrent append
        rebase=lambda seg: True,
        # DESCRIBE HISTORY operationMetrics (Delta OPTIMIZE shape) —
        # all numbers the rewrite already computed, never a new job
        metrics={
            "numRemovedFiles": len(victims),
            "numAddedFiles": len(new_segment["files"]),
            "numRemovedBytes": victim_bytes,
            "numCarriedSegments": len(carried),
        },
    )


def _stat_rank(v) -> float | None:
    """Python mirror of :func:`_layout_num_expr` over MANIFEST stat
    values (already JSON-native via ``_json_val``): numerics/booleans
    rank as themselves; strings — including the isoformat encodings of
    dates/timestamps, whose lexicographic order IS chronological — rank
    by their first 7 UTF-8 bytes read big-endian. Ranking only (victim
    CHOICE for maintenance); correctness never depends on it."""
    if isinstance(v, bool):
        return float(v)
    if isinstance(v, (int, float)):
        return float(v)
    if isinstance(v, str):
        # surrogatepass: bounds minted by a pre-fix _trunc_string_stat
        # may end in a lone surrogate (U+D7FF incremented to U+D800);
        # ranking must tolerate them — maintenance on an old manifest
        # must never crash on a stat value it can still order.
        return float(
            int.from_bytes(
                v.encode("utf-8", errors="surrogatepass")[:7].ljust(
                    7, b"\x00"
                ),
                "big",
            )
        )
    return None


def recluster(
    spark: SparkSession,
    table: str,
    width_factor: float = 4.0,
    small_bytes: int | None = None,
    target_bytes: int = 128 << 20,
) -> int | None:
    """Incremental OPTIMIZE for CLUSTERING (the liquid-clustering
    maintenance shape): rewrite ONLY the files that hurt pruning on the
    table's recorded ``layout_by`` keys; every well-clustered file
    carries by reference, untouched.

    Appends to a clustered table ingest UNclustered by design (fast
    ingest; maintenance re-clusters) — but the repair used to be either
    :func:`compact` (a full-table rewrite, a non-starter at 100 TB) or
    :func:`compact_small_files` (victims by SIZE only, so a well-sized
    unclustered batch append never folds back into the curve and
    ``skip_filter`` pruning decays permanently). Victim choice here is
    metadata-only, from the per-file min/max stats the manifests
    already carry: normalize each file's stats-box to the table-wide
    key range and take its VOLUME across the layout keys — a clustered
    file occupies ~1/n of the key-space, an unclustered one ~all of it.
    A file is a victim when

        volume > width_factor / n_live_files

    i.e. its box claims more than ``width_factor`` times the ideal
    per-file share. A key with no stats on a file counts as
    span 1.0 in that dimension, so stat-less files (unprunable on the
    cluster keys) volunteer naturally; a key whose TABLE span is zero
    contributes span 0 (every file is perfectly clustered in a
    constant dimension). ``small_bytes`` folds the bin-pack victims
    into the SAME single rewrite commit, so one maintenance pass
    repairs both layout and file size. Needs >= 2 victims (rewriting
    one file alone cannot narrow it below the recorded layout's file
    cap); returns the new version or None.

    Two-tier cost shape (the ``reorg_purge`` discipline): victim
    SCREENING is root-only — a sharded segment whose coarse summary box
    is already narrower than the victim threshold cannot contain a wide
    file (file boxes nest inside their segment box), so its detail
    sidecar never opens and its head carries byte-for-byte. Detail
    resolves only for segments that MAY hold victims: summary missing a
    layout key (some file is stat-less), summary volume over threshold,
    or (with ``small_bytes``) average file size under 4× the small
    bound — so an 800k-file table with a 10-file unclustered tail opens
    ~1 sidecar, not 800. The avg-size gate can miss a lone tiny file
    hiding in a big-avg segment; a lone small file is harmless (the
    same reason the <2-victim guard exists) and a tail of them drags
    the average down into the gate. Data I/O is O(victim bytes). When
    MOST of the table is unclustered the victim set approaches the
    whole table and this degrades to :func:`compact` — the repair is
    genuinely that big; run maintenance often enough that it isn't.
    Commits as mode ``compact`` (carry-only), so ``skipCompactions``
    change-feed subscribers see nothing and the keyed CDC diff cancels
    it on row-tracked tables."""
    base = _read_pointer(table)
    if base is None:
        raise FileNotFoundError(f"no committed version in {table}")
    root = _read_manifest_root(table, base)
    layout = root.get("layout")
    if not layout:
        return None  # nothing to recluster toward
    keys = layout["by"]
    aliases = root.get("aliases", {})

    def _phys(seg_schema: dict, cur: str) -> str:
        # stats/summaries are keyed by each segment's PHYSICAL field
        # names; a renamed layout key resolves through the alias map
        # (the _head_may_match idiom) so old segments still screen
        for f in _schema_fields(seg_schema):
            if aliases.get(f, f) == cur:
                return f
        return cur

    def _span(summ: dict, schema: dict, c: str) -> "tuple[float, float] | None":
        mm = summ.get(_phys(schema, c))
        lo = _stat_rank(mm[0]) if mm else None
        hi = _stat_rank(mm[1]) if mm else None
        return (lo, hi) if lo is not None and hi is not None else None

    # tier 1 — root only: totals and the table-wide key range from the
    # heads' coarse summaries (inline legacy segments compute their
    # union in place; they are already in the root, nothing to save)
    seg_boxes: list[tuple[dict, dict, int, int]] = []
    for seg in _segments(root):
        if _is_seg_head(seg):
            summ, n_f, nbytes = seg.get("summary") or {}, seg["n_files"], seg.get("bytes", 0)
        else:
            summ = _seg_summary(seg.get("stats", {}), len(seg["files"]))
            n_f = len(seg["files"])
            nbytes = sum(
                os.path.getsize(os.path.join(table, f)) for f in seg["files"]
            )
        seg_boxes.append(
            (seg, {c: _span(summ, seg["schema"], c) for c in keys}, n_f, nbytes)
        )
    n_live = sum(n_f for _, _, n_f, _ in seg_boxes)
    if n_live < 2:
        return None
    t_lo = {
        c: min((b[c][0] for _, b, _, _ in seg_boxes if b[c]), default=None)
        for c in keys
    }
    t_hi = {
        c: max((b[c][1] for _, b, _, _ in seg_boxes if b[c]), default=None)
        for c in keys
    }

    # A table-wide constant (or fully stat-less) dimension carries no
    # clustering information: EVERY file spans all of it, so it must not
    # contribute a factor at all — multiplying 0.0 (or 1.0) in would
    # either disable wide detection for every other dimension or claim
    # spurious width.  The product over the LIVE dimensions alone is
    # still a share-of-total-volume in [0, 1] (each live factor is the
    # file's normalized span), so the width_factor / n_live threshold
    # needs no rescaling: a perfectly packed file covers ~1/n_live of
    # the live-dim volume regardless of how many dimensions are live.
    live_dims = [c for c in keys if t_lo[c] is not None and t_hi[c] != t_lo[c]]

    def _volume(spans: dict) -> float:
        if not live_dims:
            # no discriminating dimension → width screening is
            # meaningless; report 0 so no file is ever "wide" (small-
            # file victims below keep bin-pack maintenance alive)
            return 0.0
        v = 1.0
        for c in live_dims:
            if spans[c] is None:
                v *= 1.0  # no stats: unprunable, claims everything
            else:
                v *= (spans[c][1] - spans[c][0]) / (t_hi[c] - t_lo[c])
        return v

    threshold = width_factor / n_live
    # tier 2 — resolve detail ONLY for possible-victim segments
    segments: list[dict] = []
    candidates: list[dict] = []
    for seg, box, n_f, nbytes in seg_boxes:
        may_hold_victim = (
            any(box[c] is None for c in live_dims)  # a file may be stat-less
            or _volume(box) > threshold
            or (
                small_bytes is not None
                and n_f > 0
                and nbytes / n_f < small_bytes * 4
            )
        )
        if may_hold_victim:
            seg = _resolve_seg(table, seg)
            candidates.append(seg)
        segments.append(seg)
    manifest = {**root, "segments": segments}
    wide: set[str] = set()
    small: set[str] = set()
    for seg in candidates:
        stats = seg.get("stats", {})
        phys = {c: _phys(seg["schema"], c) for c in keys}
        for f in seg["files"]:
            spans = {}
            for c in keys:
                mm = stats.get(f, {}).get(phys[c])
                lo = _stat_rank(mm[0]) if mm else None
                hi = _stat_rank(mm[1]) if mm else None
                spans[c] = (
                    (lo, hi) if lo is not None and hi is not None else None
                )
            if _volume(spans) > threshold:
                wide.add(f)
            if small_bytes is not None and os.path.getsize(
                os.path.join(table, f)
            ) < small_bytes:
                small.add(f)
    victims = wide | small
    if len(victims) < 2:
        # a LONE wide file stays (splitting it, then bin-packing the
        # narrow smalls back together, would churn forever on a table
        # receiving no new data) — the honest steady-state remainder,
        # same shape as Delta OPTIMIZE's one partial file
        return None
    return _rewrite_victims(
        spark,
        table,
        base,
        manifest,
        victims,
        target_bytes,
        # when a WIDE victim is being folded back, keep the recorded
        # clustering granularity: collapsing full-range rows below
        # layout_files files would trade file-level skipping for
        # row-group-level — the wrong direction for a maintenance pass
        # whose whole point is restoring pruning. A pure small-file
        # fold (no wide victim) packs by bytes alone, exactly like
        # compact_small_files.
        min_files=(layout.get("files") or 1) if wide else 1,
    )


def reorg_purge(
    spark: SparkSession,
    table: str,
    target_bytes: int = 128 << 20,
) -> int | None:
    """REORG TABLE ... APPLY (PURGE): materialize deletion vectors by
    rewriting ONLY the DV-shadowed files; every unshadowed file — and
    every unshadowed SEGMENT — carries by reference, untouched.

    Victim choice is metadata-only: root heads carry a per-segment
    ``dv_rows`` sum, so segments without vectors never even resolve
    their detail sidecar (their head passes through byte-for-byte, the
    ``compact_small_files`` shape). Only files with a vector entry are
    read (through the DV anti-join, so survivors only) and re-packed
    toward ``target_bytes`` files. At 100 TB with vectors concentrated
    in a few segments this moves O(shadowed bytes), where a full
    :func:`compact` would rewrite the whole table to purge a few
    hundred MB. Returns the new version, or None when no file carries
    a vector (nothing to purge). The rewrite itself is the OPTIMIZE
    family's shared :func:`_rewrite_victims` tail."""
    base = _read_pointer(table)
    if base is None:
        raise FileNotFoundError(f"no committed version in {table}")
    root = _read_manifest_root(table, base)
    segments = [
        _resolve_seg(table, s) if _is_seg_head(s) and s.get("dv_rows") else s
        for s in _segments(root)
    ]
    victims = {
        f
        for s in segments
        if not _is_seg_head(s)
        for f in _seg_dvs(s).keys() & set(s["files"])
    }
    if not victims:
        return None
    manifest = {**root, "segments": segments}
    return _rewrite_victims(
        spark, table, base, manifest, victims, target_bytes
    )


# distinct "not passed" marker for maybe_compact's small_bytes: None is
# itself meaningful there (= full-table compact mode / bin-pack
# disabled — the index daemons rely on it), so it cannot double as
# "resolve from table properties"
_UNSET = object()


def maybe_compact(
    spark: SparkSession,
    table: str,
    max_files: "int | None" = None,
    target_files: "int | None" = None,
    small_bytes=_UNSET,
    target_bytes: "int | None" = None,
    dv_rows_max: "int | None" = None,
) -> int | None:
    """OPTIMIZE-when-needed: compact iff the latest version references
    more than ``max_files`` data files, OR deletion vectors shadow more
    than ``dv_rows_max`` rows table-wide (Delta's REORG PURGE
    heuristic: every scan pays the position anti-join, so past the
    threshold materializing survivors beats keeping the metadata —
    the check is root-only, summing the heads' ``dv_rows``); returns
    the new version or None.

    The scheduling half of :func:`compact` — an append-per-micro-batch
    sink (streaming/versioned_sink.py) accrues one file set per trigger,
    and the honest place to bound that is a cheap manifest-count check
    after each commit, not a cron job that rewrites on a clock. The
    check reads ONE manifest (no data I/O); the rewrite, when it fires,
    is the normal compaction commit (time travel intact, change-feed
    consumers see delete+insert noise they can filter on
    ``_commit_mode = 'compact'``). A losing race just means a competitor
    committed — re-check on the next trigger; never propagate.

    With ``small_bytes`` set, the rewrite is the INCREMENTAL
    :func:`compact_small_files` (bin-pack only the sub-``small_bytes``
    tail toward ``target_bytes`` files) instead of the full-table
    rewrite — the right setting for a sink on a large table.

    The ``dv_rows_max`` trigger routes to :func:`reorg_purge`, which
    rewrites ONLY the DV-shadowed files — never the whole table.

    Arguments left ``None`` resolve from the table's OWN ``maintain.*``
    properties (:func:`set_table_properties`) and then the built-in
    defaults — the table carries one maintenance policy and every
    maintainer (sink, feed daemon, index refreshers) honors it without
    re-plumbing thresholds; an explicit argument still wins."""
    p = _read_pointer(table)
    if p is None:
        return None
    root = _read_manifest_root(table, p)
    pol = root.get("props") or {}

    def _resolve(val, key, dflt):
        if val is not None:
            return val
        s = pol.get(key)
        return int(s) if s is not None else dflt

    max_files = _resolve(max_files, "maintain.max_files", 64)
    target_files = _resolve(target_files, "maintain.target_files", 8)
    target_bytes = _resolve(target_bytes, "maintain.target_bytes", 128 << 20)
    dv_rows_max = _resolve(dv_rows_max, "maintain.dv_rows_max", 1_000_000)
    if small_bytes is _UNSET:
        # None stays "bin-pack disabled" for explicit callers; only a
        # genuinely-unset argument consults the table policy
        small_bytes = _resolve(None, "maintain.small_bytes", None)
    n_files = sum(
        s["n_files"] if _is_seg_head(s) else len(s["files"])
        for s in _segments(root)
    )
    dv_rows = sum(
        (
            s.get("dv_rows", 0)
            if _is_seg_head(s)
            else sum(int(v.get("n", 0)) for v in _seg_dvs(s).values())
        )
        for s in _segments(root)
    )
    if n_files <= max_files and dv_rows <= dv_rows_max:
        return None
    try:
        if dv_rows > dv_rows_max:
            # surgical REORG PURGE: rewrite ONLY the DV-shadowed files
            # (victims chosen from root-head dv_rows — metadata-only);
            # a full compact here would rewrite 100 TB to purge MBs
            v = reorg_purge(spark, table, target_bytes=target_bytes)
            if v is not None or n_files <= max_files:
                return v
            # vectors already gone but the file count still trips:
            # fall through to the size-triggered path
        if small_bytes is not None:
            if root.get("layout"):
                # clustered table: one rewrite commit repairs BOTH the
                # small-file tail and the unclustered (wide-stats-box)
                # tail — bin-packing alone would leave well-sized
                # unclustered appends eroding skip_filter forever
                return recluster(
                    spark,
                    table,
                    small_bytes=small_bytes,
                    target_bytes=target_bytes,
                )
            return compact_small_files(
                spark,
                table,
                small_bytes=small_bytes,
                target_bytes=target_bytes,
            )
        return compact(spark, table, target_files=target_files)
    except CommitConflict:
        return None  # a concurrent writer moved the table; next trigger re-checks
