"""``lake_dml`` workload: one long-lived versioned table receiving a seeded
script of SQL statements through ``sources.versioned_sql.versioned_sql``.

The table starts as the sf0.01 ``orders`` table (15,000 rows) clustered
on ``o_orderkey``; sf0.1 would make a run overrun the benchmark's time
budget, and the statements' cost is dominated by their Spark job count,
not by the rows. Every script has the same statement mix, so runs with
different seeds do the same amount of work:

* writes: MERGE, UPDATE and DELETE in both the ``cow`` and the ``dv``
  strategy, INSERT, an overwrite (a fresh write of the table), OPTIMIZE
  and VACUUM;
* reads, between the writes, each twice a round: a full-table aggregate,
  a key-range SELECT, a ``VERSION AS OF`` aggregate and a
  ``table_changes`` read of the newest commit.

Each DML verb gets a contiguous key range (pruned to a few files) in one
strategy and scattered keys (every file) in the other. One op is one
statement.

:class:`Model` is an independent pure-Python copy of the table that
applies each statement; every read and the final snapshot are checked
against it after the timed phase. Time-travel reads only target versions
that VACUUM has retained.
"""

from __future__ import annotations

import os
import random
from collections import Counter

COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
SCALE = "0.01"  # the fixture is this scale's orders table
TOUCH = 150  # rows a DML statement or a filtered read touches
ROUND_S = 10.0  # seconds one round of the script takes at local[4], idle host
RETAIN = 3  # VACUUM keeps this many newest versions
#: Write statements in script order, each with its key pattern: True for a
#: contiguous key range (prunes to a few files), False for scattered keys
#: (touches every file). Each verb gets one of each, one per strategy. The
#: order and the patterns are fixed so that every seed does the same work
#: and leaves the same garbage for VACUUM; the seed picks keys, values and
#: the time-travel target. A run plays ``--seconds / ROUND_S`` rounds of it
#: (rounded, at least one).
WRITES = (("merge_cow", True), ("update_dv", True), ("insert", None),
          ("delete_cow", False), ("merge_dv", False), ("overwrite", None),
          ("update_cow", False), ("delete_dv", True), ("optimize", None),
          ("vacuum", None))
#: Reads, each placed after the write at this index of the sequence above;
#: every kind twice a round, at different points of the write sequence, so
#: that ``read_s`` and the op median rest on more than one sample of each.
READS = (("select_filtered", 1), ("table_changes", 3), ("select", 4),
         ("select_as_of", 5), ("select_filtered", 6), ("table_changes", 7),
         ("select_as_of", 8), ("select", 9))
AGG_SQL = ("SELECT o_orderstatus, count(*) AS n, sum(o_custkey) AS sc, "
           "sum(o_orderkey) AS sk FROM {table}{as_of} GROUP BY o_orderstatus")


def aggregate(rows: dict) -> dict:
    """o_orderstatus -> (rows, sum of o_custkey, sum of o_orderkey)."""
    out: dict = {}
    for k, (cust, status, _price, _prio) in rows.items():
        n, sc, sk = out.get(status, (0, 0, 0))
        out[status] = (n + 1, sc + cust, sk + k)
    return out


class Stmt:
    def __init__(self, kind: str, sql: str, strategy: str = "cow", source=None):
        self.kind = kind  # a WRITES or READS name
        self.sql = sql  # may hold {as_of} / {changes} placeholders
        self.strategy = strategy
        self.source = source  # rows for a temp view named in the SQL
        self.write_index = None  # writes: position among the writes
        self.expect = None  # select / select_filtered: expected answer

    @property
    def metric_kind(self) -> str:
        return "select" if self.kind == "select_filtered" else self.kind


class Model:
    """Pure-Python table: key -> (custkey, status, price, priority)."""

    def __init__(self, rows: dict):
        self.rows = dict(rows)
        self.aggregates = [aggregate(self.rows)]  # index 0: the initial table
        self.diffs: list[tuple[Counter, Counter]] = []  # per write: (deleted, inserted)

    def _commit(self, before: dict, changed_keys) -> None:
        deleted, inserted = Counter(), Counter()
        for k in changed_keys:
            if k in before:
                deleted[(k, *before[k])] += 1
            if k in self.rows:
                inserted[(k, *self.rows[k])] += 1
        self.diffs.append((deleted, inserted))
        self.aggregates.append(aggregate(self.rows))

    def update(self, keys, price_delta: float, status: str) -> None:
        before = {k: self.rows[k] for k in keys}
        for k in keys:
            c, _s, p, pr = self.rows[k]
            self.rows[k] = (c, status, p + price_delta, pr)
        self._commit(before, keys)

    def merge(self, source: list[tuple]) -> None:
        keys = [r[0] for r in source]
        before = {k: self.rows[k] for k in keys if k in self.rows}
        for k, cust, status, price, prio in source:
            if k in self.rows:
                c, _s, p, pr = self.rows[k]
                self.rows[k] = (c, status, price, pr)
            else:
                self.rows[k] = (cust, status, price, prio)
        self._commit(before, keys)

    def delete(self, keys) -> None:
        before = {k: self.rows.pop(k) for k in keys}
        self._commit(before, keys)

    def insert(self, source: list[tuple]) -> None:
        for k, *rest in source:
            self.rows[k] = tuple(rest)
        self._commit({}, [r[0] for r in source])

    def noop(self) -> None:
        self.diffs.append((Counter(), Counter()))
        self.aggregates.append(self.aggregates[-1])


def _pick(rng: random.Random, keys: list[int], contiguous: bool):
    """(predicate, keys it matches): a key range or a scattered residue."""
    if contiguous:
        i = rng.randrange(len(keys) - TOUCH)
        lo, hi = keys[i], keys[i + TOUCH - 1]
        return f"o_orderkey BETWEEN {lo} AND {hi}", keys[i:i + TOUCH]
    m = len(keys) // TOUCH
    r = rng.randrange(m)
    return f"o_orderkey % {m} = {r}", [k for k in keys if k % m == r]


def _new_rows(rng: random.Random, model: Model, n: int, status: str) -> list[tuple]:
    start = max(model.rows) + 1
    return [
        (start + 3 * i, rng.randint(1, 15_000), status, rng.randint(100, 40_000) * 0.25,
         rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM"]))
        for i in range(n)
    ]


def make_script(seed: int, initial: dict, rounds: int = 1) -> tuple[list[Stmt], Model]:
    """The seeded statement list (``rounds`` times the write sequence, each
    time with the four reads) and the model after applying its writes.
    Reads that depend on run-time version numbers keep placeholders."""
    rng = random.Random(seed)
    model = Model(initial)
    order = [kind for kind, _ in WRITES] * rounds
    contiguous = dict(WRITES)

    script: list[Stmt] = []
    for wi, kind in enumerate(order):
        keys = sorted(model.rows)
        verb, _, strategy = kind.partition("_")
        contig = contiguous[kind]
        if verb == "merge":
            matched = (_pick(rng, keys, True)[1][: TOUCH - 30] if contig
                       else rng.sample(keys, TOUCH - 30))
            # MERGE assigns source columns only: the source carries new prices
            source = [(k, 0, "M", model.rows[k][2] + rng.randint(1, 40) * 0.25, "")
                      for k in matched]
            source += _new_rows(rng, model, 30, "M")
            st = Stmt(kind, f"MERGE INTO orders t USING src_{wi} s "
                      "ON t.o_orderkey = s.o_orderkey "
                      "WHEN MATCHED THEN UPDATE SET o_totalprice = s.o_totalprice, "
                      "o_orderstatus = s.o_orderstatus WHEN NOT MATCHED THEN INSERT *",
                      strategy, source)
            model.merge(source)
        elif verb == "update":
            pred, hit = _pick(rng, keys, contig)
            st = Stmt(kind, f"UPDATE orders SET o_totalprice = o_totalprice + 0.5, "
                      f"o_orderstatus = 'U' WHERE {pred}", strategy)
            model.update(hit, 0.5, "U")
        elif verb == "delete":
            pred, hit = _pick(rng, keys, contig)
            st = Stmt(kind, f"DELETE FROM orders WHERE {pred}", strategy)
            model.delete(hit)
        elif kind == "insert":
            source = _new_rows(rng, model, TOUCH, "I")
            st = Stmt(kind, f"INSERT INTO orders SELECT * FROM src_{wi}", source=source)
            model.insert(source)
        elif kind == "overwrite":
            m = 97
            r = rng.randrange(m)
            st = Stmt(kind, f"INSERT OVERWRITE orders SELECT * FROM orders WHERE o_orderkey % {m} <> {r}")
            model.delete([k for k in keys if k % m == r])
        elif kind == "optimize":
            st = Stmt(kind, "OPTIMIZE orders")
            model.noop()
        else:
            st = Stmt(kind, f"VACUUM orders RETAIN {RETAIN} VERSIONS RETAIN 0 HOURS")
            model.noop()
        st.write_index = wi + 1  # model.aggregates / diffs index after it
        script.append(st)

        for rd, after in READS:
            if after != wi % len(WRITES):
                continue
            if rd == "select":
                s = Stmt(rd, AGG_SQL.format(table="orders", as_of=""))
                s.expect = model.aggregates[-1]
            elif rd == "select_filtered":
                pred, hit = _pick(rng, sorted(model.rows), True)
                s = Stmt(rd, f"SELECT * FROM orders WHERE {pred}")
                s.expect = Counter((k, *model.rows[k]) for k in hit)
            elif rd == "select_as_of":
                s = Stmt(rd, AGG_SQL.format(table="orders", as_of=" VERSION AS OF {as_of}"))
            else:
                s = Stmt(rd, "SELECT _change_type, " + ", ".join(COLUMNS)
                         + " FROM table_changes('orders', {changes})")
            script.append(s)
    return script, model


# --- running ------------------------------------------------------------------


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def _agg_result(rows) -> dict:
    return {s: (n, sc, sk) for s, n, sc, sk in rows}


def run(bench) -> None:
    import pyarrow.parquet as pq

    import common

    spark = bench.start_session()
    from wrtd_etl_spark.sources import versioned as V
    from wrtd_etl_spark.sources import versioned_sql as VS

    sf = common.testdata(SCALE)
    table = os.path.join(bench.dirs.data, "orders")
    base = spark.read.parquet(os.path.join(sf, "orders.parquet")).select(*COLUMNS)
    with bench.phase("fixture"):
        t = pq.read_table(os.path.join(sf, "orders.parquet"), columns=list(COLUMNS))
        initial = {r[0]: tuple(r[1:]) for r in zip(*(t.column(c).to_pylist() for c in COLUMNS))}
        script, model = make_script(bench.seed, initial, max(1, round(bench.seconds / ROUND_S)))
        V.write_snapshot(base, table, layout_by=["o_orderkey"], layout_files=8)
        avg_row = common.dir_bytes(table, lambda p: p.endswith(".parquet"))[1] / len(initial)
    VS.register_table("orders", table)
    with bench.phase("warmup"):
        _warm_up(spark, VS)

    runtime = random.Random(bench.seed + 1)
    version = V.latest_version(table)
    versions = {0: version}  # write index -> table version after it (0: initial)
    min_readable = 0  # oldest version VACUUM has retained
    last_commit = (version - 1, version, 0)  # (from, to, write index) of the newest commit
    results = []
    written: dict[str, int] = {}
    seen = common.listing(table) if bench.tracer else None
    with bench.timed():
        for st in script:
            sql = st.sql
            if "{as_of}" in sql:
                cands = sorted(i for i, v in versions.items() if v >= min_readable)
                target = runtime.choice(cands[:-1] or cands)
                sql = sql.format(as_of=versions[target])
                st.expect = model.aggregates[target]
            elif "{changes}" in sql:
                lo, hi, wi = last_commit
                sql = sql.format(changes=f"{lo}, {hi}")
                st.expect = model.diffs[wi - 1] if wi else None
            if st.source is not None:
                spark.createDataFrame(st.source, _schema()).createOrReplaceTempView(
                    f"src_{st.write_index - 1}"
                )

            def go(op, sql=sql, st=st):
                out = VS.versioned_sql(spark, sql, strategy=st.strategy)
                return _rows(out) if st.write_index is None else out

            op = bench.op(st.metric_kind, go, span=f"sql.{st.metric_kind}")
            if st.write_index is None:
                op.read_s = op.s
            else:
                op.write_s = op.s
                if st.kind == "vacuum":
                    min_readable = version - RETAIN + 1
                elif op.ok and isinstance(op.out, int) and op.out != version:
                    last_commit = (version, op.out, st.write_index)
                    version = op.out
                versions[st.write_index] = version
            if seen is not None:
                now = common.listing(table)
                written.update({p: n for p, n in now.items() if p not in seen})
                seen.update(now)
            results.append((st, op))
    bench.values["mem_retained_mb"] = common.retained_mb(spark)

    for st, op in results:
        if not op.ok:
            continue
        if st.write_index is None:
            err = _check_read(st, op.out)
            if err:
                op.fail(f"{st.kind}: {err} [{st.sql[:120]}]")
        elif st.kind not in ("optimize", "vacuum") and not isinstance(op.out, int):
            op.fail(f"{st.kind} returned {op.out!r}, not a committed version")
    final = _rows(VS.versioned_sql(spark, "SELECT * FROM orders"))
    want = {(k, *v) for k, v in model.rows.items()}
    if set(final) != want or len(final) != len(want):
        bench.ops[-1].fail(
            f"final snapshot differs from the model: {len(final)} rows vs {len(want)}, "
            f"{len(set(final) ^ want)} rows differ"
        )

    detail = V.describe_table(table)
    total = common.dir_bytes(table)[1]
    bench.values["space_amp"] = total / detail["size_bytes"]
    bench.values["lake.files_live"] = detail["num_files"]
    bench.values["lake.dv_rows_live"] = detail["dv_rows"]
    bench.values["lake.manifest_bytes"] = common.dir_bytes(os.path.join(table, "_manifests"))[1]
    if bench.tracer is not None:
        # rows the statements asked to write: new and changed row images,
        # and every surviving row for the overwrite
        user_rows = sum(
            sum(model.aggregates[st.write_index][s][0] for s in model.aggregates[st.write_index])
            if st.kind == "overwrite" else sum(model.diffs[st.write_index - 1][1].values())
            for st in script if st.write_index is not None
        )
        bench.values["lake.bytes_written"] = sum(written.values())
        bench.values["lake.write_amp"] = sum(written.values()) / (user_rows * avg_row)


def _schema():
    return ("o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderpriority string")


def _check_read(st: Stmt, rows: list[tuple]) -> str:
    if st.kind in ("select", "select_as_of"):
        got = _agg_result(rows)
        return "" if got == st.expect else f"aggregate {got} != model {st.expect}"
    if st.kind == "select_filtered":
        got = Counter(rows)
        return "" if got == st.expect else (
            f"{sum(got.values())} rows vs model {sum(st.expect.values())}, "
            f"{sum(((got - st.expect) + (st.expect - got)).values())} differ"
        )
    if st.expect is None:
        return "" if not rows else f"{len(rows)} change rows before any write"
    deleted, inserted = st.expect
    got_del = Counter(r[1:] for r in rows if r[0] == "delete")
    got_ins = Counter(r[1:] for r in rows if r[0] == "insert")
    if got_del != deleted or got_ins != inserted:
        return (f"changes: {sum(got_del.values())} deletes / {sum(got_ins.values())} inserts, "
                f"model {sum(deleted.values())} / {sum(inserted.values())}")
    return ""


def _warm_up(spark, VS) -> None:
    """Pay, outside the timed phase, the first-use cost that is well above
    what warming it costs: the Python data source behind versioned reads
    (about 5 s to start on a busy 4-core host) and the aggregate and
    key-range plans, by reading the fixture table, which reads leave
    unchanged. The other statements keep their first-use costs in the
    timed phase, on the same statements in every run: the first
    copy-on-write MERGE costs about as much again as a warm one, but
    warming it takes a scratch table whose write and MERGE cost more
    set-up time than that."""
    _rows(VS.versioned_sql(spark, AGG_SQL.format(table="orders", as_of="")))
    _rows(VS.versioned_sql(spark, "SELECT * FROM orders WHERE o_orderkey BETWEEN 100 AND 900"))
