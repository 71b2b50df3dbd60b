"""Exactly-once streaming APPEND into a versioned table.

The plain-ingestion sibling of streaming/cdc.py's SCD2 fold: every
micro-batch commits one append version of the table
(sources/versioned.py), so downstream readers get snapshot-consistent,
time-travelable ingestion — and incremental consumers get their deltas
for free (``delta_files`` / ``table_changes`` / the incremental
materialized-view refresh all key off exactly these append manifests).

Exactly-once from an at-least-once contract: ``foreachBatch`` can replay
a batch after a crash between our commit and Spark's checkpoint commit;
the manifest records each batch's id, and a replay whose id matches the
latest commit is a no-op (the same ledger pattern as cdc.py, with the
versioned table itself as the ledger — no side channel to drift).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..sources.versioned import latest_version, manifest_info, write_snapshot


def make_versioned_append_sink(
    table: str,
    stats_cols: list[str] | None = None,
    compact_above: int | None = None,
    compact_small_bytes: int | None = None,
):
    """The ``foreachBatch`` function: (batch_df, batch_id) → one append
    commit. ``stats_cols`` records per-file min/max on every batch so the
    ingested table is data-skipping-ready from the first commit.

    ``compact_above`` bounds small-file accrual inline: after each
    commit, if the manifest references more than that many files, the
    sink compacts (sources/versioned.maybe_compact) before returning —
    the one-file-set-per-trigger problem solved where it is created.
    Exactly-once is unaffected: the batch-id ledger check reads the
    newest APPEND's extra, and compaction carries ``extra`` forward.

    ``compact_small_bytes`` switches that inline rewrite to the
    INCREMENTAL bin-packer (compact_small_files): only the
    sub-threshold tail is rewritten, well-sized files carry by
    reference — the setting a sink on a LARGE table must use, since a
    full-table rewrite per trigger does not survive scale.

    With NO thresholds passed, the sink honors the table's OWN
    ``maintain.*`` properties (sources/versioned.set_table_properties):
    a table that declares its maintenance policy gets maintained by
    every sink writing to it, without each pipeline re-plumbing
    thresholds. No properties, no thresholds → no maintenance, as
    before."""

    def sink(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return  # empty trigger: no new version
        prev = latest_version(table)
        if prev is not None:
            info = manifest_info(table)
            if info.get("extra", {}).get("batch_id") == batch_id:
                return  # replayed delivery: already committed
        write_snapshot(
            batch,
            table,
            mode="overwrite" if prev is None else "append",
            extra={"batch_id": batch_id},
            stats_cols=stats_cols,
        )
        if compact_above is not None:
            from ..sources.versioned import maybe_compact

            maybe_compact(
                batch.sparkSession,
                table,
                max_files=compact_above,
                # rewrite to half the trigger threshold so steady-state
                # appends breathe between compactions instead of
                # re-triggering on the very next batch
                target_files=max(1, compact_above // 2),
                small_bytes=compact_small_bytes,
            )
        else:
            from ..sources.versioned import maybe_compact, table_properties

            # policy-driven maintenance: a table that declares its own
            # maintain.* properties is kept healthy by ANY sink writing
            # to it (maybe_compact resolves the thresholds from props;
            # the check costs one root read, which maybe_compact pays
            # anyway). No props → no-op, the pre-r12 behavior.
            if any(
                k.startswith("maintain.") for k in table_properties(table)
            ):
                kw = (
                    {"small_bytes": compact_small_bytes}
                    if compact_small_bytes is not None
                    else {}
                )
                maybe_compact(batch.sparkSession, table, **kw)

    return sink


def run_versioned_append_stream(
    stream: DataFrame,
    table: str,
    checkpoint: str,
    stats_cols: list[str] | None = None,
) -> None:
    """Drive a (bounded) stream to completion, one append version per
    micro-batch."""
    q = (
        stream.writeStream.foreachBatch(
            make_versioned_append_sink(table, stats_cols)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def make_versioned_merge_sink(
    table: str,
    keys: list[str],
    delete_when=None,
    order_by: list[str] | None = None,
    source_meta_cols: tuple[str, ...] = (),
    stats_cols: list[str] | None = None,
    bloom_cols: list[str] | None = None,
    max_conflict_retries: int = 5,
    strategy: str = "cow",
):
    """Exactly-once streaming UPSERT: the ``foreachBatch`` function that
    folds each micro-batch into a versioned table with ONE atomic
    ``merge_into`` commit — the lake-scale form of the reference's poll
    loop (cursor fetch → ``INSERT ... ON CONFLICT DO UPDATE``,
    functions.py:178-183), where the append sink above only accretes.

    * ``keys`` — the merge identity. A CDC batch may carry MANY ops for
      one key; ``order_by`` names the columns (e.g. a log sequence
      number) whose per-key MAXIMUM row is the batch's final word — the
      within-batch collapse that makes the source merge-unique. Without
      ``order_by``, duplicate keys in a batch are refused (merge_into's
      ambiguity rule). ``order_by`` columns stay data columns unless
      also listed in ``source_meta_cols``.
    * ``delete_when`` — Column over the source row (after collapse):
      rows satisfying it delete the target key; a delete for an absent
      key is a no-op. Pair with ``source_meta_cols`` so op flags never
      become table columns.
    * Exactly-once from foreachBatch's at-least-once: the merge commit
      stamps ``batch_id`` into the manifest (``extra``), and a replayed
      batch whose id matches the latest commit is a no-op — same ledger
      as the append sink; rebases over concurrent appends adopt the
      append's ``extra``, so the ledger survives races.
    * A ``CommitConflict`` (non-commuting concurrent writer) re-runs the
      merge on the new base — safe because the merge itself is
      idempotent per batch id and nothing was committed.

    ``strategy`` forwards to ``merge_into`` — ``"auto"`` gives CDC
    micro-batches the merge-on-read plan (matched rows become deletion-
    vector positions, updates + inserts land as one small segment per
    trigger: cost O(batch), never O(matched files)) with automatic
    copy-on-write fallback; pair with the maintenance daemon's
    ``dv_rows_max`` purge so vectors never accrue unboundedly.

    First batch bootstraps the table (delete rows dropped)."""
    from ..sources.versioned import CommitConflict, merge_into

    def sink(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):
            return  # empty trigger: no new version
        spark = batch.sparkSession
        src = batch
        if order_by:
            from pyspark.sql import Window, functions as F

            w = Window.partitionBy(*keys).orderBy(
                *[F.col(c).desc() for c in order_by]
            )
            src = (
                src.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        prev = latest_version(table)
        if prev is None:
            data = src
            if delete_when is not None:
                data = data.filter(~_null_false(delete_when))
            if source_meta_cols:
                data = data.drop(*source_meta_cols)
            write_snapshot(
                data,
                table,
                extra={"batch_id": batch_id},
                stats_cols=stats_cols,
                bloom_cols=bloom_cols,
            )
            return
        if manifest_info(table).get("extra", {}).get("batch_id") == batch_id:
            return  # replayed delivery: already committed
        for attempt in range(max_conflict_retries):
            try:
                merge_into(
                    spark,
                    table,
                    src,
                    keys,
                    delete_when=delete_when,
                    source_meta_cols=source_meta_cols,
                    extra={"batch_id": batch_id},
                    strategy=strategy,
                )
                return
            except CommitConflict:
                if attempt == max_conflict_retries - 1:
                    raise
                # a non-commuting writer landed mid-merge: if it was OUR
                # replay (crash-restart race) the ledger now shows this
                # batch; otherwise re-run on the new base
                if (
                    manifest_info(table).get("extra", {}).get("batch_id")
                    == batch_id
                ):
                    return

    return sink


def _null_false(col):
    """NULL-safe predicate: NULL → False (a row with an unset op flag is
    data, not a delete)."""
    from pyspark.sql import functions as F

    return F.coalesce(col.cast("boolean"), F.lit(False))


def run_versioned_merge_stream(
    stream: DataFrame,
    table: str,
    keys: list[str],
    checkpoint: str,
    **sink_kwargs,
) -> None:
    """Drive a (bounded) CDC stream to completion, one MERGE commit per
    micro-batch."""
    q = (
        stream.writeStream.foreachBatch(
            make_versioned_merge_sink(table, keys, **sink_kwargs)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
