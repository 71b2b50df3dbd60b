"""Flatten the replay-data JSON document into the fact tables (S2).

Reference: functions.py:124-145 fetches the document and keeps 4 sections;
functions.py:163-205 loads them with positional tuple indexing:

* ``vehiclesUnits[id] = [type, name]``          (functions.py:165)
* ``players[id]      = [side, nickname, slot, squad]``  (functions.py:175)
* ``playersDead[epoch][victim] = [victim_vehicle, killer, killer_vehicle,
  gun, distance, tk_flag]``  — double loop (functions.py:196-205)
* ``factions[id][2]  = player count``           (functions.py:138-141)

Spark shape: ``from_json`` with the explicit nested MapType schema
(schemas.REPLAY_JSON), then one ``posexplode`` per section — the double
Python loop becomes a nested ``transform`` flattened to one array, the
positional mapping becomes array indexing, and the faction counts are
map lookups. The quote-stripping the reference applies as SQL-injection
armor (functions.py:166,176) is intentionally dropped: DataFrame values
are never string-interpolated (documented divergence, SURVEY §4.2).

Surrogate ``id`` columns (Postgres ``serial``) are deterministic:
``replay_number * 1_000_000 + position-within-replay``, numbering a
section's entries in numeric key order (frags: ``(epoch, victim)``). The
position is counted inside the row: the map's entries become an
``array_sort``-ed array of structs led by the numeric key(s), and
``posexplode`` emits each entry with its index. No window, so no
Exchange: every replay is numbered where its document already sits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schemas import REPLAY_JSON

#: factions key of the document → side suffix of ``count_players_<side>``
FACTION_SIDES = {"1": "east", "2": "west", "3": "guer", "4": "civ"}


def parse_replay_json(df: DataFrame, json_col: str, replay_col: str) -> DataFrame:
    """(replay_number, doc struct) from a raw JSON-string column."""
    return df.select(
        F.col(replay_col).alias("replay_number"),
        F.from_json(F.col(json_col), REPLAY_JSON).alias("doc"),
    )


def _keyed(section: str, key: str) -> Column:
    """Entries of the map ``section`` as ``(key long, arr)`` structs."""
    return F.transform(
        F.map_entries(section),
        lambda e: F.struct(e["key"].cast("long").alias(key), e["value"].alias("arr")),
    )


def _numbered(parsed: DataFrame, entries: Column) -> DataFrame:
    """One row per struct of ``entries`` in sorted order: ``id``,
    ``replay_number`` and the struct's fields."""
    return parsed.select(
        "replay_number", F.posexplode(F.array_sort(entries)).alias("pos", "e")
    ).select(
        (F.col("replay_number") * 1_000_000 + F.col("pos") + 1).cast("long").alias("id"),
        "replay_number",
        "e.*",
    )


def flatten_vehicles(parsed: DataFrame) -> DataFrame:
    """vehiclesUnits map → vehicles rows (functions.py:163-172)."""
    return _numbered(parsed, _keyed("doc.vehiclesUnits", "vid")).select(
        "id",
        "replay_number",
        F.col("arr").getItem(1).alias("name"),
        F.col("arr").getItem(0).alias("type"),
    )


def flatten_players(parsed: DataFrame) -> tuple[DataFrame, DataFrame]:
    """players map → (players fact rows, d_players dimension updates).

    Reference: functions.py:174-193 — the same section feeds the
    ``d_players`` upsert (id→nickname) and the per-replay ``players`` fact
    (id, side, slot). The reference loads replays one at a time, so its
    ``ON CONFLICT DO UPDATE`` leaves the newest replay's nickname; a batch
    of several replays keeps that nickname with ``max_by``."""
    rows = _numbered(parsed, _keyed("doc.players", "id_from_json"))
    players = rows.select(
        "id",
        "id_from_json",
        "replay_number",
        F.col("arr").getItem(0).cast("long").alias("side"),
        F.col("arr").getItem(2).alias("slot"),
    )
    dim_updates = rows.groupBy("id_from_json").agg(
        F.max_by(F.col("arr").getItem(1), "replay_number").alias("nickname")
    )
    return players, dim_updates


def flatten_frags(parsed: DataFrame) -> DataFrame:
    """playersDead double map → frags rows (functions.py:196-205).

    The two-level Python loop is a nested ``transform`` flattened to one
    array; the epoch-seconds key becomes the 'HH:mm:ss' time-of-day string
    exactly as the reference's ``to_timestamp(...)::time`` does (F2,
    functions.py:203); ``is_tk`` is the ``(flag = 1)`` comparison (F4)."""
    entries = F.flatten(
        F.transform(
            F.map_entries("doc.playersDead"),
            lambda d: F.transform(
                F.map_entries(d["value"]),
                lambda v: F.struct(
                    d["key"].cast("long").alias("epoch_s"),
                    v["key"].cast("long").alias("victim"),
                    v["value"].alias("arr"),
                ),
            ),
        )
    )
    return _numbered(parsed, entries).select(
        "id",
        "replay_number",
        F.date_format(F.timestamp_seconds(F.col("epoch_s")), "HH:mm:ss").alias(
            "time"
        ),
        "victim",
        F.col("arr").getItem(0).alias("victim_vehicle"),
        F.col("arr").getItem(1).cast("long").alias("killer"),
        F.col("arr").getItem(2).alias("killer_vehicle"),
        F.col("arr").getItem(3).alias("gun"),
        F.col("arr").getItem(4).cast("long").alias("distance"),
        (F.col("arr").getItem(5).cast("long") == 1).alias("is_tk"),
    )


def faction_counts() -> list[Column]:
    """factions map → ``count_players_<side>`` columns over ``doc``
    (functions.py:138-141): position 2 of each faction array, keyed 1..4 =
    EAST/WEST/GUER/CIV, 0 when the side is absent."""
    return [
        F.coalesce(F.col("doc.factions")[k].getItem(2).cast("long"), F.lit(0)).alias(
            f"count_players_{side}"
        )
        for k, side in FACTION_SIDES.items()
    ]
