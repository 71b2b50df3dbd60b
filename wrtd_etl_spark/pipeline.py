"""End-to-end replay pipeline (SURVEY.md §3 — all three entry points).

The reference's flow (main.py:259-268 and the 3-DAG chain):

    detect new replay → idempotency check → parse HTML+JSON → load 5
    tables (replay_main, vehicles, d_players upsert, players, frags) →
    compute 8 analytics queries → materialize one JSON document into the
    ``messages`` outbox → a consumer drains it and renders the message.

Here each step is a handful of Spark jobs over a parquet warehouse
directory: the data is tiny, so the per-job scheduling floor, not data
volume, sets the cost. One replay (120 players, 150 frags, 40 vehicles)
into a warehouse with history takes 12 jobs to load, 38 to materialize
its message and 2 to drain (``perfbench`` ``replay_etl --trace 1``; 30, 43
and 4 before the design below). Three rules keep it there:

* the fresh batch is staged once: its keys are collected once, the pages
  joined with their parsed JSON are persisted, and every write reads the
  staged rows instead of re-running the parse and the idempotency
  anti-join;
* actions that do not depend on each other run concurrently: the four
  writes after ``replay_main``, and the ten collects of ``data_message``;
* tables are read with their declared schema, so no read pays a footer
  schema-inference job.

Connection-per-statement boundaries (functions.py:56-70) become stage
boundaries; the Airflow Variable cursor becomes streaming.cursor; DAG
branching becomes empty-DataFrame short-circuits.

Scale notes: facts are written partitioned by a replay-number bucket
(sinks.append_partitioned) so the per-replay analytics prune partitions;
the dimension upsert never shuffles the fact tables; row ids are numbered
inside each document's row (sources.json_ingest), without an Exchange.
"""

from __future__ import annotations

import contextlib
import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import sinks
from .operators.upsert import recover_swap, upsert_parquet, write_swapped
from .plans import replay_core as core
from .schemas import D_PLAYERS, FRAGS, MESSAGES, PLAYERS, REPLAY_MAIN, VEHICLES
from .sources.html_page import parse_replay_page
from .sources.json_ingest import (
    faction_counts,
    flatten_frags,
    flatten_players,
    flatten_vehicles,
    parse_replay_json,
)
from .streaming.cursor import dedup_against_processed
from .streaming.outbox import drain_outbox

_SCHEMAS = {
    "replay_main": REPLAY_MAIN,
    "vehicles": VEHICLES,
    "players": PLAYERS,
    "d_players": D_PLAYERS,
    "frags": FRAGS,
    "messages": MESSAGES,
}


@contextlib.contextmanager
def _staged(df: DataFrame):
    """``df`` persisted for the block, unpersisted when it ends."""
    df = df.persist()
    try:
        yield df
    finally:
        df.unpersist()


def _concurrently(spark: SparkSession, *actions) -> list:
    """Run the zero-argument ``actions`` on one thread each; their results
    in order. Each thread inherits the caller's job group, description and
    tags; every action runs to its end before the first error is raised."""
    with ThreadPoolExecutor(len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
        return [f.result() for f in futures]


class ReplayWarehouse:
    """Parquet-backed warehouse with the reference's six-table schema."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def table(self, name: str) -> DataFrame:
        """The table with its declared schema (no footer-inference job);
        the fact tables' bucket column is not part of it."""
        path, schema = self._path(name), _SCHEMAS[name]
        if not os.path.exists(path):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(path).select(schema.fieldNames())

    # --- load (K1-K3, T7) ---------------------------------------------------

    def existing_replays(self) -> DataFrame:
        return self.table("replay_main").select("replay_number")

    def load_replay(self, html_df: DataFrame, json_df: DataFrame) -> int:
        """Parse + load one batch of replays; idempotent per replay key.

        Already-loaded replays are skipped (is_exists, functions.py:79-86)
        via an anti-join instead of the reference's full-scan Python loop;
        its keys are collected once. The fresh pages joined with their
        parsed JSON are staged (persisted) once, in one partition, and
        every write reads the staged rows; they are unpersisted before
        returning. A batch is one poll's few replays, and one partition
        lets the ``d_players`` aggregate (newest nickname wins) run
        without an Exchange.

        Write order: ``replay_main`` first, as the reference
        (load_data_to_db, main.py:116-173) — it is the idempotency marker.
        Then the ``vehicles``, ``players`` and ``frags`` appends and the
        ``d_players`` upsert run concurrently. If one of those fails, the
        others may have landed and ``replay_main`` already holds the
        replay, so a re-delivery skips it: the same partial state the
        reference's statement-per-connection load leaves.
        """
        with _staged(parse_replay_page(html_df, "html", "replay_number")) as page:
            fresh = dedup_against_processed(
                page, self.existing_replays(), "replay_number"
            )
            keys = [r.replay_number for r in fresh.select("replay_number").collect()]
            if not keys:
                return 0
            is_fresh = F.col("replay_number").isin(keys)
            parsed = parse_replay_json(json_df, "body", "replay_number").filter(is_fresh)
            fresh_batch = (
                page.filter(is_fresh)
                .join(F.broadcast(parsed), "replay_number", "left")
                .coalesce(1)
            )
            with _staged(fresh_batch) as batch:
                self._write_batch(batch)
        return len(keys)

    def _write_batch(self, batch: DataFrame) -> None:
        """Write one staged batch in :meth:`load_replay`'s order."""
        # count_players_* come from the JSON factions, active/slots from the
        # HTML — two sources that can disagree, preserved (§4.3.5)
        main = batch.select(
            "*",
            *faction_counts(),
            F.concat(
                F.lit("https://stats.wogames.info/games/"),
                F.col("replay_number").cast("string"),
                F.lit("/"),
            ).alias("replay_url"),
        ).select(REPLAY_MAIN.fieldNames())
        sinks.append(main, self._path("replay_main"))
        players, dim_updates = flatten_players(batch)
        _concurrently(
            self.spark,
            lambda: sinks.append_partitioned(
                flatten_vehicles(batch), self._path("vehicles"), "replay_number"
            ),
            lambda: upsert_parquet(
                self.spark, self._path("d_players"), dim_updates, "id_from_json"
            ),
            lambda: sinks.append_partitioned(
                players, self._path("players"), "replay_number"
            ),
            lambda: sinks.append_partitioned(
                flatten_frags(batch), self._path("frags"), "replay_number"
            ),
        )

    # --- analytics + outbox (the data_message step) --------------------------

    def analytics(self, replay_number: int) -> dict[str, DataFrame]:
        """The eight queries over the warehouse (functions.py:243-264)."""
        return {name: build() for name, build in self._analytics(replay_number).items()}

    def _analytics(self, replay_number: int) -> dict[str, Callable[[], DataFrame]]:
        """:meth:`analytics` as builders, so that each frame can be
        planned on the thread that collects it."""
        frags, dp = self.table("frags"), self.table("d_players")
        players, vehicles = self.table("players"), self.table("vehicles")
        n = replay_number
        return {
            "vehicles": lambda: core.q_vehicles(vehicles, n),
            "grouped_vehicles": lambda: core.q_vehicles_grouped(vehicles, n),
            "cutlets": lambda: core.q_cutlets(frags, dp, n, is_tk=False),
            "tks": lambda: core.q_cutlets(frags, dp, n, is_tk=True),
            "fb": lambda: core.q_frag_detail(frags, dp, n, [F.col("time").asc()]),
            "lh": lambda: core.q_frag_detail(frags, dp, n, [F.col("time").desc()]),
            "ls": lambda: core.q_frag_detail(
                frags, dp, n, [F.col("distance").desc_nulls_last()]
            ),
            "survivors": lambda: core.q_survivors(players, dp, frags, n),
            "survivors_group": lambda: core.q_survivors_group(players, dp, frags, n),
        }

    def data_message(self, replay_number: int) -> None:
        """Materialize the analytics as one JSON outbox row (K4;
        functions.py:234-274: ROW_TO_JSON of the replay row + the eight
        result lists, json.dumps'd into messages.text_data). The replay row
        and the nine result frames are planned and collected concurrently."""
        main_row = self.table("replay_main").filter(
            F.col("replay_number") == replay_number
        )
        builders = {
            "replay": lambda: main_row.select(F.to_json(F.struct("*"))),
            **self._analytics(replay_number),
        }
        collects = [lambda b=b: b().collect() for b in builders.values()]
        got = dict(zip(builders, _concurrently(self.spark, *collects)))
        doc = {"replay": got.pop("replay")[0][0]}
        for name, rows in got.items():
            doc[name] = [r.asDict(recursive=True) for r in rows]
        values = (replay_number, None, json.dumps(doc, ensure_ascii=False), None)
        outbox_row = self.spark.range(1).select(
            [F.lit(v).cast(f.dataType).alias(f.name) for v, f in zip(values, MESSAGES.fields)]
        )
        upsert_parquet(
            self.spark, self._path("messages"), outbox_row, "replay_number"
        )

    # --- consumer (entry point C) --------------------------------------------

    def drain_messages(self, send=None) -> None:
        """One bot tick: send unposted, flip flags (bot/botrun.py:295-309).
        The flipped outbox is published by a swap that a crash cannot lose
        (:func:`~.operators.upsert.recover_swap` repairs it on entry)."""
        path = self._path("messages")
        recover_swap(path)
        drained = drain_outbox(self.table("messages"), "replay_number", send=send)
        write_swapped(drained, path)


_SIDE_SQUARES = {
    "EAST": ":red_square: ",
    "WEST": ":blue_square: ",
    "GUER": ":green_square: ",
    "CIV": ":purple_square: ",
}


def _square(winner: str | None) -> str:
    """bot/botrun.py:173-184 — side-colored emoji prefix ('' if unknown)."""
    return _SIDE_SQUARES.get(winner, "")


def _kill_sentence(rows: list[dict]) -> str:
    """bot/botrun.py:112-129 (``sk``): one frag as a human sentence —
    victim, killer (if known), distance, weapon precedence gun > vehicle >
    unknown, optional teamkill suffix."""
    k = rows[0]
    # no leading space / period: the format below adds both uniformly
    weapon = "Орудие убийства неизвестно"
    if k.get("killer_vehicle"):
        weapon = f"Орудие убийства - {k['killer_vehicle']}"
    if k.get("gun"):
        weapon = f"Орудие убийства - {k['gun']}"
    tk = " Кажется, это был тимкилл." if k.get("is_tk") else ""
    if k.get("killer_nickname"):
        return (
            f"Жертвой стал **{k['victim_nickname']}**, погибший от выстрела "
            f"**{k['killer_nickname']}** с расстояния {k['distance']} м. "
            f"{weapon}.{tk}"
        )
    return f"Жертвой стал **{k['victim_nickname']}**. Убийца неизвестен."


def _tks_or_not(tks: list[dict]) -> str:
    """bot/botrun.py:105-109 — teamkiller list or the no-teamkills line."""
    if not tks:
        return "Удивительно, но тимкиллов не зафиксировано."
    return "\n".join(f"{r['nickname']} **{r['kills']}**" for r in tks)


def render_embeds(doc: dict) -> list[dict]:
    """The 4+1 Discord embeds as plain dicts (K6 presentation;
    bot/botrun.py:187-231): same titles, colors, field layout, zero-count
    side filtering, ``[:-3]`` time trims and kill sentences. discord.py is
    deliberately absent — a sender maps each dict 1:1 onto
    ``discord.Embed``/``add_field`` (keys: title/color/fields[name, value,
    inline] or description).
    """
    m = json.loads(doc["replay"]) if isinstance(doc["replay"], str) else doc["replay"]

    sides = []
    for side in ("east", "west", "guer", "civ"):
        if (m.get(f"count_players_{side}") or 0) > 0:
            sides.append(
                f"{_SIDE_SQUARES[side.upper()]}**{side.upper()}:** "
                f"{m[f'count_players_{side}']}, {m.get(f'commander_{side}')}"
            )
    survivors = "\n".join(
        f"**{r['side_label']}:** {r['cnt']}" for r in doc.get("survivors_group", [])
    )
    embeds = [
        {
            "title": ":chart_with_downwards_trend: Общая статистика:",
            "color": 2326507,
            "fields": [
                {
                    "name": "Информация",
                    "value": f"**Дата:** {m.get('date')}\n"
                    f"**Миссия:** {m.get('name_mission')}\n"
                    f"**Остров:** {m.get('island')}",
                    "inline": True,
                },
                {"name": "Стороны и командиры", "value": "\n".join(sides), "inline": True},
                {
                    "name": "Всего игроков",
                    "value": f"{m.get('count_players_active')}/{m.get('count_players_slots')}",
                    "inline": True,
                },
                {
                    "name": "Время",
                    "value": f"Начало {str(m.get('start_time'))[:-3]},\n"
                    f"конец {str(m.get('end_time'))[:-3]},\n"
                    f"длительность {m.get('duration')}",
                    "inline": True,
                },
                {
                    "name": "Итоги",
                    "value": f"Победитель:\n{_square(m.get('winner'))} **{m.get('winner')}**",
                    "inline": True,
                },
                {"name": "До конца миссии дожили", "value": survivors, "inline": True},
            ],
        },
        {
            "title": ":pencil: Личная статистика:",
            "color": 2326507,
            "fields": [
                {
                    "name": "Лучшие кибератлеты",
                    "value": "\n".join(
                        f"{r['nickname']} **{r['kills']}**"
                        for r in doc.get("cutlets", [])
                    ),
                    "inline": True,
                },
                {
                    "name": "Лучшие тимкиллеры",
                    "value": _tks_or_not(doc.get("tks", [])),
                    "inline": True,
                },
            ],
        },
        {
            "title": ":gun: Выдающиеся фраги:",
            "color": 2326507,
            "fields": [
                {
                    "name": name,
                    "value": f"Произошел в {rows[0]['time']}. {_kill_sentence(rows)}",
                    "inline": True,
                }
                for name, rows in (
                    ("Первый фраг", doc.get("fb")),
                    ("Последний фраг", doc.get("lh")),
                    ("Самый дальний фраг", doc.get("ls")),
                )
                if rows
            ],
        },
        {
            "title": ":truck: Доступная техника:",
            "color": 2326507,
            "fields": [
                {
                    "name": r["display_type"],
                    "value": "\n".join(
                        f"{item.rsplit(':', 1)[1]}x{item.rsplit(':', 1)[0]}"
                        for item in r["items"].split(",")
                        if item
                    ),
                    "inline": True,
                }
                for r in doc.get("grouped_vehicles", [])
            ],
        },
        {
            "description": "С полным реплеем и статистикой миссии можно "
            f"ознакомиться по ссылке: {m.get('replay_url')}/",
            "color": 0x0099FF,
        },
    ]
    return embeds


def render_message(doc: dict) -> str:
    """Presentation layer (F14): the Discord message text from the outbox
    JSON document (bot/botrun.py:131-170). Driver-side string formatting of
    an already-collected small dict — not a query concern."""
    replay = json.loads(doc["replay"]) if isinstance(doc["replay"], str) else doc["replay"]
    lines = [
        f"Реплей {replay.get('replay_number')} — {replay.get('name_mission')}",
        f"Остров: {replay.get('island')} | Победитель: {replay.get('winner')}",
        f"Старт: {str(replay.get('start_time'))[:5]} | Длительность: {replay.get('duration')}",
        "",
        "Котлеты:",
    ]
    for row in doc.get("cutlets", []):
        lines.append(f"  {row['rank']}. {row['nickname']} — {row['kills']}")
    lines.append("Выжившие:")
    for row in doc.get("survivors_group", []):
        lines.append(f"  {row['side_label']}: {row['cnt']}")
    return "\n".join(lines)
