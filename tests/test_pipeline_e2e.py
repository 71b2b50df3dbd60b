"""End-to-end pipeline test: HTML+JSON fixtures → warehouse → analytics →
outbox → drain → render (SURVEY.md §3, all three entry points)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.pipeline import ReplayWarehouse, render_embeds, render_message


def _page(replay: int, active: int = 120, slots: int = 150) -> str:
    return (
        f"<title>Реплей от 05.10.2024 / WOG Stats</title>"
        f'<a href="/missions/42/">Mission {replay}</a>'
        f"<th>Остров</th><td>Altis</td>"
        f'EAST</span></th><td><div class="position-relative" data-toggle="current">'
        f'<a href="/projects/wog-a3/players/7/">Cmdr{replay}</a>'
        f'<th>Сторона-победитель</th><td><span style="color: #a00">EAST</span></td>'
        f"<th>Количество игроков / слотов</th><td>{active} / {slots}</td>"
        f"<th>Дата и время старта миссии</th><td>сб, 19:05:00</td>"
        f"<th>Дата и время окончания миссии</th><td>сб, 21:30:00</td>"
        f"<th>Длительность миссии</th><td>2:25:00</td>"
    )


def _doc(replay: int) -> str:
    # players 501-504; 502 dies in this replay, 501 dies only in replay+1
    return json.dumps(
        {
            "factions": {"1": [0, 0, 2], "2": [0, 0, 2], "3": [0, 0, 0], "4": [0, 0, 0]},
            "vehiclesUnits": {
                "101": ["tank", "T-72B3"],
                "102": ["tank", "T-72B3"],
                "103": ["heli", "Mi-8MT"],
            },
            "players": {
                "501": [1, "Alpha", "Rifleman", "A"],
                "502": [2, "Bravo", "Medic", "B"],
                "503": [1, "Charlie", "AT", "A"],
                "504": [2, "Delta", "MG", "B"],
            },
            "playersDead": {
                "3600": {"502": [None, 501, "T-72B3", None, 840, 0]},
                "3700": {"504": [None, 501, None, "AKM", 120, 0]},
            },
        }
    )


@pytest.fixture()
def warehouse(spark, tmp_path):
    return ReplayWarehouse(spark, str(tmp_path / "wh"))


def test_full_pipeline(spark, warehouse):
    html = spark.createDataFrame(
        [(3405, _page(3405))], "replay_number long, html string"
    )
    body = spark.createDataFrame([(3405, _doc(3405))], "replay_number long, body string")

    # load
    assert warehouse.load_replay(html, body) == 1
    assert warehouse.table("replay_main").count() == 1
    assert warehouse.table("players").count() == 4
    assert warehouse.table("frags").count() == 2
    assert warehouse.table("d_players").count() == 4

    # idempotent re-load (T7): second run loads nothing, tables unchanged
    assert warehouse.load_replay(html, body) == 0
    assert warehouse.table("frags").count() == 2

    # HTML-sourced counts and JSON-sourced counts coexist (§4.3.5)
    main = warehouse.table("replay_main").collect()[0]
    assert main.count_players_active == 120 and main.count_players_east == 2

    # analytics
    a = warehouse.analytics(3405)
    cutlets = a["cutlets"].collect()
    assert cutlets[0].nickname == "Alpha" and cutlets[0].kills == 2
    survivors = {r.nickname for r in a["survivors"].collect()}
    assert survivors == {"Alpha", "Charlie"}  # Bravo and Delta died

    # outbox + drain + render
    warehouse.data_message(3405)
    sent: list = []
    warehouse.drain_messages(send=lambda rows: sent.extend(rows))
    assert len(sent) == 1
    doc = json.loads(sent[0]["text_data"])
    text = render_message(doc)
    assert "Mission 3405" in text and "Alpha — 2" in text

    # embed-level parity (bot/botrun.py:187-231): 4 titled embeds + the
    # link footer, side filtering, kill sentences, [:-3] time trims
    embeds = render_embeds(doc)
    assert len(embeds) == 5
    stats, personal, frags_e, vehicles_e, footer = embeds
    assert stats["title"].endswith("Общая статистика:")
    names = [f["name"] for f in stats["fields"]]
    assert names == [
        "Информация", "Стороны и командиры", "Всего игроков",
        "Время", "Итоги", "До конца миссии дожили",
    ]
    sides_val = stats["fields"][1]["value"]
    assert "**EAST:**" in sides_val and "**WEST:**" in sides_val
    assert "CIV" not in sides_val  # zero-count sides are filtered out
    assert "Начало 19:05," in stats["fields"][3]["value"]  # [:-3] trim
    assert "Alpha **2**" in personal["fields"][0]["value"]
    assert all(
        f["value"].startswith("Произошел в ") for f in frags_e["fields"]
    )
    assert "Жертвой стал **" in frags_e["fields"][0]["value"]
    assert vehicles_e["title"].endswith("Доступная техника:")
    assert footer["description"].endswith("/games/3405//")

    # drained outbox is fully posted
    assert warehouse.table("messages").filter(~F.coalesce("posted", F.lit(False))).count() == 0


def test_dim_upsert_renames_across_replays(spark, warehouse):
    html1 = spark.createDataFrame([(1, _page(1))], "replay_number long, html string")
    body1 = spark.createDataFrame([(1, _doc(1))], "replay_number long, body string")
    warehouse.load_replay(html1, body1)

    renamed = json.loads(_doc(2))
    renamed["players"]["501"][1] = "AlphaRenamed"  # nickname change → DO UPDATE
    html2 = spark.createDataFrame([(2, _page(2))], "replay_number long, html string")
    body2 = spark.createDataFrame(
        [(2, json.dumps(renamed))], "replay_number long, body string"
    )
    warehouse.load_replay(html2, body2)

    d = {r.id_from_json: r.nickname for r in warehouse.table("d_players").collect()}
    assert d[501] == "AlphaRenamed"  # EXCLUDED.nickname wins (functions.py:182)
    assert len(d) == 4  # still one row per player (upsert, not append)


def test_dim_upsert_newest_replay_wins_within_one_batch(spark, warehouse):
    """One batch loads replays 1 and 2, and replay 2 renames player 501:
    the reference loads them in order, so replay 2's ``ON CONFLICT DO
    UPDATE`` wins (functions.py:178-183)."""
    renamed = json.loads(_doc(2))
    renamed["players"]["501"][1] = "AlphaRenamed"
    html = spark.createDataFrame(
        [(1, _page(1)), (2, _page(2))], "replay_number long, html string"
    )
    body = spark.createDataFrame(
        [(1, _doc(1)), (2, json.dumps(renamed))], "replay_number long, body string"
    )
    assert warehouse.load_replay(html, body) == 2

    d = {r.id_from_json: r.nickname for r in warehouse.table("d_players").collect()}
    assert d == {501: "AlphaRenamed", 502: "Bravo", 503: "Charlie", 504: "Delta"}
    assert warehouse.table("players").count() == 8


def test_drain_publish_crash_keeps_outbox(spark, warehouse, monkeypatch):
    """A crash at the drain's publish rename must not lose the outbox: the
    next tick recovers the pre-drain table and sends its rows again
    (at-least-once)."""
    import os

    from wrtd_etl_spark.operators import upsert as up

    html = spark.createDataFrame([(1, _page(1))], "replay_number long, html string")
    body = spark.createDataFrame([(1, _doc(1))], "replay_number long, body string")
    warehouse.load_replay(html, body)
    warehouse.data_message(1)

    outbox = os.path.join(warehouse.root, "messages")
    real_rename = os.rename

    def crashing_rename(src, dst):
        if dst == outbox:  # the publish of the flipped outbox
            raise OSError("injected crash at publish")
        real_rename(src, dst)

    monkeypatch.setattr(up.os, "rename", crashing_rename)
    sent: list = []
    with pytest.raises(OSError, match="injected crash"):
        warehouse.drain_messages(send=sent.extend)
    monkeypatch.setattr(up.os, "rename", real_rename)
    assert len(sent) == 1

    resent: list = []
    warehouse.drain_messages(send=resent.extend)
    assert [r["replay_number"] for r in resent] == [1]
    assert resent[0]["text_data"] == sent[0]["text_data"]
    got = [(r.replay_number, r.posted) for r in warehouse.table("messages").collect()]
    assert got == [(1, True)]


def test_cross_replay_survivor_quirk(spark, warehouse):
    """A player who survives replay 2 but died in replay 1 is NOT a
    survivor under the literal semantics (§4.3.1)."""
    html1 = spark.createDataFrame([(1, _page(1))], "replay_number long, html string")
    body1 = spark.createDataFrame([(1, _doc(1))], "replay_number long, body string")
    warehouse.load_replay(html1, body1)

    peaceful = json.loads(_doc(2))
    peaceful["playersDead"] = {"3600": {"503": [None, 504, None, "AKM", 10, 0]}}
    html2 = spark.createDataFrame([(2, _page(2))], "replay_number long, html string")
    body2 = spark.createDataFrame(
        [(2, json.dumps(peaceful))], "replay_number long, body string"
    )
    warehouse.load_replay(html2, body2)

    frags, dp = warehouse.table("frags"), warehouse.table("d_players")
    players = warehouse.table("players")
    from wrtd_etl_spark.plans.replay_core import q_survivors

    literal = {r.nickname for r in q_survivors(players, dp, frags, 2).collect()}
    fixed = {
        r.nickname
        for r in q_survivors(players, dp, frags, 2, cross_replay=False).collect()
    }
    # Bravo/Delta died in replay 1 only — excluded literally, kept by the fix
    assert literal == {"Alpha"}
    assert fixed == {"Alpha", "Bravo", "Delta"}
