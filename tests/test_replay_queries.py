"""Parity tests: the reference's eight queries vs DuckDB (Postgres
stand-in), plus the ingest layer over FIXTURES.md §B documents."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from wrtd_etl_spark.plans import REGISTRY
from wrtd_etl_spark.plans import replay_queries  # noqa: F401 (registers)

from .conftest import SF_SMOKE, compare_to_oracle

_EIGHT = [
    "fs_vehicles",
    "fs_vehicles_grouped",
    "fs_cutlets",
    "fs_tks",
    "fs_fb",
    "fs_lh",
    "fs_ls",
    "fs_survivors",
    "fs_survivors_fixed",
    "fs_survivors_group",
]


@pytest.mark.parametrize("name", _EIGHT)
def test_replay_query_matches_oracle(spark, name):
    compare_to_oracle(spark, REGISTRY[name], SF_SMOKE)


def test_survivors_quirk_is_cross_replay(spark):
    """The literal query must return FEWER-or-equal survivors than the
    per-replay fix (victims from other replays disqualify)."""
    literal = REGISTRY["fs_survivors"].fn(spark, SF_SMOKE).count()
    fixed = REGISTRY["fs_survivors_fixed"].fn(spark, SF_SMOKE).count()
    assert literal <= fixed


# --- ingest layer (FIXTURES.md §B document) --------------------------------

_DOC = {
    "factions": {"1": [0, 0, 57], "2": [0, 0, 61], "3": [0, 0, 0], "4": [0, 0, 0]},
    "vehiclesUnits": {"101": ["tank", "T-72B3"], "102": ["heli", "Mi-8MT"]},
    "players": {
        "501": [1, "PlayerOne", "Rifleman", "Alpha"],
        "502": [2, 'O\'Neil "Ace"', "Medic", "Bravo"],
    },
    "playersDead": {
        "3600": {"502": [None, 501, "T-72B3", None, 840, 0]},
        "7230": {"501": [None, None, None, "AKM", 120, 1]},
    },
}


@pytest.fixture()
def parsed(spark):
    from wrtd_etl_spark.sources.json_ingest import parse_replay_json

    raw = spark.createDataFrame(
        [(3405, json.dumps(_DOC))], "replay_number long, body string"
    )
    return parse_replay_json(raw, "body", "replay_number")


def test_flatten_vehicles(parsed):
    from wrtd_etl_spark.sources.json_ingest import flatten_vehicles

    rows = {r.name: r for r in flatten_vehicles(parsed).collect()}
    assert rows["T-72B3"].type == "tank"
    assert rows["Mi-8MT"].type == "heli"
    assert all(r.replay_number == 3405 for r in rows.values())


def test_flatten_players_and_dim(parsed):
    from wrtd_etl_spark.sources.json_ingest import flatten_players

    players, dim = flatten_players(parsed)
    p = {r.id_from_json: r for r in players.collect()}
    assert p[501].side == 1 and p[501].slot == "Rifleman"
    assert p[502].side == 2
    d = {r.id_from_json: r.nickname for r in dim.collect()}
    assert d[502] == 'O\'Neil "Ace"'  # quotes preserved (divergence §4.2)


def test_flatten_frags_positional_mapping(parsed):
    from wrtd_etl_spark.sources.json_ingest import flatten_frags

    frags = {r.victim: r for r in flatten_frags(parsed).collect()}
    f1 = frags[502]  # epoch 3600 → 01:00:00 UTC
    assert f1.time == "01:00:00"
    assert f1.killer == 501 and f1.killer_vehicle == "T-72B3"
    assert f1.distance == 840 and f1.is_tk is False and f1.gun is None
    f2 = frags[501]  # epoch 7230 → 02:00:30, unknown killer, teamkill flag
    assert f2.time == "02:00:30"
    assert f2.killer is None and f2.gun == "AKM" and f2.is_tk is True


def test_flatten_ids_follow_numeric_key_order(spark):
    """Ids number each section in numeric key order (frags: epoch, then
    victim), not in the order the map keys arrive: "10" before "9", and
    one epoch with several victims."""
    from wrtd_etl_spark.sources.json_ingest import (
        flatten_frags,
        flatten_players,
        flatten_vehicles,
        parse_replay_json,
    )

    dead = [None, "1", None, "AKM", "5", "0"]
    doc = {
        "vehiclesUnits": {"10": ["car", "UAZ"], "9": ["tank", "T-72B3"], "100": ["sea", "RHIB"]},
        "players": {"10": [1, "Ten", "MG", "A"], "2": [2, "Two", "AT", "B"], "9": [1, "Nine", "AT", "A"]},
        "playersDead": {
            "7200": {"9": dead},
            "3600": {"10": dead, "2": dead, "9": dead},
            "600": {"10": dead},
        },
    }
    raw = spark.createDataFrame(
        [(7, json.dumps(doc)), (8, json.dumps(doc))], "replay_number long, body string"
    )
    parsed = parse_replay_json(raw, "body", "replay_number")

    def ids(df, *cols):
        return sorted((r.replay_number, *(r[c] for c in cols), r.id) for r in df.collect())

    def numbered(keys):
        return sorted(
            (rn, *k, rn * 1_000_000 + i)
            for rn in (7, 8)
            for i, k in enumerate(sorted(keys), start=1)
        )

    assert ids(flatten_vehicles(parsed), "name") == sorted(
        (rn, name, i)
        for rn, vid, i in numbered([(int(v),) for v in doc["vehiclesUnits"]])
        for name in [doc["vehiclesUnits"][str(vid)][1]]
    )
    assert ids(flatten_players(parsed)[0], "id_from_json") == numbered(
        [(int(p),) for p in doc["players"]]
    )
    assert ids(flatten_frags(parsed), "victim") == sorted(
        (rn, v, i)
        for rn, e, v, i in numbered(
            [(int(e), int(v)) for e, vs in doc["playersDead"].items() for v in vs]
        )
    )


def test_faction_counts(parsed):
    from wrtd_etl_spark.sources.json_ingest import faction_counts

    c = parsed.select(*faction_counts()).collect()[0].asDict()
    assert c == {
        "count_players_east": 57,
        "count_players_west": 61,
        "count_players_guer": 0,
        "count_players_civ": 0,
    }


# --- HTML extraction (S1/S3) -----------------------------------------------

_PAGE = (
    "<title>Реплей от 05.10.2024 / WOG Stats</title>"
    '<a href="/missions/42/">Operation Test</a>'
    "<th>Остров</th><td>Altis &amp; Stratis</td>"
    'EAST</span></th><td><div class="position-relative" data-toggle="current">'
    '<a href="/projects/wog-a3/players/7/">CmdrEast</a>'
    '<th>Сторона-победитель</th><td><span style="color: #a00">EAST</span></td>'
    "<th>Количество игроков / слотов</th><td>120 / 150</td>"
    "<th>Дата и время старта миссии</th><td>сб, 19:05:00</td>"
    "<th>Дата и время окончания миссии</th><td>сб, 21:30:00</td>"
    "<th>Длительность миссии</th><td>2:25:00</td>"
)


def test_parse_replay_page(spark):
    from wrtd_etl_spark.sources.html_page import parse_replay_page

    raw = spark.createDataFrame(
        [(3405, "\t" + _PAGE.replace("</td>", "</td>\n"))],
        "replay_number long, html string",
    )
    row = parse_replay_page(raw, "html", "replay_number").collect()[0]
    assert str(row.date) == "2024-10-05"
    assert row.name_mission == "Operation Test"
    assert row.island == "Altis & Stratis"  # entity unescaped
    assert row.commander_east == "CmdrEast"
    assert row.commander_west == "None"  # absent side backfilled
    assert row.winner == "EAST"
    assert row.count_players_active == 120 and row.count_players_slots == 150
    assert row.start_time == "19:05:00" and row.end_time == "21:30:00"
    assert row.duration == "2:25:00"


def test_parse_listing_and_admission(spark):
    from wrtd_etl_spark.sources.html_page import admitted_replays, parse_listing

    listing = (
        '<a href="/games/3405/">x</a> stuff 120 / 150'
        '<a href="/games/3406/">y</a> stuff 85 / 150'
        '<a href="/games/3407/">z</a> stuff 101 / 150'
    )
    raw = spark.createDataFrame([(listing,)], "html string")
    pairs = parse_listing(raw, "html")
    got = {(r.replay_id, r.players) for r in pairs.collect()}
    assert got == {(3405, 120), (3406, 85), (3407, 101)}
    admitted = {r.replay_id for r in admitted_replays(pairs).collect()}
    assert admitted == {3405, 3407}


def test_rank_tie_determinism(spark):
    """§4.3.2: six killers tied at rank 1 — the reference's LIMIT 5 cuts
    arbitrarily; our tiebreaker must return the 5 lowest killer ids,
    stably across runs."""
    from wrtd_etl_spark.plans.replay_core import q_cutlets

    frags = spark.createDataFrame(
        [
            (i * 10 + j, 1, f"00:0{j}:00", 99, None, k, None, None, None, False)
            for j, k in enumerate([11, 12, 13, 14, 15, 16])
            for i in range(3)  # every killer has exactly 3 kills → all tie
        ],
        "id long, replay_number long, time string, victim long, "
        "victim_vehicle string, killer long, killer_vehicle string, "
        "gun string, distance long, is_tk boolean",
    )
    dp = spark.createDataFrame(
        [(k, f"nick{k}") for k in range(11, 17)], "id_from_json long, nickname string"
    )
    first = q_cutlets(frags, dp, 1, is_tk=False).collect()
    second = q_cutlets(frags, dp, 1, is_tk=False).collect()
    assert [r.killer for r in first] == [11, 12, 13, 14, 15]
    assert first == second
    assert all(r.rank == 1 for r in first)
