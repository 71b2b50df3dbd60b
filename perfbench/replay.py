"""``replay_etl`` workload: seeded synthetic replays through the paper's
pipeline, ``ReplayWarehouse.load_replay -> data_message -> drain_messages
-> render_embeds``.

One op is one new replay, from its raw HTML page and JSON action log to
the rendered message; a run times ``--seconds / REPLAY_S`` of them, at
least one, each into the warehouse the ones before it grew. Each op's
input batch also re-delivers the replay loaded during set-up, which the
idempotency anti-join must skip. The warm-up op
(set-up) loads that earlier replay into the same warehouse, so the timed
replay meets a warehouse with history: renamed nicknames, and players who
died in the earlier replay and survive this one (the cross-replay
``NOT IN`` quirk).

Inputs follow FIXTURES.md part A: 120 players, 150 frags, 40 vehicles,
NULL killers and distances, seven killers tied at rank 1, ties at lower
ranks, a two-side replay, and nicknames with quotes and non-ASCII text.
The expected outbox document is computed here in pure Python.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import time
from dataclasses import dataclass, field

N_PLAYERS = 120
N_FRAGS = 150
N_VEHICLES = 40
POOL = 400  # distinct player identities a seed draws from

VEHICLE_TYPES = {
    "static-mortar": "Миномет",
    "static-weapon": "Стационарное",
    "apc": "БМП/БТР",
    "car": "Автомобиль",
    "tank": "Танк",
    "truck": "Грузовик",
    "parachute": "Парашют",
    "plane": "Авиация",
    "heli": "Вертолет",
    "sea": "Флот",
}
UNMAPPED_TYPE = "drone"  # passes through the display mapping unchanged
VEHICLE_NAMES = ["T-72B3", "BMP-2", "Mi-8MT", "UAZ", "Ural", "M2A1", "Ka-52", "RHIB"]
GUNS = ["AKM", "AK-74M", "PKM", "SVD", "RPG-7", "M4A1", "M249"]
SIDE_NAMES = {1: "EAST", 2: "WEST", 3: "GUER", 4: "CIV"}
SIDE_LABELS = {
    1: ":red_square: EAST",
    2: ":blue_square: WEST",
    3: ":green_square: GUER",
    4: ":purple_square: CIV",
}
_NICK_STYLES = ["{}", "O'{}", '{} "Ace"', "Вася_{}", "{}_Ёж", "[WOG] {}"]


@dataclass
class Replay:
    number: int
    date: dt.date
    mission: str
    island: str  # as shown after unescaping
    winner: str
    active: int
    slots: int
    sides: list[int]
    commanders: dict[int, str]
    players: dict[int, tuple[int, str, str]]  # id -> (side, nickname, slot)
    vehicles: dict[int, tuple[str, str]]  # vid -> (type, name)
    frags: list[dict] = field(default_factory=list)  # epoch-ordered

    @property
    def page(self) -> str:
        d = self.date.strftime("%d.%m.%Y")
        parts = [
            f"<html><head><title>Реплей #{self.number} от {d} / WOG Stats</title></head>",
            "<body>\t<table>\n",
            f'<tr><th>Миссия</th><td><a href="/missions/{self.number % 97}/">{self.mission}</a></td></tr>',
            f"<tr><th>Остров</th><td>{self.island.replace('&', '&amp;')}</td></tr>",
        ]
        for side in self.sides:
            parts.append(
                f'<tr><th><span>{SIDE_NAMES[side]}</span></th><td><div class="position-relative" '
                f'data-toggle="current"><a href="/projects/wog-a3/players/{side * 7}/">'
                f"{self.commanders[side]}</a></div></td></tr>"
            )
        parts += [
            f'<tr><th>Сторона-победитель</th><td><span style="color: #a00">{self.winner}</span></td></tr>',
            f"<tr><th>Количество игроков / слотов</th><td>{self.active} / {self.slots}</td></tr>",
            "<tr><th>Дата и время старта миссии</th><td>сб, 19:05:00</td></tr>",
            "<tr><th>Дата и время окончания миссии</th><td>сб, 21:30:00</td></tr>",
            "<tr><th>Длительность миссии</th><td>2:25:00</td></tr>",
            "</table></body></html>",
        ]
        return "".join(parts)

    @property
    def body(self) -> str:
        counts = {s: 0 for s in SIDE_NAMES}
        for side, _nick, _slot in self.players.values():
            counts[side] += 1
        dead: dict[str, dict] = {}
        for f in self.frags:
            dead.setdefault(str(f["epoch"]), {})[str(f["victim"])] = [
                f["victim_vehicle"],
                f["killer"],
                f["killer_vehicle"],
                f["gun"],
                f["distance"],
                1 if f["is_tk"] else 0,
            ]
        return json.dumps(
            {
                "factions": {str(s): [0, 0, c] for s, c in counts.items()},
                "vehiclesUnits": {str(v): [t, n] for v, (t, n) in self.vehicles.items()},
                "players": {
                    str(p): [side, nick, slot, "A"]
                    for p, (side, nick, slot) in self.players.items()
                },
                "playersDead": dead,
            },
            ensure_ascii=False,
        )


def _nick(rng: random.Random, pid: int) -> str:
    return rng.choice(_NICK_STYLES).format(f"P{pid}")


def make_replay(rng: random.Random, number: int, sides: list[int],
                ids: list[int], nicks: dict[int, str], immortal=()) -> Replay:
    """One replay over the player ids ``ids`` (nicknames from ``nicks``);
    the ids in ``immortal`` do not die in it."""
    players = {
        pid: (sides[i % len(sides)], nicks[pid], rng.choice(["Rifleman", "Medic", "AT", "MG"]))
        for i, pid in enumerate(ids)
    }
    types = list(VEHICLE_TYPES) + [UNMAPPED_TYPE]
    vehicles = {
        100 + i: (types[i] if i < len(types) else rng.choice(types), rng.choice(VEHICLE_NAMES))
        for i in range(N_VEHICLES)
    }
    r = Replay(
        number=number,
        date=dt.date(2024, 10, 5) + dt.timedelta(days=number % 300),
        mission=f"Операция 'Гром' {number}",
        island="Altis & Stratis",
        winner=SIDE_NAMES[rng.choice(sides)],
        active=N_PLAYERS,
        slots=N_PLAYERS + rng.randint(0, 30),
        sides=sides,
        commanders={s: f"Cmdr{s}_{number}" for s in sides},
        players=players,
        vehicles=vehicles,
    )

    # kill tally: 7 killers tied at 6 kills (rank 1), ties at ranks 2-3,
    # a tail of 2-kill killers, teamkills, and frags with no known killer
    order = list(ids)
    rng.shuffle(order)
    killers: list[int | None] = []
    pos = 0
    for n_killers, kills in ((7, 6), (3, 4), (4, 3), (32, 2)):
        for k in order[pos:pos + n_killers]:
            killers += [k] * kills
        pos += n_killers
    n_tk = 8
    tk_killers = [order[pos], order[pos], order[pos + 1], order[pos + 1]] + order[pos + 2:pos + 6]
    n_null = N_FRAGS - len(killers) - n_tk
    kinds = [(k, False) for k in killers] + [(k, True) for k in tk_killers] + [(None, False)] * n_null
    rng.shuffle(kinds)

    # ~40 players never die here; everyone else dies once or twice
    victims_pool = [p for p in order if p not in set(immortal)]
    rng.shuffle(victims_pool)
    mortal = victims_pool[: N_PLAYERS - 40]
    base = int(dt.datetime.combine(r.date, dt.time(19, 5), tzinfo=dt.timezone.utc).timestamp())
    offsets = sorted(rng.sample(range(60, 2 * 3600), N_FRAGS))
    longest = rng.randrange(N_FRAGS)
    for i, (killer, tk) in enumerate(kinds):
        victim = mortal[i % len(mortal)]
        if victim == killer:
            victim = mortal[(i + 1) % len(mortal)]
        r.frags.append(
            dict(
                epoch=base + offsets[i],
                victim=victim,
                victim_vehicle=rng.choice(VEHICLE_NAMES) if rng.random() < 0.15 else None,
                killer=killer,
                killer_vehicle=rng.choice(VEHICLE_NAMES) if rng.random() < 0.2 else None,
                gun=rng.choice(GUNS) if rng.random() < 0.7 else None,
                distance=(
                    1500 + rng.randrange(500) if i == longest
                    else None if rng.random() < 0.1
                    else rng.randint(5, 1200)
                ),
                is_tk=tk,
            )
        )
    return r


def make_inputs(seed: int, n_timed: int = 1) -> tuple[Replay, list[Replay]]:
    """(history replay loaded at set-up, the timed replays) for ``seed``."""
    rng = random.Random(seed)
    base_number = 3400 + 100 * (seed % 100_000)
    pool = list(range(10_000, 10_000 + POOL))
    nicks = {pid: _nick(rng, pid) for pid in pool}
    hist_ids = rng.sample(pool, N_PLAYERS)
    history = make_replay(rng, base_number, [1, 2, 3], hist_ids, nicks)

    # each timed replay shares 40 players with the one before: some renamed,
    # some killed before who survive here (excluded by the cross-replay
    # NOT IN); the first is a two-side replay
    timed, prev, died = [], history, set()
    for i in range(n_timed):
        died |= {f["victim"] for f in prev.frags}
        shared = rng.sample(sorted(prev.players), 40)
        fresh = rng.sample([p for p in pool if p not in prev.players], N_PLAYERS - 40)
        for pid in shared[:6]:
            nicks[pid] = nicks[pid] + " (renamed)"
        back = [p for p in shared if p in died][:3]
        sides = [1, 2] if i % 2 == 0 else [1, 2, 3, 4]
        prev = make_replay(rng, base_number + 1 + i, sides, shared + fresh, nicks, back)
        timed.append(prev)
    return history, timed


# --- expected outbox document -------------------------------------------------


def _frag_rows(r: Replay) -> list[dict]:
    rows = []
    ranked = sorted(r.frags, key=lambda f: (f["epoch"], f["victim"]))
    for i, f in enumerate(ranked, start=1):
        t = dt.datetime.fromtimestamp(f["epoch"], dt.timezone.utc).strftime("%H:%M:%S")
        rows.append({**f, "id": r.number * 1_000_000 + i, "time": t})
    return rows


def _leaderboard(frags: list[dict], nick: dict[int, str], tk: bool) -> list[dict]:
    kills: dict[int, int] = {}
    for f in frags:
        if f["is_tk"] == tk and f["killer"] is not None:
            kills[f["killer"]] = kills.get(f["killer"], 0) + 1
    levels = sorted(set(kills.values()), reverse=True)
    rank = {k: levels.index(v) + 1 for k, v in kills.items()}
    top = sorted(kills, key=lambda k: (rank[k], k))[:5]
    return [dict(killer=k, nickname=nick[k], kills=kills[k], rank=rank[k]) for k in top]


def _detail(f: dict, nick: dict[int, str]) -> dict:
    return dict(
        time=f["time"],
        killer=f["killer"],
        victim=f["victim"],
        killer_nickname=nick.get(f["killer"]) if f["killer"] is not None else None,
        victim_nickname=nick[f["victim"]],
        killer_vehicle=f["killer_vehicle"],
        victim_vehicle=f["victim_vehicle"],
        distance=f["distance"],
        is_tk=f["is_tk"],
        gun=f["gun"],
    )


def expected_doc(loaded: list[Replay], r: Replay) -> dict:
    """The outbox document ``data_message(r.number)`` must produce when
    ``loaded`` (in load order, ``r`` included) is the warehouse content."""
    nick: dict[int, str] = {}
    victims: set[int] = set()
    for rep in loaded:
        nick.update({p: n for p, (_s, n, _sl) in rep.players.items()})
        victims.update(f["victim"] for f in rep.frags)
    frags = _frag_rows(r)
    by_time = sorted(frags, key=lambda f: f["id"])
    fb = min(by_time, key=lambda f: f["time"])
    lh = sorted(by_time, key=lambda f: f["time"], reverse=True)[0]
    ls = sorted(by_time, key=lambda f: (f["distance"] is None, -(f["distance"] or 0)))[0]

    counted: dict[tuple[str, str], int] = {}
    for t, n in r.vehicles.values():
        counted[(n, t)] = counted.get((n, t), 0) + 1
    grouped: dict[str, list[str]] = {}
    for (n, t), c in counted.items():
        grouped.setdefault(VEHICLE_TYPES.get(t, t), []).append(f"{n}:{c}")

    surv = sorted(p for p in r.players if p not in victims)
    per_side: dict[str, int] = {}
    for p in surv:
        label = SIDE_LABELS[r.players[p][0]]
        per_side[label] = per_side.get(label, 0) + 1
    counts = {s: 0 for s in SIDE_NAMES}
    for side, _n, _s in r.players.values():
        counts[side] += 1
    return {
        "replay": dict(
            replay_number=r.number,
            date=r.date.isoformat(),
            name_mission=r.mission,
            island=r.island,
            winner=r.winner,
            count_players_active=r.active,
            count_players_slots=r.slots,
            **{f"commander_{SIDE_NAMES[s].lower()}": r.commanders.get(s, "None") for s in SIDE_NAMES},
            **{f"count_players_{SIDE_NAMES[s].lower()}": counts[s] for s in SIDE_NAMES},
        ),
        "vehicles": sorted(
            (dict(name=n, type=t, cnt=c) for (n, t), c in counted.items()),
            key=lambda v: (v["type"], v["name"]),
        ),
        "grouped_vehicles": [
            dict(display_type=d, items=",".join(sorted(items)))
            for d, items in sorted(grouped.items())
        ],
        "cutlets": _leaderboard(frags, nick, tk=False),
        "tks": _leaderboard(frags, nick, tk=True),
        "fb": [_detail(fb, nick)],
        "lh": [_detail(lh, nick)],
        "ls": [_detail(ls, nick)],
        "survivors": sorted(
            (dict(id_from_json=p, nickname=nick[p], side=r.players[p][0]) for p in surv),
            key=lambda s: s["id_from_json"],
        ),
        "survivors_group": sorted(
            (dict(side_label=k, cnt=v) for k, v in per_side.items()),
            key=lambda g: (-g["cnt"], g["side_label"]),
        ),
    }


def check_doc(doc: dict, want: dict) -> list[str]:
    """Mismatches between a drained outbox document and the expectation."""
    errs = []
    replay = json.loads(doc["replay"]) if isinstance(doc.get("replay"), str) else doc.get("replay")
    for k, v in want["replay"].items():
        if (replay or {}).get(k) != v:
            errs.append(f"replay.{k}: got {(replay or {}).get(k)!r}, want {v!r}")
    for k in ("vehicles", "grouped_vehicles", "cutlets", "tks", "fb", "lh", "ls", "survivors_group"):
        if doc.get(k) != want[k]:
            errs.append(f"{k}: got {doc.get(k)!r}, want {want[k]!r}")
    got_surv = sorted(doc.get("survivors") or [], key=lambda s: s.get("id_from_json") or 0)
    if got_surv != want["survivors"]:
        errs.append(
            f"survivors: got {len(got_surv)} rows, want {len(want['survivors'])}"
        )
    return errs


# --- running --------------------------------------------------------------------


def _replay_op(op, spark, wh, new: Replay, redeliver: Replay | None):
    """Load ``new`` (with ``redeliver`` in the same batch), materialize its
    outbox document, drain the outbox and render what was sent."""
    from wrtd_etl_spark import pipeline

    batch = [new] + ([redeliver] if redeliver else [])
    html = spark.createDataFrame(
        [(r.number, r.page) for r in batch], "replay_number long, html string"
    )
    body = spark.createDataFrame(
        [(r.number, r.body) for r in batch], "replay_number long, body string"
    )
    t0 = time.perf_counter()
    loaded = wh.load_replay(html, body)
    t1 = time.perf_counter()
    if loaded:
        wh.data_message(new.number)
    sent: list = []
    wh.drain_messages(send=sent.extend)
    docs = [json.loads(row["text_data"]) for row in sent]
    embeds = [pipeline.render_embeds(d) for d in docs]
    if op is not None:
        op.write_s = t1 - t0
        op.read_s = time.perf_counter() - t1
    return loaded, docs, embeds


def _verify(out, loaded_before: list[Replay], new: Replay) -> list[str]:
    loaded, docs, embeds = out
    if loaded != 1:
        return [f"load_replay loaded {loaded} replays, want 1 (the re-delivered one must be skipped)"]
    if len(docs) != 1:
        return [f"drained {len(docs)} messages, want 1"]
    errs = check_doc(docs[0], expected_doc(loaded_before + [new], new))
    if len(embeds[0]) != 5:
        errs.append(f"rendered {len(embeds[0])} embeds, want 5")
    return errs


#: Seconds one timed replay takes at local[4] on an idle 4-core host;
#: ``--seconds`` divided by this sets how many replays a run times (at
#: least one).
REPLAY_S = 6.0


def run(bench) -> None:
    import common

    spark = bench.start_session()
    from wrtd_etl_spark import pipeline

    history, timed = make_inputs(bench.seed, max(1, round(bench.seconds / REPLAY_S)))
    root = os.path.join(bench.dirs.data, "warehouse")
    wh = pipeline.ReplayWarehouse(spark, root)
    with bench.phase("warmup"):
        warm = _replay_op(None, spark, wh, history, None)
    with bench.timed():
        ops = [
            bench.op("replay", lambda op, r=r: _replay_op(op, spark, wh, r, history))
            for r in timed
        ]
    bench.values["mem_retained_mb"] = common.retained_mb(spark)

    warm_errs = [f"warm-up replay: {e}" for e in _verify(warm, [], history)]
    for i, op in enumerate(ops):
        errs = warm_errs + (_verify(op.out, [history] + timed[:i], timed[i]) if op.ok else [])
        if errs:
            op.fail("; ".join(errs)[:2000])

    def data_file(rel: str) -> bool:
        parts = rel.split(os.sep)
        return rel.endswith(".parquet") and not any(p.endswith(".tmp") for p in parts)

    files, total = common.dir_bytes(root)
    bench.values["space_amp"] = total / common.dir_bytes(root, data_file)[1]
    bench.values["warehouse.files"] = files
    bench.values["warehouse.bytes"] = total
