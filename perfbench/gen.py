"""Input generators for the benchmark.

Two kinds of input:

* the registry tables (TPC-H-like star schema plus ``events``,
  ``documents`` and ``embeddings``), written as one parquet file per
  table. They do not depend on the workload seed, so the per-query
  checksums recorded in ``checksums.tsv`` stay valid; the workload seed
  only orders the queries.
* the football feed: a fixtures CSV (FIXTURES.md section 1) and a
  team-history CSV (section 3), made from the workload seed, plus the
  statistics ``Pipeline.run`` must report for them and DuckDB-replayed
  90-day win ratios for a sample of teams.

Every random choice is a pure function of the seed, so the same seed
gives the same bytes.
"""
import csv
import datetime as dt
import json
import os
import random
import re

import duckdb
import pandas

# ---------------------------------------------------------------- registry

# Row counts per table at scale factor 1 (region and nation are fixed).
_SF1_ROWS = {
    "customer": 150_000, "supplier": 10_000, "part": 200_000,
    "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
    "documents": 50_000, "embeddings": 5_000,
}
_VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "dup",
          "fast", "filter", "group", "hash", "join", "key", "line", "merge",
          "order", "part", "query", "row", "scan", "slow", "small", "sort",
          "spark", "stream", "table", "the", "value", "vector", "window"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]


def _rows(sf, table):
    n = int(round(_SF1_ROWS[table] * sf))
    if table == "embeddings":
        n = max(500, n)
    return max(1, n)


def _u(expr, salt):
    """Uniform double in [0, 1) from a hash of ``expr`` and ``salt``."""
    return f"((hash({expr}, {salt}) % 1000000007) / 1000000007.0)"


def _pick(expr, salt, values):
    lst = "[" + ",".join("'" + v + "'" for v in values) + "]"
    return (f"({lst})[CAST(1 + hash({expr}, {salt}) % {len(values)} "
            f"AS BIGINT)]")


def write_registry(out_dir, sf):
    """Write the ten registry tables for scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    n = {t: _rows(sf, t) for t in _SF1_ROWS}
    vocab = "[" + ",".join("'" + w + "'" for w in _VOCAB) + "]"
    tables = {
        "region": """
            SELECT CAST(i AS INTEGER) AS r_regionkey,
              (['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'])[i + 1]
                AS r_name
            FROM range(5) t(i)""",
        "nation": """
            SELECT CAST(i AS INTEGER) AS n_nationkey,
              'NATION_' || i AS n_name, CAST(i % 5 AS INTEGER) AS n_regionkey
            FROM range(25) t(i)""",
        "customer": f"""
            SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0')
                AS c_name,
              CAST(hash(i, 11) % 25 AS INTEGER) AS c_nationkey,
              round(-999.99 + {_u('i', 12)} * 10999.98, 2) AS c_acctbal,
              {_pick('i', 13, ['AUTOMOBILE', 'BUILDING', 'FURNITURE',
                               'HOUSEHOLD', 'MACHINERY'])} AS c_mktsegment
            FROM range({n['customer']}) t(i)""",
        "supplier": f"""
            SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0')
                AS s_name,
              CAST(hash(i, 21) % 25 AS INTEGER) AS s_nationkey,
              round(-999.99 + {_u('i', 22)} * 10999.98, 2) AS s_acctbal
            FROM range({n['supplier']}) t(i)""",
        "part": f"""
            SELECT i AS p_partkey,
              {_pick('i', 31, _ADJ)} || ' ' || {_pick('i', 32, _NOUN)} AS p_name,
              'Brand#' || CAST(1 + hash(i, 33) % 25 AS VARCHAR) AS p_brand,
              {_pick('i', 34, ['ECONOMY', 'LARGE', 'MEDIUM', 'PROMO',
                               'SMALL', 'STANDARD'])} AS p_type,
              CAST(1 + hash(i, 35) % 50 AS INTEGER) AS p_size,
              round(900.0 + (i % 1000) * 0.1, 1) AS p_retailprice
            FROM range({n['part']}) t(i)""",
        "orders": f"""
            SELECT i AS o_orderkey,
              CAST(hash(i, 41) % {n['customer']} AS BIGINT) AS o_custkey,
              {_pick('i', 42, ['F', 'O', 'P'])} AS o_orderstatus,
              round(1000.0 + {_u('i', 43)} * 499000.0, 2) AS o_totalprice,
              TIMESTAMP '1995-01-01' + to_days(CAST(hash(i, 44) % 2404 AS INTEGER))
                AS o_orderdate,
              {_pick('i', 45, ['1-URGENT', '2-HIGH', '3-MEDIUM',
                               '4-NOT SPECIFIED', '5-LOW'])} AS o_orderpriority
            FROM range({n['orders']}) t(i)""",
        "lineitem": f"""
            SELECT CAST(hash(i, 51) % {n['orders']} AS BIGINT) AS l_orderkey,
              CAST(hash(i, 52) % {n['part']} AS BIGINT) AS l_partkey,
              CAST(hash(i, 53) % {n['supplier']} AS BIGINT) AS l_suppkey,
              CAST(1 + hash(i, 54) % 7 AS INTEGER) AS l_linenumber,
              CAST(1 + hash(i, 55) % 50 AS DOUBLE) AS l_quantity,
              round(900.0 + {_u('i', 56)} * 104100.0, 2) AS l_extendedprice,
              CAST(hash(i, 57) % 11 AS DOUBLE) / 100 AS l_discount,
              CAST(hash(i, 58) % 9 AS DOUBLE) / 100 AS l_tax,
              {_pick('i', 59, ['A', 'N', 'R'])} AS l_returnflag,
              {_pick('i', 60, ['F', 'O'])} AS l_linestatus,
              TIMESTAMP '1995-01-02' + to_days(CAST(hash(i, 61) % 2498 AS INTEGER))
                AS l_shipdate
            FROM range({n['lineitem']}) t(i)""",
        "events": f"""
            SELECT i AS event_id,
              TIMESTAMP '2024-01-01' + to_microseconds(CAST(
                (i * 2592000000000 + hash(i, 71) % 2592000000000)
                  // {n['events']} AS BIGINT)) AS ts,
              CAST(hash(i, 72) % {max(1, n['events'] // 67)} AS BIGINT) AS user_id,
              {_pick('i', 73, ['click', 'error', 'purchase', 'signup', 'view'])}
                AS event_type,
              round(0.01 + {_u('i', 74)} * {_u('i', 75)} * 490.0, 2) AS value,
              '{{"k": ' || CAST(hash(i, 76) % 100 AS VARCHAR) || '}}' AS props
            FROM range({n['events']}) t(i)""",
        "documents": f"""
            WITH base AS (
              SELECT i,
                array_to_string(list_transform(
                  range(CAST(10 + hash(i, 81) % 90 AS BIGINT)),
                  j -> {vocab}[CAST(1 + hash(i, j, 82) % {len(_VOCAB)} AS BIGINT)]),
                  ' ') AS text
              FROM range({n['documents']}) t(i))
            SELECT b.i AS doc_id,
              -- every 625th document repeats its predecessor's text
              CASE WHEN b.i % 625 = 624 THEN p.text ELSE b.text END AS text,
              CASE WHEN hash(b.i, 83) % 100 < 40 THEN 'en'
                   WHEN hash(b.i, 83) % 100 < 55 THEN 'de'
                   WHEN hash(b.i, 83) % 100 < 70 THEN 'es'
                   WHEN hash(b.i, 83) % 100 < 85 THEN 'fr'
                   ELSE 'zh' END AS lang,
              'src' || CAST(b.i % 20 AS VARCHAR) AS source,
              CAST(strlen(CASE WHEN b.i % 625 = 624 THEN p.text
                               ELSE b.text END) AS BIGINT) AS n_chars
            FROM base b LEFT JOIN base p ON p.i = b.i - 1
            ORDER BY b.i""",
        "embeddings": f"""
            WITH raw AS (
              SELECT i, list_transform(range(64),
                  j -> {_u('i * 64 + j', 91)} - 0.5) AS v
              FROM range({n['embeddings']}) t(i))
            SELECT i AS vec_id,
              CAST(list_transform(v, x -> x / sqrt(list_inner_product(v, v)))
                AS FLOAT[]) AS embedding,
              CAST(hash(i, 92) % 10 AS INTEGER) AS label
            FROM raw ORDER BY i""",
    }
    for name, sql in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")
    con.close()


# ----------------------------------------------------------- football feed

TODAY = dt.date(2025, 5, 17)

# The program's default alias table (Normalize.defaultAliases), copied
# so that the expected statistics do not depend on the code under test.
ALIASES = {
    "Manchester United": "Man United", "Manchester City": "Man City",
    "Tottenham": "Tottenham Hotspur", "Tottenham Hotspur": "Tottenham",
    "Newcastle": "Newcastle United", "Newcastle United": "Newcastle",
    "Wolverhampton Wanderers": "Wolves", "Wolves": "Wolverhampton Wanderers",
    "Atletico Madrid": "Atlético Madrid", "Atlético Madrid": "Atletico Madrid",
    "Atletico": "Atlético Madrid", "Real Betis": "Betis", "Betis": "Real Betis",
    "Bayern Munich": "Bayern München", "Bayern München": "Bayern Munich",
    "RB Leipzig": "Leipzig", "Leipzig": "RB Leipzig",
    "Bayer Leverkusen": "Leverkusen", "Leverkusen": "Bayer Leverkusen",
    "Inter": "Inter Milan", "Inter Milan": "Inter",
    "AC Milan": "Milan", "Milan": "AC Milan",
    "Paris Saint Germain": "PSG", "Paris Saint-Germain": "PSG",
    "PSG": "Paris Saint-Germain",
}
_LEAGUES = [("Premier League", "England"), ("LaLiga", "Spain"),
            ("Bundesliga", "Germany"), ("Serie A", "Italy"),
            ("Ligue 1", "France"), ("Eredivisie", "Netherlands"),
            ("Primeira Liga", "Portugal"), ("Championship", "England")]
_RESULTS = {"W": ["W", "Win", "win", "w", "1", "1.0"],
            "D": ["D", "Draw", "draw", "d", "0.5"],
            "L": ["L", "Loss", "loss", "l", "0", "0.0"],
            "U": ["abandoned", "?"]}
_POINTS = {"W": 1.0, "D": 0.5, "L": 0.0, "U": 0.0}
_HISTORY_STATS = ["xg", "xg_against", "possession", "total_passes",
                  "pass_completion_pct", "shots", "shots_on_target",
                  "big_chances_created", "corners", "fouls_committed",
                  "yellow_cards", "red_cards"]
FIXTURE_COLS = ["date", "id", "home_team", "away_team", "league", "country",
                "start_timestamp", "start_time", "status", "venue", "round",
                "source"]
HISTORY_COLS = (["team", "season", "date", "competition", "venue", "opponent",
                 "result", "goals_for", "goals_against", "is_home",
                 "home_team", "away_team", "match_id", "match_url"]
                + [c for s in _HISTORY_STATS for c in (s, f"opponent_{s}")]
                + ["shot_accuracy", "conversion_rate"])


def normalize_team(raw):
    """Python twin of Normalize.normalizeTeamName with ALIASES."""
    stripped = re.sub(r"\s+(FC|CF|AFC)$", "", raw.strip())
    return ALIASES.get(stripped, stripped)


def _alnum(name):
    return re.sub(r"[^a-z0-9]", "", name.lower())


def _date_text(rng, d):
    """One of the date spellings the CSV date column accepts; about one
    in fifty is a spelling it rejects, which reads as a null date."""
    r = rng.random()
    if r < 0.02:
        return d.strftime("%d/%m/%Y")
    if r < 0.50:
        return d.isoformat()
    if r < 0.75:
        return f"{d.year}-{d.month}-{d.day}"
    return d.isoformat() + " 00:00:00"


def _clubs(rng, n_clubs):
    """Club spellings: every alias key plus generated names. Each club
    gets a Zipf-like weight, so some teams play far more often."""
    base = list(ALIASES.keys())
    extra = [f"{a} {b}" for a in ("Real", "Sporting", "Dynamo", "Olympic",
                                  "Union", "Racing", "Athletic", "Royal")
             for b in ("North", "South", "City", "Rovers", "Albion",
                       "Harbour", "Valley", "Park", "Town", "County")]
    names = base + extra[: max(0, n_clubs - len(base))]
    rng.shuffle(names)
    weights = [1.0 / (k + 1) ** 0.8 for k in range(len(names))]
    return names, weights


def _variant(rng, name):
    r = rng.random()
    if r < 0.70:
        return name
    if r < 0.85:
        return name + " FC"
    return "  " + name + " "


def write_feed(out_dir, seed, n_fixtures, n_history):
    """Write fixtures.csv, history.csv and expected.json for ``seed``."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    clubs, weights = _clubs(rng, 90)

    # fixtures: a month in the past to two months ahead of TODAY
    rows, kept = [], {}
    n_unique = int(n_fixtures / 1.08)
    for k in range(n_unique):
        # resample until the normalized (date, home, away) key is new, so
        # that only the planted copies share a match id
        while True:
            home, away = rng.choices(clubs, weights, k=2)
            d = TODAY + dt.timedelta(days=rng.randint(-30, 60))
            mid = (d.strftime("%Y%m%d") + "_" + _alnum(normalize_team(home))
                   + "_" + _alnum(normalize_team(away)))
            if normalize_team(home) != normalize_team(away) and mid not in kept:
                break
        league, country = rng.choice(_LEAGUES)
        hh = rng.choice([12, 13, 15, 17, 18, 19, 20, 21])
        mm = rng.choice([0, 15, 30, 45])
        start_time = rng.choice([f"{hh:02d}:{mm:02d}", f"Sat {hh:02d}:{mm:02d}",
                                 "Unknown", ""])
        epoch = int(dt.datetime(d.year, d.month, d.day, hh, mm,
                                tzinfo=dt.timezone.utc).timestamp())
        fid = str(10_000_000 + k)
        rest = [league, country, epoch, start_time,
                rng.choice(["Not started", "Scheduled"]),
                rng.choice(["", f"Stadium {k % 97}"]), str(1 + k % 38),
                rng.choice(["api", "browser", "fbref"])]
        # about one fixture in twelve is captured twice under one id, with
        # other spellings of the names and of the date
        for _ in range(2 if rng.random() < 0.08 else 1):
            date_txt = _date_text(rng, d)
            rows.append([date_txt, fid, _variant(rng, home), _variant(rng, away)]
                        + rest)
            if "/" not in date_txt and d >= TODAY:
                kept[mid] = (d, normalize_team(home), normalize_team(away),
                             league, ":" in start_time.split(" ")[-1])
    rng.shuffle(rows)
    _write_csv(os.path.join(out_dir, "fixtures.csv"), FIXTURE_COLS, rows)

    # history: per-team past matches, a year back to a few days ahead
    hist, replay = [], []
    for k in range(n_history):
        team, opp = rng.choices(clubs, weights, k=2)
        while opp == team:
            opp = rng.choices(clubs, weights)[0]
        d = TODAY - dt.timedelta(days=rng.randint(-5, 365))
        res = rng.choices("WDLU", [45, 25, 28, 2])[0]
        venue = rng.choice(["Home", "Away"])
        gf, ga = rng.randint(0, 5), rng.randint(0, 4)
        date_txt = _date_text(rng, d)
        stats = []
        for _ in _HISTORY_STATS:
            stats += [("" if rng.random() < 0.1 else f"{rng.uniform(0, 30):.2f}"),
                      ("" if rng.random() < 0.1 else f"{rng.uniform(0, 30):.2f}")]
        home_raw, away_raw = (team, opp) if venue == "Home" else (opp, team)
        hist.append([_variant(rng, team), f"{d.year - 1}-{d.year}", date_txt,
                     rng.choice(_LEAGUES)[0], venue, _variant(rng, opp),
                     rng.choice(_RESULTS[res]), gf, ga,
                     1 if venue == "Home" else 0, home_raw, away_raw, "", ""]
                    + stats + ["", ""])
        if "/" not in date_txt and d <= TODAY:
            replay.append((normalize_team(team), d.isoformat(), _POINTS[res]))
    rng.shuffle(hist)
    _write_csv(os.path.join(out_dir, "history.csv"), HISTORY_COLS, hist)

    expected = _expected_stats(kept)
    expected["win_ratio"] = _replay_win_ratio(replay, kept, rng)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
    # the statistics again, as key<TAB>value lines for the JVM side
    with open(os.path.join(out_dir, "expected.tsv"), "w") as f:
        for k, v in sorted(expected.items()):
            if k != "win_ratio":
                f.write(f"{k}\t{v!r}\n" if isinstance(v, float) else f"{k}\t{v}\n")
    return expected


def _write_csv(path, header, rows):
    with open(path, "w", newline="", encoding="utf-8") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _expected_stats(kept):
    vals = list(kept.values())
    teams = {v[1] for v in vals} | {v[2] for v in vals}
    n = len(vals)
    kickoff = sum(1 for v in vals if v[4])
    # match_id, date, home_team, away_team and league are never null
    completion = (5 * n + kickoff) / (6 * n) if n else 0.0
    return {
        "fixtures_count": n, "teams_count": len(teams), "joined_records": n,
        "leagues_covered": len({v[3] for v in vals}),
        "data_completion": completion,
        "start_date": min(v[0] for v in vals).isoformat(),
        "end_date": max(v[0] for v in vals).isoformat(),
    }


def _replay_win_ratio(replay, kept, rng):
    """90-day win ratio at each sampled team's latest past match,
    replayed in DuckDB from the normalized history records."""
    home_teams = sorted({v[1] for v in kept.values()})
    con = duckdb.connect()
    frame = pandas.DataFrame(replay, columns=["team", "d", "pts"])
    con.execute("CREATE TABLE h AS SELECT team, CAST(d AS DATE) AS d, pts "
                "FROM frame")
    played = {r[0] for r in con.execute("SELECT DISTINCT team FROM h").fetchall()}
    sample = rng.sample([t for t in home_teams if t in played],
                        k=min(8, len(played)))
    out = {}
    for team in sample:
        (ratio,) = con.execute("""
            WITH last AS (SELECT max(d) AS m FROM h WHERE team = ?)
            SELECT avg(pts) FROM h, last
            WHERE team = ? AND d BETWEEN m - INTERVAL 90 DAY AND m""",
                               [team, team]).fetchone()
        out[team] = ratio
    con.close()
    return out
