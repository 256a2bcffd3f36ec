"""Seeded input generators for the benchmark's two workloads.

Every generator takes the run seed and writes Parquet under an output
directory; the same seed writes byte-identical tables, a different seed
different ones. The program under test only ever sees the files.

* ``analyst_corpus``  - the TPC-H-like tables plus ``events``/``documents``/
  ``embeddings`` that the registry queries of ``season_etl``'s closing
  analysis stage read (one file per table, the layout ``graft.Tables``
  expects).
* ``season_inputs``   - play-by-play seasons for the full rebuild and the
  weekly deliveries of the next season, with re-delivered games and one
  re-sent delivery.
* ``curation_inputs`` - documents with planted near-duplicate edit chains and
  64-d embeddings with planted neighbours: a base corpus plus daily batches.
"""
import json
import os
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STREAM = {"analyst_corpus": 1, "season_etl": 2, "curation": 3}


def rng_for(seed, workload):
    return np.random.default_rng([int(seed), STREAM[workload]])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _ts(epoch_us):
    return pa.array(epoch_us.astype("int64"), type=pa.timestamp("us"))


# ---------------------------------------------------------------- analyst

ANALYST_SF = 0.002
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["small", "new", "red", "hot", "large", "cold", "blue", "old"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = ["row", "the", "query", "stream", "key", "agg", "scan", "slow",
             "table", "part", "a", "merge", "window", "order", "column", "join",
             "vector", "fast", "spark", "line", "small", "customer", "group",
             "value", "hash", "batch", "sort", "data", "big", "filter", "dup"]
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
DAY_US = 86_400 * 1_000_000


def _days(rng, first, last, n):
    span = (last - first).days
    base = int(datetime(first.year, first.month, first.day, tzinfo=timezone.utc).timestamp()) * 1_000_000
    return base + rng.integers(0, span + 1, n) * DAY_US


def analyst_corpus(seed, out_dir, sf=ANALYST_SF):
    """The registry queries' corpus at scale factor ``sf`` (value ranges and
    cardinalities follow the TPC-H-like generator the queries were written
    against). Returns {table: rows}."""
    rng = rng_for(seed, "analyst_corpus")
    n = {k: max(1, int(round(v * sf))) for k, v in {
        "customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "users": 15_000}.items()}
    n["embeddings"] = min(n["documents"], 2000)
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    c = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": np.arange(c, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(c)],
        "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, c),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, c)]})
    s = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(s, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(s)],
        "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    p = n["part"]
    tables["part"] = pa.table({
        "p_partkey": np.arange(p, dtype="int64"),
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, p)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, p)],
        "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(p) % 1000) / 10.0, 2)})
    o = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(o, dtype="int64"),
        "o_custkey": rng.integers(0, c, o).astype("int64"),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, o)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, o),
        "o_orderdate": _ts(_days(rng, date(1995, 1, 1), date(2001, 8, 1), o)),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, o)]})
    li = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, o, li).astype("int64"),
        "l_partkey": rng.integers(0, p, li).astype("int64"),
        "l_suppkey": rng.integers(0, s, li).astype("int64"),
        "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
        "l_quantity": rng.integers(1, 51, li).astype("float64"),
        "l_extendedprice": _money(rng, 900.0, 105000.0, li),
        "l_discount": rng.integers(0, 11, li) / 100.0,
        "l_tax": rng.integers(0, 9, li) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, li)],
        "l_linestatus": [("O", "F")[i] for i in rng.integers(0, 2, li)],
        "l_shipdate": _ts(_days(rng, date(1995, 1, 2), date(2001, 11, 4), li))})
    e = n["events"]
    start = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 1_000_000
    gaps = rng.exponential(30 * DAY_US / e, e).astype("int64")
    tables["events"] = pa.table({
        "event_id": np.arange(e, dtype="int64"),
        "ts": _ts(start + np.cumsum(gaps)),
        "user_id": rng.integers(0, n["users"], e).astype("int64"),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, e)],
        "value": np.maximum(0.01, np.round(rng.exponential(40.0, e), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    d = n["documents"]
    texts = [" ".join(DOC_WORDS[w] for w in rng.integers(0, len(DOC_WORDS), k))
             for k in rng.integers(10, 100, d)]
    tables["documents"] = pa.table({
        "doc_id": np.arange(d, dtype="int64"),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64")})
    m = n["embeddings"]
    centers = rng.normal(0.0, 0.12, (10, 64))
    labels = rng.integers(0, 10, m)
    vecs = (centers[labels] + rng.normal(0.0, 0.1, (m, 64))).astype("float32")
    tables["embeddings"] = pa.table({
        "vec_id": np.arange(m, dtype="int64"),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# ------------------------------------------------------------- season_etl

TEAMS = ["ARI", "ATL", "BAL", "BUF", "CAR", "CHI", "CIN", "CLE", "DAL", "DEN",
         "DET", "GB", "HOU", "IND", "JAX", "KC", "LA", "LAC", "LV", "MIA",
         "MIN", "NE", "NO", "NYG", "NYJ", "PHI", "PIT", "SEA", "SF", "TB",
         "TEN", "WAS"]
BASE_SEASONS = [2021]
NEW_SEASON = 2022
WEEKS_PER_SEASON = 17
DELIVERED_WEEKS = 2
REDELIVERED_GAMES = 2
SURNAMES = ["Smith", "Jones", "Brown", "Allen", "Young", "King", "Wright",
            "Hill", "Scott", "Green", "Adams", "Baker", "Nelson", "Carter"]
PBP_SCHEMA = pa.schema([
    ("game_id", pa.string()), ("play_id", pa.int32()), ("season", pa.int32()),
    ("week", pa.int32()), ("season_type", pa.string()),
    ("game_date", pa.date32()), ("posteam", pa.string()),
    ("defteam", pa.string()), ("home_team", pa.string()),
    ("down", pa.int32()), ("ydstogo", pa.int32()), ("qtr", pa.int32()),
    ("half_seconds_remaining", pa.float64()), ("desc", pa.string()),
    ("play_type", pa.string()), ("pass", pa.int32()), ("rush", pa.int32()),
    ("complete_pass", pa.int32()), ("interception", pa.int32()),
    ("success", pa.int32()), ("yards_gained", pa.float64()),
    ("epa", pa.float64()), ("qb_epa", pa.float64()), ("cpoe", pa.float64()),
    ("wp", pa.float64()), ("xpass", pa.float64()), ("name", pa.string()),
    ("passer_player_id", pa.string()), ("passer_player_name", pa.string())])


def _qbs(rng, season):
    """Starter and backup per team for one season: (name, id) pairs."""
    out = {}
    for t_i, team in enumerate(TEAMS):
        pair = []
        for slot in range(2):
            sur = SURNAMES[rng.integers(0, len(SURNAMES))]
            name = f"{chr(65 + rng.integers(0, 26))}.{sur}"
            pair.append((name, f"00-{season % 100:02d}{t_i:02d}{slot}"))
        out[team] = pair
    return out


def _game(rng, season, week, home, away, qbs):
    """One game's plays as a dict of numpy columns/lists."""
    n = int(rng.integers(150, 200))
    play_id = np.cumsum(rng.integers(1, 40, n)).astype("int32")
    drives = []
    team = home if rng.random() < 0.5 else away
    while sum(len(d) for d in drives) < n:
        k = int(rng.integers(3, 12))
        drives.append([team] * k)
        team = away if team == home else home
    posteam = np.array([t for d in drives for t in d][:n], dtype=object)
    defteam = np.where(posteam == home, away, home).astype(object)
    special = rng.random(n) < 0.08
    down = rng.choice(4, n, p=[0.42, 0.32, 0.2, 0.06]) + 1
    pas = (rng.random(n) < 0.58) & ~special
    rush = ~pas & ~special
    wp_home = np.clip(0.5 + np.cumsum(rng.normal(0.0, 0.03, n)), 0.01, 0.99)
    wp = np.where(posteam == home, wp_home, 1.0 - wp_home)
    wp = np.round(wp * 1024) / 1024
    half_len = n // 2
    idx = np.arange(n)
    hsr = np.where(idx < half_len, 1800.0 * (1 - idx / half_len),
                   1800.0 * (1 - (idx - half_len) / max(1, n - half_len)))
    hsr = np.floor(hsr)
    qtr = np.minimum(4, idx * 4 // n + 1)
    epa = np.round(rng.normal(0.0, 1.3, n) * 128) / 128
    epa_null = rng.random(n) < 0.03
    cpoe = np.round(rng.normal(0.0, 15.0, n) * 16) / 16
    xpass = np.round(np.clip(0.58 + rng.normal(0.0, 0.15, n), 0.0, 1.0) * 1024) / 1024
    backup = rng.random(n) < 0.1
    posnull = special & (rng.random(n) < 0.3)
    gid = f"{season}_{week:02d}_{away}_{home}"
    gdate = date(season, 9, 8) + timedelta(days=7 * (week - 1))
    qb_slot = np.array([qbs[t][1 if b else 0] for t, b in zip(posteam, backup)], dtype=object)
    e_null = epa_null | posnull
    play_type = np.where(pas, "pass", np.where(rush, "run", "punt")).astype(object)
    return {
        "game_id": np.full(n, gid, dtype=object), "play_id": play_id,
        "season": np.full(n, season), "week": np.full(n, week),
        "season_type": np.full(n, "REG", dtype=object),
        "game_date": np.full(n, gdate, dtype=object),
        "posteam": _masked(posteam, posnull), "defteam": _masked(defteam, posnull),
        "home_team": np.full(n, home, dtype=object),
        "down": _masked(down, special), "ydstogo": 1 + play_id % 15, "qtr": qtr,
        "half_seconds_remaining": hsr,
        "desc": np.array([f"{t} play {i}" for i, t in enumerate(play_type)], dtype=object),
        "play_type": play_type, "pass": pas.astype(int), "rush": rush.astype(int),
        "complete_pass": (pas & (epa > -0.5)).astype(int),
        "interception": (pas & (epa < -3.0)).astype(int),
        "success": _masked((epa > 0).astype(int), e_null),
        "yards_gained": np.round(epa * 4 + 4),
        "epa": _masked(epa, e_null), "qb_epa": _masked(epa, e_null | ~pas),
        "cpoe": _masked(cpoe, epa_null | ~pas), "wp": wp,
        "xpass": _masked(xpass, special),
        "name": _masked(np.array([q[0] for q in qb_slot], dtype=object), ~pas),
        "passer_player_id": _masked(np.array([q[1] for q in qb_slot], dtype=object), ~pas),
        "passer_player_name": _masked(np.array([q[0] for q in qb_slot], dtype=object), ~pas)}


def _masked(values, null):
    """A (values, null-mask) column for ``_table``."""
    return (values, null)


def _season_games(rng, season, weeks):
    qbs = _qbs(rng, season)
    games = []
    for week in weeks:
        order = rng.permutation(len(TEAMS))
        for g in range(len(TEAMS) // 2):
            home, away = TEAMS[order[2 * g]], TEAMS[order[2 * g + 1]]
            games.append((week, _game(rng, season, week, home, away, qbs)))
    return games


def _table(games):
    cols = []
    for field in PBP_SCHEMA:
        parts = [g[field.name] for g in games]
        if isinstance(parts[0], tuple):
            values = np.concatenate([v for v, _ in parts])
            mask = np.concatenate([m for _, m in parts])
            arr = pa.array(values, type=field.type, mask=mask, from_pandas=False) \
                if values.dtype != object else \
                pa.array([None if m else v for v, m in zip(values, mask)], type=field.type)
        else:
            arr = pa.array(np.concatenate(parts), type=field.type) \
                if parts[0].dtype != object else \
                pa.array(list(np.concatenate(parts)), type=field.type)
        cols.append(arr)
    return pa.Table.from_arrays(cols, schema=PBP_SCHEMA)


def season_inputs(seed, out_dir):
    """Base seasons for ``Store.rebuild`` plus the delivery sequence of the
    next season: delivery k carries week k's games, plus (from week 2 on)
    ``REDELIVERED_GAMES`` games of week k-1 that are delivered again; the
    last delivery is re-sent whole under the same batch tag (a retried
    step), so every seed runs the same op sequence. Writes ``manifest.json``
    with the expected row counts."""
    rng = rng_for(seed, "season_etl")
    manifest = {"base": [], "deliveries": []}
    for season in BASE_SEASONS:
        t = _table([g for _, g in _season_games(rng, season, range(1, WEEKS_PER_SEASON + 1))])
        path = os.path.join(out_dir, f"base_{season}.parquet")
        manifest["base"].append({"season": season, "path": path, "rows": t.num_rows,
                                 "bytes": _write(t, path)})
    new = _season_games(rng, NEW_SEASON, range(1, DELIVERED_WEEKS + 1))
    by_week = {w: [g for wk, g in new if wk == w] for w in range(1, DELIVERED_WEEKS + 1)}
    resend = DELIVERED_WEEKS
    for week in range(1, DELIVERED_WEEKS + 1):
        games = list(by_week[week])
        again = []
        if week > 1:
            prev = by_week[week - 1]
            again = [prev[i] for i in rng.choice(len(prev), REDELIVERED_GAMES, replace=False)]
        t = _table(games + again)
        path = os.path.join(out_dir, f"delivery_{week:02d}.parquet")
        entry = {"tag": f"{NEW_SEASON}-w{week:02d}", "week": week, "path": path,
                 "rows": t.num_rows, "fresh": sum(len(g["play_id"]) for g in games),
                 "bytes": _write(t, path)}
        manifest["deliveries"].append(entry)
        if week == resend:
            manifest["deliveries"].append(dict(entry, fresh=0, resent=True))
    manifest["new_season"] = NEW_SEASON
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


# --------------------------------------------------------------- curation

CURATION_BASE_ROOTS = 900
CURATION_DAYS = 1
CURATION_DAY_DOCS = 120
CHAIN_P = 0.5          # chain length ~ Geometric(CHAIN_P) on {1, 2, ...}
CHAIN_SHARE = 0.4      # share of base roots that get an edit chain
DAY_EXTENSIONS = 30    # base chains extended by one more edit, per day
DAY_CHAINS = 8         # fresh chains per day
EDITS_PER_STEP = 2     # word substitutions between consecutive variants
VOCAB = 3000
DIMS = 64
TOPICS = 16


def geometric_lengths(n, p=CHAIN_P):
    """n chain lengths at the midpoint quantiles of Geometric(p): the same
    length histogram for every seed (the seed only decides which root gets
    which length), so the longest chain - and with it the number of label
    propagation rounds - does not swing from seed to seed."""
    u = (np.arange(n) + 0.5) / n
    return np.maximum(1, np.ceil(np.log1p(-u) / np.log1p(-p))).astype(int)


def _edit(rng, words):
    w = list(words)
    for pos in rng.choice(len(w), EDITS_PER_STEP, replace=False):
        w[pos] = f"w{rng.integers(0, VOCAB)}"
    return w


def curation_inputs(seed, out_dir):
    """Base corpus plus ``CURATION_DAYS`` daily batches. Near-duplicates are
    planted as edit chains: a root document, then L variants each made from
    the previous one by ``EDITS_PER_STEP`` word substitutions, with L
    distributed as Geometric(``CHAIN_P``) (``geometric_lengths``) - the chain
    is a path, so its component has diameter L. Embeddings: topic centre plus
    noise for roots, parent plus small noise for variants (the planted
    neighbour). Each daily batch extends ``DAY_EXTENSIONS`` base chains by
    one edit, adds ``DAY_CHAINS`` fresh chains and fills up with fresh
    roots."""
    rng = rng_for(seed, "curation")
    centers = rng.normal(0.0, 1.0, (TOPICS, DIMS))
    docs = []  # (words, embedding, parent_index or -1, day)

    def root(day):
        words = [f"w{i}" for i in rng.integers(0, VOCAB, int(rng.integers(40, 80)))]
        emb = centers[rng.integers(0, TOPICS)] + rng.normal(0.0, 0.8, DIMS)
        docs.append((words, emb, -1, day))
        return len(docs) - 1

    def variant(parent, day):
        words = _edit(rng, docs[parent][0])
        emb = docs[parent][1] + rng.normal(0.0, 0.05, DIMS)
        docs.append((words, emb, parent, day))
        return len(docs) - 1

    chain_lengths = []

    def chain(day, start, length):
        chain_lengths.append(length)
        cur = start
        for _ in range(length):
            cur = variant(cur, day)
        return cur

    base_chains = int(round(CHAIN_SHARE * CURATION_BASE_ROOTS))
    lengths = list(rng.permutation(geometric_lengths(base_chains)))
    tails = []
    for i in rng.permutation(CURATION_BASE_ROOTS):
        r = root(0)
        tails.append(chain(0, r, int(lengths.pop())) if i < base_chains else r)
    for day in range(1, CURATION_DAYS + 1):
        start = len(docs)
        for i in rng.choice(len(tails), DAY_EXTENSIONS, replace=False):
            tails[i] = variant(tails[i], day)
        for length in geometric_lengths(DAY_CHAINS):
            chain(day, root(day), int(length))
        while len(docs) - start < CURATION_DAY_DOCS:
            root(day)
    # ids in generation order: a chain's root holds its minimum id, so label
    # propagation needs as many rounds as the chain is long
    ids = np.arange(len(docs), dtype="int64")
    files = []
    for day in range(CURATION_DAYS + 1):
        members = sorted((i for i, d in enumerate(docs) if d[3] == day), key=lambda i: ids[i])
        t = pa.table({
            "doc_id": pa.array([int(ids[i]) for i in members], pa.int64()),
            "text": [" ".join(docs[i][0]) for i in members]})
        e = pa.table({
            "doc_id": pa.array([int(ids[i]) for i in members], pa.int64()),
            "embedding": pa.array([docs[i][1].astype("float32") for i in members],
                                  pa.list_(pa.float32()))})
        name = "base" if day == 0 else f"day_{day:02d}"
        _write(t, os.path.join(out_dir, f"{name}_docs.parquet"))
        _write(e, os.path.join(out_dir, f"{name}_emb.parquet"))
        files.append({"name": name, "rows": t.num_rows,
                      "min_id": int(min(ids[i] for i in members)),
                      "max_id": int(max(ids[i] for i in members))})
    manifest = {"batches": files, "chain_lengths": chain_lengths,
                "max_chain": max(chain_lengths) if chain_lengths else 0}
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1)
    return manifest


GENERATORS = {
    "analyst_corpus": analyst_corpus,
    "season_etl": season_inputs,
    "curation": curation_inputs,
}
