"""Output checks, run after the timed region. Each returns a list of
(op name, cause) failures; an empty list means every captured output matched.

None of them runs the engine: expected values come from the generator's
manifest, from DuckDB over the generated Parquet, or from plain Python
(union-find, dot products). Row order and ties never matter: rows are
compared as sorted multisets, and numeric cells with a relative tolerance
only where the engine and the oracle may sum in a different order.
"""
import glob
import importlib.util
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(path):
    if os.path.isdir(path):
        parts = sorted(glob.glob(os.path.join(path, "*.parquet")))
        if not parts:
            return []
        return [r for p in parts for r in pq.read_table(p).to_pylist()]
    return pq.read_table(path).to_pylist()


def _repo_check_module():
    """The repo's oracle comparator (``tools/check.py``): its normalization
    is the correctness gate's definition of an equal result."""
    path = os.path.join(ROOT, "tools", "check.py")
    spec = importlib.util.spec_from_file_location("repo_check", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ------------------------------------------------------------ analyst

def analyst(run_dir, ops, inp):
    """Each captured registry query result against its DuckDB ``oracleSql``
    over the analyst corpus in ``inp``."""
    check = _repo_check_module()
    out = os.path.join(run_dir, "out")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in check.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inp}/{t}.parquet'")
    fails = []
    for op in ops:
        name = op["name"]
        if not op["ok"]:
            continue
        res = os.path.join(out, name)
        cause = compare_oracle(check, con, res, oracle.get(name))
        if cause:
            fails.append((name, cause))
    return fails


def compare_oracle(check, con, res_dir, sql):
    import pandas as pd
    if sql is None:
        return "no oracle SQL"
    parts = sorted(glob.glob(os.path.join(res_dir, "*.parquet")))
    if not parts:
        return "no captured result"
    got = pd.concat([pd.read_parquet(p) for p in parts], ignore_index=True)
    exp = con.sql(sql).df()
    g, e = check.norm(got), check.norm(exp)
    if list(g.columns) != list(e.columns):
        return f"columns {list(g.columns)} != {list(e.columns)}"
    if len(g) != len(e):
        return f"rows {len(g)} != {len(e)}"
    if len(g) and not g.equals(e):
        diff = (g != e).any(axis=1)
        return f"{int(diff.sum())} rows differ from the oracle"
    return None


# --------------------------------------------------------- season_etl

LET_RUSS_COOK = """
WITH f AS (SELECT posteam, pass, epa FROM pbp
  WHERE (down = 1 OR down = 2) AND wp BETWEEN 0.2 AND 0.8
    AND half_seconds_remaining > 120 AND posteam IS NOT NULL
    AND epa IS NOT NULL AND season = {season}),
a AS (SELECT posteam, count(*) AS n_plays, avg(pass) AS pass_rate,
        avg(epa) AS epa_per_play FROM f GROUP BY 1)
SELECT posteam, n_plays, pass_rate, epa_per_play,
  CASE WHEN max(pass_rate) OVER () = min(pass_rate) OVER () THEN CAST(50 AS DOUBLE)
       ELSE CAST(100 AS DOUBLE) * (pass_rate - min(pass_rate) OVER ())
            / (max(pass_rate) OVER () - min(pass_rate) OVER ()) END AS pct
FROM a"""

PASS_RATE_OVER_EXPECTED = """
SELECT posteam, season, avg(pass) AS pass_rate, avg(xpass) AS exp_pass_rate,
  avg(CAST(100 AS DOUBLE) * (pass - xpass)) AS proe, count(*) AS n
FROM pbp WHERE xpass IS NOT NULL AND posteam IS NOT NULL GROUP BY 1, 2"""

WILSON_GAME_PASS_FREQ = """
WITH t AS (SELECT * FROM pbp WHERE posteam = '{team}' AND down IS NOT NULL
             AND (rush = 1 OR pass = 1)),
c AS (SELECT *, sum(CASE WHEN wp < 0.1 OR wp > 0.9 THEN 1 ELSE 0 END)
        OVER (PARTITION BY game_id ORDER BY play_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS over_n
      FROM t)
SELECT game_id, min(week) AS week, min(defteam) AS defteam, count(*) AS n_plays,
  avg(pass) AS pass_rate, avg(CASE WHEN name = '{qb}' THEN qb_epa END) AS qb_epa_play
FROM c WHERE over_n = 0 AND down <= 2 GROUP BY game_id"""

SEASON_SQL = {"letRussCook": LET_RUSS_COOK,
              "passRateOverExpected": PASS_RATE_OVER_EXPECTED,
              "wilsonGamePassFreq": WILSON_GAME_PASS_FREQ}


def _cell_equal(a, b, rel=1e-9):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return abs(a - b) <= rel * max(1.0, abs(a), abs(b))
    return a == b


def _sort_key(row):
    return tuple((v is None, round(v, 6) if isinstance(v, float) else v) for v in row)


def compare_rows(got, exp, rel=1e-9):
    """Multiset equality of two lists of dicts, columns by name, numeric cells
    within ``rel``. Returns a cause or None."""
    if not got and not exp:
        return None
    cols = sorted(exp[0].keys()) if exp else sorted(got[0].keys())
    if got and sorted(got[0].keys()) != cols:
        return f"columns {sorted(got[0].keys())} != {cols}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    g = sorted((tuple(r[c] for c in cols) for r in got), key=_sort_key)
    e = sorted((tuple(r[c] for c in cols) for r in exp), key=_sort_key)
    bad = sum(1 for x, y in zip(g, e) if not all(_cell_equal(a, b, rel) for a, b in zip(x, y)))
    return f"{bad} rows differ from DuckDB" if bad else None


def season_expected(con, manifest, params, state, query):
    """Expected result of ``query`` once the first ``state`` deliveries (all
    of them past the last one) have landed: the base seasons plus the
    distinct delivered rows."""
    base = [b["path"] for b in manifest["base"]]
    deliv = [d["path"] for d in manifest["deliveries"][:state]]
    rel = f"SELECT * FROM read_parquet({base!r})"
    if deliv:
        rel = f"({rel} UNION SELECT * FROM read_parquet({deliv!r}))"
    con.sql(f"CREATE OR REPLACE VIEW pbp AS SELECT * FROM {rel}")
    sql = SEASON_SQL[query].format(season=manifest["new_season"], team=params["team"],
                                   qb=params["qb"])
    rel = con.sql(sql)
    return [dict(zip(rel.columns, row)) for row in rel.fetchall()]


def season(run_dir, ops, manifest, params):
    fails = []
    con = duckdb.connect()
    deliveries = manifest["deliveries"]
    tags_seen = []
    ingests = [o for o in ops if o["kind"] == "ingest"]
    changes = {o["name"]: o for o in ops if o["kind"] == "changes"}
    for op, d in zip(ingests, deliveries):
        if not op["ok"]:
            continue
        info = op["info"]
        if info.get("appended") != d["fresh"]:
            fails.append((op["name"], f"update appended {info.get('appended')} rows, "
                                      f"{d['fresh']} were new"))
        expect_v = -1 if d["tag"] in tags_seen else len(tags_seen) + 1
        if d["tag"] not in tags_seen:
            tags_seen.append(d["tag"])
        if info.get("version") != expect_v:
            fails.append((op["name"], f"appendVersioned gave version {info.get('version')}, "
                                      f"expected {expect_v}"))
        if expect_v > 0:
            c = changes.get(d["tag"])
            if c is None or c["info"].get("rows") != d["rows"]:
                fails.append((d["tag"], f"readChanges returned "
                                        f"{c and c['info'].get('rows')} rows, delivered {d['rows']}"))
    # exactly-once, read from the store files themselves
    a_dir = os.path.join(run_dir, "store", "p1", "pbp")
    b_dir = os.path.join(run_dir, "store", "p1", "feed")
    base_rows = sum(b["rows"] for b in manifest["base"])
    fresh = sum(d["fresh"] for d in deliveries)
    unique = sum(d["rows"] for d in deliveries if not d.get("resent"))
    n, keys = con.sql(f"SELECT count(*), count(DISTINCT (game_id, play_id)) FROM "
                      f"read_parquet('{a_dir}/**/*.parquet')").fetchone()
    if n != base_rows + fresh or keys != n:
        fails.append(("store", f"insert-only table holds {n} rows / {keys} keys, "
                               f"expected {base_rows + fresh} exactly once"))
    (m,) = con.sql(f"SELECT count(*) FROM read_parquet('{b_dir}/**/*.parquet')").fetchone()
    if m != unique:
        fails.append(("feed", f"versioned table holds {m} rows after vacuum, delivered {unique}"))
    out = os.path.join(run_dir, "out")
    for op in ops:
        if op["kind"] != "query" or not op["ok"]:
            continue
        state = op["info"]["state"]
        res = os.path.join(out, f"read_{state:02d}_{op['name']}")
        exp = season_expected(con, manifest, params, min(state, len(deliveries)), op["name"])
        cause = compare_rows(_read(res), exp)
        if cause:
            fails.append((f"{op['name']}@{state}", cause))
    return fails


# ----------------------------------------------------------- curation

def union_find_labels(nodes, edges):
    """Min-id label per connected component."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return {n: find(n) for n in nodes}


def label_cause(nodes, edges, got, max_chain):
    """Labels (rows of doc_id, cluster_id) against union-find over ``edges``:
    every node labelled exactly once, with its component's minimum id."""
    labels = {r["doc_id"]: r["cluster_id"] for r in got}
    if len(got) != len(nodes) or set(labels) != set(nodes):
        return f"{len(got)} labels for {len(nodes)} documents"
    want = union_find_labels(nodes, edges)
    wrong = sum(1 for n in nodes if labels[n] != want[n])
    if wrong:
        return (f"{wrong} labels differ from union-find over the materialized edges "
                f"(longest planted chain {max_chain})")
    return None


def exact_cosine(a, b):
    """Sequential left-to-right fold in double, the engine's order."""
    dot = na = nb = 0.0
    for x, y in zip(a, b):
        x, y = float(x), float(y)
        dot += x * y
        na += x * x
        nb += y * y
    return dot / (math.sqrt(na) * math.sqrt(nb))


def check_ann(rows, emb, lo, hi, k):
    """Scores equal the exact cosine (6 dp); ranks are 1..m per query in
    (cosine desc, id asc) order. Returns (cause or None, recall hits, total)."""
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], []).append(r)
    ids = sorted(emb)
    mat = np.array([emb[i] for i in ids], dtype="float64")
    hits = total = 0
    for q, rs in by_q.items():
        if not lo <= q <= hi:
            return f"query id {q} outside [{lo}, {hi}]", 0, 0
        rs.sort(key=lambda r: r["rank"])
        if [r["rank"] for r in rs] != list(range(1, len(rs) + 1)) or len(rs) > k:
            return f"ranks of {q} are not 1..m", 0, 0
        if len({r["c_id"] for r in rs}) != len(rs) or any(r["c_id"] == q for r in rs):
            return f"duplicate or self neighbour for {q}", 0, 0
        for r in rs:
            want = exact_cosine(emb[q], emb[r["c_id"]])
            if abs(r["cosine"] - want) > 1.5e-6:
                return f"cosine {r['cosine']} for ({q}, {r['c_id']}) != exact {want:.7f}", 0, 0
        if [(-r["cosine"], r["c_id"]) for r in rs] != sorted((-r["cosine"], r["c_id"]) for r in rs):
            return f"neighbours of {q} not in score order", 0, 0
        v = mat[ids.index(q)]
        cos = mat @ v / (np.linalg.norm(mat, axis=1) * np.linalg.norm(v))
        cos[ids.index(q)] = -2.0
        best = {ids[i] for i in np.argsort(-cos)[:k]}
        hits += len(best & {r["c_id"] for r in rs})
        total += k
    return None, hits, total


def curation(run_dir, ops, manifest):
    fails = []
    info = {"ann_hits": 0, "ann_total": 0}
    inp = os.path.join(run_dir, "input")
    out = os.path.join(run_dir, "out")
    state = os.path.join(run_dir, "state", "p1")
    batches = manifest["batches"]
    nodes, edges, emb = [], [], {}
    by_name = {o["name"]: o for o in ops}
    for d, b in enumerate(batches):
        nodes += [r["doc_id"] for r in _read(os.path.join(inp, f"{b['name']}_docs.parquet"))]
        for r in _read(os.path.join(inp, f"{b['name']}_emb.parquet")):
            emb[r["doc_id"]] = r["embedding"]
        op = by_name.get(b["name"])
        if op is None or not op["ok"]:
            continue
        edges += [(r["doc_a"], r["doc_b"]) for r in _read(os.path.join(out, f"edges_{d:02d}"))]
        cause = label_cause(nodes, edges, _read(os.path.join(state, f"labels_{d:02d}")),
                            manifest["max_chain"])
        if cause:
            fails.append((b["name"], cause))
    for op in ops:
        if op["kind"] != "query" or not op["ok"]:
            continue
        i = op["info"]
        visible = {k: v for k, v in emb.items() if k <= batches[i["day"]]["max_id"]}
        cause, hits, total = check_ann(_read(os.path.join(out, op["name"])), visible,
                                       i["lo"], i["hi"], 5)
        info["ann_hits"] += hits
        info["ann_total"] += total
        if cause:
            fails.append((op["name"], cause))
    return fails, info
