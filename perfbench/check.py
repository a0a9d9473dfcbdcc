"""Output checks, run after the JVM exits and outside every timed region.

Each check returns a list of (op name, problem) pairs; an empty list
means every checked output is correct.
"""
import glob
import hashlib
import json
import math
import os
import pickle

import duckdb
import numpy as np
import pandas as pd


def _read(path):
    return duckdb.connect().execute(f"SELECT * FROM read_parquet('{path}')").fetchdf()


# ------------------------------------------------------------------ query_mix
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _same(exp, got):
    """Exact comparison after sorting columns by name and rows by value,
    the rule the registry's oracle gate uses."""
    exp = exp[sorted(exp.columns)]
    got = got[sorted(got.columns)]
    if list(exp.columns) != list(got.columns):
        return f"columns {list(exp.columns)} != {list(got.columns)}"
    if len(exp) != len(got):
        return f"rows {len(exp)} != {len(got)}"
    exp = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    got = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    for c in exp.columns:
        for i, (a, b) in enumerate(zip(exp[c].tolist(), got[c].tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if (math.isnan(a) and math.isnan(b)) or a == b:
                    continue
                return f"{c}[{i}]: {a!r} != {b!r}"
            if str(a) != str(b):
                return f"{c}[{i}]: {a!r} != {b!r}"
    return None


def query_mix(data, check_dir, cache_dir, seed):
    oracle = json.load(open(f"{check_dir}/oracle_sql.json"))
    digest = hashlib.sha256()
    for t in TABLES:
        digest.update(open(f"{data}/{t}.parquet", "rb").read())
    data_key = digest.hexdigest()
    os.makedirs(cache_dir, exist_ok=True)
    con = None
    problems = []
    for name, sql in sorted(oracle.items()):
        key = hashlib.sha256((data_key + sql).encode()).hexdigest()[:24]
        cached = f"{cache_dir}/{name}-{key}.pkl"
        if os.path.exists(cached):
            exp = pickle.load(open(cached, "rb"))
        else:
            if con is None:
                con = duckdb.connect()
                con.execute("SET threads TO 4")
                for t in TABLES:
                    con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
            try:
                exp = con.execute(sql).fetchdf()
            except Exception as e:  # an oracle that fails is a failed check
                problems.append((name, f"oracle error: {e}"))
                continue
            with open(cached + ".tmp", "wb") as f:
                pickle.dump(exp, f)
            os.replace(cached + ".tmp", cached)
        if not glob.glob(f"{check_dir}/{name}/*.parquet"):
            problems.append((name, "no output"))
            continue
        why = _same(exp, _read(f"{check_dir}/{name}/*.parquet"))
        if why:
            problems.append((name, why))
    return problems


# --------------------------------------------------------------- geo_features
def _edge_term(ax, ay, bx, by, r):
    """Green's-theorem term of one polygon edge for disk∩polygon area
    (vertices relative to the disk centre)."""
    dx, dy = bx - ax, by - ay
    aa = dx * dx + dy * dy
    if aa == 0.0:
        return 0.0
    bb = 2.0 * (ax * dx + ay * dy)
    cc = ax * ax + ay * ay - r * r
    disc = bb * bb - 4.0 * aa * cc
    sector = r * r / 2.0 * math.atan2(ax * by - ay * bx, ax * bx + ay * by)
    if disc <= 0.0:
        return sector
    sq = math.sqrt(disc)
    t1, t2 = (-bb - sq) / (2.0 * aa), (-bb + sq) / (2.0 * aa)
    if t2 <= 0.0 or t1 >= 1.0:
        return sector
    lo, hi = max(t1, 0.0), min(t2, 1.0)
    p1x, p1y = ax + lo * dx, ay + lo * dy
    p2x, p2y = ax + hi * dx, ay + hi * dy
    term = (p1x * p2y - p1y * p2x) / 2.0
    if lo > 0.0:
        term += r * r / 2.0 * math.atan2(ax * p1y - ay * p1x, ax * p1x + ay * p1y)
    if hi < 1.0:
        term += r * r / 2.0 * math.atan2(p2x * by - p2y * bx, p2x * bx + p2y * by)
    return term


def _disk_poly_area(cx, cy, r, xs, ys):
    n = len(xs)
    return abs(sum(_edge_term(xs[j] - cx, ys[j] - cy, xs[i] - cx, ys[i] - cy, r)
                   for i, j in zip(range(n), [n - 1] + list(range(n - 1)))))


def geo_features(data, check_dir, cache_dir, seed, sample=25):
    """Brute force over every feature for a seeded sample of ids."""
    out = _read(f"{check_dir}/geo_features/*.parquet").set_index("id")
    pts = _read(f"{data}/points.parquet")
    problems = []
    if len(out) != len(pts) or not out.index.is_unique:
        return [("geo_features", f"{len(out)} rows for {len(pts)} points")]
    sites, bus = _read(f"{data}/sites.parquet"), _read(f"{data}/bus_stops.parquet")
    roads, elev = _read(f"{data}/roads.parquet"), _read(f"{data}/elevation.parquet")
    polys = _read(f"{data}/landuse.parquet")
    rng = np.random.default_rng([seed, 9])
    ids = rng.choice(pts["id"].to_numpy(), size=min(sample, len(pts)), replace=False)
    pts = pts.set_index("id")

    def d2(df, x, y):
        return (x - df["x"].to_numpy()) ** 2 + (y - df["y"].to_numpy()) ** 2

    def expect(col, want, got, tol):
        if want is None or (isinstance(want, float) and math.isnan(want)):
            if not (got is None or (isinstance(got, float) and math.isnan(got))):
                problems.append(("geo_features", f"id {i} {col}: want NULL, got {got}"))
        elif got is None or not abs(got - want) <= tol * max(1.0, abs(want)):
            problems.append(("geo_features", f"id {i} {col}: want {want}, got {got}"))

    for i in ids:
        x, y = pts.at[i, "x"], pts.at[i, "y"]
        row = out.loc[i]
        expect("TM_X", x, row["TM_X"], 0.0)
        expect("TM_Y", y, row["TM_Y"], 0.0)
        if not (124 < row["WGS_X"] < 132 and 33 < row["WGS_Y"] < 39):
            problems.append(("geo_features", f"id {i}: WGS84 {row['WGS_X']}, {row['WGS_Y']}"))
        expect("D_Site", float(np.sqrt(d2(sites, x, y).min())), row["D_Site"], 1e-12)
        expect("D_Bus", float(np.sqrt(d2(bus, x, y).min())), row["D_Bus"], 1e-12)
        rd = d2(roads, x, y)
        w, ln, wd = (roads[c].to_numpy() for c in ("weight", "lanes", "width"))
        for r in (100.0, 300.0, 500.0):
            m = rd < r * r
            rr = f"{int(r):04d}"
            expect(f"Road_L_{rr}", float(w[m].sum()), row[f"Road_L_{rr}"], 1e-12)
            expect(f"Road_LL_{rr}", float((w * ln)[m].sum()), row[f"Road_LL_{rr}"], 1e-12)
            expect(f"Road_LLW_{rr}", float((w * ln * wd)[m].sum()), row[f"Road_LLW_{rr}"], 1e-12)
            for c in range(5):
                a = float(roads["area"].to_numpy()[m & (roads["code"].to_numpy() == c)].sum())
                expect(f"LS{c}_{rr}_a", a, row[f"LS{c}_{rr}_a"], 1e-12)
                expect(f"LS{c}_{rr}_p", a / (math.pi * r * r), row[f"LS{c}_{rr}_p"], 1e-12)
        ed = d2(elev, x, y)
        ev = elev["elev"].to_numpy()
        near = ed < 150.0 ** 2
        ref = float(ev[near].sum() / near.sum()) if near.any() else None
        expect("Alt_k_ref", ref, row["Alt_k_ref"], 1e-12)
        for r in (300.0, 600.0):
            ring = (ed >= r * r) & (ed < (r + 90.0) ** 2)
            for name, cond in (("above20", ev - ref > 20.0), ("below20", ev - ref < -20.0),
                               ("above50", ev - ref > 50.0), ("below50", ev - ref < -50.0)):
                want = float((ring & cond).sum() / ring.sum()) if ring.any() else None
                expect(f"Alt_k_{name}_{int(r)}", want, row[f"Alt_k_{name}_{int(r)}"], 1e-12)
        for r in (100.0, 300.0):
            total, n = 0.0, 0
            for xs, ys in zip(polys["xs"], polys["ys"]):
                if (xs[0] - x) ** 2 + (ys[0] - y) ** 2 < (r + 430.0) ** 2:
                    # Spark sums each pair's area rounded to the centimetre
                    total += float(round(_disk_poly_area(x, y, r, list(xs), list(ys)), 2))
                    n += 1
            rr = f"{int(r):04d}"
            got = row[f"AreaX_{rr}"]
            if not abs(got - total) <= 0.01 * n + 1e-6:
                problems.append(("geo_features", f"id {i} AreaX_{rr}: want {total}, got {got}"))
    return problems


# -------------------------------------------------------------- corpus_curate
def corpus_curate(data, check_dir, cache_dir, seed, shard_tokens=5000):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW g AS SELECT * FROM '{check_dir}/after_gopher/*.parquet'")
    con.execute(f"CREATE VIEW e AS SELECT * FROM '{check_dir}/after_dedup_exact/*.parquet'")
    con.execute(f"CREATE VIEW o AS SELECT * FROM '{check_dir}/corpus_curate/*.parquet'")
    problems = []

    def diff(label, want_sql, got_sql):
        n = con.execute(f"SELECT count(*) FROM (({want_sql}) EXCEPT ALL ({got_sql}) "
                        f"UNION ALL (({got_sql}) EXCEPT ALL ({want_sql})))").fetchone()[0]
        if n:
            problems.append(("corpus_curate", f"{label}: {n} rows differ from DuckDB"))

    # exact dedup keeps the smallest doc_id of every distinct text
    diff("dedupExact survivors",
         "SELECT min(doc_id) FROM g GROUP BY text", "SELECT doc_id FROM e")
    # every curated document survived exact dedup
    stray = con.execute("SELECT count(*) FROM o WHERE doc_id NOT IN (SELECT doc_id FROM e)").fetchone()[0]
    if stray:
        problems.append(("corpus_curate", f"{stray} curated documents were dropped by dedupExact"))
    # contiguous token-budget shards per source in doc_id order,
    # recomputed from the texts of the curated output
    packed = f"""
        SELECT source, shard, count(*) AS n_docs, sum(n_tok) AS tok_sum FROM (
          SELECT source, n_tok,
                 CAST(floor((sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tok)
                   / {float(shard_tokens)}) AS BIGINT) AS shard
          FROM (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tok FROM o))
        GROUP BY source, shard"""
    diff("per-shard token totals", packed,
         "SELECT source, shard, count(*), sum(_n_tok) FROM o GROUP BY source, shard")
    dups = con.execute("SELECT count(*) - count(DISTINCT text) FROM o").fetchone()[0]
    if dups:
        problems.append(("corpus_curate", f"{dups} exact duplicates survived"))
    return problems


CHECKS = {"geo_features": geo_features, "corpus_curate": corpus_curate,
          "query_mix": query_mix}
