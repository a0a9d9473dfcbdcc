"""Seeded input generators for the three workloads.

Every table is a pure function of (workload, seed): the same seed writes
byte-identical parquet. Sizes are set so that one warm op takes about a
few seconds on four cores; see README.md for the reasoning.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- geo_features
GEO = dict(
    points=3000,      # clustered address points (EPSG:5179)
    clusters=150,     # many small clusters: similar work for every seed
    extent=12000.0,   # side of the square study area, metres
    sites=40,         # airport/port-like sites: broadcast nearest
    bus_stops=1000,   # grid nearest
    roads=6000,       # road features with lanes/width/landuse code
    cell=90.0,        # elevation raster resolution, metres
    triangles=1000,   # landuse polygons
    tri_span=300,     # max vertex offset from the anchor vertex, metres
)
# EPSG:5179 origin of the study area (central Korea, inside the TM zone)
GEO_X0, GEO_Y0 = 950000.0, 1940000.0


def _write(path, cols):
    pq.write_table(pa.table(cols), path)


def geo(out, seed):
    g = GEO
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    ext = g["extent"]
    centers = rng.uniform(0.1 * ext, 0.9 * ext, size=(g["clusters"], 2))
    which = rng.integers(0, g["clusters"], g["points"])
    # whole-decimetre coordinates: exact in both engines
    pts = centers[which] + rng.normal(0.0, 400.0, size=(g["points"], 2))
    pts = np.round(np.clip(pts, 0.0, ext) * 10.0) / 10.0
    _write(f"{out}/points.parquet", {
        "id": np.arange(g["points"], dtype=np.int64),
        "x": GEO_X0 + pts[:, 0], "y": GEO_Y0 + pts[:, 1]})

    def uniform_xy(n):
        xy = np.round(rng.uniform(-0.05 * ext, 1.05 * ext, size=(n, 2)))
        return GEO_X0 + xy[:, 0], GEO_Y0 + xy[:, 1]

    x, y = uniform_xy(g["sites"])
    _write(f"{out}/sites.parquet", {"x": x, "y": y})
    x, y = uniform_xy(g["bus_stops"])
    _write(f"{out}/bus_stops.parquet", {"x": x, "y": y})

    n = g["roads"]
    x, y = uniform_xy(n)
    # integer-valued weights keep every buffer sum order-exact
    _write(f"{out}/roads.parquet", {
        "x": x, "y": y,
        "weight": rng.integers(10, 200, n).astype(np.float64),
        "lanes": rng.integers(1, 5, n).astype(np.float64),
        "width": rng.integers(3, 13, n).astype(np.float64),
        "code": rng.integers(0, 5, n).astype(np.int32),
        "area": rng.integers(10, 1000, n).astype(np.float64)})

    # elevation raster: smooth hills plus noise, integer metres
    c = g["cell"]
    k = int(ext // c) + 1
    gx, gy = np.meshgrid(np.arange(k) * c + c / 2, np.arange(k) * c + c / 2)
    gx, gy = gx.ravel(), gy.ravel()
    hills = rng.uniform(0, ext, size=(12, 2))
    elev = np.zeros_like(gx)
    for hx, hy in hills:
        elev += rng.uniform(40, 160) * np.exp(
            -((gx - hx) ** 2 + (gy - hy) ** 2) / (2 * rng.uniform(800, 2500) ** 2))
    elev = np.round(elev + rng.normal(0, 8, gx.size))
    _write(f"{out}/elevation.parquet", {
        "x": GEO_X0 + gx, "y": GEO_Y0 + gy, "elev": elev})

    n = g["triangles"]
    s = g["tri_span"]
    ax, ay = uniform_xy(n)
    off = rng.integers(-s, s + 1, size=(n, 4)).astype(np.float64)
    xs = np.stack([ax, ax + off[:, 0], ax + off[:, 1]], axis=1)
    ys = np.stack([ay, ay + off[:, 2], ay + off[:, 3]], axis=1)
    _write(f"{out}/landuse.parquet", {
        "poly_id": np.arange(n, dtype=np.int64),
        "xs": pa.array(list(xs), type=pa.list_(pa.float64())),
        "ys": pa.array(list(ys), type=pa.list_(pa.float64()))})


# --------------------------------------------------------------- corpus_curate
CORPUS = dict(
    docs=1000,
    vocab=6000,
    sources=20,
    langs=("en", "de", "fr"),
    dup_share=0.10,          # exact copies of an earlier document
    boilerplate_share=0.15,  # documents that carry a shared 60-token block
    boilerplate_tokens=60,
    junk_share=0.05,         # too short or symbol-heavy: filtered out
)
STOP_WORDS = ["the", "a", "of", "and", "to", "in"]


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < n:
        ln = int(rng.integers(3, 10))
        words.add("".join(rng.choice(letters, ln)))
    return sorted(words)


def corpus(out, seed):
    cfg = CORPUS
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out, exist_ok=True)
    vocab = np.array(_vocab(rng, cfg["vocab"]))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.1
    zipf /= zipf.sum()
    boiler = [" ".join(rng.choice(vocab, cfg["boilerplate_tokens"], p=zipf))
              for _ in range(5)]
    n = cfg["docs"]
    texts = []
    for i in range(n):
        u = rng.random()
        if i > 10 and u < cfg["dup_share"]:
            texts.append(texts[int(rng.integers(0, i))])
            continue
        ln = int(rng.integers(60, 400))
        toks = list(rng.choice(vocab, ln, p=zipf))
        # stop words at natural-language rates (gopher needs two)
        for j in range(0, ln, 7):
            toks[j] = STOP_WORDS[int(rng.integers(0, len(STOP_WORDS)))]
        if u > 1.0 - cfg["junk_share"]:
            toks = toks[:30] if rng.random() < 0.5 else ["#"] * (ln // 5) + toks
        elif u > 1.0 - cfg["junk_share"] - cfg["boilerplate_share"]:
            at = int(rng.integers(0, max(1, len(toks) - 10)))
            toks = toks[:at] + [boiler[int(rng.integers(0, 5))]] + toks[at:]
        texts.append(" ".join(toks))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [cfg["langs"][int(v)] for v in
                 rng.choice(len(cfg["langs"]), n, p=[0.6, 0.25, 0.15])],
        "source": [f"src{int(v)}" for v in rng.integers(0, cfg["sources"], n)]})


# ------------------------------------------------------------------- query_mix
# TPC-H-shaped star schema plus events/documents/embeddings, the table
# set every registry query reads. The data is FIXED (internal seed 42);
# the workload seed only orders the queries within each pass, so the
# DuckDB oracle results can be computed once per checkout.
TABLES_SEED = 42
TABLES_SF = 0.005
WORDS = ("join hash row batch scan column customer filter small slow merge "
         "order vector line table data agg value key stream window a spark "
         "part group big sort query fast the").split()


def tables(out, sf=TABLES_SF, seed=TABLES_SEED):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    k = sf / 0.01
    n_cust, n_supp, n_part = int(1500 * k), max(20, int(100 * k)), int(2000 * k)
    n_ord, n_li, n_ev = int(15000 * k), int(60000 * k), int(10000 * k)
    n_doc, n_emb = max(200, int(500 * k)), max(200, int(500 * k))
    day = np.datetime64("1995-01-01", "us")

    _write(f"{out}/region.parquet", {
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{out}/nation.parquet", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    cents = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n) * 100) / 100
    _write(f"{out}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": cents(-999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)})
    _write(f"{out}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": cents(-999.99, 9999.99, n_supp)})
    colors = ["red", "blue", "green", "small", "large", "black", "white", "steel"]
    things = ["ring", "widget", "bolt", "anvil", "gear", "valve", "pipe", "cog"]
    _write(f"{out}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{colors[int(a)]} {things[int(b)]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{int(v)}" for v in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)})
    _write(f"{out}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": cents(1000.0, 500000.0, n_ord),
        "o_orderdate": day + rng.integers(0, 2400, n_ord) * np.timedelta64(86400_000_000, "us"),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)})
    _write(f"{out}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": cents(900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": day + rng.integers(1, 2500, n_li) * np.timedelta64(86400_000_000, "us")})
    t0 = np.datetime64("2024-01-01", "us")
    _write(f"{out}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": t0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev)).astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(50, n_ev // 66), n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": cents(0.01, 490.0, n_ev),
        "props": [f'{{"k": {int(v)}}}' for v in rng.integers(0, 100, n_ev)]})
    texts = []
    for i in range(n_doc):
        toks = list(rng.choice(WORDS, int(rng.integers(10, 100))))
        if i % 20 == 19:
            toks[int(rng.integers(0, len(toks)))] = "dup"
        texts.append(" ".join(toks))
    _write(f"{out}/documents.parquet", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["de", "en", "en", "en", "es", "fr", "zh"], n_doc),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, size=(10, 64))
    v = centers[labels] + rng.normal(0, 0.8, size=(n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{out}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": labels.astype(np.int32)})


GENERATORS = {"geo_features": geo, "corpus_curate": corpus,
              "query_mix": lambda out, seed: tables(out)}
