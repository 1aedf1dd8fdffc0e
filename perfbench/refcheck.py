"""Independent reference checks of the engine's outputs.

Each check function returns a list of (name, ok, detail). The references
are computed here, from the generated inputs, with DuckDB and NumPy; the
engine's outputs are read from the files it wrote.
"""
import glob
import hashlib
import json
import os

import duckdb
import numpy as np
import pandas as pd

import gen


def _duckdb():
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    return con

# ---------------------------------------------------------------------------
# sparkify_etl: the five star-schema tables recomputed from the JSON
# ---------------------------------------------------------------------------

_SONG_COLS = ("{song_id:'VARCHAR', title:'VARCHAR', artist_id:'VARCHAR', "
              "artist_name:'VARCHAR', artist_location:'VARCHAR', "
              "artist_latitude:'DOUBLE', artist_longitude:'DOUBLE', "
              "duration:'DOUBLE', num_songs:'INTEGER', year:'INTEGER'}")
_LOG_COLS = ("{artist:'VARCHAR', auth:'VARCHAR', firstName:'VARCHAR', "
             "gender:'VARCHAR', itemInSession:'BIGINT', lastName:'VARCHAR', "
             "length:'DOUBLE', level:'VARCHAR', location:'VARCHAR', "
             "method:'VARCHAR', page:'VARCHAR', registration:'DOUBLE', "
             "sessionId:'BIGINT', song:'VARCHAR', status:'BIGINT', ts:'BIGINT', "
             "userAgent:'VARCHAR', userId:'VARCHAR'}")

# per table: the reference query, and the canonical columns both sides are
# digested over (every value cast to text, timestamps as epoch millis)
_ETL_REF = {
    "songs": ("""SELECT song_id, title, artist_id, year, duration FROM (
                   SELECT *, row_number() OVER (PARTITION BY song_id ORDER BY title) rn
                   FROM song) WHERE rn = 1""",
              ["song_id", "title", "artist_id", "year", "duration"]),
    "artists": ("""SELECT artist_id, artist_name, artist_location, artist_latitude,
                          artist_longitude FROM (
                     SELECT *, row_number() OVER (PARTITION BY artist_id
                                                  ORDER BY artist_name) rn
                     FROM song) WHERE rn = 1""",
                ["artist_id", "artist_name", "artist_location", "artist_latitude",
                 "artist_longitude"]),
    "users": ("""SELECT userId AS user_id, firstName AS first_name,
                        lastName AS last_name, gender, level FROM (
                   SELECT *, row_number() OVER (PARTITION BY userId
                     ORDER BY ts DESC, sessionId DESC, itemInSession DESC) rn
                   FROM plays) WHERE rn = 1""",
              ["user_id", "first_name", "last_name", "gender", "level"]),
    "time": ("""SELECT DISTINCT ts, ts AS start_time, hour(t) AS hour, day(t) AS day,
                       weekofyear(t) AS week, month(t) AS month, year(t) AS year,
                       dayofweek(t) + 1 AS weekday
                FROM (SELECT ts, make_timestamp(ts * 1000) AS t FROM plays)""",
             ["ts", "start_time", "hour", "day", "week", "month", "year", "weekday"]),
    "songplays": ("""SELECT row_number() OVER (ORDER BY p.ts, p.sessionId,
                              p.itemInSession) AS songplay_id,
                            p.ts AS start_time, year(make_timestamp(p.ts * 1000)) AS year,
                            month(make_timestamp(p.ts * 1000)) AS month,
                            p.userId AS user_id, p.level, s.song_id, s.artist_id,
                            p.sessionId AS session_id, p.location,
                            p.userAgent AS user_agent
                     FROM plays p JOIN song s ON p.song = s.title
                      AND p.length = s.duration AND p.artist = s.artist_name""",
                  ["songplay_id", "start_time", "year", "month", "user_id", "level",
                   "song_id", "artist_id", "session_id", "location", "user_agent"]),
}
_TS_COLS = {"start_time"}


def _digest_sql(cols, ts_from_parquet):
    parts = []
    for c in cols:
        if c in _TS_COLS and ts_from_parquet:
            parts.append(f"CAST(epoch_ms({c}) AS VARCHAR)")
        else:
            parts.append(f"CAST({c} AS VARCHAR)")
    return f"count(*) AS n, sum(hash({', '.join(parts)})) AS h"


def check_etl(inputs, out_root):
    con = _duckdb()
    con.execute(f"""CREATE TABLE song AS SELECT * FROM read_json(
        '{inputs}/song_data/*/*/*/*.json', format='newline_delimited',
        columns={_SONG_COLS})""")
    con.execute(f"""CREATE TABLE plays AS SELECT * FROM read_json(
        '{inputs}/log_data/*/*/*.json', format='newline_delimited',
        columns={_LOG_COLS}) WHERE page = 'NextSong'""")
    passes = sorted(os.path.basename(p) for p in glob.glob(f"{out_root}/*"))
    results = []
    if not passes:
        return [("etl.outputs", False, f"no pass output under {out_root}")]
    for table, (sql, cols) in _ETL_REF.items():
        want = con.execute(f"SELECT {_digest_sql(cols, False)} FROM ({sql})").fetchone()
        got = dict(((r[0], (r[1], r[2])) for r in con.execute(f"""
            SELECT regexp_extract(filename, '/([pw][0-9]+)/{table}/', 1) AS pass,
                   {_digest_sql(cols, True)}
            FROM read_parquet('{out_root}/*/{table}/**/*.parquet',
                              hive_partitioning = 1, hive_types_autocast = 0,
                              filename = 1)
            GROUP BY 1""").fetchall()))
        for p in passes:
            g = got.get(p)
            results.append((f"{p}.{table}", g == want,
                            f"got (rows, hash) {g}, reference {want}"))
    # songplays -> songs foreign key, and every user's level is their latest
    for p in passes:
        orphans = con.execute(f"""
            SELECT count(*) FROM read_parquet('{out_root}/{p}/songplays/**/*.parquet',
                                              hive_partitioning = 1) sp
            WHERE sp.song_id NOT IN (SELECT song_id FROM read_parquet(
                '{out_root}/{p}/songs/**/*.parquet', hive_partitioning = 1))""").fetchone()[0]
        results.append((f"{p}.songplays_fk", orphans == 0, f"{orphans} orphan song_ids"))
        stale = con.execute(f"""
            SELECT count(*) FROM read_parquet('{out_root}/{p}/users/*.parquet') u
            JOIN (SELECT userId, level AS lvl FROM (
                    SELECT *, row_number() OVER (PARTITION BY userId
                      ORDER BY ts DESC, sessionId DESC, itemInSession DESC) rn
                    FROM plays) WHERE rn = 1) r ON u.user_id = r.userId
            WHERE u.level <> r.lvl""").fetchone()[0]
        results.append((f"{p}.users_latest_level", stale == 0, f"{stale} stale levels"))
    return results


# ---------------------------------------------------------------------------
# corpus_dedup: MinHash signatures, bands, candidates and verified pairs
# restated in Python from their definitions; clusters by union-find; the
# streamed near-dup index against DuckDB running the engine's q131 oracle
# SQL; exact cosines and top-k against NumPy
# ---------------------------------------------------------------------------

HASH_P = 2147483647
_M64 = (1 << 64) - 1


def _splitmix64(seed):
    z = (seed + 0x9E3779B97F4A7C15) & _M64
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & _M64
    return z ^ (z >> 31)


def _signed(z):
    return z - (1 << 64) if z >= 1 << 63 else z


def hash_coeffs(k):
    """The k (a, b) pairs of h_i(x) = (a x + b) mod p, a in [1, p-1]."""
    return [(_signed(_splitmix64(2 * i)) % (HASH_P - 1) + 1,
             _signed(_splitmix64(2 * i + 1)) % HASH_P) for i in range(k)]


def minhash(shingle_set, coeffs):
    xs = np.array([int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % HASH_P
                   for s in sorted(shingle_set)], dtype=np.int64)
    a = np.array([c[0] for c in coeffs], dtype=np.int64)[:, None]
    b = np.array([c[1] for c in coeffs], dtype=np.int64)[:, None]
    return ((a * xs[None, :] + b) % HASH_P).min(axis=1)


def band_keys(sig, bands, rows):
    return [hashlib.md5(",".join(str(int(v)) for v in sig[b * rows:(b + 1) * rows])
                        .encode()).hexdigest() for b in range(bands)]


def _pair_set(df, a="id_a", b="id_b"):
    return set(zip(df[a].astype(int), df[b].astype(int)))


def _diff(got, want):
    return f"{len(got - want)} extra, {len(want - got)} missing: " \
           f"{sorted(got ^ want)[:3]}"


def check_neardup(inputs, export, planted, p):
    """The batch MinHash/LSH pipeline step by step, and the stream."""
    results = []
    docs = pd.read_parquet(f"{inputs}/documents.parquet").set_index("doc_id").text
    sets = {int(d): gen.shingles(t, p["shingle"]) for d, t in docs.items()}
    coeffs = hash_coeffs(p["k"])
    sigs = {d: minhash(s, coeffs) for d, s in sets.items()}

    got = pd.read_parquet(f"{export}/ops.neardup.sign")
    got_sigs = {int(d): np.asarray(s, dtype=np.int64) for d, s in zip(got.doc_id, got.sig)}
    off = [d for d in sigs if d not in got_sigs or not np.array_equal(got_sigs[d], sigs[d])]
    results.append(("neardup.sign", not off and len(got_sigs) == len(sigs),
                    f"{len(off)} of {len(sigs)} signatures differ, {len(got_sigs)} rows"))

    want_bands = {(d, b, key) for d, s in sigs.items()
                  for b, key in enumerate(band_keys(s, p["bands"], p["rows"]))}
    got = pd.read_parquet(f"{export}/ops.neardup.band")
    got_bands = set(zip(got.doc_id.astype(int), got.band.astype(int), got.band_key))
    results.append(("neardup.band", got_bands == want_bands and len(got) == len(want_bands),
                    f"{len(got_bands ^ want_bands)} band rows differ, {len(got)} rows"))

    by_key = {}
    for d, b, key in want_bands:
        by_key.setdefault((b, key), []).append(d)
    want_cand = {(x, y) for ds in by_key.values() for x in ds for y in ds if x < y}
    got = pd.read_parquet(f"{export}/ops.neardup.candidates")
    results.append(("neardup.candidates", _pair_set(got) == want_cand and len(got) == len(want_cand),
                    _diff(_pair_set(got), want_cand)))

    exact = {}
    for x, y in want_cand:
        sa, sb = sets[x], sets[y]
        inter = len(sa & sb)
        exact[(x, y)] = inter / (len(sa) + len(sb) - inter)
    want_pairs = {xy for xy, j in exact.items() if j >= p["min_jaccard"]}
    got = pd.read_parquet(f"{export}/ops.neardup.verify")
    found = _pair_set(got)
    results.append(("neardup.verify", found == want_pairs and len(got) == len(want_pairs),
                    _diff(found, want_pairs)))
    wrong = [(a, b, j) for a, b, j in zip(got.id_a, got.id_b, got.jaccard)
             if exact.get((a, b)) != j]
    results.append(("neardup.jaccard_exact", not wrong, f"{len(wrong)} pairs off: {wrong[:3]}"))
    # a planted exact copy collides in every band; a near copy this
    # similar is missed by 16 bands of 4 rows with probability < 1e-5
    missing = [(a, b, k) for a, b, k in planted
               if exact.get((min(a, b), max(a, b)), gen.jaccard(docs[a], docs[b])) >= 0.85
               and (min(a, b), max(a, b)) not in found]
    results.append(("neardup.planted_found", not missing,
                    f"{len(missing)} of {len(planted)} planted pairs missing: {missing}"))

    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in want_pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in list(parent)}
    cl = pd.read_parquet(f"{export}/ops.clusters")
    got = dict(zip(cl.node.astype(int), cl.cluster_rep.astype(int)))
    results.append(("clusters.components", got == want,
                    f"{sum(got.get(n) != r for n, r in want.items())} nodes differ"
                    f", {len(got)} vs {len(want)} nodes"))

    con = _duckdb()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{inputs}/documents.parquet'")
    want = con.execute(open(f"{export}/q131.sql").read()).fetchall()
    got = pd.read_parquet(f"{export}/streaming.neardup_index").sort_values("doc_id")
    got = [(int(d), int(o)) for d, o in zip(got.doc_id, got.dup_of)]
    want = [(int(d), int(o)) for d, o in want]
    results.append(("streaming.neardup_index", got == want,
                    f"{len(set(got) ^ set(want))} verdicts differ, {len(got)} vs {len(want)}"))
    return results


def _quantized(inputs):
    emb = pd.read_parquet(f"{inputs}/embeddings.parquet").sort_values("vec_id")
    x = np.stack(emb.embedding.values).astype(np.float64)
    qv = np.floor(x * 10000.0 + 0.5).astype(np.int64)
    return emb.vec_id.values, qv, np.einsum("ij,ij->i", qv, qv)


def _cos(qv, qn, a, b):
    dot = np.einsum("ij,ij->i", qv[a], qv[b]).astype(np.float64)
    return dot / (np.sqrt(qn[a].astype(np.float64)) * np.sqrt(qn[b].astype(np.float64)))


def check_corpus(inputs, export, planted):
    with open(f"{export}/params.json") as f:
        p = json.load(f)
    results = check_neardup(inputs, export, planted, p)
    ids, qv, qn = _quantized(inputs)
    assert (ids == np.arange(len(ids))).all()
    for name in ("ops.similarity.topk", "topk_exact"):
        t = pd.read_parquet(f"{export}/{name}")
        sims = _cos(qv, qn, t.query_id.values, t.neighbor_id.values)
        off = int(np.sum(sims != t.sim.values))
        results.append((f"{name}.sims_exact", off == 0, f"{off} sims differ"))
    # the recall reference itself against a NumPy brute force
    full = (qv @ qv.T).astype(np.float64) / np.outer(np.sqrt(qn.astype(np.float64)),
                                                      np.sqrt(qn.astype(np.float64)))
    np.fill_diagonal(full, -np.inf)
    order = np.lexsort((np.broadcast_to(np.arange(len(ids)), full.shape), -full), axis=1)
    exact = pd.read_parquet(f"{export}/topk_exact")
    got = set(zip(exact.query_id, exact.neighbor_id))
    want = {(q, int(n)) for q in range(len(ids)) for n in order[q, :p["top_k"]]}
    results.append(("topk_exact.neighbors", got == want,
                    f"{len(got ^ want)} neighbor rows differ"))

    cos = pd.read_parquet(f"{export}/expressions.cosine")
    sims = _cos(qv, qn, cos.id_a.values, cos.id_b.values)
    probe = pd.read_parquet(f"{inputs}/probe_pairs.parquet")
    off = int(np.sum(sims != cos.sim.values))
    results.append(("cosine.exact", off == 0 and len(cos) == len(probe),
                    f"{off} sims differ, {len(cos)} of {len(probe)} pairs"))
    return results


def check(workload, inputs, work, facts):
    if workload == "sparkify_etl":
        return check_etl(inputs, f"{work}/out")
    return check_corpus(inputs, f"{work}/export", facts["planted"])

