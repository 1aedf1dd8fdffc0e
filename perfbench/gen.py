"""Seeded input generators for the benchmark workloads.

Every generator takes the seed as an argument and writes only files; the
engine under test receives nothing but those files. Each returns a dict of
input facts (rows, bytes, files, planted rates) recorded beside the metrics,
plus the private facts the reference checks need (planted pairs).
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _dir_size(root):
    n_files, n_bytes = 0, 0
    for d, _, files in os.walk(root):
        for f in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(d, f))
    return n_files, n_bytes


def _write(t, path):
    pq.write_table(t, path)


# ---------------------------------------------------------------------------
# sparkify_etl: song JSON (one song per file, A/B/C/TR*.json like the
# Million Song subset) and 30 daily NDJSON event logs for November 2018.
# ---------------------------------------------------------------------------

SPARKIFY = dict(
    artists=20,          # distinct artist_id
    years_per_artist=3,  # distinct release years per artist
    songs=80,            # distinct song_id
    dup_song_share=0.02,  # song records repeated in a second file
    users=96,
    events=12000,        # log lines over 30 days
    next_song_share=0.82,  # page == NextSong
    match_share=0.35,    # NextSong plays that hit the catalog exactly
)

_PAGES = ["Home", "Login", "Logout", "Settings", "Help", "About",
          "Upgrade", "Downgrade", "Save Settings", "Submit Upgrade"]
_AGENTS = [
    "Mozilla/5.0 (Windows NT 6.1; WOW64) AppleWebKit/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_9_4) Safari/537.77.4",
    "Mozilla/5.0 (X11; Linux x86_64; rv:31.0) Gecko/20100101 Firefox/31.0",
]
_CITIES = ["Atlanta-Sandy Springs-Roswell, GA", "Chicago-Naperville-Elgin, IL-IN-WI",
           "San Jose-Sunnyvale-Santa Clara, CA", "Lansing-East Lansing, MI",
           "Portland-South Portland, ME", "Tampa-St. Petersburg-Clearwater, FL"]
_SYL = ["ka", "lo", "mi", "ra", "ten", "vo", "shi", "an", "del", "mar",
        "qu", "zo", "ber", "ni", "pe", "sol", "tri", "ul", "wen", "yx"]


def _name(rng, parts):
    return "".join(rng.choice(_SYL, size=parts)).capitalize()


def gen_sparkify(out, seed, p=SPARKIFY):
    rng = np.random.default_rng(seed)
    # -- catalog: every artist releases in exactly `years_per_artist`
    # distinct years, and every (year, artist_id) cell holds >= 1 song, so
    # the songs table always has artists * years_per_artist partitions.
    artists = []
    for a in range(p["artists"]):
        years = rng.choice(np.arange(1960, 2011), size=p["years_per_artist"],
                           replace=False)
        has_geo = rng.random() < 0.6
        artists.append(dict(
            artist_id=f"AR{seed % 1000:03d}{a:05d}XYZ",
            artist_name=f"{_name(rng, 2)} {_name(rng, 2)}",
            artist_location=str(rng.choice(_CITIES)) if rng.random() < 0.8 else "",
            artist_latitude=round(float(rng.uniform(-60, 70)), 5) if has_geo else None,
            artist_longitude=round(float(rng.uniform(-150, 150)), 5) if has_geo else None,
            years=[int(y) for y in years]))
    cells = [(a, y) for a in range(p["artists"]) for y in artists[a]["years"]]
    cell_of = list(range(len(cells))) + list(
        rng.integers(0, len(cells), size=p["songs"] - len(cells)))
    songs = []
    for s, c in enumerate(cell_of):
        a, y = cells[c]
        art = artists[a]
        songs.append(dict(
            num_songs=1, artist_id=art["artist_id"],
            artist_latitude=art["artist_latitude"],
            artist_longitude=art["artist_longitude"],
            artist_location=art["artist_location"],
            artist_name=art["artist_name"],
            song_id=f"SO{seed % 1000:03d}{s:06d}AB",
            title=f"{_name(rng, 3)} {_name(rng, 2)}",
            duration=round(float(rng.uniform(90, 420)), 5),
            year=y))
    n_dup = int(round(p["songs"] * p["dup_song_share"]))
    dups = [songs[i] for i in rng.choice(len(songs), size=n_dup, replace=False)]
    song_root = os.path.join(out, "song_data")
    for i, rec in enumerate(songs + dups):
        tr = f"TR{chr(65 + i % 26)}{chr(65 + (i // 26) % 26)}{i:08d}"
        d = os.path.join(song_root, tr[2], tr[3], tr[4])
        os.makedirs(d, exist_ok=True)
        with open(os.path.join(d, tr + ".json"), "w") as f:
            json.dump(rec, f)

    # -- users: level flips free -> paid (or back) at a random time for
    # about a third of them, so "latest level" is observable.
    users = []
    for u in range(p["users"]):
        flip = rng.random() < 0.35
        users.append(dict(
            userId=str(u + 2), firstName=_name(rng, 2), lastName=_name(rng, 3),
            gender=str(rng.choice(["M", "F"])),
            location=str(rng.choice(_CITIES)),
            userAgent=str(rng.choice(_AGENTS)),
            registration=float(1540000000000 + int(rng.integers(0, 10**9))),
            level0=str(rng.choice(["free", "paid"])),
            flip_day=int(rng.integers(1, 31)) if flip else 99))

    # -- events: ts strictly increasing (unique) over Nov 2018, grouped
    # into sessions of consecutive items per user.
    start = 1541030400000  # 2018-11-01T00:00:00Z
    span = 30 * 86400000
    ts_all = np.sort(rng.choice(span, size=p["events"], replace=False)) + start
    log_root = os.path.join(out, "log_data", "2018", "11")
    os.makedirs(log_root, exist_ok=True)
    per_day = [[] for _ in range(30)]
    sess_of_user, item_of_user, next_session = {}, {}, 1
    n_next = n_match = 0
    for ts in ts_all:
        ts = int(ts)
        day = (ts - start) // 86400000
        u = users[int(rng.integers(0, len(users)))]
        if rng.random() < 0.08 or u["userId"] not in sess_of_user:
            sess_of_user[u["userId"]] = next_session
            item_of_user[u["userId"]] = 0
            next_session += 1
        item = item_of_user[u["userId"]]
        item_of_user[u["userId"]] = item + 1
        level = u["level0"]
        if day + 1 >= u["flip_day"]:
            level = "paid" if level == "free" else "free"
        ev = dict(artist=None, auth="Logged In", firstName=u["firstName"],
                  gender=u["gender"], itemInSession=item,
                  lastName=u["lastName"], length=None, level=level,
                  location=u["location"], method="PUT", page="NextSong",
                  registration=u["registration"],
                  sessionId=sess_of_user[u["userId"]], song=None, status=200,
                  ts=ts, userAgent=u["userAgent"], userId=u["userId"])
        if rng.random() < p["next_song_share"]:
            n_next += 1
            if rng.random() < p["match_share"]:
                s = songs[int(rng.integers(0, len(songs)))]
                ev.update(artist=s["artist_name"], song=s["title"],
                          length=s["duration"])
                n_match += 1
            else:
                ev.update(artist=f"{_name(rng, 2)} {_name(rng, 2)}",
                          song=f"{_name(rng, 3)} {_name(rng, 2)}",
                          length=round(float(rng.uniform(90, 420)), 5))
        else:
            ev.update(page=str(rng.choice(_PAGES)), method="GET")
            if rng.random() < 0.3:  # logged-out visitors carry no user
                ev.update(auth="Logged Out", userId="", firstName=None,
                          lastName=None, gender=None, location=None,
                          userAgent=None, registration=None, level="free")
        per_day[day].append(ev)
    for d, evs in enumerate(per_day):
        with open(os.path.join(log_root, f"2018-11-{d + 1:02d}-events.json"), "w") as f:
            for ev in evs:
                f.write(json.dumps(ev) + "\n")

    s_files, s_bytes = _dir_size(song_root)
    l_files, l_bytes = _dir_size(os.path.join(out, "log_data"))
    return {
        "rows": len(songs) + n_dup + p["events"],
        "song_records": len(songs) + n_dup, "distinct_songs": len(songs),
        "events": p["events"], "next_song_events": n_next,
        "matched_plays": n_match,
        "match_share": round(n_match / max(n_next, 1), 4),
        "dup_song_rate": round(n_dup / len(songs), 4),
        "files": s_files + l_files, "bytes": s_bytes + l_bytes,
        "song_files": s_files, "log_files": l_files,
        "year_artist_partitions": len(cells),
        "song_glob": "song_data/*/*/*/*.json",
        "log_glob": "log_data/*/*/*.json",
    }


# ---------------------------------------------------------------------------
# corpus_dedup: the documents and embeddings tables in the distribution
# family of tools/gen_sf1.py. Word frequencies, words per document, and the
# lang, source and embedding-label mixes are the marginals measured from the
# engine's sf0.1 documents (5,000 docs) and embeddings (2,000 vectors)
# tables, stored here so the generator needs no input data.
# ---------------------------------------------------------------------------

WORD_COUNTS = {
    "a": 8877, "agg": 8912, "batch": 8829, "big": 9057, "column": 9127,
    "customer": 9017, "data": 9104, "dup": 255, "fast": 8926, "filter": 9063,
    "group": 9040, "hash": 9024, "join": 9080, "key": 8893, "line": 8951,
    "merge": 9157, "order": 8971, "part": 8929, "query": 8881, "row": 8925,
    "scan": 8863, "slow": 8960, "small": 9100, "sort": 9005, "spark": 9182,
    "stream": 9117, "table": 9144, "the": 8925, "value": 9112,
    "vector": 9119, "window": 9159}
# documents with 10, 11, ..., 100 words
LENGTH_COUNTS = [
    51, 49, 59, 48, 62, 40, 53, 65, 55, 60, 45, 71, 51, 53, 60, 70, 50, 56,
    64, 55, 59, 40, 56, 48, 61, 54, 51, 60, 59, 65, 65, 70, 55, 63, 63, 59,
    58, 55, 61, 43, 61, 42, 59, 50, 50, 52, 56, 67, 66, 50, 52, 41, 55, 54,
    60, 54, 60, 65, 62, 51, 57, 61, 62, 51, 62, 50, 42, 67, 47, 58, 90, 48,
    54, 45, 49, 55, 55, 55, 54, 56, 56, 44, 58, 56, 52, 38, 45, 54, 48, 58, 4]
MIN_LENGTH = 10
LANG_COUNTS = {"de": 702, "en": 2059, "es": 744, "fr": 742, "zh": 753}
SOURCE_COUNTS = {f"src{k}": 250 for k in range(20)}
LABEL_COUNTS = [199, 182, 218, 201, 196, 189, 194, 211, 218, 192]

# dup_every: one exact and one near duplicate per this many documents
# (0.4% each, the 8 groups per 5,000 docs measured at sf0.1)
CORPUS = dict(docs=750, dup_every=250, dims=64, probe_pairs=10000)


def shingles(text, n=5):
    """Distinct character n-grams; the whole text if shorter than n."""
    if len(text) < n:
        return {text}
    return {text[i:i + n] for i in range(len(text) - n + 1)}


def jaccard(a, b):
    sa, sb = shingles(a), shingles(b)
    inter = len(sa & sb)
    return inter / (len(sa) + len(sb) - inter)


def _weights(counts):
    w = np.asarray(counts, dtype=np.float64)
    return w / w.sum()


def gen_corpus(out, seed, p=CORPUS):
    rng = np.random.default_rng(seed)
    os.makedirs(out, exist_ok=True)
    vocab = np.array(sorted(WORD_COUNTS))
    wts = _weights([WORD_COUNTS[w] for w in vocab])
    n = p["docs"]
    lengths = MIN_LENGTH + rng.choice(len(LENGTH_COUNTS), size=n,
                                      p=_weights(LENGTH_COUNTS))
    texts = [" ".join(rng.choice(vocab, size=int(k), p=wts)) for k in lengths]
    langs = list(rng.choice(sorted(LANG_COUNTS), size=n,
                            p=_weights([LANG_COUNTS[k] for k in sorted(LANG_COUNTS)])))
    srcs = sorted(SOURCE_COUNTS)
    sources = list(rng.choice(srcs, size=n, p=_weights([SOURCE_COUNTS[k] for k in srcs])))
    # the last n_exact docs are exact copies of earlier ones, the n_near
    # before them copies with len/20 words (at least one) redrawn
    n_exact = n_near = n // p["dup_every"]
    pool = n - n_exact - n_near
    planted = []
    for j in range(n_exact):
        i, src = n - 1 - j, int(rng.integers(0, pool))
        texts[i], langs[i], sources[i] = texts[src], langs[src], sources[src]
        planted.append((src, i, "exact"))
    for j in range(n_near):
        i, src = n - n_exact - 1 - j, int(rng.integers(0, pool))
        ws = texts[src].split(" ")
        for _ in range(max(1, len(ws) // 20)):
            ws[int(rng.integers(0, len(ws)))] = str(rng.choice(vocab, p=wts))
        texts[i], langs[i], sources[i] = " ".join(ws), langs[src], sources[src]
        planted.append((src, i, "near"))
    _write(pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts, "lang": langs, "source": sources,
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        f"{out}/documents.parquet")
    # one isotropic unit vector per document (vec_id = doc_id), drawn
    # independently of the text
    vecs = rng.standard_normal((n, p["dims"])).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    labels = rng.choice(len(LABEL_COUNTS), size=n, p=_weights(LABEL_COUNTS))
    _write(pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        f"{out}/embeddings.parquet")
    m = p["probe_pairs"]
    a = rng.integers(0, n, m)
    b = rng.integers(0, n, m)
    keep = a != b
    _write(pa.table({"id_a": pa.array(a[keep], pa.int64()),
                     "id_b": pa.array(b[keep], pa.int64())}),
           f"{out}/probe_pairs.parquet")
    files, nbytes = _dir_size(out)
    return {"rows": 2 * n, "docs": n, "vectors": n,
            "probe_pairs": int(keep.sum()),
            "exact_dup_rate": n_exact / n, "near_dup_rate": n_near / n,
            "files": files, "bytes": nbytes,
            "planted": [[int(x), int(y), k] for x, y, k in planted]}


GENERATORS = {"sparkify_etl": gen_sparkify, "corpus_dedup": gen_corpus}
