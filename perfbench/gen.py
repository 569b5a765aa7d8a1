"""Seeded input generators for the benchmark workloads.

Every generator takes an integer seed and writes plain files; the same seed
gives byte-identical files, another seed gives different ones. The program
under test only ever sees these files.

- `etl_inputs`: users / songs / streams CSVs in the reference's shapes
  (FIXTURES.md): ~98% US users, Spotify-shaped songs with repeated track ids
  across genres, one day of plays split into shards, with orphan user and
  track ids and duplicate (user, track) plays inside one hour.
- `snapshot_ops`: the seed rows of a keyed table plus a seeded mix of
  commit batches (upserts with Zipf keys, change batches with deletes,
  merge-on-read batches, periodic compactions), one CSV row per change.
- `registry_tables`: the star-schema parquet tables the query registry
  reads (TESTDATA.md's schemas and row counts per scale factor), with the
  value domains of the repository's test tables.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

COUNTRIES = ["United States", "United Kingdom", "Canada", "Germany",
             "France", "Australia"]
# 48,979 / 50,000 users are US in the reference data
COUNTRY_P = [0.97958, 0.00612, 0.00500, 0.00330, 0.00300, 0.00300]
FIRST = ["Norma", "James", "Maria", "Chen", "Aisha", "Lucas", "Olga", "Ravi",
         "Emma", "Kofi", "Sofia", "Hiro", "Liam", "Zara", "Noah", "Ines"]
LAST = ["Fisher", "Smith", "Garcia", "Wang", "Khan", "Silva", "Ivanova",
        "Patel", "Brown", "Mensah", "Rossi", "Tanaka", "Murphy", "Ali"]
WORDS = ["love", "night", "fire", "blue", "rain", "dream", "heart", "gold",
         "road", "light", "ocean", "shadow", "summer", "echo", "river",
         "storm", "glass", "wild", "silver", "paper", "moon", "city", "home",
         "dust", "stone", "velvet", "neon", "honey", "ghost", "thunder"]
GENRES = [f"genre_{i:03d}" for i in range(114)]
B62 = np.frombuffer(
    b"0123456789ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz",
    dtype=np.uint8)
DAY = np.datetime64("2024-06-25T00:00:00", "s")

# reference-sized traffic (FIXTURES.md) and the bulk variant's multipliers
ETL_SCALES = {
    "small": dict(users=50_000, songs=114_000, plays=34_038, shards=3,
                  zipf=None, diurnal=False),
    "bulk": dict(users=50_000, songs=114_000, plays=34_038 * 10, shards=12,
                 zipf=1.1, diurnal=True),
}


def _ids(rng, n, length=22):
    """n random base62 strings (Spotify track-id shape)."""
    codes = B62[rng.integers(0, 62, size=(n, length))]
    return codes.view(f"S{length}").ravel().astype(str)


def _phrase(rng, n, lo, hi):
    """n space-joined word phrases of lo..hi words from WORDS."""
    words = np.array(WORDS)
    k = rng.integers(lo, hi + 1, size=n)
    picks = words[rng.integers(0, len(words), size=(n, hi))]
    out = picks[:, 0].astype(object)
    for j in range(1, hi):
        out = np.where(k > j, out + " " + picks[:, j], out)
    return out.astype(str)


def _with_nulls(rng, values, share):
    mask = rng.random(len(values)) < share
    return pa.array(values, mask=mask)


def _write(table, path):
    pacsv.write_csv(table, path,
                    pacsv.WriteOptions(include_header=True,
                                       quoting_style="needed"))


def etl_inputs(seed, out_dir, scale="small", plays=None, small_dims=False):
    """Write users.csv, songs.csv and streams/streams<i>.csv; return paths.

    `plays` overrides the scale's play count and `small_dims` shrinks the
    dimension tables 50x (tiny smoke runs)."""
    cfg = dict(ETL_SCALES[scale])
    if plays is not None:
        cfg["plays"] = plays
    if small_dims:
        cfg["users"] //= 50
        cfg["songs"] //= 50
    rng = np.random.default_rng([seed, 0xE71])
    os.makedirs(os.path.join(out_dir, "streams"), exist_ok=True)

    n_users = cfg["users"]
    user_id = np.arange(1, n_users + 1, dtype=np.int32)
    name = (np.array(FIRST)[rng.integers(0, len(FIRST), n_users)].astype(object)
            + " " + np.array(LAST)[rng.integers(0, len(LAST), n_users)])
    created = DAY.astype("datetime64[D]") - rng.integers(30, 600, n_users)
    users = pa.table({
        "user_id": user_id,
        "user_name": pa.array(name.astype(str)),
        "user_age": _with_nulls(rng, rng.integers(18, 70, n_users).astype(np.int32), 0.01),
        "user_country": pa.array(np.array(COUNTRIES)[
            rng.choice(len(COUNTRIES), n_users, p=COUNTRY_P)]),
        "created_at": pa.array(created.astype(str)),
    })

    n_songs = cfg["songs"]
    # ~80% distinct track ids; the rest re-list an earlier track under
    # another genre, as the Spotify tracks dataset does
    n_unique = int(n_songs * 0.8)
    uniq = _ids(rng, n_unique)
    track_id = np.concatenate([uniq, uniq[rng.integers(0, n_unique, n_songs - n_unique)]])
    artist_pool = np.char.add("Artist ", _phrase(rng, 30_000, 1, 2))
    song_title = _phrase(rng, n_unique, 1, 3)  # titles repeat: mode ties happen
    title_of = np.concatenate([song_title, song_title[rng.integers(0, n_unique, n_songs - n_unique)]])
    f3 = lambda lo, hi: np.round(rng.uniform(lo, hi, n_songs), 3)
    songs = pa.table({
        "id": np.arange(n_songs, dtype=np.int32),
        "track_id": pa.array(track_id),
        "artists": _with_nulls(rng, artist_pool[rng.integers(0, len(artist_pool), n_songs)], 0.002),
        "album_name": pa.array(_phrase(rng, n_songs, 1, 2)),
        "track_name": _with_nulls(rng, title_of, 0.002),
        "popularity": rng.integers(0, 101, n_songs).astype(np.int32),
        "duration_ms": _with_nulls(rng, rng.integers(60_000, 400_000, n_songs).astype(np.int32), 0.005),
        "explicit": rng.random(n_songs) < 0.1,
        "danceability": f3(0, 1), "energy": f3(0, 1),
        "song_key": rng.integers(0, 12, n_songs).astype(np.int32),
        "loudness": f3(-30, 0),
        "mode": rng.integers(0, 2, n_songs).astype(np.int32),
        "speechiness": f3(0, 1), "acousticness": f3(0, 1),
        "instrumentalness": f3(0, 1), "liveness": f3(0, 1), "valence": f3(0, 1),
        "tempo": f3(50, 200),
        "time_signature": rng.integers(3, 6, n_songs).astype(np.int32),
        # every listed song has a genre, as in the Spotify tracks data; null
        # genres come from plays of tracks absent from songs
        "track_genre": pa.array(np.array(GENRES)[rng.integers(0, len(GENRES), n_songs)]),
    })

    n = cfg["plays"]
    if cfg["zipf"]:
        w = 1.0 / np.arange(1, n_unique + 1) ** cfg["zipf"]
        rank_to_track = rng.permutation(n_unique)
        tracks = uniq[rank_to_track[rng.choice(n_unique, n, p=w / w.sum())]]
    else:
        tracks = uniq[rng.integers(0, n_unique, n)]
    orphan_t = np.flatnonzero(rng.random(n) < 0.01)
    tracks[orphan_t] = _ids(rng, len(orphan_t))
    users_p = rng.integers(1, n_users + 1, n).astype(np.int32)
    orphan_u = rng.random(n) < 0.005
    users_p = np.where(orphan_u, rng.integers(n_users + 1, n_users + 5_000, n), users_p).astype(np.int32)
    if cfg["diurnal"]:
        hours = np.arange(24)
        hw = 1.0 + 0.8 * np.sin((hours - 9) * np.pi / 12)
        secs = rng.choice(24, n, p=hw / hw.sum()) * 3600 + rng.integers(0, 3600, n)
    else:
        secs = rng.integers(4, 85_000, n)
    # ~2% duplicate plays: the same (user, track) again within its hour
    dup = np.flatnonzero(rng.random(n) < 0.02)
    src = rng.integers(0, n, len(dup))
    tracks[dup], users_p[dup] = tracks[src], users_p[src]
    secs[dup] = (secs[src] // 3600) * 3600 + rng.integers(0, 3600, len(dup))
    listen = pa.array(DAY + secs.astype("timedelta64[s]"))
    order = rng.permutation(n)
    shards = np.array_split(order, cfg["shards"])
    paths = []
    for i, idx in enumerate(shards, start=1):
        p = os.path.join(out_dir, "streams", f"streams{i}.csv")
        _write(pa.table({"user_id": users_p[idx], "track_id": pa.array(tracks[idx]),
                         "listen_time": listen.take(idx)}), p)
        paths.append(p)
    _write(users, os.path.join(out_dir, "users.csv"))
    _write(songs, os.path.join(out_dir, "songs.csv"))
    return dict(users=os.path.join(out_dir, "users.csv"),
                songs=os.path.join(out_dir, "songs.csv"),
                streams=os.path.join(out_dir, "streams", "*.csv"),
                plays=n)


def _zipf_distinct(rng, n_keys, size, s=1.1):
    """`size` distinct keys in 1..n_keys, Zipf-popular (hot keys repeat
    across batches), in a seeded random rank order."""
    w = 1.0 / np.arange(1, n_keys + 1) ** s
    pick = rng.choice(n_keys, size * 3, p=w / w.sum())
    _, first = np.unique(pick, return_index=True)
    ranks = pick[np.sort(first)][:size]
    return (rng.permutation(n_keys)[ranks] + 1).astype(np.int64)


# Commit kinds repeat in this fixed cycle, so every run sees the same mix
# whatever the seed; the seed picks keys, values and the delete share.
# Sizes taken from the program's own merge benchmark (graft.tools.MergeBench:
# the orders table as the snapshot, deltas of ~1% of its keys), at the
# orders table's sf0.01 size (TESTDATA.md): 15,000 rows, 150-row batches.
# Not backed by any source (chosen, see perfbench/README.md): the key space
# of 1.5x the rows, the Zipf exponent, the delete shares and the cycle.
KIND_CYCLE = ["merge", "delta", "changes", "delta", "compact"]
SNAPSHOT_SIZES = dict(seed_rows=15_000, key_space=22_500, batches=400, batch_rows=150)
SNAPSHOT_TINY = dict(seed_rows=500, key_space=750, batches=40, batch_rows=10)


def snapshot_ops(seed, out_dir, tiny=False):
    """Write seed.csv (the table's first version) and ops.csv (one row per
    change of every commit batch); return paths and sizes.

    Batch kinds, in the order of KIND_CYCLE: `merge` (mergeInto upserts of
    Zipf keys, inserts beside updates), `changes` (applyChanges with ~20%
    deletes), `delta` (stageDelta upserts, or a delete batch) and
    `compact` (no rows)."""
    cfg = SNAPSHOT_TINY if tiny else SNAPSHOT_SIZES
    rng = np.random.default_rng([seed, 0x5A9])
    os.makedirs(out_dir, exist_ok=True)
    n0 = cfg["seed_rows"]
    seed_tbl = pa.table({
        "id": np.arange(1, n0 + 1, dtype=np.int64),
        "track_id": pa.array(_ids(rng, n0)),
        "plays": rng.integers(0, 10_000, n0).astype(np.int64),
        "score": np.round(rng.uniform(0, 100, n0), 3),
    })
    cols = {c: [] for c in ("batch", "kind", "op", "id", "track_id", "plays", "score")}
    for b in range(cfg["batches"]):
        kind = KIND_CYCLE[b % len(KIND_CYCLE)]
        if kind == "compact":
            keys = np.zeros(1, dtype=np.int64)
        else:
            keys = _zipf_distinct(rng, cfg["key_space"], cfg["batch_rows"])
        n = len(keys)
        if kind == "changes":
            op = np.where(rng.random(n) < 0.2, "delete",
                          np.where(keys > n0, "insert", "update"))
        elif kind == "delta" and rng.random() < 0.3:
            op = np.full(n, "delete")
        else:
            op = np.full(n, "upsert" if kind != "compact" else "")
        cols["batch"].append(np.full(n, b, dtype=np.int64))
        cols["kind"].append(np.full(n, kind))
        cols["op"].append(op)
        cols["id"].append(keys)
        cols["track_id"].append(_ids(rng, n))
        cols["plays"].append(rng.integers(0, 10_000, n).astype(np.int64))
        cols["score"].append(np.round(rng.uniform(0, 100, n), 3))
    ops = pa.table({k: np.concatenate(v) for k, v in cols.items()})
    _write(seed_tbl, os.path.join(out_dir, "seed.csv"))
    _write(ops, os.path.join(out_dir, "ops.csv"))
    return dict(seed=os.path.join(out_dir, "seed.csv"),
                ops=os.path.join(out_dir, "ops.csv"),
                seed_rows=n0, key_space=cfg["key_space"], batches=cfg["batches"],
                cycle=len(KIND_CYCLE))


# Row counts per unit of scale factor (TESTDATA.md: sf0.1 has ~600,000
# lineitem rows); documents and embeddings keep a floor of 500 rows.
REGISTRY_ROWS = dict(customer=150_000, supplier=10_000, part=200_000,
                     orders=1_500_000, events=1_000_000, documents=50_000,
                     embeddings=20_000)
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "anvil", "rod", "plate", "gizmo"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DOC_WORDS = ["a", "the", "row", "column", "table", "key", "value", "part",
             "hash", "scan", "join", "merge", "sort", "group", "agg", "filter",
             "window", "query", "data", "batch", "stream", "line", "order",
             "customer", "vector", "spark", "fast", "slow", "big", "small"]
LANGS, LANG_P = ["en", "fr", "de", "es", "zh"], [0.42, 0.145, 0.145, 0.145, 0.145]


def _pq(table, path):
    pq.write_table(table, path, compression="snappy")


def registry_tables(seed, out_dir, sf=0.01):
    """Write region ... embeddings as `<name>.parquet` under out_dir.

    Keys are dense from 0; TPC-H's rules give 1-7 lines per order shipped
    1-121 days after the order date; events are one month of timestamped
    user actions (a user is every tenth customer); 5% of the documents
    repeat an earlier one with a trailing "dup" token (near-duplicates for
    the dedup queries); embeddings are unit 64-vectors around ten labelled
    centres. Returns the directory and the scale factor."""
    rng = np.random.default_rng([seed, 0x5F])
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(int(v * sf), 500 if k in ("documents", "embeddings") else 1)
         for k, v in REGISTRY_ROWS.items()}
    i32 = lambda a: np.asarray(a, dtype=np.int32)
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    pick = lambda vals, k: pa.array(np.array(vals)[rng.integers(0, len(vals), k)])
    _pq(pa.table({"r_regionkey": i32(range(5)),
                  "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        os.path.join(out_dir, "region.parquet"))
    _pq(pa.table({"n_nationkey": i32(range(25)),
                  "n_name": [f"NATION_{i}" for i in range(25)],
                  "n_regionkey": i32(np.arange(25) % 5)}),
        os.path.join(out_dir, "nation.parquet"))
    nc = n["customer"]
    _pq(pa.table({"c_custkey": np.arange(nc, dtype=np.int64),
                  "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                  "c_nationkey": i32(rng.integers(0, 25, nc)),
                  "c_acctbal": money(-999.99, 9999.99, nc),
                  "c_mktsegment": pick(SEGMENTS, nc)}),
        os.path.join(out_dir, "customer.parquet"))
    ns = n["supplier"]
    _pq(pa.table({"s_suppkey": np.arange(ns, dtype=np.int64),
                  "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                  "s_nationkey": i32(rng.integers(0, 25, ns)),
                  "s_acctbal": money(-999.99, 9999.99, ns)}),
        os.path.join(out_dir, "supplier.parquet"))
    npart = n["part"]
    pname = np.char.add(np.char.add(np.array(PART_ADJ)[rng.integers(0, 8, npart)], " "),
                        np.array(PART_NOUN)[rng.integers(0, 8, npart)])
    _pq(pa.table({"p_partkey": np.arange(npart, dtype=np.int64),
                  "p_name": pa.array(pname),
                  "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, npart).astype(str))),
                  "p_type": pick(PART_TYPES, npart),
                  "p_size": i32(rng.integers(1, 51, npart)),
                  "p_retailprice": np.round(900 + (np.arange(npart) % 1000) * 0.1, 1)}),
        os.path.join(out_dir, "part.parquet"))
    no = n["orders"]
    day0 = np.datetime64("1995-01-01", "D")
    odate = day0 + rng.integers(0, (np.datetime64("2001-08-02", "D") - day0).astype(int), no)
    _pq(pa.table({"o_orderkey": np.arange(no, dtype=np.int64),
                  "o_custkey": rng.integers(0, nc, no).astype(np.int64),
                  "o_orderstatus": pick(["F", "O", "P"], no),
                  "o_totalprice": money(1000, 500_000, no),
                  "o_orderdate": pa.array(odate.astype("datetime64[us]")),
                  "o_orderpriority": pick(PRIORITIES, no)}),
        os.path.join(out_dir, "orders.parquet"))
    lines = rng.integers(1, 8, no)
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    nl = len(okey)
    lineno = np.arange(nl) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, nl).astype(np.float64)
    pkey = rng.integers(0, npart, nl).astype(np.int64)
    ship = odate[okey] + rng.integers(1, 122, nl)
    _pq(pa.table({"l_orderkey": okey, "l_partkey": pkey,
                  "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
                  "l_linenumber": i32(lineno), "l_quantity": qty,
                  "l_extendedprice": np.round(qty * (900 + (pkey % 1000) * 0.1) * rng.uniform(1, 2.3, nl), 2),
                  "l_discount": rng.integers(0, 11, nl) / 100.0,
                  "l_tax": rng.integers(0, 9, nl) / 100.0,
                  "l_returnflag": pick(["A", "N", "R"], nl),
                  "l_linestatus": pick(["F", "O"], nl),
                  "l_shipdate": pa.array(ship.astype("datetime64[us]"))}),
        os.path.join(out_dir, "lineitem.parquet"))
    ne = n["events"]
    month_us = 30 * 86_400 * 1_000_000
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(rng.integers(0, month_us, ne))
    _pq(pa.table({"event_id": np.arange(ne, dtype=np.int64),
                  "ts": pa.array(ts),
                  "user_id": rng.integers(0, max(nc // 10, 1), ne).astype(np.int64),
                  "event_type": pick(EVENT_TYPES, ne),
                  "value": np.round(rng.exponential(50.0, ne), 2),
                  "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, ne).astype(str)), "}"))}),
        os.path.join(out_dir, "events.parquet"))
    nd = n["documents"]
    text = []
    for d in range(nd):
        if d >= 20 and rng.random() < 0.05:
            text.append(text[int(rng.integers(0, d))] + " dup")
        else:
            text.append(" ".join(np.array(DOC_WORDS)[rng.integers(0, len(DOC_WORDS), int(rng.integers(10, 100)))]))
    _pq(pa.table({"doc_id": np.arange(nd, dtype=np.int64), "text": text,
                  "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
                  "source": [f"src{d % 20}" for d in range(nd)],
                  "n_chars": np.array([len(t) for t in text], dtype=np.int64)}),
        os.path.join(out_dir, "documents.parquet"))
    nv = n["embeddings"]
    centres = rng.normal(size=(10, 64))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    label = rng.integers(0, 10, nv)
    vec = 1.1 * centres[label] + rng.normal(size=(nv, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    _pq(pa.table({"vec_id": np.arange(nv, dtype=np.int64),
                  "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
                  "label": i32(label)}),
        os.path.join(out_dir, "embeddings.parquet"))
    return dict(tables=out_dir, sf=sf)
