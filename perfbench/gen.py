"""Seeded input generator for the DeFtunes benchmark.

Runs in the benchmark process before the JVM starts and never imports
``deftunes_spark``: the program under test only ever sees the files
written here. Everything is derived with DuckDB from ``hash(seed, ...)``,
so one seed always gives byte-identical files, while every seed gives the
same numbers of sessions, items, users, songs and documents.

Layout under ``root`` (``backfill`` gets the reference landing layout,
one ``ingest_on=`` directory per monthly window; ``curate`` gets the
document batches):

    landing/sessions/ingest_on=YYYY-MM-DD/part-0.json   nested items
    landing/users/ingest_on=YYYY-MM-DD/part-0.json      location array
    landing/songs/ingest_on=YYYY-MM-DD/part-0.csv       all-string CSV
    docs/batch=NN/part-0.json                           daily batches
    meta.json                                           windows, bytes
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import duckdb

# Bump whenever the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 10

FIRST_WINDOW = dt.date(2020, 1, 1)
# A run's time is mostly a fixed cost per window (about a dozen Spark
# jobs), not its data volume, so the window count is what the benchmark's
# time budget limits: twelve, as in the reference probe, plus the
# idempotence re-run of the last.
N_WINDOWS = 12
# The window that trips the gate. It is the same for every seed (only the
# offending row is seeded), so every seed does the same work: a gated
# window skips its loads, and an early window costs more than a late one
# while the JVM warms up. Never the first, nor the last (re-run for
# idempotence).
BAD_WINDOW = N_WINDOWS // 2
# The sizes of the reference sf0.1 sources, spread over the windows:
# 150k sessions (orders) with 1-7 items each, about 600k items
# (lineitem), 15k users (customer) and 20k songs (part).
SESSIONS_PER_WINDOW = 12500
MAX_ITEMS = 7
USERS_PER_WINDOW = 1250
SONGS_PER_WINDOW = 1667
N_ARTISTS = 2000

# Documents as long as the sf0.1 ones (10-100 words, about 54 on
# average), 120 a batch. As with the windows, a batch costs mostly a
# fixed number of Spark jobs, so the batch count is what the time budget
# limits.
N_DOCS = 1440
N_BATCHES = 12  # ops of curate
MIN_WORDS, MAX_WORDS = 10, 100
VOCAB = 5000
DUP_EVERY = 8  # about one document in eight is a near-copy of an older one


def windows() -> list[str]:
    out, cur = [], FIRST_WINDOW
    for _ in range(N_WINDOWS):
        out.append(cur.isoformat())
        cur = (cur.replace(day=28) + dt.timedelta(days=4)).replace(day=1)
    return out


def _uuid36(expr: str) -> str:
    m = f"md5({expr})"
    return (
        f"concat(substr({m},1,8),'-',substr({m},9,4),'-',substr({m},13,4),"
        f"'-',substr({m},17,4),'-',substr({m},21,12))"
    )


def _h(seed: int, salt: str, *cols: str) -> str:
    """SQL for a seeded non-negative BIGINT hash of ``cols``, salted per
    use (shifted so it fits a signed 64-bit integer)."""
    return f"CAST(hash({seed}, {', '.join(cols)}, '{salt}') >> 1 AS BIGINT)"


def _copy(con, sql: str, path: str, fmt: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    opts = "FORMAT JSON" if fmt == "json" else "FORMAT CSV, HEADER true"
    con.execute(f"COPY ({sql}) TO '{path}' ({opts})")
    return os.path.getsize(path)


def _artist(seed: int, song: str) -> str:
    return f"({_h(seed, 'art', song)} % {N_ARTISTS})"


def _songs_sql(seed: int, w: int) -> str:
    lo = w * SONGS_PER_WINDOW
    art = _artist(seed, "i")
    mbid = _uuid36(f"'m' || {seed} || '-' || {art}")
    return f"""
    SELECT concat('TR', substr(md5('t' || {seed} || '-' || i), 1, 16)) AS track_id,
           concat('SO', substr(md5('s' || {seed} || '-' || i), 1, 16)) AS song_id,
           concat('AR', substr(md5('a' || {seed} || '-' || {art}), 1, 16)) AS artist_id,
           {mbid} AS artist_mbid,
           'Artist ' || {art} AS artist_name,
           'Title ' || i AS title,
           'Album ' || (i // 9) AS release,
           CAST(1960 + {_h(seed, 'yr', 'i')} % 60 AS VARCHAR) AS year,
           CAST(120 + {_h(seed, 'dur', 'i')} % 300 AS VARCHAR) || '.5' AS duration,
           '0.' || ({_h(seed, 'fam', 'i')} % 100) AS artist_familiarity,
           '0.' || ({_h(seed, 'hot', 'i')} % 100) AS artist_hotttnesss,
           CAST(1000 + i AS VARCHAR) AS track_7digitalid,
           '-1' AS shs_perf,
           '0' AS shs_work
    FROM range({lo}, {lo + SONGS_PER_WINDOW}) t(i) ORDER BY i
    """


def _users_sql(seed: int, w: int) -> str:
    lo = w * USERS_PER_WINDOW
    uid = _uuid36(f"'u' || {seed} || '-' || i")
    countries = "['US','DE','FR','BR','JP','IN','GB','MX']"
    return f"""
    SELECT {uid} AS user_id,
           'Last' || ({_h(seed, 'ln', 'i')} % 997) AS user_lastname,
           'Name' || ({_h(seed, 'fn', 'i')} % 991) AS user_name,
           '2019-01-01' AS user_since,
           [CAST(({_h(seed, 'lat', 'i')} % 180) - 90 AS VARCHAR) || '.1',
            CAST(({_h(seed, 'lon', 'i')} % 360) - 180 AS VARCHAR) || '.2',
            'City ' || ({_h(seed, 'city', 'i')} % 50),
            {countries}[1 + {_h(seed, 'cc', 'i')} % 8],
            'UTC'] AS user_location
    FROM range({lo}, {lo + USERS_PER_WINDOW}) t(i) ORDER BY i
    """


def _sessions_sql(seed: int, w: int, ds: str, bad: bool) -> str:
    lo = w * SESSIONS_PER_WINDOW
    n_users = N_WINDOWS * USERS_PER_WINDOW
    n_songs = N_WINDOWS * SONGS_PER_WINDOW
    song = f"({_h(seed, 'song', 'i', 'j')} % {n_songs})"
    art = _artist(seed, song)
    liked = f"{_h(seed, 'lk', 'i', 'j')} % 2 = 0"
    # The gate-tripping window carries one item priced above the
    # sessions ruleset's `ColumnValues "price" <= 2`.
    price = (
        f"CASE WHEN {bad} AND i = {lo + bad_session(seed)} AND j = 0 "
        "THEN 9.99 "
        f"ELSE ({_h(seed, 'pr', 'i', 'j')} % 200) / 100.0 END"
    )
    item = f"""struct_pack(
        song_id := concat('SO', substr(md5('s' || {seed} || '-' || {song}), 1, 16)),
        song_name := 'Title ' || {song},
        artist_id := concat('AR', substr(md5('a' || {seed} || '-' || {art}), 1, 16)),
        artist_name := 'Artist ' || {art},
        price := {price},
        currency := 'USD',
        liked := {liked},
        liked_since := CASE WHEN {liked} THEN '{ds}' ELSE NULL END)"""
    uid = _uuid36(
        f"'u' || {seed} || '-' || ({_h(seed, 'usr', 'i')} % {n_users})"
    )
    sid = _uuid36(f"'x' || {seed} || '-' || i")
    # Items per session do not depend on the seed, so every seed writes
    # the same number of silver rows.
    return f"""
    SELECT {uid} AS user_id,
           {sid} AS session_id,
           strftime(DATE '{ds}' + INTERVAL ({_h(seed, 'day', 'i')} % 28) DAY
                    + INTERVAL ({_h(seed, 'sec', 'i')} % 86400) SECOND,
                    '%Y-%m-%dT%H:%M:%S') AS session_start_time,
           'Mozilla/5.0' AS user_agent,
           list_transform(range(1 + {_h(0, 'n', 'i')} % {MAX_ITEMS}),
                          j -> {item}) AS session_items
    FROM range({lo}, {lo + SESSIONS_PER_WINDOW}) t(i) ORDER BY i
    """


def _docs_sql(seed: int) -> str:
    # Base word lists, then every DUP_EVERY-th document (by seeded hash)
    # re-uses an older document's words with about one word in twelve
    # replaced, so near-duplicate pairs cross batch boundaries. Base
    # lengths do not depend on the seed.
    span = MAX_WORDS - MIN_WORDS + 1
    return f"""
    WITH base AS (
        SELECT i AS doc_id,
               list_transform(
                   range({MIN_WORDS} + {_h(0, 'len', 'i')} % {span}),
                   k -> 'w' || ({_h(seed, 'w', 'i', 'k')} % {VOCAB})) AS words
        FROM range({N_DOCS}) t(i)
    ), src AS (
        SELECT doc_id,
               CASE WHEN doc_id > 0 AND {_h(seed, 'dup', 'doc_id')} % {DUP_EVERY} = 0
                    THEN {_h(seed, 'src', 'doc_id')} % doc_id END AS src_id,
               words
        FROM base
    )
    SELECT s.doc_id,
           array_to_string(CASE WHEN s.src_id IS NULL THEN s.words ELSE
               list_transform(range(len(b.words)), k ->
                   CASE WHEN {_h(seed, 'mut', 's.doc_id', 'k')} % 12 = 0
                        THEN 'z' || ({_h(seed, 'z', 's.doc_id', 'k')} % {VOCAB})
                        ELSE b.words[k + 1] END) END, ' ') AS text
    FROM src s LEFT JOIN base b ON b.doc_id = s.src_id
    ORDER BY s.doc_id
    """


def bad_session(seed: int) -> int:
    """Row, within ``BAD_WINDOW``, of the session whose first item must
    trip the gate."""
    return (seed * 7919) % SESSIONS_PER_WINDOW


def _connect(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads = {threads}")
    con.execute("SET preserve_insertion_order = true")
    return con


def _window(root: str, seed: int, w: int, ds: str, bad: bool) -> dict:
    """Write one monthly window's three landing files; return their
    sizes. A single-threaded connection per window is faster here than
    one connection with several threads, and windows run side by side."""
    land = f"{root}/landing/%s/ingest_on={ds}/part-0.%s"
    con = _connect(1)
    try:
        return {
            "sessions": _copy(
                con, _sessions_sql(seed, w, ds, bad),
                land % ("sessions", "json"), "json",
            ),
            "users": _copy(
                con, _users_sql(seed, w), land % ("users", "json"), "json"
            ),
            "songs": _copy(
                con, _songs_sql(seed, w), land % ("songs", "csv"), "csv"
            ),
        }
    finally:
        con.close()


def _landing(root: str, seed: int, threads: int) -> dict:
    wins = windows()
    with ThreadPoolExecutor(threads) as pool:
        sizes = list(pool.map(
            lambda w: _window(root, seed, w, wins[w], w == BAD_WINDOW),
            range(len(wins)),
        ))
    nbytes = {k: sum(z[k] for z in sizes) for k in sizes[0]}
    return {
        "windows": wins, "bad_window": wins[BAD_WINDOW], "input_bytes": nbytes
    }


def _docs(root: str, seed: int, threads: int) -> dict:
    con = _connect(threads)
    try:
        con.execute(f"CREATE TABLE docs AS {_docs_sql(seed)}")
        per = N_DOCS // N_BATCHES
        nbytes = 0
        for b in range(N_BATCHES):
            nbytes += _copy(
                con,
                f"SELECT doc_id, text FROM docs WHERE doc_id >= {b * per} "
                f"AND doc_id < {(b + 1) * per} ORDER BY doc_id",
                f"{root}/docs/batch={b:02d}/part-0.json", "json",
            )
    finally:
        con.close()
    return {"n_batches": N_BATCHES, "input_bytes": {"docs": nbytes}}


SOURCES = {"backfill": _landing, "curate": _docs}


def generate(root: str, workload: str, seed: int, threads: int) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``root``
    (replacing it) and return the metadata also stored in
    ``root/meta.json``."""
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    meta = SOURCES[workload](root, seed, max(1, threads))
    meta.update(workload=workload, seed=seed, gen_version=GEN_VERSION)
    with open(f"{root}/meta.json", "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


def cached(root: str, workload: str, seed: int, threads: int) -> dict:
    """Inputs of ``workload`` for ``seed``, regenerated unless ``root``
    already holds them for this seed and generator version."""
    try:
        with open(f"{root}/meta.json") as f:
            meta = json.load(f)
        if (meta["workload"], meta["seed"], meta["gen_version"]) == (
            workload, seed, GEN_VERSION
        ):
            return meta
    except (OSError, ValueError, KeyError):
        pass
    return generate(root, workload, seed, threads)
