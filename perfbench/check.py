"""Output checks: every workload's answers against DuckDB over the same
generated files. Each function returns a list of mismatch messages; an
empty list means the outputs are correct."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import duckdb

TOL = 1e-6


def _next_month(ds: str) -> str:
    d = dt.date.fromisoformat(ds)
    return (d.replace(day=28) + dt.timedelta(days=4)).replace(day=1).isoformat()


def _con(threads: int):
    con = duckdb.connect()
    con.execute(f"SET threads = {max(1, threads)}")
    return con


def _money(rows, col: str = "total_sales") -> Decimal:
    """Sum of a view's money column, at the views' DECIMAL(18,4) scale."""
    return sum(
        (Decimal(str(r[col])).quantize(Decimal("0.0001")) for r in rows),
        Decimal(0),
    )


def check_backfill(inputs: str, meta: dict, got: dict, threads: int) -> list:
    land = f"{inputs}/landing"
    bad = meta["bad_window"]
    win = "regexp_extract(filename, 'ingest_on=([0-9-]+)', 1)"
    # One scan per source, grouped by window: silver rows per window and,
    # for sessions, the window's item prices at the views' scale.
    sql = {
        "sessions": f"""SELECT {win}, sum(len(session_items)),
            sum(list_sum(list_transform(session_items,
                                        x -> CAST(x.price AS DECIMAL(18,4)))))
            FROM read_json_auto('{land}/sessions/*/*.json', filename=true)
            GROUP BY 1""",
        "users": f"""SELECT {win}, count(*), 0
            FROM read_json_auto('{land}/users/*/*.json', filename=true)
            GROUP BY 1""",
        "songs": f"""SELECT {win}, count(*), 0
            FROM read_csv_auto('{land}/songs/*/*.csv', filename=true,
                               header=true)
            GROUP BY 1""",
    }
    errs = []
    expect: dict = {}
    total = Decimal(0)
    con = _con(threads)
    try:
        for table, q in sql.items():
            for ds, rows, money in con.execute(q).fetchall():
                expect.setdefault(_next_month(ds), {})[table] = rows
                if ds != bad:
                    total += money
    finally:
        con.close()
    if sorted(expect) != sorted(map(_next_month, meta["windows"])):
        errs.append(f"landing windows {sorted(expect)} != meta windows")
    for table, counts in got["counts"].items():
        for part, want in expect.items():
            have = counts.get(part)
            if part == _next_month(bad):
                if have is not None:
                    errs.append(f"{table}: gated partition {part} present")
            elif have != want.get(table):
                errs.append(
                    f"{table}[{part}]: {have} rows, want {want.get(table)}"
                )
        extra = set(counts) - set(expect)
        if extra:
            errs.append(f"{table}: unexpected partitions {sorted(extra)}")
    for view, rows in got["views"].items():
        have = _money(rows)
        if abs(have - total) > Decimal("0.0001"):
            errs.append(f"{view}: total {have}, want {total}")
    return errs


def check_curate(inputs: str, meta: dict, got: dict, threads: int) -> list:
    """Lifetime union of every batch's pairs == the full-corpus pair set
    of the DuckDB md5/raw-band MinHash mirror (all documents new)."""
    from deftunes_spark.driver_queries_ext import _minhash_incremental_oracle

    from workloads import DEDUP_KW

    split = "doc_id % 3 = 0 AS is_new"  # the oracle's old/new split
    sql = _minhash_incremental_oracle(
        **{k: DEDUP_KW[k] for k in ("n", "num_hashes", "bands", "threshold")}
    )
    if split not in sql:
        raise RuntimeError("dedup_incremental oracle changed its batch split")
    sql = sql.replace(split, "TRUE AS is_new")
    con = _con(threads)
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT doc_id, text FROM "
            f"read_json_auto('{inputs}/docs/*/*.json')"
        )
        want = {
            (a, b): est for a, b, est in con.execute(sql).fetchall()
        }
    finally:
        con.close()
    have = {}
    for a, b, est in got["pairs"]:
        key = (min(a, b), max(a, b))
        if key in have:
            return [f"pair {key} emitted twice"]
        have[key] = est
    errs = []
    if set(have) != set(want):
        missing = sorted(set(want) - set(have))[:5]
        extra = sorted(set(have) - set(want))[:5]
        errs.append(
            f"pairs: {len(have)} found, {len(want)} expected; "
            f"missing {missing} extra {extra}"
        )
    for key in set(have) & set(want):
        if abs(have[key] - want[key]) > TOL:
            errs.append(f"pair {key}: est {have[key]} != {want[key]}")
            break
    return errs


CHECKS = {
    "backfill": check_backfill,
    "curate": check_curate,
}
