"""Output oracle: row count plus an order-insensitive integer checksum
per op, from DuckDB SQL mirrors of each operator, computed once per seed.

Mirrors (no engine code runs here):
- point-in-polygon and anti join: the diamond/annulus inequality
  ``rin < |x-cx| + |y-cy| < r``;
- kNN: brute force over all targets, ranked by (dist2, oid);
- tiles: inclusive bbox overlap.

Checksums are sums of one BIGINT per output row, each written once here
as a SQL aggregate that DuckDB runs and the engine side runs through
``F.expr``.  The factors keep every
sum far below 2^63 at the generated sizes (Spark's ANSI mode would
raise on overflow rather than wrap).
"""

from __future__ import annotations

import os

PAIR_K = 1 << 20  # pair checksum: left_id * PAIR_K + right_id
KNN_QK, KNN_OK = 1 << 24, 8  # knn row: query_id * QK + oid * OK + rank
KNN_K = 5


def pair_checksum_sql(a: str, b: str) -> str:
    return f"sum({a} * {PAIR_K} + {b})"


def id_checksum_sql(a: str) -> str:
    return f"sum({a})"


def knn_checksum_sql(query: str, oid: str, rank: str) -> str:
    return f"sum({query} * {KNN_QK} + {oid} * {KNN_OK} + {rank})"


def _connect(workdir: str):
    import duckdb

    con = duckdb.connect()
    tmp = os.path.join(workdir, "duckdb_tmp")
    os.makedirs(tmp, exist_ok=True)
    con.execute(f"SET temp_directory = '{tmp}'")
    con.execute(f"SET threads = {max(1, min(4, os.cpu_count() or 1))}")
    return con


def _pip_sql(pts: str, polys: str) -> str:
    d = "abs(p.x - g.cx) + abs(p.y - g.cy)"
    return f"""
        SELECT p.point_id, g.oid
        FROM {pts} p JOIN {polys} g
          ON p.x > g.xmin AND p.x < g.xmax AND p.y > g.ymin AND p.y < g.ymax
         AND {d} < g.r AND {d} > g.rin"""


def _by_batch(con, sql: str, batch_expr: str, csum: str) -> dict[int, tuple[int, int]]:
    rows = con.execute(
        f"SELECT {batch_expr} AS b, count(*), {csum} FROM ({sql}) GROUP BY 1"
    ).fetchall()
    return {int(b): (int(c), int(s)) for b, c, s in rows}


def expected(man: dict) -> dict:
    """{(kind, batch): (rows, checksum)} for every op the
    workload can issue; ops whose result is empty map to (0, 0)."""
    w = man["workload"]
    s = man["sizes"]
    con = _connect(man["dir"])
    out: dict = {}
    try:
        if w in ("pip_probe", "pip_skew"):
            n = s["batch_rows"]
            pts = f"read_parquet('{man['dir']}/batch*/*.parquet')"
            polys = f"read_parquet('{man['polygons']}')"
            con.execute(f"CREATE TEMP TABLE m AS {_pip_sql(pts, polys)}")
            inner = _by_batch(con, "SELECT * FROM m", f"point_id // {n}",
                              pair_checksum_sql("point_id", "oid"))
            anti = _by_batch(
                con,
                f"SELECT point_id FROM {pts} WHERE point_id NOT IN "
                "(SELECT point_id FROM m)",
                f"point_id // {n}", id_checksum_sql("point_id"))
            for b in range(s["batches"]):
                out[("pip", b)] = inner.get(b, (0, 0))
                out[("anti", b)] = anti.get(b, (0, 0))
        elif w == "knn_tiles":
            nq, nt = s["queries"], s["tiles"]
            polys = f"read_parquet('{man['polygons']}')"
            q = f"read_parquet('{man['dir']}/batch*_q/*.parquet')"
            t = f"read_parquet('{man['dir']}/batch*_t/*.parquet')"
            knn = f"""
                SELECT q.query_id, g.oid, row_number() OVER (
                    PARTITION BY q.query_id
                    ORDER BY (q.x - g.cx) * (q.x - g.cx)
                           + (q.y - g.cy) * (q.y - g.cy), g.oid) AS rk
                FROM {q} q, {polys} g
                QUALIFY rk <= {KNN_K}"""
            got = _by_batch(con, knn, f"query_id // {nq}",
                            knn_checksum_sql("query_id", "oid", "rk"))
            tiles = f"""
                SELECT t.tile_id, g.oid FROM {t} t JOIN {polys} g
                  ON t.rxmin <= g.xmax AND g.xmin <= t.rxmax
                 AND t.rymin <= g.ymax AND g.ymin <= t.rymax"""
            tgot = _by_batch(con, tiles, f"tile_id // {nt}",
                             pair_checksum_sql("tile_id", "oid"))
            for b in range(s["batches"]):
                out[("knn", b)] = got.get(b, (0, 0))
                out[("tiles", b)] = tgot.get(b, (0, 0))
        else:
            raise ValueError(f"unknown workload {w!r}")
    finally:
        con.close()
    return out
