"""Reference results, built once per run in DuckDB, and the per-operation
checks against them.

The references use the repository's own oracle formulas: the geotag and
tile columns of ``sources.pages.pages_geo_sql``, the even-odd ray cast of
``functions.geometry.pip_sql`` and the MinHash oracle
``queries_text.SQL_dedup_minhash``. The same IEEE arithmetic in the same
order gives bit-identical lat/lon and PIP decisions on both engines, so
counts, sums, minima and maxima must match exactly; only means (summation
order) get a relative tolerance.
"""

from __future__ import annotations

import math
from functools import cached_property

import duckdb

from rasters_jl_spark.fixtures import KNN_ID_BASE
from rasters_jl_spark.functions.geometry import edges_values_sql, pip_sql, polys_values_sql
from rasters_jl_spark.queries_text import SQL_dedup_minhash
from rasters_jl_spark.sources.pages import LAT_SQL, LON_SQL, pages_geo_sql

from inputs import documents_table

MEAN_RTOL = 1e-9
# kNN reference: candidates come from a box around each query expected to
# hold this many pages. Checked after the fact: every query's k-th distance
# must lie inside the box, or the reference refuses to answer.
KNN_BOX_PAGES = 400


class Reference:
    """DuckDB-computed expected results for one workload's inputs. The
    corpus is the documents × ``expand`` with ids ``doc_id + rep *
    rep_stride``, the frozen suite's expansion."""

    def __init__(self, docs_rows, expand, rep_stride, polys, knn_ids, k=5, threads=4):
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute("SET enable_progress_bar = false")
        self.con.register("documents", documents_table(docs_rows))
        self.con.execute(
            f"""CREATE TEMP VIEW expanded AS
            SELECT d.doc_id + r.range * {int(rep_stride)} AS doc_id, d.n_chars,
                   '' AS text, '' AS lang
            FROM range({int(expand)}) r, documents d"""
        )
        self.con.execute(
            f"CREATE TEMP TABLE pages AS SELECT doc_id, n_chars, lat, lon, tile_id "
            f"FROM ({pages_geo_sql(table='expanded')})"
        )
        self.n_pages = self.con.execute("SELECT COUNT(*) FROM pages").fetchone()[0]
        self.zonal = self.zonal_of(polys)
        self.join_rows = sum(r[0] for r in self.zonal.values())
        self.rollup = {
            int(t): (int(n), int(s))
            for t, n, s in self.con.execute(
                "SELECT tile_id, COUNT(*), SUM(n_chars) FROM pages GROUP BY 1"
            ).fetchall()
        }
        self.knn_ids, self.k = knn_ids, k

    @cached_property
    def dedup(self) -> dict:
        return {
            (int(a), int(b)): round(float(j), 6)
            for a, b, j in self.con.execute(SQL_dedup_minhash).fetchall()
        }

    def zonal_of(self, polys, extra_sql: str | None = None) -> dict:
        """geom_id -> (n_pages, sum, min, max, mean) over ``pages`` (plus
        the rows of ``extra_sql`` when given), for every geometry."""
        src = "pages" if extra_sql is None else f"(SELECT * FROM pages UNION ALL {extra_sql})"
        pip = pip_sql("p.lon", "p.lat", "edges e", "e.geom_id = b.geom_id")
        rows = self.con.execute(
            f"""WITH edges AS ({edges_values_sql(polys)}),
                     polys AS ({polys_values_sql(polys)}),
                     hits AS (
                        SELECT b.geom_id, p.n_chars FROM {src} p JOIN polys b
                          ON p.lon BETWEEN b.xmin AND b.xmax AND p.lat BETWEEN b.ymin AND b.ymax
                        WHERE {pip})
                SELECT b.geom_id, COUNT(h.n_chars), SUM(h.n_chars), MIN(h.n_chars),
                       MAX(h.n_chars), AVG(h.n_chars)
                FROM polys b LEFT JOIN hits h USING (geom_id) GROUP BY b.geom_id"""
        ).fetchall()
        return {
            int(g): (int(n), None if s is None else int(s), mn, mx, m)
            for g, n, s, mn, mx, m in rows
        }

    @cached_property
    def knn(self) -> dict:
        ids, k = self.knn_ids, self.k
        self.con.execute("CREATE OR REPLACE TEMP TABLE q(id BIGINT)")
        self.con.executemany("INSERT INTO q VALUES (?)", [(i,) for i in ids])
        lat_q, lon_q = LAT_SQL.replace("doc_id", "q.id"), LON_SQL.replace("doc_id", "q.id")
        box = math.sqrt(KNN_BOX_PAGES * 360.0 * 180.0 / self.n_pages) / 2
        rows = self.con.execute(
            f"""WITH qq AS (SELECT q.id - {KNN_ID_BASE} AS q_id, {lat_q} AS qlat, {lon_q} AS qlon FROM q),
                c AS (SELECT qq.q_id, p.doc_id,
                             (p.lat - qq.qlat) * (p.lat - qq.qlat)
                               + (p.lon - qq.qlon) * (p.lon - qq.qlon) AS dist2
                      FROM qq JOIN pages p
                        ON p.lat BETWEEN qq.qlat - {box} AND qq.qlat + {box}
                       AND p.lon BETWEEN qq.qlon - {box} AND qq.qlon + {box})
                SELECT q_id, doc_id, dist2,
                       row_number() OVER (PARTITION BY q_id ORDER BY dist2, doc_id) AS rk
                FROM c QUALIFY rk <= {k}"""
        ).fetchall()
        out = {(int(q), int(r)): (int(d), float(d2)) for q, d, d2, r in rows}
        per_q = {}
        for (q, r), (_, d2) in out.items():
            per_q[q] = max(per_q.get(q, 0.0), d2)
        if len(per_q) != len(ids) or any(
            sum(1 for (qq, _) in out if qq == q) != k or d2 >= box**2
            for q, d2 in per_q.items()
        ):
            raise RuntimeError("kNN reference box too small for the query set")
        return out

    def close(self):
        self.con.close()


# ---------------------------------------------------------------- checks
# Each returns None when the result matches, else a one-line reason.


def check_zonal(rows, expected: dict):
    got = {
        int(r["geom_id"]): (
            int(r["n_pages"]),
            None if r["sum_val"] is None else int(r["sum_val"]),
            r["min_val"],
            r["max_val"],
            r["mean_val"],
        )
        for r in rows
    }
    if set(got) != set(expected) or len(rows) != len(expected):
        return f"zonal geom ids {sorted(got)} != {sorted(expected)}"
    for g, (n, s, mn, mx, m) in expected.items():
        gn, gs, gmn, gmx, gm = got[g]
        if (gn, gs, gmn, gmx) != (n, s, mn, mx):
            return f"zonal geom {g}: {(gn, gs, gmn, gmx)} != {(n, s, mn, mx)}"
        if (gm is None) != (m is None) or (
            m is not None and abs(gm - m) > MEAN_RTOL * max(1.0, abs(m))
        ):
            return f"zonal geom {g}: mean {gm} != {m}"
    return None


def check_count(n, expected: int):
    return None if int(n) == expected else f"count {n} != {expected}"


def check_knn(rows, expected: dict):
    got = {(int(r["q_id"]), int(r["rank"])): (int(r["doc_id"]), float(r["dist2"])) for r in rows}
    if got != expected:
        bad = sorted(set(got.items()) ^ set(expected.items()))[:2]
        return f"knn mismatch, e.g. {bad}"
    return None


def check_rollup(rows, expected: dict):
    got = {int(r[0]): (int(r[1]), int(r[2])) for r in rows}
    return None if got == expected else "rollup per-tile count/sum mismatch"


def check_dedup(rows, expected: dict):
    got = {(int(r["doc_a"]), int(r["doc_b"])): round(float(r["jaccard"]), 6) for r in rows}
    if got != expected:
        return f"dedup pairs: {len(got)} vs {len(expected)} expected"
    return None
