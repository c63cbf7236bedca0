"""Seeded inputs for the benchmark: documents, star polygons and kNN
queries. The documents expand to the page corpus through the frozen
suite's own ``bench.expanded_pages``.

Everything here is a pure function of the seed, so two runs with one seed
feed the engine identical inputs. Geotags come from the engine's own hash
formula (``sources.pages.lat_col``/``lon_col``), so the seed moves page
*contents* (text, ``n_chars``), star placement and kNN query points, while
the page positions stay fixed — seed-to-seed timing differences then come
from the inputs the engine sees, not from a different corpus geometry.
"""

from __future__ import annotations

import math
import random

import pyarrow as pa
from pyspark.sql import functions as F

from rasters_jl_spark import fixtures as FX
from rasters_jl_spark.functions.geometry import Polygon
from rasters_jl_spark.grid import COVER_RES, WebGrid
from rasters_jl_spark.sources.pages import lat_col, lon_col

VOCAB = (
    "the a data spark query row column table scan join hash sort merge group agg "
    "filter key value part line order batch stream window vector big small fast "
    "slow customer map reduce shuffle tile cell page zone edge ring point"
).split()
LANGS = ("en", "es", "de", "fr", "zh", "ja")
SOURCES = ("src0", "src1", "src2", "src3")

# Star set for ``star_pip``. One finely detailed star sets the largest edge
# count; the larger, coarser stars set the cover-cell count. Their product
# (cover cells × max edges) is what the engine compares against
# FUSE_EDGE_STRUCTS_MAX; with these sizes it is (1 + 5 × 9) × 5,000 for
# every seed, above the bound, so the workload is always on the two-join
# path. The coarse stars' 500 edges over 9 cover cells each keep the
# refinement past the cover join (edge-array join plus PIP) the larger
# part of the join's wall (``zonal.refine_share``, README).
DETAILED_STAR = (2500, 2.5)  # (points, outer radius in degrees)
COARSE_STARS = (250, 6.0)
N_COARSE_STARS = 5
STAR_INNER = 0.45  # inner radius as a share of the outer radius


def documents(seed: int, n_docs: int) -> list[tuple]:
    """(doc_id, text, lang, source, n_chars) rows, 10–60 tokens each."""
    rng = random.Random(seed)
    rows = []
    for d in range(n_docs):
        text = " ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 60)))
        rows.append((d, text, rng.choice(LANGS), rng.choice(SOURCES), len(text)))
    return rows


def documents_table(rows: list[tuple]) -> pa.Table:
    cols = list(zip(*rows))
    return pa.table(
        {
            "doc_id": pa.array(cols[0], pa.int64()),
            "text": pa.array(cols[1], pa.string()),
            "lang": pa.array(cols[2], pa.string()),
            "source": pa.array(cols[3], pa.string()),
            "n_chars": pa.array(cols[4], pa.int64()),
        }
    )


def _star(geom_id: int, cx: float, cy: float, points: int, radius: float, rot: float) -> Polygon:
    ring = []
    for j in range(2 * points):
        r = radius if j % 2 == 0 else radius * STAR_INNER
        a = rot + math.pi * j / points
        ring.append((round(cx + r * math.cos(a), 6), round(cy + r * math.sin(a), 6)))
    return Polygon(geom_id, tuple(ring))


def star_polygons(seed: int) -> list[Polygon]:
    """Formula-generated stars: seed-chosen centres (kept clear of the poles
    and the antimeridian) and rotations. Each centre sits on a cover-cell
    centre, so every star covers the same number of cover cells whatever
    the seed, and the PIP work differs between seeds only by the page
    count in those cells. Stars may overlap; a page inside two stars
    counts for both, as in any zonal over overlapping zones."""
    rng = random.Random(seed * 7919 + 1)
    step = WebGrid(COVER_RES).step
    sizes = [DETAILED_STAR] + [COARSE_STARS] * N_COARSE_STARS
    out = []
    for i, (points, radius) in enumerate(sizes):
        cx = -180.0 + (rng.randrange(5, 59) + 0.5) * step  # lon within ±150°
        cy = -90.0 + (rng.randrange(6, 26) + 0.5) * step  # lat within ±55°
        out.append(_star(i + 1, cx, cy, points, radius, rng.uniform(0.0, 2 * math.pi)))
    return out


def workload_polygons(workload: str, seed: int) -> list[Polygon]:
    if workload == "star_pip":
        return star_polygons(seed)
    return list(FX.POLYS_GEO)


def knn_query_ids(seed: int, n: int = 50) -> list[int]:
    """Seed-chosen query ids in the same id range the frozen suite uses; a
    query point is the geotag of its id."""
    rng = random.Random(seed * 104729 + 3)
    return sorted(rng.sample(range(FX.KNN_ID_BASE, FX.KNN_ID_BASE + 100_000), n))


def knn_queries(spark, ids: list[int]):
    q = spark.createDataFrame([(i,) for i in ids], "id long")
    return q.select(
        (F.col("id") - F.lit(FX.KNN_ID_BASE)).alias("q_id"),
        lat_col(F.col("id")).alias("qlat"),
        lon_col(F.col("id")).alias("qlon"),
    )
