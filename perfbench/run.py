"""Repository benchmark: the zonal / spatial-join engine end to end, one
client in a closed loop on ``local[2]``.

    python3 perfbench/run.py --workload suite_mix --seed 1 --seconds 30 --trace 0

Each run builds its inputs from ``--seed``, sets up once in its own fresh
JVM, warms the JVM with a fixed number of untimed calls, then times
``zonal_pages`` for about ``--seconds``. Every result is checked against
a DuckDB reference built from the same inputs. With ``--trace 1`` the run
times one cycle of zonal, join and rollup, then one salted zonal, one kNN
batch and one dedup, the layer probes and one pass of the ledger write
path, and reports
per-layer metrics (see perfbench/README.md). The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0 only
when every operation returned the right answer.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from rasters_jl_spark.functions.dedup import (  # noqa: E402
    minhash_candidate_pairs,
    minhash_signatures,
)
from rasters_jl_spark.functions.geometry import polygon_cover_df  # noqa: E402
from rasters_jl_spark.grid import COVER_RES, PAGES_RES, WebGrid  # noqa: E402
from rasters_jl_spark.operators.knn import knn_pages  # noqa: E402
from rasters_jl_spark.operators.zonal import (  # noqa: E402
    merge_zonal_partials,
    spatial_join_pages,
    zonal_pages,
)
from rasters_jl_spark.plans.lineage import (  # noqa: E402
    changed_tiles,
    run_tiles_incremental,
    run_tiles_resumable,
)
from rasters_jl_spark.queries_text import _aug_near, q_dedup_minhash  # noqa: E402
from rasters_jl_spark.session import get_spark  # noqa: E402
from rasters_jl_spark.sources.sinks import write_pages  # noqa: E402

import inputs  # noqa: E402
import reference as R  # noqa: E402
import spans as T  # noqa: E402

WORKLOADS = ("suite_mix", "star_pip")
# local[2]: the benchmark's fixed executor budget. Half the host's 4 cores,
# so the driver, the JVM's GC and JIT threads and the Python client never
# wait for a core: with local[4] on 4 cores the operations, about one
# second each and bound by task hand-offs rather than by compute, ran
# 5-15% faster on suite_mix (1.6x on the PIP-bound star_pip) but their
# run-to-run spread on a shared host was several times wider (README,
# "Why local[2]").
CPUS = 2
# The JVM's own parallel threads kept to the two cores the tasks leave
# free: G1 would otherwise run four stop-the-world workers on the four
# cores, and a pause lasts until the last of them has a core. Without
# these flags the docs/s spread over five seeds was 2-6 times wider
# (README, "Why local[2]").
JVM_OPTS = "-XX:-UsePerfData -XX:ParallelGCThreads=2 -XX:ConcGCThreads=1"
# DuckDB threads for the reference, built while the warm-up runs
REF_THREADS = 4
DRIVER_MEM = "2g"
# untimed cycles before measuring: the first pays for code generation, and
# JIT compilation and heap growth speed the operations up for a few more.
# A count, not a time, so every run starts measuring equally warm however
# fast the host is. The traced cycle holds six operations, so two passes.
WARMUP_CYCLES = 4
WARMUP_CYCLES_TRACED = 2
# timed cycles an untraced run makes at least, whatever --seconds says
MIN_CYCLES = 5
N_SALT = 8
KNN_K = 5
# ledger shape: 512 tiles at TILE_RES in 8 batches of 64
LEDGER_TILES_PER_BATCH = 64
# refresh: this many seed-chosen tiles get appended pages
REFRESH_TILES = 32
APPEND_ID_OFFSET = 900_000_000_000

E2E_UNITS = {
    "setup_s": "s",
    "zonal_docs_per_s": "docs/s",
    "exec_mem_mb": "MB",
}
# each timed operation's docs/s is pages / median wall
OP_METRIC = {
    "zonal": "zonal_docs_per_s",
    "join": "join_docs_per_s",
    "rollup": "rollup_docs_per_s",
}
# an untraced run times zonal_pages alone (README: why join and rollup are
# traced only)
CYCLE = ("zonal",)
# the traced run times one cycle of these, then the traced-only operations
# once each
TRACED_CYCLE = ("zonal", "join", "rollup")
TRACED_ONLY_OPS = ("salted", "knn", "dedup")
# span around each operation when traced, named by the layer it exercises
OP_SPAN = {
    "zonal": "zonal.agg",
    "join": "zonal.join",
    "salted": "zonal.salted",
    "knn": "knn.batch",
    "rollup": "pages.rollup",
    "dedup": "dedup.pairs",
}
LAYER_UNITS = {
    "session.start_s": "s",
    "jvm.peak_rss_mb": "MB",
    "pages.scan_s": "s",
    "pages.rows": "count",
    "geometry.cover_build_s": "s",
    "geometry.cover_rows": "count",
    "geometry.cover_edges": "count",
    "geometry.fused": "flag",
    "zonal.cand_rows": "count",
    "zonal.hit_rows": "count",
    "zonal.pip_yield": "ratio",
    "zonal.cand_s": "s",
    "zonal.join_s": "s",
    "zonal.refine_share": "ratio",
    "zonal.agg_s": "s",
    "zonal.salted_s": "s",
    "zonal.tail_s": "s",
    "knn.cache_fill_s": "s",
    "knn.batch_s": "s",
    "knn.rows_out": "count",
    "dedup.sig_s": "s",
    "dedup.cand_s": "s",
    "dedup.pairs_s": "s",
    "dedup.cand_pairs": "count",
    "dedup.pairs": "count",
    "dedup.verify_yield": "ratio",
    "ledger.batches": "count",
    "ledger.batch_s": "s",
    "ledger.detect_s": "s",
    "ledger.refresh_share": "ratio",
    "ledger.bytes_written": "bytes",
    "ledger.docs_per_s": "docs/s",
    "ledger.refresh_s": "s",
}
STAGE_SPANS = (
    "pages.scan",
    "geometry.cover_build",
    "zonal.cand",
    "zonal.join",
    "zonal.agg",
    "knn.cache_fill",
    "knn.batch",
    "dedup.sig",
    "dedup.cand",
    "dedup.pairs",
    "ledger.resumable",
    "ledger.detect",
    "ledger.refresh",
)


def per_layer_units() -> dict[str, str]:
    units = dict(LAYER_UNITS)
    for span in STAGE_SPANS:
        for m in T.STAGE_METRICS:
            units[f"{span}.{m}"] = T.STAGE_UNITS[m]
    # the traced run's timings as end-to-end numbers; against an untraced
    # run they give the tracing overhead. The execution memory is Spark's
    # exact accounting, which tracing leaves alone.
    units["traced.setup_s"] = "s"
    for op in TRACED_CYCLE:
        units[f"traced.{OP_METRIC[op]}"] = "docs/s"
    return units


def tail(walls: list[float]) -> float:
    """The highest percentile with at least ten samples beyond it; with
    fewer than eleven samples no such percentile exists and the slowest
    sample is reported."""
    s = sorted(walls)
    return s[-1] if len(s) < 11 else s[len(s) - 11]


def contention_probe() -> dict | None:
    """The frozen suite's ``_contention_probe`` in a fresh process. Its
    process pool forks, and a fork of this process, which holds the JVM
    gateway's and DuckDB's threads, can hang in the child on a lock one of
    them held. None if the probe fails."""
    code = "import json, bench; print(json.dumps(bench._contention_probe()))"
    try:
        out = subprocess.run(
            [sys.executable, "-c", code], cwd=ROOT, capture_output=True, text=True,
            timeout=60, check=True,
        ).stdout
        return json.loads(out.strip().splitlines()[-1])
    except (subprocess.SubprocessError, ValueError, IndexError):
        return None


def frozen_suite(expand: int):
    """The frozen suite's module (bench.py), imported for its corpus
    construction. It reads the corpus shape from the environment when
    imported."""
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_BENCH_EXPAND"] = str(expand)
    import bench

    assert bench.EXPAND == expand, "bench.py was imported before its corpus shape was set"
    return bench


class Bench:
    """One workload run: session, inputs, reference, operations."""

    def __init__(self, args, work: str, log_dir: str | None, suite):
        self.args = args
        self.suite = suite
        self.work = work
        self.log_dir = log_dir
        self.docs_path = os.path.join(work, "documents.parquet")
        self.polys = inputs.workload_polygons(args.workload, args.seed)
        self.knn_ids = inputs.knn_query_ids(args.seed)
        self.docs = inputs.documents(args.seed, args.docs)
        pq.write_table(inputs.documents_table(self.docs), self.docs_path)
        self.spark = None
        self.tracer = None
        self.ref = None
        self.last: dict[str, int] = {}  # result size of each operation's last run
        self.failures: list[str] = []
        self.attempted = 0

    # ------------------------------------------------------------ session
    def start_session(self):
        conf = {
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": f"{JVM_OPTS} "
            "-Djava.io.tmpdir=" + os.path.join(self.work, "tmp"),
        }
        if self.log_dir:
            conf.update(T.event_log_conf(self.log_dir))
        self.spark = get_spark(
            master=f"local[{CPUS}]", shuffle_partitions=max(CPUS, 8), extra_conf=conf
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.tracer = T.Tracer(self.spark) if self.log_dir else None

    def setup(self) -> tuple[float, float]:
        """What a user pays before the first query: launch the JVM, start a
        session and scan the expanded corpus. Returns (set-up wall,
        session-start wall)."""
        t0 = time.perf_counter()
        self.start_session()
        t_session = time.perf_counter() - t0
        self.n_pages = self.pages().count()
        return time.perf_counter() - t0, t_session

    def pages(self):
        return self.suite.expanded_pages(self.spark, self.work)

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    # --------------------------------------------------------- operations
    def op(self, name: str):
        """Run operation ``name``; returns a thunk that checks the result."""
        if name == "zonal":
            rows = zonal_pages(self.pages(), self.polys, value_col="n_chars").collect()
            return lambda: R.check_zonal(rows, self.ref.zonal)
        if name == "join":
            n = spatial_join_pages(self.pages(), self.polys).count()
            self.last["join"] = n
            return lambda: R.check_count(n, self.ref.join_rows)
        if name == "salted":
            rows = zonal_pages(self.pages(), self.polys, n_salt=N_SALT).collect()
            return lambda: R.check_zonal(rows, self.ref.zonal)
        if name == "rollup":
            rows = (
                self.pages()
                .groupBy("tile_id")
                .agg(F.count("*").alias("n"), F.sum("n_chars").alias("s"))
                .collect()
            )
            return lambda: R.check_rollup(rows, self.ref.rollup)
        if name == "dedup":
            rows = q_dedup_minhash(self.spark, self.work).collect()
            self.last["dedup"] = len(rows)
            return lambda: R.check_dedup(rows, self.ref.dedup)
        raise ValueError(name)

    def knn_batch(self, p):
        q = inputs.knn_queries(self.spark, self.knn_ids)
        rows = knn_pages(
            q, p, k=KNN_K, res=PAGES_RES, n_pages=self.n_pages,
            n_queries=len(self.knn_ids),
        ).collect()
        self.last["knn"] = len(rows)
        return lambda: R.check_knn(rows, self.ref.knn)

    def run_op(self, name: str, checked: bool = True) -> float | None:
        """Run one operation; returns its wall time, or None if it failed.
        Only the operation's own call is timed. The kNN corpus is cached
        before the timed batch, as in the frozen suite's q4, and released
        after it, so no later operation runs under its storage memory. The
        warm-up runs unchecked and untraced."""
        self.attempted += checked
        span = self.span if checked else (lambda _: nullcontext())
        p_knn = None
        try:
            if name == "knn":
                with span("knn.cache_fill"):
                    p_knn = self.pages().select("doc_id", "lat", "lon", "cell").cache()
                    p_knn.count()
            with span(OP_SPAN[name]):
                t0 = time.perf_counter()
                check = self.knn_batch(p_knn) if name == "knn" else self.op(name)
                wall = time.perf_counter() - t0
            reason = check() if checked else None
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.attempted += not checked
            reason = f"{type(e).__name__}: {e}"
        finally:
            if p_knn is not None:
                p_knn.unpersist(blocking=True)
        if reason is not None:
            self.failures.append(f"{name}: {reason}")
            return None
        return wall

    def check(self, name: str, reason: str | None):
        self.attempted += 1
        if reason is not None:
            self.failures.append(f"{name}: {reason}")

    # -------------------------------------------------------- layer probes
    def probe_layers(self) -> dict:
        """Layer calls the operation cycle does not make on its own."""
        tr, out = self.tracer, {}
        with tr.span("pages.scan"):
            obs = Observation("pages")
            self.pages().observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
                "overwrite"
            ).save()
        out["pages.rows"] = obs.get["n"]
        out["pages.scan_s"] = tr.wall("pages.scan")

        with tr.span("geometry.cover_build"):
            cover = polygon_cover_df(self.spark, self.polys, COVER_RES)
            out["geometry.cover_rows"] = cover.count()
        out["geometry.cover_build_s"] = tr.wall("geometry.cover_build")
        # the fused cover+edge broadcast adds one join to the corpus plan;
        # the two-join path adds a second join against the polygon table
        fused = (
            _plan_joins(spatial_join_pages(self.pages(), self.polys))
            - _plan_joins(self.pages())
            == 1
        )
        out["geometry.fused"] = int(fused)
        # edge structs the chosen path broadcasts: one edge array per cover
        # row when fused, one per polygon on the two-join path
        edges_by_geom = {p.geom_id: len(p.edges) for p in self.polys}
        if fused:
            out["geometry.cover_edges"] = sum(
                edges_by_geom[r["geom_id"]] * r["count"]
                for r in cover.groupBy("geom_id").count().collect()
            )
        else:
            out["geometry.cover_edges"] = sum(edges_by_geom.values())

        g = WebGrid(COVER_RES)
        with tr.span("zonal.cand"):
            p = self.pages().withColumn("_cc", g.cell_col(F.col("lon"), F.col("lat")))
            out["zonal.cand_rows"] = p.join(
                F.broadcast(cover), p["_cc"] == cover["cover_cell"]
            ).count()
        out["zonal.cand_s"] = tr.wall("zonal.cand")
        out["zonal.pip_yield"] = self.last.get("join", 0) / max(out["zonal.cand_rows"], 1)

        aug = _aug_near(self.spark, self.work)
        with tr.span("dedup.sig"):
            minhash_signatures(aug).write.format("noop").mode("overwrite").save()
        with tr.span("dedup.cand"):
            out["dedup.cand_pairs"] = minhash_candidate_pairs(aug).count()
        out["dedup.sig_s"] = tr.wall("dedup.sig")
        out["dedup.cand_s"] = tr.wall("dedup.cand")
        out["dedup.verify_yield"] = self.last.get("dedup", 0) / max(out["dedup.cand_pairs"], 1)
        return out

    def probe_ledger(self) -> dict:
        """The production write path: a resumable run from an empty ledger,
        then an incremental refresh after a deterministic append."""
        tr, spark, out = self.tracer, self.spark, {}
        d = os.path.join(self.work, "ledger")
        corpus, led, res = f"{d}/corpus", f"{d}/led", f"{d}/out"
        # one file per tile directory, as a compacted table holds
        write_pages(self.pages().repartition("tile_id"), corpus)

        def tile_zonal(batch):
            return zonal_pages(batch, self.polys, n_salt=N_SALT)

        with tr.span("ledger.resumable"):
            n_tiles = run_tiles_resumable(
                spark.read.parquet(corpus), spark, led, tile_zonal, res,
                tiles_per_batch=LEDGER_TILES_PER_BATCH,
            )
        out["ledger.docs_per_s"] = self.n_pages / tr.wall("ledger.resumable")
        batch_walls = sorted({r["wall_s"] for r in spark.read.parquet(led).collect()})
        out["ledger.batches"] = len(batch_walls)
        out["ledger.batch_s"] = statistics.median(batch_walls)
        out["ledger.bytes_written"] = _dir_bytes(res) + _dir_bytes(led)
        merged = merge_zonal_partials(spark.read.parquet(res + "/batch=*")).collect()
        self.check("ledger", R.check_zonal(merged, self.ref.zonal))
        self.check("ledger", R.check_count(n_tiles, len(self.ref.rollup)))

        # refresh: incremental state from a full first run, then an append
        # of pages to seed-chosen tiles, then the timed refresh
        iled, ires = f"{d}/iled", f"{d}/iout"

        def tile_partials(batch):
            j = spatial_join_pages(batch, self.polys, n_salt=N_SALT)
            v = F.col("n_chars")
            return j.groupBy("tile_id", "geom_id").agg(
                F.count(v).alias("n_pages"),
                F.sum(v).alias("sum_val"),
                F.avg(v).alias("mean_val"),
                F.min(v).alias("min_val"),
                F.max(v).alias("max_val"),
            )

        run_tiles_incremental(spark.read.parquet(corpus), spark, iled, tile_partials, ires)
        tiles = sorted(self.ref.rollup)
        chosen = sorted(random.Random(self.args.seed * 31 + 7).sample(tiles, REFRESH_TILES))
        extra_where = f"tile_id IN ({','.join(map(str, chosen))}) AND doc_id % 97 = 0"
        spark.read.parquet(corpus).where(extra_where).select(
            (F.col("doc_id") + F.lit(APPEND_ID_OFFSET)).alias("doc_id"),
            (F.col("n_chars") + 1).alias("n_chars"),
            "lat", "lon", "cell", "tile_id",
        ).write.mode("append").partitionBy("tile_id").parquet(corpus)
        with tr.span("ledger.detect"):
            n_changed = len(changed_tiles(spark.read.parquet(corpus), spark, iled).collect())
        with tr.span("ledger.refresh"):
            n_refreshed = run_tiles_incremental(
                spark.read.parquet(corpus), spark, iled, tile_partials, ires
            )
        out["ledger.detect_s"] = tr.wall("ledger.detect")
        out["ledger.refresh_s"] = tr.wall("ledger.refresh")
        out["ledger.refresh_share"] = n_changed / len(tiles)
        extra_sql = (
            f"SELECT doc_id + {APPEND_ID_OFFSET}, n_chars + 1, lat, lon, tile_id "
            f"FROM pages WHERE {extra_where}"
        )
        n_appended_tiles = self.ref.con.execute(
            f"SELECT COUNT(DISTINCT tile_id) FROM ({extra_sql})"
        ).fetchone()[0]
        self.check("refresh", R.check_count(n_refreshed, n_appended_tiles))
        self.check("refresh", R.check_count(n_changed, n_appended_tiles))
        merged = merge_zonal_partials(spark.read.parquet(ires)).collect()
        self.check("refresh", R.check_zonal(merged, self.ref.zonal_of(self.polys, extra_sql)))
        return out


def _plan_joins(df) -> int:
    return str(df._jdf.queryExecution().optimizedPlan()).count("Join ")


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def run_cycles(
    b: Bench, ops, seconds: float | None, checked: bool = True
) -> tuple[dict[str, list[float]], int]:
    """Closed loop, one client: run at least MIN_CYCLES cycles of ``ops``,
    then more while the next one, taking as long as the last, would end
    within ``seconds`` (exactly one cycle when ``None``). A run's length
    then does not depend on where a cycle happens to end, and one cycle
    slowed by the host is never the median. Returns each operation's
    walls and the number of cycles."""
    walls: dict[str, list[float]] = {op: [] for op in ops}
    t0 = time.perf_counter()
    cycles = 0
    while True:
        t_cycle = time.perf_counter()
        for op in ops:
            w = b.run_op(op, checked)
            if w is not None:
                walls[op].append(w)
        cycles += 1
        now = time.perf_counter()
        if seconds is None or (
            cycles >= MIN_CYCLES and now - t0 + (now - t_cycle) > seconds
        ):
            return walls, cycles


def e2e_from_walls(b: Bench, walls: dict[str, list[float]]) -> dict[str, float]:
    return {OP_METRIC[op]: b.n_pages / statistics.median(w) for op, w in walls.items() if w}


def shutdown():
    """Stop Spark and the gateway JVM, and wait for the JVM to exit. Does
    nothing when no JVM runs."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw, SparkContext._gateway = SparkContext._gateway, None
    if gw is not None:
        proc = gw.proc
        gw.shutdown()
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - the JVM did not exit on its own
            proc.kill()
            proc.wait()


def _log(msg: str, t0=time.perf_counter()):
    print(f"[perfbench {time.perf_counter() - t0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def run(args, work: str) -> int:
    suite = frozen_suite(args.expand)
    probe_before = contention_probe()
    log_dir = os.path.join(work, "eventlog") if args.trace else None
    if log_dir:
        os.makedirs(log_dir)
    b = Bench(args, work, log_dir, suite)
    setup_s, session_start_s = b.setup()
    _log(f"set-up {setup_s:.2f} s, session start {session_start_s:.2f} s")
    # The reference is built in DuckDB while untimed cycles warm the JVM
    # (JIT, code generation); only the traced run checks kNN and dedup.
    cycle = TRACED_CYCLE if args.trace else CYCLE
    ops = cycle + (TRACED_ONLY_OPS if args.trace else ())

    def reference():
        ref = R.Reference(
            b.docs, args.expand, suite.REP_STRIDE, b.polys, b.knn_ids, KNN_K, REF_THREADS
        )
        if args.trace:
            ref.knn, ref.dedup  # noqa: B018 - computed here, off the timed path
        return ref

    with ThreadPoolExecutor(1) as pool:
        ref = pool.submit(reference)
        for _ in range(WARMUP_CYCLES_TRACED if args.trace else WARMUP_CYCLES):
            run_cycles(b, ops, None, checked=False)
        b.ref = ref.result()
    _log("reference built, warm-up done")
    before = max(T.stage_exec_mem_bytes(b.spark), default=(-1, 0))
    walls, cycles = run_cycles(b, cycle, None if args.trace else args.seconds)
    _log(f"measured {walls}")
    e2e = e2e_from_walls(b, walls)
    e2e["setup_s"] = setup_s
    zonal_tail_s = tail(walls["zonal"]) if walls["zonal"] else None
    # execution memory the timed operations reserve per cycle; every
    # operation reserves the same on every cycle
    e2e["exec_mem_mb"] = (
        sum(v for k, v in T.stage_exec_mem_bytes(b.spark).items() if k > before) / cycles / 2**20
    )

    layer = {}
    if args.trace:
        for op in TRACED_ONLY_OPS:
            b.run_op(op)
        layer.update(b.probe_layers())
        layer.update(b.probe_ledger())
        _log("layer probes and ledger done")
    spark_version = b.spark.version
    if args.trace:
        tr = b.tracer
        layer.update(
            {
                "session.start_s": session_start_s,
                "jvm.peak_rss_mb": T.jvm_peak_rss_mb(b.spark),
                "zonal.hit_rows": b.last.get("join", 0),
                "zonal.join_s": tr.wall("zonal.join"),
                # share of the join's wall spent past the cover equi-join:
                # PIP, and on the two-join path the join bringing the edges
                "zonal.refine_share": 1 - layer["zonal.cand_s"] / tr.wall("zonal.join"),
                "zonal.agg_s": tr.wall("zonal.agg"),
                "zonal.salted_s": tr.wall("zonal.salted"),
                "zonal.tail_s": zonal_tail_s or 0.0,
                "knn.cache_fill_s": tr.wall("knn.cache_fill"),
                "knn.batch_s": tr.wall("knn.batch"),
                "knn.rows_out": b.last.get("knn", 0),
                "dedup.pairs_s": tr.wall("dedup.pairs"),
                "dedup.pairs": b.last.get("dedup", 0),
            }
        )
        # end-to-end numbers of the traced run; minus an untraced run's
        # numbers on the same seed they give the tracing overhead
        layer.update({f"traced.{k}": v for k, v in e2e.items() if k != "exec_mem_mb"})
    shutdown()
    b.ref.close()
    if args.trace:
        stages = T.stage_metrics(log_dir)
        for span in STAGE_SPANS:
            for m, v in stages.get(span, dict.fromkeys(T.STAGE_METRICS, 0)).items():
                layer[f"{span}.{m}"] = v

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": os.cpu_count(),
        "master": f"local[{CPUS}]",
        "spark_version": spark_version,
        "corpus_rows": b.n_pages,
        "documents": len(b.docs),
        "polygon_vertices": [len(p.ring) for p in b.polys],
        "session_start_s": session_start_s,
        "walls_s": walls,
        "zonal_tail_s": zonal_tail_s,
        "failed_frac": len(b.failures) / max(b.attempted, 1),
        "failures": b.failures[:20],
        "contention_probe": {"before": probe_before, "after": contention_probe()},
    }
    print(json.dumps({"info": info}))
    line_units = {**E2E_UNITS, **dict.fromkeys(OP_METRIC.values(), "docs/s")}
    summary = {k: f"{v:.6g} {line_units[k]}" for k, v in e2e.items()}
    summary["failed_frac"] = f"{info['failed_frac']:.6g} share"
    print("end-to-end: " + ", ".join(f"{k}={v}" for k, v in summary.items()))

    units = per_layer_units() if args.trace else E2E_UNITS
    values = layer if args.trace else e2e
    metrics = {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values}
    b.failures += [f"metric {k} not measured" for k in units if k not in metrics]
    failed = len(b.failures)
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": max(b.attempted, 1),
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0 if failed == 0 else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--docs", type=int, default=5000, help="documents before expansion")
    ap.add_argument("--expand", type=int, default=200, help="pages per document")
    args = ap.parse_args(argv)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    # a terminated run still stops Spark and removes its scratch state
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    # the spark-submit launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    try:
        return run(args, work)
    finally:
        shutdown()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
