"""Per-layer probe pass of the traced run.

Each layer's public function runs as its own action inside a span, with
the cache cleared first; counts come from Spark's SQL status store for
the executions that ran inside the span. Conflation goes first, so
``conflate_cold_s`` is the first conflation in a fresh session on every
workload; it collects, and its rows are checked. The staged leg writes a salted-shuffle geotag stage and a
segments stage with ``StageRunner`` (snapshot metrics) into a fresh
directory, resumes both with a second runner, and checks the written
tables against DuckDB.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyspark.sql.functions as F

from spans import SqlMetrics, Tracer
from workloads import CONFLATE_COLS, GEOTAG_COLS, SEGMENT_COLS, conflate_world, diff, noop, pick, text_md5_diff

N_SALT = 4  # salt factor of the shuffle branch of the cell join
STAGES = ["geotag", "segments"]
SHUFFLE_BYTES = "shuffle bytes written"
ROWS = "number of output rows"


def _action(tracer: Tracer, sql: SqlMetrics, name: str, fn):
    """Run fn inside a span; return (seconds, SQL node metrics of its executions)."""
    sql.spark.catalog.clearCache()
    before = sql.last_id()
    t0 = time.perf_counter()
    with tracer.span(name, cached_relations=sql.cached_relations()):
        fn()
    return time.perf_counter() - t0, sql.node_metrics(sql.since(before))


def _pip_counts(points, bounds) -> tuple[int, int, int]:
    """(candidate rows, rows sent to point-in-polygon, rows it confirmed).

    The cell join of ``geotag_points`` restated with the engine's public
    covering and PiP kernels, so the interior-covering prune can be
    counted: candidates in a fully interior cell never reach PiP.
    """
    from osm_admin_boundary_conflation_spark.functions.udfs import cell_expr, cover_wkt_full_udf, point_in_wkt_udf

    cov = bounds.select("wkt", F.explode(cover_wkt_full_udf("wkt")).alias("c")).select(
        "wkt", F.col("c.cell").alias("_jcell"), F.col("c.full").alias("full")
    ).localCheckpoint(eager=True)
    levels = sorted({int(r[0].split(":")[0][1:]) for r in cov.select("_jcell").collect()})
    cells = F.array(*[cell_expr(F.col("lon"), F.col("lat"), r) for r in levels])
    cand = points.withColumn("_jcell", F.explode(cells)).join(F.broadcast(cov), "_jcell")
    pip = ~F.col("full")
    row = cand.agg(
        F.count(F.lit(1)),
        F.count(F.when(pip, 1)),
        F.count(F.when(pip & point_in_wkt_udf(F.col("lon"), F.col("lat"), F.col("wkt")), 1)),
    ).collect()[0]
    return int(row[0]), int(row[1]), int(row[2])


def _dir_stats(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def _staged(inp: dict, tracer: Tracer, ckpt: str, m: dict) -> dict:
    """Write leg then resume leg in a fresh directory; returns the resumed stage tables."""
    from osm_admin_boundary_conflation_spark.operators.segmentation import segment_ways
    from osm_admin_boundary_conflation_spark.operators.spatial_join import geotag_pages
    from osm_admin_boundary_conflation_spark.plans.checkpoint import StageRunner

    spark = inp["spark"]
    shutil.rmtree(ckpt, ignore_errors=True)
    spark.catalog.clearCache()
    writer = StageRunner(spark, ckpt, run_id="write", metrics_fmt="snapshot")
    t0 = time.perf_counter()
    with tracer.span("checkpoint.stage"):
        writer.stage(
            "geotag", lambda: geotag_pages(inp["pages"], inp["bounds"], broadcast_boundaries=False, n_salt=N_SALT)
        )
        writer.stage("segments", lambda: segment_ways(inp["strip"]))
    m["checkpoint.stage_s"] = time.perf_counter() - t0
    if writer.recomputed != STAGES or writer.resumed:
        raise RuntimeError(f"write leg recomputed {writer.recomputed}, resumed {writer.resumed}")
    m["checkpoint.bytes_written"], m["checkpoint.files_written"] = _dir_stats(ckpt)
    m["sources.snapshot_commits"] = len(writer.metrics_history())

    def unreachable():
        raise RuntimeError("resume leg recomputed a finished stage")

    spark.catalog.clearCache()
    reader = StageRunner(spark, ckpt, run_id="resume", metrics_fmt="snapshot")
    t0 = time.perf_counter()
    with tracer.span("checkpoint.resume"):
        outs = {s: reader.stage(s, unreachable) for s in STAGES}
        for df in outs.values():
            noop(df)
    m["checkpoint.resume_s"] = time.perf_counter() - t0
    if reader.recomputed or reader.resumed != STAGES:
        raise RuntimeError(f"resume leg recomputed {reader.recomputed}, resumed {reader.resumed}")
    return outs


def probe(inp: dict, tracer: Tracer, sql: SqlMetrics, oracle, work_dir: str) -> tuple[dict[str, float], int]:
    """Every layer's metrics, and the rows by which the outputs miss their expectation.

    The cold conflation collects and is checked; so are the extracted text
    and the resumed stage tables (salted geotag and segments).
    """
    from osm_admin_boundary_conflation_spark.operators.segmentation import segment_ways
    from osm_admin_boundary_conflation_spark.operators.spatial_join import extract_pages_geo, geotag_points

    m: dict[str, float] = {}
    tot = SqlMetrics.total

    verdicts = []
    m["conflation.conflate_cold_s"], _ = _action(
        tracer, sql, "conflation.conflate", lambda: verdicts.extend(conflate_world(inp["world"]).collect())
    )
    bad = diff(pick(verdicts, CONFLATE_COLS), oracle.query("conflate_verdicts"))
    m["conflation.conflate_s"], rows = _action(tracer, sql, "conflation.conflate", lambda: noop(conflate_world(inp["world"])))
    m["conflation.explode_rows"] = tot(rows, "Generate", ROWS)
    m["conflation.battery_rows"] = tot(rows, "ArrowEvalPython", ROWS)
    m["conflation.shuffle_bytes"] = tot(rows, "Exchange", SHUFFLE_BYTES)
    m["conflation.spill_bytes"] = tot(rows, None, "spill size")

    m["segmentation.segment_s"], rows = _action(
        tracer, sql, "segmentation.segment_ways", lambda: noop(segment_ways(inp["strip"]))
    )
    m["segmentation.shuffle_bytes"] = tot(rows, "Exchange", SHUFFLE_BYTES)

    m["sources.scan_s"], _ = _action(tracer, sql, "sources.pages_scan", lambda: noop(inp["pages"]))
    m["functions.extract_s"], _ = _action(
        tracer, sql, "functions.extract_pages_geo", lambda: noop(extract_pages_geo(inp["pages"], 6))
    )
    bad += text_md5_diff(inp["pages"], oracle)
    points = extract_pages_geo(inp["pages"], 6).select("url", "lat", "lon", "cell_id").localCheckpoint(eager=True)
    m["spatial_join.join_s"], _ = _action(
        tracer, sql, "spatial_join.geotag_points", lambda: noop(geotag_points(points, inp["bounds"]))
    )
    m["spatial_join.salted_join_s"], rows = _action(
        tracer,
        sql,
        "spatial_join.geotag_points_salted",
        lambda: noop(geotag_points(points, inp["bounds"], broadcast_boundaries=False, n_salt=N_SALT)),
    )
    m["spatial_join.shuffle_bytes"] = tot(rows, "Exchange", SHUFFLE_BYTES)
    cand, pip, confirmed = _pip_counts(points, inp["bounds"])
    m["spatial_join.candidate_rows"] = cand
    m["spatial_join.pip_rows"] = pip
    m["spatial_join.pip_useful_ratio"] = confirmed / pip if pip else 0.0

    ckpt = os.path.join(work_dir, "probe_ckpt")
    outs = _staged(inp, tracer, ckpt, m)
    segs = outs["segments"].select(*SEGMENT_COLS).collect()
    m["segmentation.segments_out"] = len(segs)
    bad += diff(outs["geotag"].select(*GEOTAG_COLS).collect(), oracle.geotag())
    bad += diff(segs, oracle.query("segment_tiles"))
    shutil.rmtree(ckpt, ignore_errors=True)
    m["session.build_s"] = statistics.median(tracer.durations("session.build"))
    return m, bad
