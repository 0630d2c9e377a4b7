"""Boundary segmentation / tiling (reference §3.3, translation.py).

The reference's preOutputTransform turns boundary polygons into
shared-border way segments:

  J8  corner detection: nodes belonging to >2 ways
      (translation.py:103-116 via get_shared_vertices usage :220-221)
  G13 way splitting at corner indexes, closed-way wraparound merge of
      the first/last piece (splitWay, translation.py:46-82)
  G15/O11 rotation/reversal-invariant canonical fingerprint
      (similar, translation.py:132-160) replacing the reference's
      O(n^2) sort-and-break dedup pass (translation.py:244-262) with an
      equi groupBy on the fingerprint — no quadratic pass at all
  A5  re-tag: min admin_level over parents, sorted parent id list
      (translation.py:295-324)

Scale: corner detection is one explode + groupBy count on node_id;
splitting is a per-way JVM expression; dedup is a groupBy on the
fingerprint — three shuffles, all on well-distributed keys.
"""

from __future__ import annotations

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

from ..functions.geometry import canonical_node_fingerprint

# ways at or above this node count take the fully distributed window
# splitter instead of the per-way JVM split expression: OSM caps ways at
# 2000 nodes, so in-model data always takes the expression path
# (parallel across ways — the right scale shape for many-small-ways
# input). The window path exists for out-of-model giants (a whole
# national perimeter as one way) that would straggle or OOM a single
# task. With the r8 JVM expression the single-task crossover moved up:
# the sf1.0 strip perimeter (3M nodes) splits 2.3 s faster through the
# expression than through the single-partition-key window path, so the
# threshold sits at 4M — one task holding ~64 MB of node ids, still
# comfortably inside an executor; beyond that the window path's
# distributed reassembly wins by not materializing the nested result.
SPLIT_DISTRIBUTED_MIN = 4_000_000


@pandas_udf(StringType())
def fingerprint_udf(node_ids: pd.Series) -> pd.Series:
    return node_ids.map(lambda ids: canonical_node_fingerprint(list(ids)))


def split_way_expr(node_ids, corner_pos):
    """G13: split a way's node list at corner positions, as a pure JVM
    expression (whole-stage-codegen'd: no Arrow boundary, no per-way
    Python). Closed ways wrap around: the piece after the last corner
    merges with the piece before the first (translation.py:72-79).
    Differential-tested against a plain-Python reference splitter in
    tests/test_segmentation.py.

    Every derived array (core, corner indexes, cut points) is bound to a
    lambda variable via the transform-over-singleton idiom; referencing
    the defining expression inside a nested lambda instead would
    re-evaluate it once per emitted segment (higher-order-function
    arguments are not common-subexpression-eliminated)."""
    empty = F.array().cast("array<array<long>>")
    n_all = F.size(node_ids)
    closed = (n_all > 1) & (F.get(node_ids, 0) == F.get(node_ids, n_all - 1))
    core = F.when(closed, F.slice(node_ids, 1, n_all - 1)).otherwise(node_ids)

    def with_core(c):
        nc = F.size(c)
        idxs = F.array_sort(F.filter(corner_pos, lambda i: i < nc))

        def with_idxs(ix):
            k = F.size(ix)
            # open way: segments between consecutive cut points
            # [0] + idxs + [nc-1] (deduped), so corners at 0 or nc-1
            # emit no empty or one-node piece
            cuts = F.array_distinct(
                F.concat(F.array(F.lit(0)), ix, F.array((nc - 1).cast("int")))
            )

            def with_cuts(cu):
                m = F.size(cu)
                return F.when(m < 2, empty).otherwise(
                    F.transform(
                        F.sequence(F.lit(0), m - 2),
                        lambda i: F.slice(
                            c, F.get(cu, i) + 1, F.get(cu, i + 1) - F.get(cu, i) + 1
                        ),
                    )
                )

            open_segs = F.get(F.transform(F.array(cuts), with_cuts), 0)
            # closed way: one segment per corner, wraparound merge of the
            # piece after the last corner with the piece before the first
            closed_segs = F.transform(
                F.sequence(F.lit(0), k - 1),
                lambda j: F.when(
                    j < k - 1,
                    F.slice(c, F.get(ix, j) + 1, F.get(ix, j + 1) - F.get(ix, j) + 1),
                ).otherwise(
                    F.concat(
                        F.slice(c, F.get(ix, k - 1) + 1, nc - F.get(ix, k - 1)),
                        F.slice(c, 1, F.get(ix, 0) + 1),
                    )
                ),
            )
            return F.when(k == 0, F.array(node_ids)).otherwise(
                F.when(closed, closed_segs).otherwise(open_segs)
            )

        return F.get(F.transform(F.array(idxs), with_idxs), 0)

    return F.when(n_all == 0, empty).otherwise(
        F.get(F.transform(F.array(core), with_core), 0)
    )


def detect_corners(ways: DataFrame, min_ways: int = 3) -> DataFrame:
    """J8: nodes present in >= min_ways distinct ways → corner nodes.

    countDistinct fuses the old dropDuplicates + count pair into one
    logical aggregate (one exchange instead of two, with map-side
    partial dedup on (node_id, way_id) — guide §2.4)."""
    wn = ways.select("way_id", F.explode("node_ids").alias("node_id"))
    return (
        wn.groupBy("node_id")
        .agg(F.countDistinct("way_id").alias("n_ways"))
        .filter(F.col("n_ways") >= min_ways)
        .select("node_id")
    )


def lint_metrics():
    """Runtime lint invariants (translation.py:331-370) as observed
    metrics: consecutive duplicate nodes in ways, one-node ways. Rides
    the existing scan via df.observe — no extra job (the in-pipeline
    analogue of the reference's after-each-phase lint pass)."""
    dup_nodes = F.expr(
        "size(filter(zip_with(node_ids, slice(node_ids, 2, size(node_ids) - 1),"
        " (a, b) -> a = b), x -> x))"
    )
    return [
        F.count(F.lit(1)).alias("n_ways"),
        F.sum(dup_nodes.cast("long")).alias("dup_nodes"),
        F.sum((F.size("node_ids") == 1).cast("long")).alias("one_node_ways"),
    ]


def split_ways_distributed(ways: DataFrame, corners: DataFrame) -> DataFrame:
    """G13 splitting for ARBITRARILY long ways, fully distributed — no
    per-way nested-array materialization, no single-task straggler:

      posexplode → corner flag (join on node_id) → per-way window
      cumsum of corner flags → segment id arithmetic (corners duplicate
      into the adjacent segment; closed ways wrap the head rows after
      the tail with ord = pos + core_n) → groupBy (way, seg) reassembly.

    Byte-identical to split_way_expr (differential-tested, see
    tests/test_segmentation.py). → (way_id, admin_level, seg_nodes)."""
    n = F.size("node_ids")
    is_closed = (n > 1) & (F.element_at("node_ids", 1) == F.element_at("node_ids", -1))
    base = ways.select(
        "way_id",
        "admin_level",
        n.alias("n"),
        is_closed.alias("closed"),
        F.posexplode("node_ids").alias("pos", "node_id"),
    )
    # closed ways operate on the open core (closing duplicate dropped)
    base = base.filter(~F.col("closed") | (F.col("pos") < F.col("n") - 1))
    base = base.withColumn(
        "core_n", F.when(F.col("closed"), F.col("n") - 1).otherwise(F.col("n"))
    )
    flagged = base.join(
        corners.select("node_id", F.lit(True).alias("is_corner")), "node_id", "left"
    ).withColumn("ic", F.coalesce("is_corner", F.lit(False)).cast("int"))
    w_run = Window.partitionBy("way_id").orderBy("pos")
    w_all = Window.partitionBy("way_id")
    flagged = flagged.withColumn("c_le", F.sum("ic").over(w_run))
    flagged = flagged.withColumn("k", F.max("c_le").over(w_all))

    closed_c, open_c = F.col("closed"), ~F.col("closed")
    k, c_le, ic, pos, core_n = (F.col(c) for c in ("k", "c_le", "ic", "pos", "core_n"))

    # closed way with NO corners stays whole (incl. its closing node):
    # pass the original rows through untouched
    whole_closed = ways.join(
        flagged.filter(closed_c & (k == 0)).select("way_id").distinct(), "way_id", "leftsemi"
    ).select("way_id", "admin_level", F.col("node_ids").alias("seg_nodes"))

    splittable = flagged.filter(open_c | (k > 0))
    # main emission: the segment each row's position belongs to
    main_seg = F.when(open_c, c_le - ic).otherwise(
        F.when(c_le == 0, k - 1).otherwise(c_le - 1)
    )
    main_ord = F.when(closed_c & (c_le == 0), pos + core_n).otherwise(pos)
    main = splittable.select(
        "way_id", "admin_level", main_seg.alias("seg"), main_ord.alias("ord"), "node_id"
    )
    # corner rows also END the adjacent segment
    dup_rows = splittable.filter(ic == 1)
    dup_open = dup_rows.filter(open_c & (pos < F.col("n") - 1)).select(
        "way_id", "admin_level", (c_le - ic + 1).alias("seg"), pos.alias("ord"), "node_id"
    )
    dup_closed = dup_rows.filter(closed_c).select(
        "way_id",
        "admin_level",
        F.when(c_le == 1, k - 1).otherwise(c_le - 2).alias("seg"),
        F.when(c_le == 1, pos + core_n).otherwise(pos).alias("ord"),
        "node_id",
    )
    assembled = (
        main.unionByName(dup_open)
        .unionByName(dup_closed)
        .groupBy("way_id", "admin_level", "seg")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("ord", "node_id"))), lambda s: s["node_id"]
            ).alias("seg_nodes")
        )
    )
    out = assembled.filter(F.size("seg_nodes") >= 2).select("way_id", "admin_level", "seg_nodes")
    return out.unionByName(whole_closed)


def segment_ways(ways: DataFrame, lint_observation=None) -> DataFrame:
    """ways(way_id, node_ids, admin_level) → deduped segment table
    (fp, parents, n_parents, admin_level, node_ids).

    Pass a pyspark Observation as ``lint_observation`` to collect the
    translation.py lint counters alongside the run."""
    if lint_observation is not None:
        ways = ways.observe(lint_observation, *lint_metrics())
    corners = detect_corners(ways)

    small = ways.filter(F.size("node_ids") < SPLIT_DISTRIBUTED_MIN)
    big = ways.filter(F.size("node_ids") >= SPLIT_DISTRIBUTED_MIN)

    # small (in-model OSM) ways: per-way JVM split, parallel across ways.
    # Corner positions computed for the small side only — a giant way
    # would otherwise funnel a huge collect_set through one group.
    pos = small.select("way_id", F.posexplode("node_ids").alias("pos", "node_id"))
    corner_pos = (
        pos.join(corners, "node_id")  # corner set can be large at scale: shuffle equi join, AQE may still broadcast
        .groupBy("way_id")
        .agg(F.array_sort(F.collect_set("pos")).alias("corner_pos"))
    )
    w = small.join(corner_pos, "way_id", "left").withColumn(
        "corner_pos", F.coalesce("corner_pos", F.array().cast("array<int>"))
    )
    # JVM expression split, no Arrow boundary: a pandas-UDF splitter
    # cost ~4 s of the 5.7 s segment_tiles wall at sf0.1, ~2 s of it
    # the 300k-node perimeter in one Python task.
    segs_small = w.select(
        "way_id",
        "admin_level",
        F.explode(split_way_expr(F.col("node_ids"), F.col("corner_pos"))).alias("seg_nodes"),
    )
    # persist the split segments: the open/ring fingerprint branches
    # below are FILTERS of this table re-joined by union, so without the
    # persist the entire corner-detection + split pipeline executes once
    # per branch (2x per action — verified in the r08 plan profile).
    # The persisted rows are skinny (way_id, admin_level, node-id list);
    # a long-lived deployment would materialize this segment table
    # anyway.
    segs = segs_small.unionByName(split_ways_distributed(big, corners)).persist()
    # canonical fingerprint: OPEN segments (the overwhelming majority —
    # rings survive splitting only when a closed way has no corners)
    # stay JVM-side (integer-array lexicographic least of the two
    # orientations ≡ python min(ids, ids[::-1])); rotation-canonical
    # RING fingerprints keep the Arrow kernel.
    is_ring = (F.size("seg_nodes") > 1) & (
        F.element_at("seg_nodes", 1) == F.element_at("seg_nodes", -1)
    )
    fp_open = F.concat(
        F.lit("O:"),
        F.array_join(
            F.transform(
                F.least(F.col("seg_nodes"), F.reverse("seg_nodes")), lambda x: x.cast("string")
            ),
            ",",
        ),
    )
    opens = segs.filter(~is_ring).withColumn("fp", fp_open)
    rings = segs.filter(is_ring).withColumn("fp", fingerprint_udf(F.col("seg_nodes")))
    segs = opens.unionByName(rings)
    # min_by on a canonical serialization, NOT first(): segments sharing
    # a fingerprint differ by rotation/reversal, and first() would make
    # node_ids vary run-to-run with partitioning — violating the
    # byte-identical-output rule (VERDICT r01 #3)
    seg_key = F.array_join(F.transform("seg_nodes", lambda x: x.cast("string")), ",")
    return segs.withColumn("seg_key", seg_key).groupBy("fp").agg(
        F.array_join(F.array_sort(F.collect_set("way_id")), ",").alias("parents"),
        F.count("*").alias("n_parents"),
        F.min(F.col("admin_level").cast("int")).alias("admin_level"),
        F.min_by("seg_nodes", "seg_key").alias("node_ids"),
    )
