"""Segmentation determinism (translation.py pipeline analogue)."""

import pyspark.sql.functions as F

from osm_admin_boundary_conflation_spark import datagen_osm
from osm_admin_boundary_conflation_spark.operators import segmentation as SG


def split_way_ref(nodes, corners) -> list[list[int]]:
    """G13 reference splitter in plain Python: split a way's node list at
    corner positions; closed ways wrap around, the piece after the last
    corner merging with the piece before the first
    (translation.py:72-79)."""
    nodes = list(nodes)
    if not nodes:
        return []
    closed = len(nodes) > 1 and nodes[0] == nodes[-1]
    core = nodes[:-1] if closed else nodes
    idxs = sorted(int(i) for i in (corners or []) if i < len(core))
    if not idxs:
        return [nodes]
    if closed:
        k = len(idxs)
        segs = [core[idxs[j] : idxs[j + 1] + 1] for j in range(k - 1)]
        segs.append(core[idxs[-1] :] + core[: idxs[0] + 1])  # wraparound merge
        return segs
    segs = []
    prev = 0
    for i in idxs:
        if i > prev:
            segs.append(core[prev : i + 1])
        prev = i
    if prev < len(core) - 1:
        segs.append(core[prev:])
    return segs


def _run(spark, sf_dir):
    ways = datagen_osm.build_strip_world(spark, sf_dir)
    out = SG.segment_ways(ways)
    return sorted(
        (r["fp"], r["parents"], r["n_parents"], r["admin_level"], tuple(r["node_ids"]))
        for r in out.collect()
    )


def test_segment_output_byte_identical_across_parallelism(spark, sf_dir):
    """North rule: identical FULL rows — including the representative
    node_ids, which round 1 picked with first() and could vary with
    partitioning — at different shuffle parallelism."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _run(spark, sf_dir)
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = _run(spark, sf_dir)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b
    # representative is the lexicographically-min serialization of its
    # fingerprint class — recompute one group to pin the rule
    segs = {r[0]: r[4] for r in a}
    assert len(segs) == len(a)  # fp is unique per output row


def test_segment_representative_is_canonical_min(spark):
    """Two rotations/reversals of the same ring dedupe to ONE row whose
    node_ids is the min-serialization member."""
    # two ways (below the >=3-way corner threshold, so no splitting):
    # a ring and its rotated reversal share one fingerprint
    ways = spark.createDataFrame(
        [
            (1, [10, 20, 30, 40, 10], "9"),
            (2, [40, 30, 20, 10, 40], "9"),
        ],
        "way_id long, node_ids array<long>, admin_level string",
    )
    out = SG.segment_ways(ways).collect()
    assert len(out) == 1
    r = out[0]
    assert r["parents"] == "1,2"
    assert r["n_parents"] == 2
    cands = ["10,20,30,40,10", "40,30,20,10,40"]
    assert ",".join(str(x) for x in r["node_ids"]) == min(cands)


def test_lint_observed_metrics(spark):
    """translation.py:331-370 lint analogue: observed counters fire on
    duplicate consecutive nodes and one-node ways, stay zero on clean
    input — without an extra job."""
    from pyspark.sql import Observation

    clean = spark.createDataFrame(
        [(1, [1, 2, 3], "9"), (2, [3, 4], "9")],
        "way_id long, node_ids array<long>, admin_level string",
    )
    obs = Observation("lint")
    SG.segment_ways(clean, lint_observation=obs).collect()
    assert obs.get == {"n_ways": 2, "dup_nodes": 0, "one_node_ways": 0}

    dirty = spark.createDataFrame(
        [(1, [1, 1, 2, 2, 3], "9"), (2, [7], "9"), (3, [8, 9], "9")],
        "way_id long, node_ids array<long>, admin_level string",
    )
    obs2 = Observation("lint2")
    SG.segment_ways(dirty, lint_observation=obs2).collect()
    assert obs2.get == {"n_ways": 3, "dup_nodes": 2, "one_node_ways": 1}


def test_distributed_splitter_matches_udf(spark, sf_dir):
    """split_ways_distributed must produce byte-identical segments to the
    per-way split_way_expr path on the same input — full strip world,
    forced down both paths via the threshold."""
    import osm_admin_boundary_conflation_spark.operators.segmentation as seg_mod

    ways = datagen_osm.build_strip_world(spark, sf_dir)
    old = seg_mod.SPLIT_DISTRIBUTED_MIN

    def run():
        out = SG.segment_ways(ways)
        return sorted(
            (r["fp"], r["parents"], r["n_parents"], r["admin_level"], tuple(r["node_ids"]))
            for r in out.collect()
        )

    try:
        seg_mod.SPLIT_DISTRIBUTED_MIN = 1  # everything distributed
        a = run()
        seg_mod.SPLIT_DISTRIBUTED_MIN = 10**9  # everything split_way_expr
        b = run()
    finally:
        seg_mod.SPLIT_DISTRIBUTED_MIN = old
    assert a == b


def test_distributed_splitter_randomized(spark):
    """Randomized differential check: open/closed ways with random
    corner sets — the window splitter equals the reference splitter."""
    import random

    rng = random.Random(7)
    rows = []
    for wid in range(60):
        m = rng.randint(2, 12)
        nodes = [wid * 1000 + i for i in range(m)]
        if rng.random() < 0.5 and m >= 4:
            nodes.append(nodes[0])  # closed
        rows.append((wid, nodes, "9"))
    # corner nodes: a random subset of all node ids (incl. endpoints,
    # duplicates across ways impossible by construction)
    all_nodes = sorted({n for _, ns, _ in rows for n in ns})
    corner_ids = [n for n in all_nodes if rng.random() < 0.35]
    ways = spark.createDataFrame(rows, "way_id long, node_ids array<long>, admin_level string")
    corners = spark.createDataFrame([(n,) for n in corner_ids], "node_id long")

    dist = SG.split_ways_distributed(ways, corners)
    got = sorted((r["way_id"], tuple(r["seg_nodes"])) for r in dist.collect())

    corner_set = set(corner_ids)
    want = sorted(
        (wid, tuple(seg))
        for wid, nodes, _ in rows
        for seg in split_way_ref(nodes, [p for p, n in enumerate(nodes) if n in corner_set])
    )
    assert got == want


def _split_expr(df):
    """{id: segments} from split_way_expr over (id, node_ids, corner_pos)."""
    return {
        r["id"]: [list(s) for s in r["segs"]]
        for r in df.select(
            "id", SG.split_way_expr(F.col("node_ids"), F.col("corner_pos")).alias("segs")
        ).collect()
    }


def test_split_expr_matches_udf_edge_cases(spark):
    """split_way_expr (JVM) ≡ split_way_ref on the full edge matrix:
    open/closed, corners at 0 / n-1 / adjacent / none / all, single-node
    ways, empty corner lists, corners past the core."""
    cases = [
        ([], []),
        ([1], []),
        ([1], [0]),
        ([1, 2], []),
        ([1, 2], [0]),
        ([1, 2], [1]),
        ([1, 2, 3, 4, 5], []),
        ([1, 2, 3, 4, 5], [0]),
        ([1, 2, 3, 4, 5], [4]),
        ([1, 2, 3, 4, 5], [2]),
        ([1, 2, 3, 4, 5], [1, 2]),
        ([1, 2, 3, 4, 5], [0, 2, 4]),
        ([1, 2, 3, 4, 5], [0, 1, 2, 3, 4]),
        ([1, 2, 3, 4, 5], [7]),  # past the core -> no valid corner
        ([1, 2, 3, 4, 1], []),  # closed, no corners
        ([1, 2, 3, 4, 1], [0]),
        ([1, 2, 3, 4, 1], [2]),
        ([1, 2, 3, 4, 1], [1, 3]),
        ([1, 2, 3, 4, 1], [0, 1, 2, 3]),
        ([1, 2, 3, 4, 1], [3, 1]),  # unsorted corner list
        ([5, 5], []),  # closed 2-node degenerate
        ([5, 5], [0]),
    ]
    rows = [(i, n, c) for i, (n, c) in enumerate(cases)]
    df = spark.createDataFrame(
        rows, "id long, node_ids array<long>, corner_pos array<int>"
    )
    assert _split_expr(df) == {i: split_way_ref(n, c) for i, n, c in rows}


def test_split_expr_randomized_vs_udf(spark):
    """Randomized differential: 200 random open/closed ways with random
    corner subsets — JVM expression equals the reference splitter."""
    import random

    rng = random.Random(11)
    rows = []
    for wid in range(200):
        m = rng.randint(1, 15)
        nodes = [wid * 1000 + i for i in range(m)]
        if rng.random() < 0.4 and m >= 3:
            nodes.append(nodes[0])
        corners = sorted({rng.randrange(0, m + 2) for _ in range(rng.randint(0, 6))})
        rows.append((wid, nodes, corners))
    df = spark.createDataFrame(
        rows, "id long, node_ids array<long>, corner_pos array<int>"
    )
    assert _split_expr(df) == {i: split_way_ref(n, c) for i, n, c in rows}
