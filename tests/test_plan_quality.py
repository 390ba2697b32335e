"""Physical-plan quality gates (SURVEY §4): the optimizations we rely
on must be visible in `explain` output, so a regression that silently
drops pushdown / pruning / broadcast fails CI, not a 100 TB run."""

from __future__ import annotations

from pyspark.sql import functions as F

from georaster_spark.operators import georegister as geo
from georaster_spark.operators.pip import MAX_UNROLL_EDGES, pip_join


def _explain(df, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), mode)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scan_schemas(df) -> list[str]:
    import re

    return re.findall(r"ReadSchema: (\S+)", _explain(df))


def test_metadata_query_prunes_pixels(spark, sf0001_dir):
    """Extent math must never deserialize `bytes` (the lazy-load analog,
    SURVEY §2.1 R1: column pruning IS load_data=False)."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    q = geo.georegister(imgs).select("image_id", "xmin", "xmax", "ymin", "ymax")
    schemas = _scan_schemas(q)
    assert schemas and all("bytes" not in s for s in schemas)
    assert all("caption" not in s for s in schemas)


def test_pip_join_is_broadcast(spark, sf0001_dir):
    """E5's zone side must broadcast — the big tile side never shuffles."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    tiles = geo.georegister(imgs.select("image_id", "w", "h"))
    q = pip_join(tiles, zones, x=geo.centroid_x(), y=geo.centroid_y())
    plan = _plan(q)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pip_refine_stage_is_jit_compilable(spark, sf0001_dir):
    """The PIP candidate stage (the BroadcastHashJoin and its refine) must
    stay JIT-compilable at the fixture's ring size and at the widest
    unrolled ring, in pip_join as the headline counts it and in
    zone_image_stats."""
    from georaster_spark.plans.pipeline import zone_image_stats
    from jobs.dump_plans import HUGE_METHOD_LIMIT, codegen_sizes

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    tiles = geo.georegister(imgs.select("image_id", "w", "h"))
    fixture_ring = zones.agg(F.max(F.size("ring"))).first()[0]
    for max_ring in (fixture_ring, MAX_UNROLL_EDGES + 1):
        plans = {
            "pip_join": pip_join(
                tiles, zones, x=geo.centroid_x(), y=geo.centroid_y(), max_ring=max_ring
            ).agg(F.count(F.lit(1))),
            "zone_image_stats": zone_image_stats(imgs, zones, max_ring=max_ring),
        }
        for name, df in plans.items():
            sizes = [size for tree, size in codegen_sizes(df) if "BroadcastHashJoin" in tree]
            assert sizes and max(sizes) <= HUGE_METHOD_LIMIT, (name, max_ring, sizes)


def _py4j_commands(build) -> int:
    """py4j commands Python sends to the JVM while `build()` runs, not
    counting memory-release messages ("m"), whose timing follows
    Python's GC."""
    from pyspark import SparkContext

    client = SparkContext._gateway._gateway_client
    conn = client._get_connection()
    client._give_back_connection(conn)
    send, n = conn.send_command, 0

    def counting(command):
        nonlocal n
        n += not command.startswith("m\n")
        return send(command)

    conn.send_command = counting
    try:
        build()
    finally:
        del conn.send_command
    return n


def test_repeated_builds_reuse_expressions(spark, sf0001_dir):
    """A second build of each headline leg reuses the first build's
    expression trees (functions/util.per_jvm), so it sends few py4j
    commands.  Rebuilding them every call sent 1,434 (georegister),
    3,329 (counted pip_join) and 3,452 (zone_image_stats); reuse sends
    55, 123 and 154.  Bounds are about 1.5x those."""
    from georaster_spark.plans.pipeline import zone_image_stats

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    slim = imgs.select("image_id", "w", "h")
    max_ring = zones.agg(F.max(F.size("ring"))).first()[0]
    builds = {
        "georegister": (lambda: geo.georegister(imgs), 85),
        "pip_join": (
            lambda: pip_join(
                geo.georegister(slim), zones, x=geo.centroid_x(), y=geo.centroid_y(),
                max_ring=max_ring,
            ).agg(F.count(F.lit(1))),
            185,
        ),
        "zone_image_stats": (lambda: zone_image_stats(imgs, zones, max_ring=max_ring), 230),
    }
    for name, (build, bound) in builds.items():
        build()
        n = _py4j_commands(build)
        assert n <= bound, (name, n, bound)


def test_filter_pushdown_reaches_scan(spark, sf0001_dir):
    """A fmt filter must appear in PushedFilters at the parquet scan."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    q = imgs.where(F.col("fmt") == "raw").select("image_id")
    ex = _explain(q)
    assert "PushedFilters: [IsNotNull(fmt), EqualTo(fmt,raw)]" in ex


def test_no_generate_inferred_filter(spark, sf0001_dir):
    """The InferFiltersFromGenerate exclusion (session.py) must hold:
    explode(cover_cells) may not grow a size(...)>0 filter that
    re-evaluates the cover expression per row (measured ~10x)."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    q = geo.tile_assignments(geo.georegister(imgs.select("image_id", "w", "h")))
    plan = q._jdf.queryExecution().optimizedPlan().toString()
    assert "Filter (size(" not in plan


def test_whole_stage_codegen_on_cell_math(spark, sf0001_dir):
    """Cell encode / extent math must stay inside WholeStageCodegen."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    q = geo.georegister(imgs.select("image_id", "w", "h")).select("image_id", "cell_id")
    # codegen'd operators carry a '*' prefix in formatted explain
    assert "\n* Project" in _explain(q) or "*(1) Project" in _plan(q)


def test_bucketed_join_has_no_shuffle(spark, sf0001_dir, tmp_path):
    """Two tables bucketed on cell_id with equal bucket counts must
    sort-merge-join with NO Exchange on either side — the write-time
    shuffle replaces every repeated join shuffle at 100 TB (the parquet
    analog of Iceberg bucket partitioning)."""
    from georaster_spark.sources import bucketed

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).select("image_id", "cell_id", "w")
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # force a real SMJ (tiny test tables would otherwise broadcast)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        bucketed.write_bucketed(
            tiles, "bq_a", str(tmp_path / "bq_a"), n_buckets=8
        )
        bucketed.write_bucketed(
            tiles.withColumnRenamed("image_id", "other_id").drop("w"),
            "bq_b", str(tmp_path / "bq_b"), n_buckets=8,
        )
        a = bucketed.read_bucketed(spark, "bq_a")
        b = bucketed.read_bucketed(spark, "bq_b")
        joined = a.join(b, "cell_id")
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        # and it actually computes the right thing
        n = joined.count()
        expect = (
            tiles.alias("x")
            .join(tiles.alias("y"), "cell_id")
            .count()
        )
        assert n == expect
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bq_a")
        spark.sql("DROP TABLE IF EXISTS bq_b")


def test_cell_partitioned_scan_prunes_directories(spark, sf0001_dir, tmp_path):
    """A spatial box query over a cell-partitioned layout must prune
    non-matching partition directories at PLANNING time: the scan node
    carries a PartitionFilters entry on p_cell and reads only the
    matching directories' files — the listing-level I/O kill that makes
    a 100 TB box query touch only its region."""
    from pyspark.sql import functions as F

    from georaster_spark.constants import DEFAULT_RES
    from georaster_spark.functions.cells import cell_parent_chain
    from georaster_spark.sources import bucketed

    tiles = geo.georegister(
        spark.read.parquet(str(sf0001_dir / "images.parquet"))
    ).select("image_id", "cell_id", "w")
    path = str(tmp_path / "part_tiles")
    bucketed.write_cell_partitioned(tiles, path, r_from=DEFAULT_RES, r_part=12)

    back = spark.read.parquet(path)
    some_p = back.select("p_cell").first()[0]
    q = back.where(F.col("p_cell") == some_p)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "p_cell" in plan, plan

    # pruned read touches strictly fewer FILES than the full table —
    # asserted from the scan node's post-execution numFiles metric
    # (inputFiles() lists the base relation, ignoring partition filters)
    def _num_files(frame):
        frame.collect()
        node = frame._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
        return node.metrics().apply("numFiles").value()

    pruned, full = _num_files(q), _num_files(back.select("image_id", "p_cell"))
    assert pruned < full, (pruned, full)
    # and the layout loses nothing: filter == recompute from formulas
    expect = (
        tiles.withColumn(
            "p_cell", cell_parent_chain(F.col("cell_id"), DEFAULT_RES, 12)
        )
        .where(F.col("p_cell") == some_p)
        .count()
    )
    assert q.count() == expect


def test_rasterize_prunes_bytes_and_has_no_shuffle(spark, sf0001_dir):
    """Burning needs only geotransforms: the scan must not read `bytes`,
    and the zone broadcast keeps the whole plan exchange-free."""
    from georaster_spark.operators import rasterize

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    q = rasterize.rasterize_summary(tiles, zones)
    schemas = _scan_schemas(q)
    assert schemas and all("bytes" not in s for s in schemas)
    assert "Exchange" not in _plan(q)


def test_focal_stats_is_map_only(spark, sf0001_dir):
    """The windowed (focal) kernels are per-tile: no Exchange anywhere
    in their plans."""
    from georaster_spark.operators import algebra

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    for op in (
        algebra.bilateral_stats,
        algebra.aniso_stats,
        algebra.adaptive_threshold_stats,
        algebra.structure_tensor,
    ):
        assert "Exchange" not in _plan(op(tiles)), op.__name__


def test_asof_join_single_shuffle(spark):
    """The union-and-carry as-of plan must shuffle exactly once (the
    window partition) — one Exchange node, keyed on the join key."""
    import datetime as dt

    from georaster_spark.operators import relational as rel

    left = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1)], "k long, ts timestamp, lid long"
    )
    right = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 2, 0.5)],
        "k long, ts timestamp, rid long, v double",
    )
    plan = _plan(rel.asof_join(left, right, key="k", ts="ts", payload=("rid", "v")))
    n_exchange = plan.count("Exchange hashpartitioning")
    assert n_exchange == 1, plan


def test_cell_rollup_reaggregates_not_rescans(spark, sf0001_dir):
    """A19: one scan of the base table feeds ALL rollup levels — the
    coarser levels must re-aggregate aggregates, not re-read parquet."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    out = geo.cell_rollup(geo.georegister(imgs), levels=(11, 9, 7))
    plan = _explain(out)
    # every union arm must read a MATERIALIZED level (ExistingRDD from
    # the level checkpoints), never re-scan parquet and re-run the
    # aggregation chain (the lazy-DAG duplication this gate caught)
    assert plan.count("Scan parquet") <= 1, plan
    assert plan.count("Scan ExistingRDD") >= 3, plan


def test_zonal_histogram_partials_are_slim(spark, sf0001_dir):
    """A23: the only exchange carries (zone_id, bin, cnt) partial rows —
    pixel bytes stay inside the map stage."""
    from georaster_spark.operators import zonal

    imgs = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    plan = _plan(zonal.zonal_histogram(imgs, zones))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "bytes" not in m.group(1)
    assert "BroadcastExchange" in plan  # zones side broadcast


def test_pip_nonbroadcast_path_is_shuffled(spark, sf0001_dir):
    """A25: broadcast_zones=False must actually exercise the large-zones
    degradation plan — a shuffled hash join on cell_id — not get
    re-broadcast by statistics/AQE on a dim-sized fixture."""
    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    tiles = geo.georegister(imgs.select("image_id", "w", "h"))
    q = pip_join(
        tiles, zones, x=geo.centroid_x(), y=geo.centroid_y(),
        broadcast_zones=False,
    )
    plan = _plan(q)
    assert "ShuffledHashJoin" in plan
    assert "BroadcastHashJoin" not in plan


def test_zone_overlap_no_cartesian(spark, sf0001_dir):
    """A26: the overlay pair join must go through the cell-prefiltered
    equi-join — no CartesianProduct / BroadcastNestedLoopJoin."""
    from georaster_spark.operators.pip import zone_overlap

    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    plan = _plan(zone_overlap(zones, buffer=2000.0))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zone_prox_edges_no_nested_loop_join(spark):
    """VERDICT r3 item 4: the MST and single-linkage edge candidates come
    from the cell-bucketed equi-join — NO BroadcastNestedLoopJoin may
    appear in the plan (the zones x zones theta join was one)."""
    from georaster_spark.plans.contract import _zone_prox_edges

    plan = _explain(_zone_prox_edges(spark, "/root/testdata/sf0.001"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dbscan_pair_join_no_nested_loop(spark):
    """dbscan's eps-neighbor pairs are a grid equi-join (half-plane
    offsets + mirror), never an all-pairs nested loop — asserted on
    the pair stage's OWN physical plan (ADVICE r4: the previous
    version only ran the op end-to-end and never inspected a plan)."""
    from georaster_spark.plans.contract import _points
    from georaster_spark.operators import spatial_index as si
    from pyspark.sql import functions as F

    pts = _points(spark, "/root/testdata/sf0.001")
    eps = si.DBSCAN_EPS
    pt = pts.select(
        "point_id",
        F.floor("x").cast("long").alias("xi"),
        F.floor("y").cast("long").alias("yi"),
    ).withColumn("gx", F.floor(F.col("xi") / eps).cast("long")).withColumn(
        "gy", F.floor(F.col("yi") / eps).cast("long")
    )
    plan = _explain(si.dbscan_eps_pairs(pt, eps))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    # and the join key is the neighbor-cell grid id (equi-join on cgx/cgy)
    assert "cgx" in plan and "cgy" in plan
    # the full op still completes on the tiny sf (pair stage feeds CC)
    assert si.dbscan(pts).count() == 1000


def test_knn_join_one_arrow_pass(spark, sf0001_dir):
    """E6 answers in one map-only Arrow pass: no shuffle Exchange, one
    BroadcastHashJoin (the id join on center position), and three jobs
    per call: the centers collect, the id table's broadcast and the
    result.  The ring-doubling driver loop it replaces ran 20."""
    import re

    from georaster_spark.operators.knn import knn_join

    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    sc = spark.sparkContext
    group = "test_knn_join_one_arrow_pass"
    sc.setJobGroup(group, group)
    try:
        q = knn_join(pts, zones, k=4)
        assert len(q.collect()) == 4000
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    plan = q._jdf.queryExecution().executedPlan().toString().split("== Initial Plan ==")[0]
    assert not re.search(r"(?<!Broadcast)Exchange", plan)
    assert plan.count("BroadcastHashJoin") == 1
    assert "MapInArrow" in plan
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3


def _group_jobs(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran) inside job group `group`."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_checkpointed_write_is_one_spark_write(spark, sf0001_dir, tmp_path):
    """E9: a fresh checkpointed_write and a resume each run one Spark
    write (the unit shuffle's map stage and the write: <= 2 jobs), with
    no units job, no read-back and no session-wide overwrite-mode flip.
    The dynamic-overwrite version ran 7 jobs per call."""
    from georaster_spark.constants import DEFAULT_RES
    from georaster_spark.functions.cells import cell_parent_chain
    from georaster_spark.plans import checkpoint as ckpt

    imgs = spark.read.parquet(str(sf0001_dir / "images.parquet")).select("image_id", "w", "h")
    work = geo.georegister(imgs).select(
        "image_id", "w", cell_parent_chain(F.col("cell_id"), DEFAULT_RES, 9).alias("unit"))
    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    out = tmp_path / "ck"

    rep, jobs = _group_jobs(spark, "test_ckpt_write", lambda: ckpt.checkpointed_write(
        work, out, "unit", input_snapshot="v0"))
    assert len(rep.processed_units) > 2 and jobs <= 2
    dropped = rep.processed_units[::2]
    for u in dropped:
        (out / "_manifest" / f"{u}.json").unlink()
    rep2, jobs2 = _group_jobs(spark, "test_ckpt_resume", lambda: ckpt.checkpointed_write(
        work, out, "unit", input_snapshot="v0"))
    assert rep2.processed_units == dropped and jobs2 <= 2
    assert spark.conf.get(key) == mode


def test_zonal_stats_has_no_range_shuffle(spark, sf0001_dir):
    """E7's per-zone result is ordered by a local sort of one coalesced
    partition: no orderBy range-bounds sampling job, no rangepartitioning
    exchange, <= 3 jobs (was 5)."""
    from georaster_spark.operators import zonal

    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    zones = spark.read.parquet(str(sf0001_dir / "zones.parquet"))
    q = zonal.zonal_stats(tiles, zones)
    rows, jobs = _group_jobs(spark, "test_zonal_stats_jobs", q.collect)
    ids = [r["zone_id"] for r in rows]
    assert ids and ids == sorted(ids)
    assert "rangepartitioning" not in _plan(q)
    assert jobs <= 3


def _plan_nodes(plan):
    """Every node of an executed plan, descending adaptive plans and
    query stages."""
    cls = plan.getClass().getSimpleName()
    if cls == "AdaptiveSparkPlanExec":
        yield from _plan_nodes(plan.executedPlan())
        return
    if cls.endswith("QueryStageExec"):
        yield from _plan_nodes(plan.plan())
        return
    yield plan
    kids = plan.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


def test_sampling_candidates_broadcast_points(spark, sf0001_dir):
    """R12: value_at_coords finds its candidates with a BroadcastHashJoin
    on cell_id whose build side is the points, so the tile side stays a
    map-only scan; perfbench's sampling.candidates counter reads that
    join's output rows."""
    from georaster_spark.operators import sampling

    pts = spark.read.parquet(str(sf0001_dir / "points.parquet"))
    tiles = geo.georegister(spark.read.parquet(str(sf0001_dir / "images.parquet")))
    q = sampling.value_at_coords(pts, tiles)
    q.collect()
    joins = [
        n for n in _plan_nodes(q._jdf.queryExecution().executedPlan())
        if n.nodeName() == "BroadcastHashJoin" and "cell_id" in n.leftKeys().toString()
    ]
    assert len(joins) == 1
    bhj = joins[0]
    build = bhj.right() if bhj.buildSide().toString() == "BuildRight" else bhj.left()
    probe = bhj.left() if build.equals(bhj.right()) else bhj.right()
    assert "point_id" in build.output().toString()
    assert "point_id" not in probe.output().toString()
