"""Hilbert-clustered storage pruning (SURVEY §4.3, VERDICT r3 item 4):
a covering-range scan over a `write_clustered` layout must read only
the row groups whose min/max overlap the range — pinned against the
same data written randomly ordered, which reads everything.

At 100 TB this layout is the difference between scanning a tile and
scanning the planet; on Iceberg/Delta the same stored `cell_sort`
min/max stats drive FILE-level skipping (the file-prunability half is
asserted from the parquet footers directly)."""

import glob

from pyspark.sql import functions as F

from s2spark import columns as CC
from s2spark import io as IO
from s2spark import fixtures as FX
from s2spark.joins import with_cell_id

SIGN = 1 << 63
M64 = (1 << 64) - 1


def _scan_metrics(df):
    """execute `df` and return (rows_returned, scan numOutputRows)."""
    rows = df.collect()
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    metrics = {}
    it = leaf.metrics().iterator()
    while it.hasNext():
        kv = it.next()
        metrics[kv._1()] = kv._2().value()
    return len(rows), metrics


def test_covering_range_scan_prunes_row_groups(spark, sf_dir, tmp_path):
    pts = with_cell_id(FX.points_df(spark, sf_dir))
    total = pts.count()

    clustered = str(tmp_path / "clustered")
    shuffled = str(tmp_path / "shuffled")
    IO.write_clustered(pts, clustered, num_files=16)
    # identical data, identical file count, Hilbert-hostile order
    pts.withColumn(IO.CELL_SORT_COL, CC.sortable("cell_id")) \
        .repartition(16, "point_id") \
        .write.mode("overwrite").parquet(shuffled)

    # covering range: the level-2 ancestor of the first point's cell
    first = pts.select("cell_id").first()["cell_id"]
    u = first & M64
    lsb2 = 1 << (2 * (30 - 2))
    parent2 = (u & ~(2 * lsb2 - 1)) | lsb2
    lo, hi = parent2 - (lsb2 - 1), parent2 + (lsb2 - 1)

    n_c, m_c = _scan_metrics(IO.scan_cell_range(spark, clustered, lo, hi))
    n_s, m_s = _scan_metrics(IO.scan_cell_range(spark, shuffled, lo, hi))

    # same answer from both layouts, and the range is a real subset
    assert n_c == n_s
    assert 0 < n_c < total

    # clustered: only overlapping row groups are read; shuffled: every
    # row group overlaps (random order), so the scan reads ~everything
    assert m_s["numOutputRows"] >= int(0.9 * total)
    assert m_c["numOutputRows"] <= max(2 * total // 16, 2 * n_c), (
        f"clustered scan read {m_c['numOutputRows']} of {total} rows")

    # the range predicate reached the parquet reader
    plan = IO.scan_cell_range(spark, clustered, lo, hi) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert IO.CELL_SORT_COL in plan.split("PushedFilters", 1)[1][:200]


def test_clustered_files_are_min_max_prunable(spark, sf_dir, tmp_path):
    """file-level half (what Iceberg/Delta skipping would use): in the
    clustered layout, files partition the Hilbert range, so a narrow
    range overlaps few files' [min, max] intervals."""
    import pyarrow.parquet as pq

    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered2")
    IO.write_clustered(pts, clustered, num_files=16)

    spans = []
    for f in glob.glob(f"{clustered}/part-*.parquet"):
        md = pq.read_metadata(f)
        idx = md.schema.names.index(IO.CELL_SORT_COL)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            mins.append(st.min)
            maxs.append(st.max)
        spans.append((min(mins), max(maxs)))
    assert len(spans) > 4

    # file spans must be (nearly) disjoint: total overlap pairs small
    spans.sort()
    overlaps = sum(1 for (a, b), (c, d) in zip(spans, spans[1:]) if c <= b)
    assert overlaps <= 1, f"file Hilbert spans overlap: {spans}"

    # a range as wide as one file's span overlaps at most 2 files
    lo, hi = spans[len(spans) // 2]
    hit = sum(1 for a, b in spans if a <= hi and b >= lo)
    assert hit <= 2


def test_covering_scan_composes_with_pip(spark, sf_dir, tmp_path):
    """the 100 TB read path end to end: points written
    Hilbert-clustered, one region's COVERING turned into its
    [range_min, range_max] intervals, scan_cell_ranges pulls exactly
    the candidate rows the full-table filter would — while reading a
    fraction of the row groups ("scan the tile, not the planet")."""
    import numpy as np

    from s2spark import fixtures as FX
    from s2spark import joins as J
    from s2spark.kernels import cellops

    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered_pip")
    IO.write_clustered(pts, clustered, num_files=16)
    total = pts.count()

    cov_rows = J.compute_coverings(FX.region_objects())
    read_frac = []
    nonempty = 0
    for rid in sorted({r[0] for r in cov_rows}):
        if nonempty >= 3:
            break
        cells = np.array([r[1] for r in cov_rows if r[0] == rid],
                         dtype=np.uint64)
        ranges = list(zip(cellops.range_min(cells).tolist(),
                          cellops.range_max(cells).tolist()))
        scan = IO.scan_cell_ranges(spark, clustered, ranges)
        got = sorted(r["point_id"] for r in scan.collect())

        # twin: full-table filter with the same intervals
        m, metrics = _scan_metrics(scan)
        sortable = F.col("cell_id").bitwiseXOR(F.lit(-(2 ** 63)))
        pred = None
        for lo, hi in ranges:
            u = lambda x: x - (1 << 64) if x >= (1 << 63) else x
            los = u(lo ^ (1 << 63))
            his = u(hi ^ (1 << 63))
            p = sortable.between(F.lit(los), F.lit(his))
            pred = p if pred is None else (pred | p)
        exp = sorted(r["point_id"]
                     for r in pts.where(pred).collect())
        assert got == exp
        if got:
            nonempty += 1
            read_frac.append(metrics["numOutputRows"] / total)

    # at least two regions actually matched rows at this sf, and each
    # covering read touched a minority of the table's rows
    assert nonempty >= 2
    assert max(read_frac) < 0.55, read_frac


def _plan_nodes(node):
    """every node of a Catalyst tree (plan or expression), pre-order."""
    yield node
    it = node.children().iterator()
    while it.hasNext():
        yield from _plan_nodes(it.next())


def _count_nodes(node, name):
    return sum(1 for n in _plan_nodes(node)
               if n.getClass().getSimpleName() == name)


def _filter_condition(df, phase="optimizedPlan"):
    """the Filter condition of `df`'s analyzed or optimized plan."""
    plan = getattr(df._jdf.queryExecution(), phase)()
    return next(n for n in _plan_nodes(plan)
                if n.getClass().getSimpleName() == "Filter").condition()


def _pushed_filters(df):
    leaf = df._jdf.queryExecution().executedPlan().collectLeaves().apply(0)
    return leaf.metadata().get("PushedFilters").get()


def test_empty_range_list_scans_nothing(spark, sf_dir, tmp_path):
    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered_empty")
    IO.write_clustered(pts, clustered, num_files=4)

    scan = IO.scan_cell_ranges(spark, clustered, [])
    assert scan.schema == spark.read.parquet(clustered).schema
    assert scan.count() == 0


def test_covering_scan_is_one_merged_pushed_predicate(spark, sf_dir,
                                                      tmp_path):
    """a fixture region's covering reads through ONE predicate with one
    BETWEEN arm per merged leaf range, still pushed to parquet."""
    import numpy as np

    from s2spark import joins as J
    from s2spark.kernels import cellops

    pts = with_cell_id(FX.points_df(spark, sf_dir))
    clustered = str(tmp_path / "clustered_plan")
    IO.write_clustered(pts, clustered, num_files=16)

    cov_rows = J.compute_coverings(FX.region_objects())
    cells = np.array([r[1] for r in cov_rows if r[0] == 1], dtype=np.uint64)
    ranges = list(zip(cellops.range_min(cells).tolist(),
                      cellops.range_max(cells).tolist()))
    merged = IO.merge_leaf_ranges(ranges)
    assert len(merged) < len(ranges)

    scan = IO.scan_cell_ranges(spark, clustered, ranges)
    cond = _filter_condition(scan)
    assert _count_nodes(cond, "GreaterThanOrEqual") == len(merged)
    assert _count_nodes(cond, "LessThanOrEqual") == len(merged)
    assert IO.CELL_SORT_COL in _pushed_filters(scan)

    # twin: one unmerged BETWEEN per covering range over the same files
    # returns the same rows and reads the same row groups
    twin = None
    for lo, hi in ranges:
        p = F.col(IO.CELL_SORT_COL).between(F.lit(lo - SIGN),
                                            F.lit(hi - SIGN))
        twin = p if twin is None else (twin | p)
    twin = spark.read.parquet(clustered).where(twin)
    assert sorted(scan.collect()) == sorted(twin.collect())
    assert _scan_metrics(scan)[1]["numOutputRows"] \
        == _scan_metrics(twin)[1]["numOutputRows"]


def test_clustered_write_encodes_once_and_releases(spark, sf_dir,
                                                   tmp_path):
    """range partitioning samples its bounds in a job of its own; the
    write must not run the upstream (e.g. the encode UDF) a second
    time for it, and must leave no persisted RDD behind. (The counting
    UDF makes the input plan unique, so a cache left by an earlier
    write of equal data cannot hide a leak here.)"""
    pts = with_cell_id(FX.points_df(spark, sf_dir))
    total = pts.count()
    acc = spark.sparkContext.accumulator(0)

    def _count(it, _acc=acc):
        for pdf in it:
            _acc.add(len(pdf))
            yield pdf

    jsc = spark.sparkContext._jsc
    persisted = jsc.getPersistentRDDs().size()
    IO.write_clustered(pts.mapInPandas(_count, pts.schema),
                       str(tmp_path / "clustered_once"), num_files=16)
    assert acc.value == total
    assert jsc.getPersistentRDDs().size() == persisted


def test_boundary_ranges_under_ansi(spark, tmp_path):
    """ranges at the ends of the uint64 id space and across the face
    boundaries — start of face 0 (sortable -2^63), face 2/3, the sign
    bit between faces 3 and 4 (sortable 0), end of face 5 and the top
    of uint64 (sortable 2^63-1) — return exactly the rows a python
    filter over the leaf ids keeps, with ANSI on, through BIGINT
    literals only (an INT or decimal bound needs a cast, which the
    pushdown relies on the optimizer to remove), still pushed down."""
    face = [f << 61 for f in range(7)]
    # starts of faces 0, 3 and 4 (= the sign bit), end of face 5
    edges = [face[0], face[3], face[4], face[6]]
    leaves = sorted({x for e in edges for x in range(e - 15, e + 17, 2)
                     if 0 < x < face[6]})
    df = spark.createDataFrame(
        [(i, x - (1 << 64) if x >= SIGN else x)
         for i, x in enumerate(leaves)], "point_id long, cell_id long")
    clustered = str(tmp_path / "clustered_edges")
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        IO.write_clustered(df, clustered, num_files=4)
        cases = [
            [(0, 5)],                                   # lo = -2^63
            [(1, 1), (3, 7), (11, face[1] - 1)],        # face 0 start
            [(face[3] - 9, face[3] + 9)],               # face 2/3
            [(SIGN - 7, SIGN - 1), (SIGN + 1, SIGN + 5)],   # sign bit
            [(SIGN - 3, SIGN + 3)],
            [(face[6] - 11, face[6] - 1)],              # face 5 end
            [(face[6] - 5, M64)],                       # hi = 2^63-1
            [(0, M64)],
        ]
        for ranges in cases:
            scan = IO.scan_cell_ranges(spark, clustered, ranges)
            got = sorted(r["point_id"] for r in scan.collect())
            exp = [i for i, x in enumerate(leaves)
                   if any(lo <= x <= hi for lo, hi in ranges)]
            assert got == exp, ranges

            # as parsed, before the optimizer unwraps any cast
            cond = _filter_condition(scan, "analyzed")
            lits = [n for n in _plan_nodes(cond)
                    if n.getClass().getSimpleName() == "Literal"]
            assert lits and all(n.dataType().simpleString() == "bigint"
                                for n in lits), cond.toString()
            assert _count_nodes(cond, "Cast") == 0, cond.toString()
            assert IO.CELL_SORT_COL in _pushed_filters(scan)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
