"""The workloads. Each one builds its seeded inputs in ``setup``, lists
the ops of one timed pass in ``ops``, and checks the recorded outputs
against a reference that does not run through the engine in ``check``.

The engine is driven only through ``__spark_entry__.queries()`` and the
public ``s2spark`` functions ``joins.raster_vector_align``,
``joins.with_cell_id``, ``joins.compute_coverings``,
``io.write_clustered`` and ``io.scan_cell_ranges``.
"""

from __future__ import annotations

import json
import os
import shutil
from collections import defaultdict

import duckdb

from perfbench import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DEG = 0.017453292519943295
SIGN = 1 << 63


def _duck(cpus: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads = {cpus}")
    return con


def _ptx_sql(parquet_glob: str) -> str:
    """points with unit vectors and normalized longitude, in the same
    formulas the engine's exact-geometry oracles use."""
    return f"""
SELECT point_id, lat, lng,
       cos(lng * {DEG!r}) * cos(lat * {DEG!r}) AS px,
       sin(lng * {DEG!r}) * cos(lat * {DEG!r}) AS py,
       sin(lat * {DEG!r}) AS pz,
       lng - 360.0 * floor((lng + 180.0) / 360.0) AS lngn
FROM read_parquet('{parquet_glob}')"""


class Workload:
    name = ""
    # rows of input one pass consumes (the base of rows_per_s)
    input_rows = 0
    # what the box must have; the run stops with an error otherwise
    cpus_needed = 2
    heap_mb_needed = 1024

    def __init__(self, spark, work: str, seed: int, cpus: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cpus = cpus

    def setup(self) -> None:
        """build the inputs; repeated, the median is reported."""
        raise NotImplementedError

    def warm_up(self) -> None:
        """start the Python workers and compile the plans, once: by
        default one untimed pass."""
        for _, fn in self.ops():
            fn()

    def ops(self) -> list:
        """[(op name, callable)] of one pass; each callable returns the
        op's output for ``check``."""
        raise NotImplementedError

    def check(self, outputs: list) -> list[bool]:
        """one verdict per (op name, output) in ``outputs``."""
        raise NotImplementedError

    def config(self) -> dict:
        """what fixes the amount of work in one pass."""
        return {"input_rows": self.input_rows,
                "ops": sorted(name for name, _ in self.ops())}

    def _points_path(self) -> str:
        return os.path.join(self.work, "points")

    def _write_points(self, n: int) -> None:
        path = self._points_path()
        shutil.rmtree(path, ignore_errors=True)
        gen.write_parquet(gen.points(self.seed, n), path,
                          files=max(2 * self.cpus, 8))


# ---------------------------------------------------------------------------

class TileJoinScan(Workload):
    name = "tile_join_scan"
    N = 250_000
    # the covering scan of a hot-city cap (205 covering ranges)
    SCAN_REGIONS = (1,)
    input_rows = N

    def setup(self) -> None:
        from s2spark import fixtures, joins
        from s2spark.geometry import cid_range_max, cid_range_min
        self._write_points(self.N)
        self.pts = self.spark.read.parquet(self._points_path())
        self.cov = joins.compute_coverings(fixtures.region_objects())
        self.params = fixtures.region_params()
        self.ranges: dict[int, list] = defaultdict(list)
        for rid, cid, _ in self.cov:
            self.ranges[rid].append((cid_range_min(cid), cid_range_max(cid)))
        self.table = os.path.join(self.work, "clustered")

    def ops(self) -> list:
        from s2spark import io, joins

        def align():
            return joins.raster_vector_align(self.pts, self.cov, self.params,
                                             level=8).collect()

        def write():
            io.write_clustered(joins.with_cell_id(self.pts), self.table)

        def scan(rid):
            return lambda: io.scan_cell_ranges(self.spark, self.table,
                                               self.ranges[rid]).count()
        return ([("raster_vector_align", align), ("write_clustered", write)]
                + [(f"scan_cell_ranges:{rid}", scan(rid))
                   for rid in self.SCAN_REGIONS])

    def check(self, outputs: list) -> list[bool]:
        con = _duck(self.cpus)
        region_counts = self._region_counts(con)
        glob = self.table + "/*.parquet"
        total = con.sql(f"SELECT count(*) FROM read_parquet('{glob}')"
                        ).fetchone()[0]
        scan_counts = {}
        for rid in self.SCAN_REGIONS:
            # covering cells are disjoint, so a range join counts each
            # row once; uint64 -> order-preserving int64 is u - 2^63
            values = ", ".join(f"({lo - SIGN}, {hi - SIGN})"
                               for lo, hi in self.ranges[rid])
            scan_counts[rid] = con.sql(
                f"SELECT count(*) FROM read_parquet('{glob}') t "
                f"JOIN (VALUES {values}) r(lo, hi) "
                f"ON t.cell_sort BETWEEN r.lo AND r.hi").fetchone()[0]
        verdicts = []
        for op, out in outputs:
            if op == "raster_vector_align":
                got: dict[int, int] = defaultdict(int)
                for r in out:
                    got[r["region_id"]] += r["n_points"]
                verdicts.append(dict(got) == region_counts)
            elif op == "write_clustered":
                verdicts.append(total == self.N)
            else:
                verdicts.append(out == scan_counts[int(op.split(":")[1])])
        return verdicts

    def _region_counts(self, con) -> dict[int, int]:
        """points per region by the exact region predicates."""
        from s2spark import fixtures
        ptx = _ptx_sql(self._points_path() + "/*.parquet")
        arms = "\nUNION ALL\n".join(
            f"SELECT {rid} AS region_id, count(*) AS n FROM ptx WHERE "
            + fixtures.region_predicate_sql(rid)
            for rid in sorted(fixtures.region_params()))
        return {rid: n for rid, n in
                con.sql(f"WITH ptx AS ({ptx})\n{arms}").fetchall() if n}


# ---------------------------------------------------------------------------

# the registry keys of the repo's query-suite benchmark, by the module
# that does most of the work
QUERY_MODULES = {
    "joins": ["tile_assign", "pip_broadcast", "pip_bucketed", "pip_salted",
              "pip_planned", "pip_polygon", "region_stats", "knn",
              "raster_vector", "knn_many", "tile_rollup_sketch"],
    "text": ["dedup_minhash_lsh", "dedup_ngram_jaccard", "simhash",
             "quality_score", "decontaminate", "dedup_keep_best",
             "lm_quality"],
    "ann": ["ann_bruteforce", "ann_ivfpq"],
    "images": ["image_verify", "image_phash_neardup", "image_pip",
               "multimodal_dedup"],
    "relational": ["pricing_summary", "event_sessions", "event_pairs",
                   "nation_revenue", "event_props"],
}
QUERY_KEYS = sorted(k for keys in QUERY_MODULES.values() for k in keys)
QUERY_DATA = os.path.join(HERE, "data", "sf0.01")
QUERY_EXPECTED = os.path.join(HERE, "query_mix_expected.json")


def fingerprint(df) -> tuple[int, int]:
    """(rows, order-insensitive hash) of a DataFrame in one action.
    Floating columns are hashed as float32, so a last-bit difference
    from a different summation order does not change the hash."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import ArrayType, DoubleType, FloatType
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        t = f.dataType
        if isinstance(t, (DoubleType, FloatType)):
            c = c.cast("float")
        elif isinstance(t, ArrayType) and isinstance(
                t.elementType, (DoubleType, FloatType)):
            c = F.transform(c, lambda x: x.cast("float"))
        cols.append(c)
    row = df.select(F.xxhash64(*cols).alias("h")) \
        .agg(F.count(F.lit(1)).alias("n"),
             F.expr("coalesce(bit_xor(h), 0)").alias("x")).collect()[0]
    return int(row["n"]), int(row["x"])


class QueryMix(Workload):
    name = "query_mix"
    # the queries whose first run in a session fills a cache or starts a
    # code path that later queries share (the covering memos, the
    # minhash and image paths): with these warm, an op's time no longer
    # depends on which queries the seed put before it
    WARM_KEYS = ("pip_planned", "raster_vector", "tile_assign",
                 "dedup_minhash_lsh", "ann_bruteforce", "image_verify")
    # registry keys outside the mix, run after the warm keys: they run
    # the relational, window and text plans that no warm key reaches, so
    # the first ops of the timed pass are no slower than the last. Those
    # a later registry lacks are skipped.
    GENERAL_WARM_KEYS = ("brand_revenue", "events_window", "dedup_exact",
                         "cell_algebra", "bigram_model", "source_stats",
                         "token_quantiles", "tfidf_top_terms")

    def setup(self) -> None:
        import __spark_entry__ as E
        self.registry = E.queries()
        self.order = [QUERY_KEYS[i]
                      for i in gen.permutation(self.seed, len(QUERY_KEYS))]

    def warm_up(self) -> None:
        for key in self.WARM_KEYS:
            fingerprint(self.registry[key](self.spark, QUERY_DATA))
        for key in self.GENERAL_WARM_KEYS:
            if key in self.registry:
                fingerprint(self.registry[key](self.spark, QUERY_DATA))

    @property
    def input_rows(self) -> int:
        import pyarrow.parquet as pq
        return sum(pq.ParquetFile(os.path.join(QUERY_DATA, f)).metadata
                   .num_rows for f in os.listdir(QUERY_DATA))

    def ops(self) -> list:
        def run(key):
            return lambda: fingerprint(self.registry[key](self.spark,
                                                          QUERY_DATA))
        return [(key, run(key)) for key in self.order]

    def check(self, outputs: list) -> list[bool]:
        with open(QUERY_EXPECTED) as f:
            want = json.load(f)["queries"]
        return [key in want and list(out) == [want[key]["rows"],
                                              want[key]["hash"]]
                for key, out in outputs]


WORKLOADS = {w.name: w for w in (TileJoinScan, QueryMix)}
