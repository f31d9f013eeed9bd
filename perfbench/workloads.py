"""The three workloads: seeded inputs and the calls each pass makes.

Every call except the spatial pipeline is a registered query, called as
``queries()[name](spark, data_dir)`` and checked against
``oracle_sql()[name]``. The engine sees only the generated files.

Each call belongs to one layer of ``ferrobus_spark``; the traced run rolls
the Spark event log up by those layers.

Sizes are set so that a run (session start, warm pass, oracles and the
timed passes) fits the benchmark's per-run time budget on a 4-core host;
at these sizes the dedup, ANN and iterative queries are dominated by
per-job and per-round fixed costs, which is what those workloads measure.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LAYERS = [
    "hexgrid",
    "operators.dedup",
    "operators.similarity",
    "plans.iterative",
    "routing",
]

#: spatial_scan: rows of the spark.range pipeline and of documents.parquet
PIPELINE_ROWS = 1_500_000
SPATIAL_DOCS = 150_000
#: dedup_ann / iterative corpus (gen_sfdata shapes)
CORPUS_DOCS = 600
CORPUS_VECTORS = 1_000
#: embeddings rows written beside the spatial documents: oracle_sql()
#: reads embeddings.parquet eagerly (the IVF twin trains on it)
SPATIAL_VECTORS = 64


@dataclass
class Call:
    name: str
    layer: str
    build: Callable  # (spark) -> DataFrame
    oracle_sql: str
    rows_read: int


@dataclass
class Workload:
    name: str
    why: str
    make_inputs: Callable  # (seed, data_dir) -> None
    #: (query, layer, input rows the query reads), in pass order
    queries: list[tuple[str, str, int]]
    prepare: Callable | None = None  # (spark) -> None, untimed, once per run

    def calls(self, data_dir: str, seed: int, queries, oracle_sql) -> list[Call]:
        out = []
        for name, layer, rows in self.queries:
            if name == "spatial_pipeline":
                out.append(_pipeline(seed))
            else:
                out.append(Call(
                    name, layer, (lambda spark, q=queries[name]: q(spark, data_dir)),
                    oracle_sql[name], rows,
                ))
        return out


def _gen_sfdata():
    scripts = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
    if scripts not in sys.path:
        sys.path.insert(0, scripts)
    import gen_sfdata

    return gen_sfdata


# ---------------------------------------------------------------------------
# spatial_scan
# ---------------------------------------------------------------------------

def spatial_offset(seed: int) -> int:
    """First doc_id of the seed's window (ids stay below 2^30, so the
    geo hash ``id * 2654435761`` cannot overflow a long)."""
    return (seed % 1000) * 1_000_000


def _spatial_inputs(seed: int, out: str) -> None:
    rng = np.random.default_rng(seed)
    lo = spatial_offset(seed)
    n = SPATIAL_DOCS
    g = _gen_sfdata()
    # only doc_id is read by the spatial queries; the other columns keep
    # the documents schema
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(lo, lo + n), pa.int64()),
        "text": pa.array(np.full(n, ""), pa.string()),
        "lang": pa.array(rng.choice(g.LANGS, n), pa.string()),
        "source": pa.array(rng.choice(g.SOURCES, n), pa.string()),
        "n_chars": pa.array(np.zeros(n, np.int64), pa.int64()),
    }), os.path.join(out, "documents.parquet"))
    pq.write_table(g.gen_embeddings(rng, SPATIAL_VECTORS), os.path.join(out, "embeddings.parquet"))


def _pipeline(seed: int) -> Call:
    """bench.py's spatial pipeline shape over the seed's id window."""
    from pyspark.sql import functions as F

    from ferrobus_spark.registry import CELL_REF_SQL, LAT_SQL, LON_SQL, PIP_POLY, convex_pip_sql

    lo, hi = spatial_offset(seed), spatial_offset(seed) + PIPELINE_ROWS
    pip = convex_pip_sql("lon", "lat", PIP_POLY)

    def build(spark):
        return (
            spark.range(lo, hi, 1, 16)
            .withColumnRenamed("id", "doc_id")
            .selectExpr("doc_id", f"{LON_SQL} AS lon", f"{LAT_SQL} AS lat")
            .withColumn("cell", F.expr(CELL_REF_SQL))
            .filter(F.expr(pip))
            .groupBy("cell")
            .agg(F.count("*").alias("n_pages"))
        )

    sql = f"""
    SELECT cell, COUNT(*) AS n_pages FROM (
      SELECT {CELL_REF_SQL} AS cell, lon, lat FROM (
        SELECT {LON_SQL} AS lon, {LAT_SQL} AS lat
        FROM (SELECT range AS doc_id FROM range({lo}, {hi}))
      )
    ) WHERE {pip}
    GROUP BY cell
    """
    return Call("spatial_pipeline", "hexgrid", build, sql, PIPELINE_ROWS)


# ---------------------------------------------------------------------------
# dedup_ann and iterative: one gen_sfdata corpus per seed
# ---------------------------------------------------------------------------

def _corpus_inputs(seed: int, out: str) -> None:
    g = _gen_sfdata()
    rng = np.random.default_rng(seed)
    pq.write_table(g.gen_documents(rng, CORPUS_DOCS), os.path.join(out, "documents.parquet"))
    pq.write_table(g.gen_embeddings(rng, CORPUS_VECTORS), os.path.join(out, "embeddings.parquet"))


def _build_transit_model(spark) -> None:
    """Build the parquet model cache if it is missing (first run only)."""
    from ferrobus_spark.model import cache

    # the points dir is renamed into place last, once the cache is whole
    if not os.path.isdir(os.path.join(cache.default_cache_root(), cache.model_cache_key(), "points")):
        cache.load_or_build_points(spark, cache.load_or_build_model(spark))


_D, _V, _S = CORPUS_DOCS, CORPUS_VECTORS, SPATIAL_DOCS

WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            "spatial_scan",
            "JVM scan, codegen, hot-cell-skewed hash agg; no Python workers, "
            "gates or iteration. operators.spatial left out: known 1 um kNN "
            "defect, perfbench/repro_kring_defect.py",
            _spatial_inputs,
            [
                ("spatial_pipeline", "hexgrid", PIPELINE_ROWS),
                ("tile_assign", "hexgrid", _S),
                ("tile_histogram", "hexgrid", _S),
                ("pip_convex", "hexgrid", _S),
                ("knn_nearest_stop", "hexgrid", _S),
            ],
        ),
        Workload(
            "dedup_ann",
            "Python-worker start and run, the Arrow boundary, driver-gate "
            "collects and broadcasts",
            _corpus_inputs,
            [
                ("minhash_dup_pairs", "operators.dedup", _D),
                ("simhash_near_pairs", "operators.dedup", _D),
                ("knn_embeddings_bruteforce", "operators.similarity", _V),
            ],
        ),
        Workload(
            "iterative",
            "many small jobs per query: per-round parquet materialize, "
            "driver loop and RAPTOR rounds; fixed transit fixture",
            _corpus_inputs,
            # transit_travel_time_matrix reads the fixed, seed-independent
            # transit fixture (through the cached model), none of the
            # generated rows
            [
                ("host_pagerank", "plans.iterative", _D),
                ("transit_travel_time_matrix", "routing", 0),
            ],
            _build_transit_model,
        ),
    ]
}
