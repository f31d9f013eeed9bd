"""Reproducer for the known ``knn_nearest_stop_kring`` defect.

    python3 perfbench/repro_kring_defect.py

Over a 5M-row documents window at doc_id offset 70,000,000 the k-ring
1-NN query returns ``dist_um`` one micrometre below its DuckDB oracle for
doc_ids 72032093 and 71732108. The two rows alone show it, so this script
writes a two-row documents.parquet, runs the registered query and its
``oracle_sql()`` twin, prints both, and exits 1 while they differ.

Cause: ``haversine_col`` (ferrobus_spark/functions/geo.py) squares with
``** 2``, which Spark evaluates as ``pow``, where ``haversine_sql`` (the
oracle's formula) multiplies ``SIN(x) * SIN(x)``. The two round
differently in the last bit. Until the engine is fixed, the benchmark
leaves ``operators.spatial`` out of its workloads.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
DOC_IDS = [71732108, 72032093]


def main() -> int:
    sys.path.insert(0, REPO)
    os.environ["PYTHONPATH"] = REPO
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from ferrobus_spark import registry
    from ferrobus_spark.session import get_spark

    name = "knn_nearest_stop_kring"
    query = registry.queries()[name]
    # the registered SQL string itself: oracle_sql() would also resolve the
    # data-dependent twins of other queries, which need other tables
    sql = registry.ORACLES[name]
    os.makedirs(os.path.join(REPO, ".perfbench_work"), exist_ok=True)
    work = tempfile.mkdtemp(dir=os.path.join(REPO, ".perfbench_work"))
    try:
        n = len(DOC_IDS)
        pq.write_table(pa.table({
            "doc_id": pa.array(DOC_IDS, pa.int64()),
            "text": pa.array([""] * n, pa.string()),
            "lang": pa.array(["en"] * n, pa.string()),
            "source": pa.array(["src0"] * n, pa.string()),
            "n_chars": pa.array([0] * n, pa.int64()),
        }), os.path.join(work, "documents.parquet"))
        spark = get_spark("kring-defect", master="local[1]", shuffle_partitions=1)
        got = query(spark, work).toPandas().sort_values("doc_id")
        con = duckdb.connect()
        con.sql(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{work}/documents.parquet')")
        exp = con.sql(sql).df().sort_values("doc_id")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("engine:\n", got.to_string(index=False))
    print("oracle:\n", exp.to_string(index=False))
    same = got["dist_um"].tolist() == exp["dist_um"].tolist()
    print("match" if same else "MISMATCH: the defect is present")
    return 0 if same else 1


if __name__ == "__main__":
    sys.exit(main())
