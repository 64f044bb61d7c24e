"""Cost of Spark's file-discovery step on reads of manifest-listed files.

``spark.read.parquet(*paths)`` lists its paths before planning; above
``spark.sql.sources.parallelPartitionDiscovery.threshold`` paths it does
so in a Spark job with one task per path. ``session.get_spark`` pins the
threshold so engine reads never take that path. This tool times, on the
session ``get_spark`` builds (so it measures whichever checkout it runs
from):

  * the DataFrame build (no action) of ``spark.read.schema(s).parquet``
    over 8 / 32 / 33 / 48 / 1,000 / 4,000 tiny files (median of 3);
  * the ``IceliteTable.scan`` build over a 48-file table (median of 5);
  * ``compact()`` of a 1,000-file table into one file (two fresh tables).

Prints ONE JSON line. Run: SPARK_GRAFT_CPUS=4 python tools/read_discovery_bench.py
The work directory is READ_DISCOVERY_WH (default /tmp/read_discovery_bench).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

WORK = os.environ.get("READ_DISCOVERY_WH", "/tmp/read_discovery_bench")
COMPACT_REPS = 2
PATH_COUNTS = (8, 32, 33, 48, 1000, 4000)


def _median_ms(fn, n: int) -> float:
    walls = []
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        walls.append((time.perf_counter() - t0) * 1000)
    return round(statistics.median(walls), 1)


def main() -> None:
    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.operators.compaction import compact
    from lakehouse_benchmark_ingestion_spark.session import get_spark

    spark = get_spark(
        "read-discovery",
        extra_conf={"spark.ui.enabled": "false", "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(f"{WORK}/files")
    paths = []
    for i in range(max(PATH_COUNTS)):
        p = f"{WORK}/files/f{i:05d}.parquet"
        pq.write_table(pa.table({"id": [i], "v": [str(i)]}), p)
        paths.append(p)
    schema = "id long, v string"
    spark.read.schema(schema).parquet(*paths[:8])  # warm the read path
    build_ms = {
        n: _median_ms(lambda n=n: spark.read.schema(schema).parquet(*paths[:n]), 3)
        for n in PATH_COUNTS
    }

    cat = Catalog(f"{WORK}/wh")
    rows = spark.range(24_000).selectExpr("id", "cast(id AS string) AS v")
    t48 = cat.create_table("t48", rows.schema)
    t48.append(rows, num_files=48)
    scan_ms = _median_ms(lambda: t48.scan(spark), 5)

    compact_s = []
    for r in range(COMPACT_REPS):
        t = cat.create_table(f"small_{r}", rows.schema)
        t.append(rows.limit(10_000), num_files=1000)
        t0 = time.perf_counter()
        compact(spark, t, target_file_size=64 * 1024 * 1024)
        compact_s.append(round(time.perf_counter() - t0, 2))
        assert len(t.data_files()) == 1

    print(json.dumps({
        "metric": "read_discovery",
        "threshold": spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"),
        "parquet_build_ms": build_ms,
        "scan_build_48_ms": scan_ms,
        "compact_1000_to_1_s": compact_s,
    }))
    shutil.rmtree(WORK, ignore_errors=True)


if __name__ == "__main__":
    main()
