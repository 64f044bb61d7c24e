"""Driver-side planner microbench at 10^6-file manifest scale.

The engine's O-claims for plan-time work (two-level manifest pruning in
``IceliteTable.plan_data_files``, the O((F+S) log S) delete-debt
bisect+sweep in ``operators/compaction.py``, FFD bin packing in
``plan_compaction``) were comment-proven but never measured at the file
count the design targets: a 10^12-sequence table at ~10^6 rows/file is
~10^6 data files. This tool synthesizes exactly that metadata — 1,000
manifests x 1,000 files, realistic bounds (range-clustered n_tok,
doc_id strings, hidden source partition per manifest), a sidecar
manifest of 2,000 path-bounded DV sidecars + 100 eq-deletes — commits
one snapshot, and times every planner entry point. NO data files are
written and no SparkSession exists: everything measured is the pure
driver-side metadata path a 1000-executor job would serialize on.

Prints ONE JSON line:
  {"metric": "plan_scale", "files": 1000000, "manifests": 1001,
   "timings": {...sec...}, "plan_stats": {...}, "peak_rss_mb": N}

Knobs: PLAN_FILES (default 1_000_000), PLAN_PER_MANIFEST (1000),
PLAN_SIDE_CARS (2000), PLAN_EQ (100).

Run: python tools/plan_scale_bench.py
"""

from __future__ import annotations

import json
import os
import resource
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql.types import (  # noqa: E402  (pure-Python, no JVM)
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from lakehouse_benchmark_ingestion_spark.icelite import Catalog  # noqa: E402
from lakehouse_benchmark_ingestion_spark.icelite import manifest as mf  # noqa: E402
from lakehouse_benchmark_ingestion_spark.icelite import metadata as md  # noqa: E402

N_FILES = int(os.environ.get("PLAN_FILES", "1000000"))
PER_MANIFEST = int(os.environ.get("PLAN_PER_MANIFEST", "1000"))
N_SIDECARS = int(os.environ.get("PLAN_SIDECARS", "2000"))
N_EQ = int(os.environ.get("PLAN_EQ", "100"))
N_SOURCES = 50

SCHEMA = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("tokens", ArrayType(IntegerType()), False),
        StructField("n_tok", IntegerType(), False),
        StructField("source", StringType(), False),
    ]
)


def _rss_mb() -> float:
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def build(wh: str):
    """Synthesize the table: range-clustered data manifests + one sidecar
    manifest, committed as a single append snapshot."""
    cat = Catalog(wh)
    tbl = cat.create_table("big", SCHEMA)
    # hidden partitioning on source: gives the planner a partition
    # predicate to push through manifest partition-summaries + per-file
    # tuples (without a registered spec no partition pruning happens)
    tbl.set_partition_spec([{"col": "source", "transform": "identity"}])
    n_manifests = N_FILES // PER_MANIFEST
    names: list[str] = []
    for m in range(n_manifests):
        src = f"src{m % N_SOURCES}"
        files = []
        for j in range(PER_MANIFEST):
            i = m * PER_MANIFEST + j
            lo = i * 10 + 1  # disjoint n_tok slices: the clustered layout
            # "scatter": a column UNCORRELATED with the layout (a hash) —
            # every manifest covers nearly the full domain, so footer
            # summaries cannot prune it and a selective predicate forces
            # a full-manifest pass: the distributed planner's win case
            sc = (i * 2654435761) % (1 << 32)
            files.append(
                mf.DataFile(
                    path=f"{wh}/big/data/f{i:08d}.parquet",
                    file_size_bytes=8 * 1024 * 1024,
                    record_count=4096,
                    lower_bounds={
                        "n_tok": lo, "doc_id": f"d{i:08d}", "scatter": sc,
                    },
                    upper_bounds={
                        "n_tok": lo + 9,
                        "doc_id": f"d{i:08d}~",
                        "scatter": sc + 1000,
                    },
                    null_counts={"n_tok": 0, "doc_id": 0, "scatter": 0},
                    sequence_number=m + 1,
                    partition_json=json.dumps({"source": src}),
                    sort_order="zorder",
                )
            )
        names.append(mf.write_manifest(tbl.location, files))
    # sidecars: DVs each addressing one contiguous 500-file block
    # (a compaction group's worth), plus eq-deletes across the seq range
    side = []
    for s in range(N_SIDECARS):
        a = (s * 500) % N_FILES
        b = min(a + 499, N_FILES - 1)
        side.append(
            mf.DataFile(
                path=f"{wh}/big/data/dv{s:05d}.parquet",
                file_size_bytes=4096,
                record_count=500,
                lower_bounds={"file_path": f"{wh}/big/data/f{a:08d}.parquet"},
                upper_bounds={"file_path": f"{wh}/big/data/f{b:08d}.parquet"},
                content=mf.CONTENT_POS_DELETES,
                delete_format=mf.DELETE_FORMAT_DV,
                sequence_number=n_manifests + 1 + s,
            )
        )
    for e in range(N_EQ):
        side.append(
            mf.DataFile(
                path=f"{wh}/big/data/eq{e:05d}.parquet",
                file_size_bytes=2048,
                record_count=100,
                content=mf.CONTENT_EQ_DELETES,
                sequence_number=(e + 1) * (n_manifests // max(1, N_EQ)),
            )
        )
    names.append(mf.write_manifest(tbl.location, side))

    def mutate(meta):
        snap = md.Snapshot(
            snapshot_id=md.new_snapshot_id(meta),
            parent_id=meta.current_snapshot_id,
            timestamp_ms=md.now_ms(),
            operation="append",
            manifests=names,
            summary={"synthetic": "plan-scale-bench"},
        )
        meta.snapshots.append(snap)
        meta.current_snapshot_id = snap.snapshot_id
        return meta

    md.commit(tbl.location, mutate)
    return cat.load_table("big")


def main() -> None:
    wh = os.environ.get("PLAN_WH", "/tmp/plan_scale_wh")
    shutil.rmtree(wh, ignore_errors=True)
    timings: dict[str, float] = {}
    stats: dict[str, object] = {}

    t0 = time.perf_counter()
    tbl = build(wh)
    timings["build_metadata"] = round(time.perf_counter() - t0, 3)

    # cold full enumeration: parse every manifest body (10^6 entries)
    t0 = time.perf_counter()
    files = tbl.data_files()
    timings["data_files_cold"] = round(time.perf_counter() - t0, 3)
    stats["files"] = len(files)
    del files

    # two-level planning: a 0.5%-selective n_tok range must skip ~99% of
    # manifest BODIES via footer summaries (domain = N_FILES*10 values,
    # each file owns a 10-value slice → span N_FILES/20 ≈ 0.5% of files)
    lo = 3 * N_FILES
    where = {"n_tok": (lo + 1, lo + N_FILES // 20)}
    t0 = time.perf_counter()
    picked, pstats = tbl.plan_data_files(where)
    timings["plan_two_level_range"] = round(time.perf_counter() - t0, 3)
    stats["range_manifests_read"] = pstats["manifests_read"]
    stats["range_manifests_total"] = pstats["manifests_total"]
    t0 = time.perf_counter()
    sel = tbl.select_data_files(where)
    timings["select_range"] = round(time.perf_counter() - t0, 3)
    stats["range_files_selected"] = len(sel)

    # hidden-partition pruning: one source of 50 → 2% of manifests
    t0 = time.perf_counter()
    sel = tbl.select_data_files({"source": "src7"})
    timings["select_partition"] = round(time.perf_counter() - t0, 3)
    stats["partition_files_selected"] = len(sel)
    del sel, picked

    # delete-debt sweep: F=10^6 data files x S=2,100 sidecars — the
    # bisect+sweep must stay seconds, not the 10^9-step naive product
    from lakehouse_benchmark_ingestion_spark.operators.compaction import (
        delete_debt,
        plan_compaction,
    )

    t0 = time.perf_counter()
    debt = delete_debt(tbl)
    timings["delete_debt"] = round(time.perf_counter() - t0, 3)
    stats["debt_files"] = len(debt)
    stats["debt_max"] = max(debt.values())
    del debt

    # full compaction planning (FFD bin packing over 10^6 files with the
    # delete-file-threshold debt pass)
    t0 = time.perf_counter()
    plan = plan_compaction(
        tbl, target_file_size=128 * 1024 * 1024, delete_file_threshold=3
    )
    timings["plan_compaction"] = round(time.perf_counter() - t0, 3)
    stats["compaction_groups"] = len(plan.groups)

    # optional: distributed (executor-side) planning comparison — the
    # scale path past ~10^7 files. Spins a local SparkSession, so keep it
    # opt-in to preserve the default Spark-free metadata-only run.
    if os.environ.get("PLAN_DISTRIBUTED") == "1":
        from lakehouse_benchmark_ingestion_spark.session import get_spark

        spark = get_spark("plan-scale")
        spark.sparkContext.setLogLevel("ERROR")
        tbl.select_data_files_distributed(spark, {"n_tok": (1, 10)})  # warm
        t0 = time.perf_counter()
        sel = tbl.select_data_files_distributed(spark, where)
        timings["select_range_distributed"] = round(
            time.perf_counter() - t0, 3
        )
        assert len(sel) == stats["range_files_selected"]
        # the WIN case: a selective predicate on the scattered column —
        # summaries cannot skip any manifest (every one spans ~the full
        # scatter domain), so the driver planner must parse every body
        # single-threaded while executors split the same parse across
        # the cores and ship back only the ~0.5% survivors
        scat = {"scatter": (0, (1 << 32) // 200)}
        t0 = time.perf_counter()
        sel_d = tbl.select_data_files_distributed(spark, scat)
        timings["select_scattered_distributed"] = round(
            time.perf_counter() - t0, 3
        )
        t0 = time.perf_counter()
        sel = tbl.select_data_files(scat)
        timings["select_scattered_driver"] = round(
            time.perf_counter() - t0, 3
        )
        assert sorted(f.path for f in sel_d) == sorted(f.path for f in sel)
        stats["scattered_files_selected"] = len(sel)
        del sel, sel_d

        # the hard case: an UNSELECTIVE predicate forces a full-manifest
        # pass AND a full-size survivor set — all 10^6 entries travel
        # back to the driver
        t0 = time.perf_counter()
        sel = tbl.select_data_files_distributed(spark, {"n_tok": (1, None)})
        timings["select_all_distributed"] = round(
            time.perf_counter() - t0, 3
        )
        stats["all_files_selected_distributed"] = len(sel)
        t0 = time.perf_counter()
        sel = tbl.select_data_files({"n_tok": (1, None)})
        timings["select_all_driver"] = round(time.perf_counter() - t0, 3)
        del sel

    out = {
        "metric": "plan_scale",
        "files": N_FILES,
        "manifests": N_FILES // PER_MANIFEST + 1,
        "sidecars": N_SIDECARS + N_EQ,
        "timings": timings,
        "plan_stats": stats,
        "peak_rss_mb": round(_rss_mb(), 1),
    }
    shutil.rmtree(wh, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
