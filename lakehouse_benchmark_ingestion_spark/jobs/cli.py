"""spark-submit entry point for every maintenance operation.

Usage (north_rule packaging):

    zip -r engine.zip lakehouse_benchmark_ingestion_spark
    spark-submit --py-files engine.zip \
        lakehouse_benchmark_ingestion_spark/jobs/cli.py <command> [options]

Commands mirror the reference's operational surface (MainRunner's CLI,
MainRunner.java:267-314, drove sync jobs; ours drives maintenance):

    create-table   --warehouse W --table T [--from-documents DIR [--replicate K]]
    ingest         --warehouse W --table T --from-documents DIR [--appends N]
    compact        --warehouse W --table T [--target-mb N] [--curve zorder|hilbert]
                   [--salts N] [--run-id ID] [--concurrency N]
                   [--partial-progress N]  (commit every N groups instead of
                   one all-or-nothing swap — Iceberg partial-progress)
                   [--delete-file-threshold N]  (also rewrite any file
                   addressed by >= N delete sidecars, materializing the
                   deletes — Iceberg delete-file-threshold)
    cluster        --warehouse W --table T [--target-mb N] [--curve ...] [--salts N]
    migrate-spec   --warehouse W --table T [--target-mb N]  (rewrite every
                   file whose partition tuple predates the current spec —
                   Iceberg's rewrite-writes-current-spec; idempotent)
    register-text-index --warehouse W --table T --name IDX [--gram-n N]
                   [--column text]  (build the inverted n-gram index over
                   T's head and register it on T for auto-sync)
    register-ann-index --warehouse W --table T --name IDX [--cells N]
                   [--column embedding] [--key vec_id]
                   [--centroid-mode kmeans|id-sample]  (build the
                   persisted IVF index over T's head and register it)
    sync-indexes   --warehouse W --table T  (CDC-sync every registered
                   derived index to T's current snapshot)
    search-text    --warehouse W --name IDX --text STR [--limit N]
                   (documents containing any gram of STR, via the
                   stats+bloom file-pruned postings probe)
    rewrite-manifests --warehouse W --table T
    minmax         --warehouse W --table T --column C [--where JSON]
                   (MIN/MAX pushed into manifest bounds; scans only
                   partial-overlap or stats-less files)
    count          --warehouse W --table T [--where JSON]  (COUNT pushed
                   into manifest metadata; scans only indeterminate files)
    convert-eq-deletes  --warehouse W --table T  (eq-delete sidecars ->
                   one sorted pos-delete sidecar, v3-style)
    convert-pos-to-dv   --warehouse W --table T  (pos-delete sidecars ->
                                                  one v3 deletion-vector sidecar)
    rewrite-pos-deletes --warehouse W --table T   (merge small pos-delete
                   sidecars into one sorted file, dropping dangling
                   addresses — Iceberg's rewrite_position_delete_files)
    expire         --warehouse W --table T [--keep-last N] [--older-than-ms MS]
    merge          --warehouse W --table T --updates-parquet PATH [--key doc_id]
                   [--strategy cow|mor]   (mor = eq-delete + insert, no rewrite)
                   [--to-branch B]   (stage the MERGE on branch B — WAP for
                   upserts; publish with fast-forward)
    full           --warehouse W --table T [--target-mb N]   (whole suite)
                   [--all]        maintain EVERY table the catalog lists
                                  (the reference's whole-database sync loop,
                                  BaseCatalogSync.java:63-101)
                   [--if-needed]  evaluate the num-commits-OR-time trigger
                                  policy first (HudiCatalogSync.java:172-175)
                                  and skip tables with nothing due
                   [--config F]   JSON: {"defaults": {policy+suite args},
                                  "tables": {name: {policy overrides}}}
    status         --warehouse W [--table T]   (monitoring surface: per-table
                   file/small-file/byte counts, snapshot history, trigger
                   decision — the engine's version of MainRunner's REST
                   monitor port, MainRunner.java:145-212)
    delete-where   --warehouse W --table T --where JSON [--strategy cow|mor|mor-pos|dv]
                   (stats-pruned predicate delete; fully-matching files drop
                   metadata-only; mor writes an eq-delete file instead)
    update-where   --warehouse W --table T --where JSON --set JSON [--strategy cow|mor]
                   (e.g. --set '{"source": "concat(source, chr(95))"}' —
                   values are Spark SQL expressions over the OLD row)
    create-tag     --warehouse W --table T --name N [--snapshot-id S]
    create-branch  --warehouse W --table T --name N [--snapshot-id S]
    fast-forward   --warehouse W --table T --name N   (publish branch → main)
    drop-ref       --warehouse W --table T --name N
    refs           --warehouse W --table T
    rollback       --warehouse W --table T --snapshot-id S   (metadata-only)
    cherry-pick    --warehouse W --table T --snapshot-id S   (publish a staged
                   append onto a moved main head; fresh sequence number)
    validate       --warehouse W --table T [--deep] [--snapshot-id S]
                   (integrity fsck: manifests/refs/lineage metadata checks +
                   executor-side file existence/size; --deep adds footer row
                   counts and dangling-delete-address detection)
    build-bloom    --warehouse W --table T --column C   (per-file bloom index;
                   scan --where equality predicates consult it automatically)
    build-ndv      --warehouse W --table T --columns c1,c2  (per-file HLL
                   sketches, Puffin-style NDV stats sidecar)
    refresh-ndv    --warehouse W --table T   (incremental: scans only files
                   added since the registered sidecar, unions sketches)
    ndv            --warehouse W --table T [--allow-recompute]  (estimates
                   from the registered sidecar; --allow-recompute runs a
                   fresh distributed estimate when the registration is
                   stale — NOT a dry run, it scans data)
    create-replica --warehouse W --table T --name R [--key doc_id]
    sync-replica   --warehouse W --table T --name R   (ship the CDC delta
                   since the replica's watermark: eq-delete + append)
    create-view    --warehouse W --table T --name MV --column GROUP_COL
                   --val-column VAL_COL   (materialized COUNT/SUM per group)
    refresh-view   --warehouse W --table T --name MV   (apply the CDC delta
                   since the view's recorded base snapshot — O(changed rows))
    metadata       --warehouse W --table T [--kind files|snapshots|refs|partitions]
    set-partition-spec --warehouse W --table T --spec JSON   (hidden
                   partitioning: identity/truncate/bucket transforms; omit
                   --spec to drop; evolution affects future writes only)
    scan           --warehouse W --table T [--snapshot-id N] [--limit N]
                   [--where JSON]   (e.g. '{"n_tok": [100, 120], "source": "src1"}')
                   [--ref NAME | --as-of-ms MS]   (time travel)
    changes        --warehouse W --table T --from-snapshot A [--to-snapshot B]
    ingest-stream  --warehouse W --table T --source GLOB --checkpoint DIR
                   [--mode append|merge|append_dedup]
                   [--online-compact-commits N [--online-compact-seconds S]
                    --min-small-files M]   (one snapshot per micro-batch;
                   with a trigger set, inline num_or_time online compaction —
                   the reference's 3-stage write pipeline)
    cdc-apply      --warehouse W --table T --source GLOB --checkpoint DIR
                   [--key K] [--trust-inserts]   (I/U/D row-kind changelog,
                   one MOR commit per micro-batch)
    remove-orphans --warehouse W --table T [--older-than-ms MS] [--dry-run]
    vacuum         --warehouse W --table T [--keep-last N] [--older-than-ms MS]
                   [--dry-run]   (expire → rewrite-pos-deletes →
                   remove-orphans, the one safe GC order)
    add-column     --warehouse W --table T --column NAME --type DDL
    drop-column    --warehouse W --table T --column NAME
    rename-column  --warehouse W --table T --column OLD --to-name NEW
    history        --warehouse W --table T
    sql            --warehouse W -e "SELECT ..."   (every catalog table is a
                   temp view; MOR/aliases/pos-deletes applied)

Every command prints one JSON metrics line (machine-parseable, like the
lineage rows the north_rule requires).
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_where(raw: str | None) -> dict | None:
    """``--where`` JSON → the engine's ``where`` dict: a JSON list is an
    inclusive ``(lo, hi)`` range (null = unbounded), anything else an
    equality."""
    if not raw:
        return None
    return {k: tuple(v) if isinstance(v, list) else v for k, v in json.loads(raw).items()}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="icelite")
    p.add_argument("command")
    p.add_argument("--warehouse", required=True)
    p.add_argument("--table", default="sequences")
    p.add_argument("--from-documents")
    p.add_argument("--replicate", type=int, default=1)
    p.add_argument("--appends", type=int, default=4)
    p.add_argument("--target-mb", type=int, default=128)
    p.add_argument("--curve", default="zorder", choices=["zorder", "hilbert"])
    p.add_argument("--salts", type=int, default=1)
    p.add_argument("--run-id")
    p.add_argument("--concurrency", type=int, default=8)
    # compact: commit every N groups (Iceberg partial-progress.enabled)
    p.add_argument("--partial-progress", type=int, default=None)
    # compact: also rewrite any file addressed by >= N delete sidecars
    # (Iceberg delete-file-threshold), materializing the deletes
    p.add_argument("--delete-file-threshold", type=int, default=None)
    # merge: stage the MERGE on a named branch (WAP; publish with
    # fast-forward) instead of committing to main
    p.add_argument("--to-branch", dest="to_branch", default=None)
    p.add_argument("--keep-last", type=int, default=2)
    p.add_argument("--older-than-ms", type=int)
    p.add_argument("--updates-parquet")
    p.add_argument("--key", default=None)  # per-command default: doc_id (CDC/merge), vec_id (ann index)
    p.add_argument(
        "--strategy", default=None,
        choices=["cow", "mor", "mor-pos", "dv"],
        help="row-DML write path; omitted -> the table's write.<op>.mode property, else cow",
    )
    p.add_argument("--snapshot-id", type=int)
    p.add_argument("--from-snapshot", type=int)
    p.add_argument("--to-snapshot", type=int)
    p.add_argument("--limit", type=int, default=20)
    p.add_argument("-e", "--query", help="Spark SQL for the `sql` command")
    p.add_argument("--cpus", type=int)
    p.add_argument("--column")
    p.add_argument("--columns")
    p.add_argument("--type", dest="col_type")
    p.add_argument("--to-name")
    p.add_argument("--dry-run", action="store_true")
    p.add_argument("--allow-recompute", action="store_true")
    p.add_argument("--deep", action="store_true")  # validate: footer + delete-target checks
    p.add_argument("--where")
    p.add_argument("--all", action="store_true", dest="all_tables")
    p.add_argument("--if-needed", action="store_true")
    p.add_argument("--config")
    p.add_argument("--set", dest="set_json")
    p.add_argument("--name")
    p.add_argument("--ref")
    p.add_argument("--as-of-ms", type=int)
    p.add_argument(
        "--kind",
        default="files",
        choices=["files", "snapshots", "refs", "partitions", "history", "manifests"],
    )
    p.add_argument("--spec")  # set-partition-spec: JSON list of transforms
    p.add_argument("--gram-n", type=int, default=16)  # register-text-index
    p.add_argument("--cells", type=int, default=8)  # register-ann-index
    p.add_argument("--text")  # search-text: the query string
    p.add_argument(  # register-ann-index quantizer (see similarity.ivf_ann_topk)
        "--centroid-mode", default="kmeans", choices=["kmeans", "id-sample"]
    )
    p.add_argument("--val-column")
    p.add_argument("--source")  # cdc-apply / ingest-stream: drop-feed glob
    p.add_argument("--checkpoint")  # streaming checkpoint dir
    p.add_argument("--trust-inserts", action="store_true")
    # ingest-stream: append | merge | append_dedup + online-compaction trigger
    p.add_argument("--mode", default="append",
                   choices=["append", "merge", "append_dedup"])
    p.add_argument("--online-compact-commits", type=int, default=None,
                   help="inline compaction every N write commits (Hudi "
                        "num_or_time delta_commits, HudiCatalogSync.java:172-175)")
    p.add_argument("--online-compact-seconds", type=int, default=120)
    p.add_argument("--min-small-files", type=int, default=8)
    p.add_argument("--distributed", action="store_true")
    # row lineage (Iceberg v3): create-table flag + lineage-scan command
    p.add_argument("--row-lineage", action="store_true")
    # changelog-tail: consumer offset dir + bounded catch-up + ack control
    p.add_argument("--state-dir")
    p.add_argument("--max-snapshots", type=int, default=None)
    p.add_argument("--no-ack", action="store_true")
    args = p.parse_args(argv)

    from pyspark.sql import functions as F

    from lakehouse_benchmark_ingestion_spark.icelite import Catalog
    from lakehouse_benchmark_ingestion_spark.session import get_spark

    spark = get_spark(f"icelite-{args.command}")
    cat = Catalog(args.warehouse)
    target = args.target_mb * 1024 * 1024
    out: dict = {"command": args.command, "table": args.table}

    if args.command == "create-table":
        from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

        if not args.from_documents:
            p.error("create-table requires --from-documents")
        df = tokens_df(spark, args.from_documents, replicate=args.replicate)
        props = None
        if args.row_lineage:
            from lakehouse_benchmark_ingestion_spark.icelite.table import (
                ROW_LINEAGE_PROP,
            )

            props = {ROW_LINEAGE_PROP: "true"}
        tbl = cat.create_table(args.table, df.schema, properties=props)
        if args.spec:
            tbl.set_partition_spec(json.loads(args.spec))
        out["location"] = tbl.location

    elif args.command == "set-partition-spec":
        tbl = cat.load_table(args.table)
        tbl.set_partition_spec(json.loads(args.spec) if args.spec else None)
        out["partition_spec"] = tbl.meta.properties.get("partition-spec")

    elif args.command == "ingest":
        from lakehouse_benchmark_ingestion_spark.sources.tokens import tokens_df

        tbl = cat.load_table(args.table)
        df = tokens_df(spark, args.from_documents, replicate=args.replicate)
        for i in range(args.appends):
            part = df.filter(
                F.pmod(F.xxhash64(F.col("doc_id")), F.lit(args.appends)) == i
            )
            snap = tbl.append(part)
            out[f"snapshot_{i}"] = snap.snapshot_id

    elif args.command == "compact":
        from lakehouse_benchmark_ingestion_spark.operators.compaction import compact

        # targeted rewrite_data_files(filter) parity
        where = _parse_where(args.where)
        out.update(
            compact(
                spark,
                cat.load_table(args.table),
                target_file_size=target,
                curve=args.curve,
                n_salts=args.salts,
                run_id=args.run_id,
                max_concurrent_groups=args.concurrency,
                partial_progress_commits=args.partial_progress,
                where=where,
                delete_file_threshold=args.delete_file_threshold,
            )
        )

    elif args.command == "migrate-spec":
        from lakehouse_benchmark_ingestion_spark.operators.compaction import (
            migrate_partition_spec,
        )

        out.update(
            migrate_partition_spec(
                spark,
                cat.load_table(args.table),
                target_file_size=target,
                curve=args.curve,
                run_id=args.run_id,
                max_concurrent_groups=args.concurrency,
            )
        )

    elif args.command == "cluster":
        from lakehouse_benchmark_ingestion_spark.operators.clustering import cluster

        out.update(
            cluster(
                spark,
                cat.load_table(args.table),
                curve=args.curve,
                target_file_size=target,
                n_salts=args.salts,
                run_id=args.run_id,
            )
        )

    elif args.command == "rewrite-manifests":
        from lakehouse_benchmark_ingestion_spark.operators.manifest_rewrite import rewrite_manifests

        out.update(rewrite_manifests(cat.load_table(args.table), run_id=args.run_id))

    elif args.command == "rewrite-pos-deletes":
        from lakehouse_benchmark_ingestion_spark.operators.pos_delete_rewrite import (
            rewrite_position_deletes,
        )

        out.update(
            rewrite_position_deletes(
                spark, cat.load_table(args.table), run_id=args.run_id
            )
        )

    elif args.command == "count":
        where = _parse_where(args.where)
        out.update(cat.load_table(args.table).count_rows(spark, where=where))

    elif args.command == "minmax":
        if not args.column:
            p.error("minmax requires --column")
        where = _parse_where(args.where)
        out.update(
            cat.load_table(args.table).agg_minmax(
                spark, args.column, where=where
            )
        )

    elif args.command == "convert-pos-to-dv":
        from lakehouse_benchmark_ingestion_spark.operators.pos_delete_rewrite import (
            convert_pos_deletes_to_dv,
        )

        out.update(
            convert_pos_deletes_to_dv(
                spark, cat.load_table(args.table), run_id=args.run_id
            )
        )

    elif args.command == "convert-eq-deletes":
        from lakehouse_benchmark_ingestion_spark.operators.pos_delete_rewrite import (
            convert_eq_deletes_to_pos,
        )

        out.update(
            convert_eq_deletes_to_pos(
                spark, cat.load_table(args.table), run_id=args.run_id
            )
        )

    elif args.command == "expire":
        from lakehouse_benchmark_ingestion_spark.operators.expire_snapshots import expire_snapshots

        out.update(
            expire_snapshots(
                cat.load_table(args.table),
                keep_last=args.keep_last,
                older_than_ms=args.older_than_ms,
                run_id=args.run_id,
            )
        )

    elif args.command == "merge":
        from lakehouse_benchmark_ingestion_spark.operators.merge_into import merge_into

        if not args.updates_parquet:
            p.error("merge requires --updates-parquet")
        updates = spark.read.parquet(args.updates_parquet)
        out.update(
            merge_into(
                spark, cat.load_table(args.table), updates, key=args.key or "doc_id",
                run_id=args.run_id, strategy=args.strategy,
                branch=args.to_branch,
            )
        )

    elif args.command == "full":
        from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
            CompactionPolicy,
            maintain_warehouse,
            run_full_maintenance,
            should_compact,
        )

        conf: dict = {}
        if args.config:
            with open(args.config) as fh:
                conf = json.load(fh)
        defaults = dict(conf.get("defaults", {}))
        target = int(defaults.pop("target_mb", args.target_mb)) * 1024 * 1024
        curve = defaults.pop("curve", args.curve)
        keep_last = int(defaults.pop("expire_keep_last", args.keep_last))
        pol_fields = {
            k: v for k, v in defaults.items()
            if k in CompactionPolicy.__dataclass_fields__
        }
        policy = CompactionPolicy(**pol_fields) if pol_fields else None
        per_table = {
            name: CompactionPolicy(**{**pol_fields, **ov})
            for name, ov in conf.get("tables", {}).items()
        }
        if args.all_tables:
            out.pop("table", None)
            out.update(
                maintain_warehouse(
                    spark, cat, if_needed=args.if_needed, policy=policy,
                    per_table_policy=per_table or None,
                    target_file_size=target, curve=curve, n_salts=args.salts,
                    expire_keep_last=keep_last, run_id=args.run_id,
                    max_concurrent_groups=args.concurrency,
                )
            )
        else:
            tbl = cat.load_table(args.table)
            if args.if_needed:
                decision = should_compact(
                    tbl, per_table.get(args.table, policy)
                )
                out["decision"] = decision
                if not decision["compact"]:
                    print(json.dumps(out, default=str))
                    return 0
            out.update(
                run_full_maintenance(
                    spark, tbl, target_file_size=target, curve=curve,
                    n_salts=args.salts, run_id=args.run_id,
                    expire_keep_last=keep_last,
                    max_concurrent_groups=args.concurrency,
                )
            )

    elif args.command == "status":
        from lakehouse_benchmark_ingestion_spark.plans.lineage import MetricsLog
        from lakehouse_benchmark_ingestion_spark.plans.maintenance import should_compact

        names = cat.list_tables()
        tables_out = {}
        for name in names:
            tbl = cat.load_table(name)
            files = tbl.data_files()
            snaps = tbl.history()
            tables_out[name] = {
                "n_files": len(files),
                "n_delete_files": len(tbl.delete_files()),
                "bytes": sum(f.file_size_bytes for f in files),
                "rows": sum(f.record_count for f in files),
                "n_snapshots": len(snaps),
                "last_operation": snaps[-1].operation if snaps else None,
                "last_updated_ms": snaps[-1].timestamp_ms if snaps else None,
                "trigger": should_compact(tbl),
                # last maintenance run's per-stage walls (MetricsLog)
                "last_maintenance": [
                    {
                        "op": m.op, "wall_ms": m.wall_ms,
                        "files_in": m.files_in, "files_out": m.files_out,
                        "run_id": m.run_id,
                    }
                    for m in MetricsLog(tbl.location).last_run()
                ],
            }
        out.pop("table", None)
        out["tables"] = tables_out

    elif args.command in ("delete-where", "update-where"):
        from lakehouse_benchmark_ingestion_spark.operators.row_dml import (
            delete_where,
            update_where,
        )

        if not args.where:
            p.error(f"{args.command} requires --where")
        where = _parse_where(args.where)
        tbl = cat.load_table(args.table)
        if args.command == "delete-where":
            out.update(
                delete_where(
                    spark, tbl, where, strategy=args.strategy,
                    target_file_size=target, key=args.key or "doc_id", run_id=args.run_id,
                )
            )
        else:
            if not args.set_json:
                p.error("update-where requires --set")
            out.update(
                update_where(
                    spark, tbl, where, json.loads(args.set_json),
                    target_file_size=target, key=args.key or "doc_id",
                    strategy=args.strategy, run_id=args.run_id,
                )
            )

    elif args.command in ("create-tag", "create-branch", "fast-forward", "drop-ref", "refs"):
        tbl = cat.load_table(args.table)
        if args.command != "refs" and not args.name:
            p.error(f"{args.command} requires --name")
        if args.command == "create-tag":
            tbl.create_tag(args.name, args.snapshot_id)
        elif args.command == "create-branch":
            tbl.create_branch(args.name, args.snapshot_id)
        elif args.command == "fast-forward":
            tbl.fast_forward(args.name)
        elif args.command == "drop-ref":
            tbl.drop_ref(args.name)
        out["refs"] = tbl.refs()

    elif args.command == "register-text-index":
        from lakehouse_benchmark_ingestion_spark.operators.text_index import (
            register_text_index,
        )

        if not args.name:
            p.error("register-text-index requires --name (index table name)")
        idx = register_text_index(
            spark,
            cat.load_table(args.table),
            args.warehouse,
            name=args.name,
            n=args.gram_n,
            text_col=args.column or "text",
        )
        out["index"] = idx.location
        out["postings"] = idx.scan(spark).count()

    elif args.command == "register-ann-index":
        from lakehouse_benchmark_ingestion_spark.operators.ann_index import (
            register_ann_index,
        )

        if not args.name:
            p.error("register-ann-index requires --name (index table name)")
        idx = register_ann_index(
            spark,
            cat.load_table(args.table),
            args.warehouse,
            name=args.name,
            id_col=args.key or "vec_id",
            vec_col=args.column or "embedding",
            n_cells=args.cells,
            centroid_mode=args.centroid_mode,
        )
        out["index"] = idx.location
        out["vectors"] = idx.scan(spark).count()

    elif args.command == "search-text":
        from lakehouse_benchmark_ingestion_spark.operators.text_index import (
            GRAM_COL,
            PROP_N,
            gram_hashes_py,
            probe_text_index,
        )

        if not args.text:
            p.error("search-text requires --text <query string>")
        idx = cat.load_table(args.name or args.table)
        n = int(idx.meta.properties[PROP_N])
        # driver-side gram hashes of the query literal (same closed form
        # as the index kernel) — a handful of ints, not row data
        hashes = gram_hashes_py(args.text, n)
        probe_df = spark.createDataFrame(
            [(h,) for h in hashes], f"{GRAM_COL} long"
        )
        hits, metrics = probe_text_index(spark, idx, probe_df)
        rows = hits.limit(args.limit).collect()
        out.update(metrics)
        out["n_probe_grams"] = len(hashes)
        out["hits"] = [{"doc_id": r["doc_id"], "source": r["source"]} for r in rows]

    elif args.command == "sync-indexes":
        from lakehouse_benchmark_ingestion_spark.operators.index_sync import (
            sync_registered_indexes,
        )

        out.update(sync_registered_indexes(spark, cat.load_table(args.table)))

    elif args.command == "build-bloom":
        from lakehouse_benchmark_ingestion_spark.operators.bloom_index import (
            build_bloom_index,
        )

        if not args.column:
            p.error("build-bloom requires --column")
        out.update(build_bloom_index(spark, cat.load_table(args.table), args.column))

    elif args.command == "build-ndv":
        from lakehouse_benchmark_ingestion_spark.operators.ndv_stats import (
            build_ndv_stats,
        )

        if not args.columns:
            p.error("build-ndv requires --columns c1,c2,...")
        out.update(
            build_ndv_stats(
                spark, cat.load_table(args.table), args.columns.split(",")
            )
        )

    elif args.command == "refresh-ndv":
        from lakehouse_benchmark_ingestion_spark.operators.ndv_stats import (
            refresh_ndv_stats,
        )

        out.update(refresh_ndv_stats(spark, cat.load_table(args.table)))

    elif args.command == "ndv":
        from lakehouse_benchmark_ingestion_spark.operators.ndv_stats import (
            ndv_estimates,
        )

        df, source = ndv_estimates(
            spark,
            cat.load_table(args.table),
            # --dry-run elsewhere means "mutate nothing, do less"; a full
            # distributed recompute is the opposite, so it gets its own flag
            allow_recompute=args.allow_recompute,
        )
        out["source"] = source
        out["ndv"] = {r["column"]: r["ndv"] for r in df.collect()}

    elif args.command in ("create-replica", "sync-replica"):
        from lakehouse_benchmark_ingestion_spark.operators.replicate import (
            create_replica,
            sync_replica,
        )

        if not args.name:
            p.error(f"{args.command} requires --name")
        base = cat.load_table(args.table)
        if args.command == "create-replica":
            rep = create_replica(spark, cat, base, args.name, key=args.key or "doc_id")
            out["replica"] = args.name
            out["rows"] = rep.scan(spark).count()
        else:
            out.update(sync_replica(spark, base, cat.load_table(args.name)))

    elif args.command in ("create-view", "refresh-view"):
        from lakehouse_benchmark_ingestion_spark.operators.materialized import (
            create_agg_view,
            refresh_agg_view,
        )

        if not args.name:
            p.error(f"{args.command} requires --name")
        base = cat.load_table(args.table)
        if args.command == "create-view":
            if not args.column or not args.val_column:
                p.error("create-view requires --column and --val-column")
            mv = create_agg_view(
                spark, cat, base, args.name, args.column, args.val_column
            )
            out["view"] = args.name
            out["groups"] = mv.scan(spark).count()
        else:
            out.update(refresh_agg_view(spark, base, cat.load_table(args.name)))

    elif args.command == "rollback":
        if args.snapshot_id is None:
            p.error("rollback requires --snapshot-id")
        tbl = cat.load_table(args.table)
        tbl.rollback(args.snapshot_id)
        out["current_snapshot"] = tbl.current_snapshot().snapshot_id

    elif args.command == "validate":
        from lakehouse_benchmark_ingestion_spark.operators.validate import (
            validate_table,
        )

        out.update(
            validate_table(
                spark,
                cat.load_table(args.table),
                deep=args.deep,
                snapshot_id=args.snapshot_id,
            )
        )

    elif args.command == "cherry-pick":
        if args.snapshot_id is None:
            p.error("cherry-pick requires --snapshot-id")
        tbl = cat.load_table(args.table)
        snap = tbl.cherry_pick(args.snapshot_id)
        out["current_snapshot"] = snap.snapshot_id
        out["summary"] = snap.summary

    elif args.command == "metadata":
        tbl = cat.load_table(args.table)
        df = tbl.metadata_df(spark, args.kind)
        out["kind"] = args.kind
        out["rows"] = [r.asDict() for r in df.collect()]

    elif args.command == "scan":
        tbl = cat.load_table(args.table)
        where = _parse_where(args.where)
        df = tbl.scan(
            spark, snapshot_id=args.snapshot_id, where=where,
            ref=args.ref, as_of_timestamp_ms=args.as_of_ms,
        )
        out["rows"] = df.count()
        out["sample"] = [
            {k: (v if not isinstance(v, list) else v[:8]) for k, v in r.asDict().items()}
            for r in df.limit(args.limit).collect()
        ]

    elif args.command == "analyze":
        from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
            table_health,
        )

        if args.all_tables:
            out["tables"] = {
                n: table_health(cat.load_table(n)) for n in cat.list_tables()
            }
        else:
            out.update(table_health(cat.load_table(args.table)))

    elif args.command == "write-partition-stats":
        from lakehouse_benchmark_ingestion_spark.operators.partition_stats import (
            write_partition_stats,
        )

        tbl = cat.load_table(args.table)
        out.update(write_partition_stats(spark, tbl, snapshot_id=args.snapshot_id))

    elif args.command == "partition-stats":
        from lakehouse_benchmark_ingestion_spark.operators.partition_stats import (
            read_partition_stats,
        )

        tbl = cat.load_table(args.table)
        df, source = read_partition_stats(spark, tbl, snapshot_id=args.snapshot_id)
        out["source"] = source
        out["partitions"] = [r.asDict() for r in df.limit(args.limit).collect()]

    elif args.command == "lineage-scan":
        # v3 row-lineage surface: data columns + _row_id /
        # _last_updated_sequence_number
        tbl = cat.load_table(args.table)
        where = _parse_where(args.where)
        df = tbl.scan_lineage(
            spark, snapshot_id=args.snapshot_id, where=where, ref=args.ref,
        )
        out["rows"] = df.count()
        out["sample"] = [
            {k: (v if not isinstance(v, list) else v[:8]) for k, v in r.asDict().items()}
            for r in df.limit(args.limit).collect()
        ]

    elif args.command == "changelog-tail":
        # checkpointed incremental consumer: emits the changelog since the
        # last acked offset and (unless --no-ack) advances it
        from lakehouse_benchmark_ingestion_spark.operators.changes import (
            changelog_tail,
        )

        if not args.state_dir:
            p.error("changelog-tail requires --state-dir")
        tbl = cat.load_table(args.table)
        r = changelog_tail(
            spark, tbl, args.state_dir, key=args.key or "doc_id",
            max_snapshots=args.max_snapshots,
        )
        counts = {
            row["change_type"]: row["n"]
            for row in r["df"].groupBy("change_type")
            .agg(F.count("*").alias("n")).collect()
        }
        out["from_snapshot"] = r["from_snapshot_id"]
        out["to_snapshot"] = r["to_snapshot_id"]
        out["counts"] = counts
        out["acked"] = not args.no_ack
        if not args.no_ack:
            r["ack"]()

    elif args.command == "sql":
        # ad-hoc Spark SQL over the whole warehouse: every catalog table is
        # registered as a temp view (snapshot-pinned scan under the hood,
        # MOR/aliases/pos-deletes all applied), so a user can run ANY query
        # they run today against the reference's tables with plain SQL —
        # the engine's equivalent of the reference exposing its synced
        # tables to downstream engines.
        if not args.query:
            p.error("sql requires -e/--query")
        for name in cat.list_tables():
            t = cat.load_table(name)
            if t.current_snapshot() is not None:
                t.scan(spark).createOrReplaceTempView(name)
                # Iceberg-style metadata tables as views: SELECT * FROM
                # t__files / t__snapshots / t__refs / t__partitions /
                # t__history / t__manifests (the
                # `t$files` idiom; Spark temp-view names reject `$`, so the
                # engine spells it `__`); row-lineage tables additionally
                # expose t__lineage (_row_id / _last_updated_sequence_number
                # next to the data columns)
                # metadata_df is driver-eager (it walks manifests), so only
                # build the views the query actually names — a plain data
                # query must not pay O(manifests) sweeps per table, and a
                # corrupt manifest must only fail queries that read metadata
                for kind in ("files", "snapshots", "refs", "partitions", "history", "manifests"):
                    view = f"{name}__{kind}"
                    if view in args.query:
                        t.metadata_df(spark, kind).createOrReplaceTempView(view)
                if (
                    f"{name}__lineage" in args.query
                    and t.row_lineage_enabled()
                ):
                    t.scan_lineage(spark).createOrReplaceTempView(
                        f"{name}__lineage"
                    )
        df = spark.sql(args.query)
        out["rows"] = df.count()
        out["columns"] = df.columns
        out["sample"] = [
            {k: (v if not isinstance(v, list) else v[:8]) for k, v in r.asDict().items()}
            for r in df.limit(args.limit).collect()
        ]

    elif args.command == "changes":
        from lakehouse_benchmark_ingestion_spark.operators.changes import snapshot_changes

        if args.from_snapshot is None:
            p.error("changes requires --from-snapshot")
        tbl = cat.load_table(args.table)
        to_id = args.to_snapshot or tbl.current_snapshot().snapshot_id
        ch = snapshot_changes(spark, tbl, args.from_snapshot, to_id)
        counts = {r["change_type"]: r["n"] for r in
                  ch.groupBy("change_type").agg(F.count("*").alias("n")).collect()}
        out["from_snapshot"] = args.from_snapshot
        out["to_snapshot"] = to_id
        out["inserts"] = counts.get("insert", 0)
        out["deletes"] = counts.get("delete", 0)

    elif args.command == "remove-orphans":
        from lakehouse_benchmark_ingestion_spark.operators.orphan_files import (
            remove_orphan_files,
            remove_orphan_files_distributed,
        )

        grace = (
            args.older_than_ms
            if args.older_than_ms is not None
            else 3 * 24 * 3600 * 1000
        )
        if args.distributed:
            out.update(
                remove_orphan_files_distributed(
                    spark,
                    cat.load_table(args.table),
                    older_than_ms=grace,
                    dry_run=args.dry_run,
                    run_id=args.run_id,
                )
            )
        else:
            out.update(
                remove_orphan_files(
                    cat.load_table(args.table),
                    older_than_ms=grace,
                    dry_run=args.dry_run,
                    run_id=args.run_id,
                )
            )

    elif args.command == "cdc-apply":
        # tail a parquet changelog drop-feed (rows + _op I/U/D + _seq) into
        # the table: one MOR commit per micro-batch, exactly-once on replay
        from lakehouse_benchmark_ingestion_spark.streaming.cdc import stream_cdc_apply

        if not args.source or not args.checkpoint:
            p.error("cdc-apply requires --source and --checkpoint")
        tbl = cat.load_table(args.table)
        out["batches"] = stream_cdc_apply(
            spark,
            tbl,
            args.source,
            args.checkpoint,
            key=args.key or "doc_id",
            trust_inserts=args.trust_inserts,
        )
        out["snapshot_id"] = tbl.current_snapshot().snapshot_id

    elif args.command == "ingest-stream":
        # the reference's whole job in one command: tail a drop feed into
        # the table, one snapshot per micro-batch, optional inline online
        # compaction (the Hudi 3-stage pipeline, HudiCatalogSync.java:114-118)
        from lakehouse_benchmark_ingestion_spark.streaming.incremental import (
            stream_ingest_files,
        )

        if not args.source or not args.checkpoint:
            p.error("ingest-stream requires --source and --checkpoint")
        policy = None
        if args.online_compact_commits is not None:
            from lakehouse_benchmark_ingestion_spark.plans.maintenance import (
                CompactionPolicy,
            )

            policy = CompactionPolicy(
                min_small_files=args.min_small_files,
                max_commits=args.online_compact_commits,
                max_seconds=args.online_compact_seconds,
            )
        tbl = cat.load_table(args.table)
        out["batches"] = stream_ingest_files(
            spark,
            tbl,
            args.source,
            args.checkpoint,
            mode=args.mode,
            key=args.key or "doc_id",
            online_compaction=policy,
            compact_kwargs={
                "curve": args.curve,
                "n_salts": args.salts,
                "target_file_size": target,
            },
        )
        snap = tbl.current_snapshot()
        out["snapshot_id"] = snap.snapshot_id if snap else None
        out["operations"] = [s.operation for s in tbl.history()][-10:]

    elif args.command == "vacuum":
        # full storage-reclamation pass in one command: retire history
        # (expire), consolidate delete sidecars (rewrite-pos-deletes), then
        # sweep unreferenced files (remove-orphans) — the operational
        # equivalent of running the three GC commands in their only safe
        # order (expire first so its dropped files become orphans, sweep
        # last so nothing swept is still referenced).
        from lakehouse_benchmark_ingestion_spark.operators.expire_snapshots import expire_snapshots
        from lakehouse_benchmark_ingestion_spark.operators.orphan_files import remove_orphan_files
        from lakehouse_benchmark_ingestion_spark.operators.pos_delete_rewrite import (
            rewrite_position_deletes,
        )

        tbl = cat.load_table(args.table)
        out["expire"] = expire_snapshots(
            tbl, keep_last=args.keep_last, older_than_ms=args.older_than_ms,
            run_id=args.run_id,
        )
        out["rewrite_pos_deletes"] = rewrite_position_deletes(
            spark, tbl, run_id=args.run_id
        )
        out["remove_orphans"] = remove_orphan_files(
            tbl,
            older_than_ms=args.older_than_ms if args.older_than_ms is not None else 3 * 24 * 3600 * 1000,
            dry_run=args.dry_run,
            run_id=args.run_id,
        )

    elif args.command in ("add-column", "drop-column", "rename-column"):
        tbl = cat.load_table(args.table)
        if not args.column:
            p.error(f"{args.command} requires --column")
        if args.command == "add-column":
            if not args.col_type:
                p.error("add-column requires --type")
            tbl.add_column(args.column, args.col_type)
        elif args.command == "drop-column":
            tbl.drop_column(args.column)
        else:
            if not args.to_name:
                p.error("rename-column requires --to-name")
            tbl.rename_column(args.column, args.to_name)
        out["schema"] = [f.name for f in tbl.schema.fields]

    elif args.command == "history":
        tbl = cat.load_table(args.table)
        out["snapshots"] = [
            {
                "id": s.snapshot_id,
                "parent": s.parent_id,
                "op": s.operation,
                "ts": s.timestamp_ms,
                "manifests": len(s.manifests),
                "summary": s.summary,
            }
            for s in tbl.history()
        ]

    else:
        p.error(f"unknown command {args.command!r}")

    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
