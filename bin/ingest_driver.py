#!/usr/bin/env python3
"""spark-submit entrypoint for the transcript-CDC ingest engine.

The production analog of the reference's ``Connector.main`` loop
(Connector.java:56-166): tail a change-log directory, apply each epoch as an
exactly-once MERGE into the transcripts table, record lineage, exit (batch /
availableNow) or keep tailing (stream).

Usage (cluster):
    spark-submit --py-files mas_scada_bulkingest_spark.zip \
        bin/ingest_driver.py --changes-dir s3://…/changes \
        --table-path s3://…/transcripts --checkpoint-dir s3://…/ckpt --stream

Usage (local smoke):
    python bin/ingest_driver.py --demo
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from mas_scada_bulkingest_spark.derived import (  # noqa: E402
    create_dedup_index,
    lsh_index_state,
    refresh_derived,
)
from mas_scada_bulkingest_spark.pipeline import create_transcripts_table  # noqa: E402
from mas_scada_bulkingest_spark.lake.snapshot_table import SnapshotTable  # noqa: E402
from mas_scada_bulkingest_spark.sources.changelog_gen import generate_changelog  # noqa: E402
from mas_scada_bulkingest_spark.status import status  # noqa: E402
from mas_scada_bulkingest_spark.streaming.driver import (  # noqa: E402
    build_session,
    replay_batches,
    run_stream,
)


def _session(args) -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:  # launched via spark-submit with its own conf
        return active
    return build_session(cores=args.cores)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--changes-dir", help="change-log directory (parquet files)")
    p.add_argument("--table-path", help="transcripts table root")
    p.add_argument("--checkpoint-dir", help="streaming checkpoint location")
    p.add_argument("--stream", action="store_true", help="continuous tail (default: drain+stop)")
    p.add_argument("--cores", type=int, default=None, help="local[N] when not on a cluster")
    p.add_argument("--n-buckets", type=int, default=64)
    p.add_argument("--mode", choices=("mor", "cow"), default="mor",
                   help="storage mode when CREATING the table (ignored if it "
                        "exists): merge-on-read (O(batch) epochs, changes "
                        "feed, the flagship default) or copy-on-write")
    p.add_argument("--rollup-path", metavar="PATH",
                   help="maintain a per-conversation derived rollup table at "
                        "PATH after the run: incremental refresh off the "
                        "changes feed (MoR tables) or full rebuild (CoW)")
    p.add_argument("--files-per-epoch", type=int, default=4)
    p.add_argument("--normalize", action="store_true", help="NFC/whitespace text normalization")
    p.add_argument("--max-files-per-trigger", type=int, default=4)
    p.add_argument("--source-format", choices=("parquet", "debezium-json"),
                   default="parquet",
                   help="change-log wire format: parquet change records "
                        "(default) or Debezium JSON envelopes, one per line "
                        "(requires --checkpoint-dir; use the availableNow "
                        "drain for batch semantics)")
    p.add_argument("--vacuum", action="store_true", help="clean superseded epoch files after run")
    p.add_argument("--vacuum-dry-run", action="store_true",
                   help="report how many files --vacuum WOULD reclaim, delete nothing, and exit")
    p.add_argument("--vacuum-retain", type=int, default=1, metavar="N",
                   help="with --vacuum: keep the last N snapshot versions (default 1)")
    p.add_argument("--vacuum-older-than", type=float, default=None, metavar="SECS",
                   help="with --vacuum: also retain every snapshot committed within "
                        "the last SECS seconds (age guarantee for time travel), "
                        "composing with --vacuum-retain")
    p.add_argument("--dedup-index-path", metavar="PATH",
                   help="maintain a MinHash-LSH near-dup index table at PATH inside "
                        "the streaming loop / after the batch run (incremental off the "
                        "changes feed; MoR tables only)")
    p.add_argument("--status-only", action="store_true", help="print table status and exit")
    p.add_argument("--sync-replica-to", metavar="REPLICA_PATH",
                   help="catch the replica table at REPLICA_PATH up to this table's "
                        "committed state via the changes feed (one exactly-once "
                        "merge; creates the replica if absent) and exit")
    p.add_argument("--show-history", action="store_true",
                   help="print the history() metadata table (one row per retained "
                        "snapshot: version/parent/operation/bytes) and exit")
    p.add_argument("--show-files", action="store_true",
                   help="print the files() metadata table (Iceberg <table>.files "
                        "analog: per-file origin/bytes/records/skip-bounds) and exit")
    p.add_argument("--show-partitions", action="store_true",
                   help="print the partitions() metadata table (per-bucket layout "
                        "rollup: files/deltas/bytes/records/bounds) and exit")
    p.add_argument("--bootstrap-dir", help="initial-snapshot dump (parquet dir) to bulk-load "
                   "into an EMPTY table before tailing --changes-dir (the CDC snapshot phase; "
                   "idempotent under --bootstrap-epoch-id)")
    p.add_argument("--bootstrap-epoch-id", default="bootstrap-0")
    p.add_argument("--type-widening", action="store_true",
                   help="create the table with lossless type promotion on evolution (int->long etc.)")
    p.add_argument("--verify-integrity", action="store_true",
                   help="run the table fsck (files, footers, lineage, orphans) and exit;"
                        " nonzero exit on hard failures")
    p.add_argument("--deep-verify", action="store_true",
                   help="with --verify-integrity: also assert every stored row hashes"
                        " to the bucket holding it (one Spark job)")
    p.add_argument("--cluster-files", type=int, metavar="K",
                   help="clustered compaction: rewrite every bucket of --table-path "
                        "into up to K files range-sliced on event time (keeps "
                        "windowed reads prunable after compaction) and exit")
    p.add_argument("--clone-to", metavar="DEST_PATH",
                   help="zero-copy (hard-link) clone of --table-path to DEST_PATH "
                        "and exit; both tables then evolve independently")
    p.add_argument("--restore-version", type=int, metavar="V",
                   help="roll --table-path back to snapshot V as a new commit "
                        "(rolled-back epochs will re-apply on replay) and exit")
    p.add_argument("--purge-key", metavar="CONV_ID",
                   help="right-to-be-forgotten: physically erase every stored trace of"
                        " the key (one-bucket rewrite + snapshot expiry) and exit")
    p.add_argument("--drop-column", metavar="NAME",
                   help="drop a value column from the table schema (metadata-only; "
                        "no file rewrite; later batches cannot re-add the name) "
                        "and exit")
    p.add_argument("--rename-column", nargs=2, metavar=("OLD", "NEW"),
                   help="rename a value column (metadata-only; old-name files "
                        "resolve via read-time alias coalesce; lagging batches "
                        "using OLD are mapped onto NEW) and exit")
    p.add_argument("--add-constraint", nargs=3, metavar=("NAME", "MODE", "EXPR"),
                   help="register a CHECK constraint (MODE fail|drop|warn; EXPR "
                        "is a SQL boolean; a row violates iff it is FALSE; "
                        "deletes exempt) and exit")
    p.add_argument("--drop-constraint", metavar="NAME",
                   help="remove a CHECK constraint and exit")
    p.add_argument("--set-schema-evolution", metavar="POLICY",
                   choices=("additive", "strict"),
                   help="flip the schema-evolution policy (additive = new "
                        "batch columns evolve in; strict = unknown columns "
                        "reject the epoch) and exit")
    p.add_argument("--delete-where", metavar="PREDICATE",
                   help="tombstone all live rows matching a SQL predicate "
                        "(Delta DELETE WHERE analog; stale re-deliveries of "
                        "deleted versions keep losing, newer updates "
                        "resurrect) and exit")
    p.add_argument("--update-where", nargs="+", metavar="ARG",
                   help="patch all live rows matching a SQL predicate "
                        "(Delta UPDATE SET WHERE analog): first arg is the "
                        "predicate, the rest are COL=EXPR assignments "
                        "evaluated against the pre-update row; patched rows "
                        "keep their own (ts, lsn) so stale re-deliveries "
                        "keep losing and newer updates overwrite; exits")
    p.add_argument("--add-generated-column", nargs=2, metavar=("NAME", "EXPR"),
                   help="register a generated column (Delta GENERATED ALWAYS "
                        "AS analog; empty table only; batches omitting it get "
                        "it computed, batches supplying it are validated) "
                        "and exit")
    p.add_argument("--quarantine-summary", action="store_true",
                   help="print per-epoch per-constraint quarantined-row "
                        "counts as JSON and exit")
    p.add_argument("--clear-quarantine", metavar="EPOCH",
                   help="deregister quarantined rows after triage ('all' or "
                        "an epoch id); vacuum reclaims the files once no "
                        "retained snapshot references them")
    p.add_argument("--fast-forward-from", metavar="FORK_PATH",
                   help="adopt a clone's commits back into --table-path as one atomic "
                        "snapshot (strict ancestry: the table must be unmoved since the "
                        "clone; the fork's epochs become committed here)")
    p.add_argument("--tag", nargs="+", metavar=("NAME", "VERSION"),
                   help="pin a named ref to a snapshot version (default: current) — "
                        "vacuum never expires a tagged version")
    p.add_argument("--delete-tag", metavar="NAME", help="drop a named ref")
    p.add_argument("--list-tags", action="store_true", help="print name -> version JSON")
    p.add_argument("--publish-staged", metavar="REF",
                   help="atomically publish a staged (write-audit-publish) epoch")
    p.add_argument("--abort-staged", metavar="REF",
                   help="discard a staged epoch (its data files are removed; the epoch "
                        "stays replayable)")
    p.add_argument("--list-staged", action="store_true",
                   help="print staged (written, unpublished) epoch refs")
    p.add_argument("--maintain", action="store_true",
                   help="one-call background maintenance: clustered compaction "
                        "(--cluster-files), tombstone purge below "
                        "--changelog-retention-lsn, lineage fold, then vacuum "
                        "under --vacuum-retain/--vacuum-older-than; prints a "
                        "per-step JSON report")
    p.add_argument("--maintain-max-files", type=int, default=8, metavar="N",
                   help="with --maintain: compact buckets holding more than N "
                        "files (default 8)")
    p.add_argument("--changelog-retention-lsn", type=int, default=None,
                   metavar="LSN",
                   help="with --maintain: purge tombstones strictly below this "
                        "LSN (the upstream changelog's retention horizon); "
                        "omit to keep all tombstones")
    p.add_argument("--demo", action="store_true", help="self-contained run on generated data")
    args = p.parse_args(argv)

    if args.demo:
        work = tempfile.mkdtemp(prefix="ingest_demo_")
        args.changes_dir = os.path.join(work, "changes")
        args.table_path = os.path.join(work, "transcripts")
        args.checkpoint_dir = os.path.join(work, "ckpt")
        generate_changelog(args.changes_dir, n_convs=500, seed=11)
        print(f"demo workspace: {work}", file=sys.stderr)

    if not args.table_path:
        p.error("--table-path is required (or --demo)")

    spark = _session(args)
    spark.sparkContext.setLogLevel("WARN")

    if args.status_only:
        print(json.dumps(status(SnapshotTable(spark, args.table_path)), indent=2))
        return 0

    if args.sync_replica_to:
        from mas_scada_bulkingest_spark.replication import sync_replica

        src = SnapshotTable(spark, args.table_path)
        if src.mode != "mor":
            # check BEFORE creating the replica: a failed run must not
            # leave an empty junk table behind at REPLICA_PATH
            print(json.dumps({"error": "sync-replica requires a merge-on-read "
                                       "source table (changes feed)"}))
            return 2
        if os.path.exists(os.path.join(args.sync_replica_to, "_CURRENT")):
            rep = SnapshotTable(spark, args.sync_replica_to)
        else:
            # replica must share the source's FULL merge identity — a
            # default key/order on a non-default source would silently
            # diverge under deletes/collapse
            rep = SnapshotTable.create(
                spark, args.sync_replica_to, src.schema,
                n_buckets=src.n_buckets, key=src.key, order=src.order,
                mode="mor", type_widening=src.type_widening,
                schema_evolution=src.schema_evolution,
            )
        st = sync_replica(src, rep)
        print(json.dumps({
            "replica": args.sync_replica_to,
            "synced_to_epoch": rep.last_committed_epoch,
            "was_current": st is None,
        }))
        return 0

    if args.vacuum_dry_run:
        tbl = SnapshotTable(spark, args.table_path)
        n = tbl.vacuum(
            retain_versions=args.vacuum_retain,
            older_than_secs=args.vacuum_older_than,
            dry_run=True,
        )
        print(json.dumps({"would_reclaim_files": n}))
        return 0

    if args.show_files or args.show_partitions or args.show_history:
        tbl = SnapshotTable(spark, args.table_path)
        df = (
            tbl.files()
            if args.show_files
            else tbl.partitions() if args.show_partitions else tbl.history()
        )
        print(json.dumps([r.asDict() for r in df.collect()], indent=2))
        return 0

    if args.verify_integrity:
        rep = SnapshotTable(spark, args.table_path).verify_integrity(
            deep=args.deep_verify
        )
        print(json.dumps(rep, indent=2))
        return 0 if rep["ok"] else 3

    if args.purge_key:
        n = SnapshotTable(spark, args.table_path).purge_key(args.purge_key)
        print(json.dumps({"purged_rows": n, "key": args.purge_key}))
        return 0

    if args.restore_version is not None:
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.restore(args.restore_version)
        print(json.dumps({"restored_to": args.restore_version,
                          "new_version": new_v}))
        return 0

    if args.drop_column:
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.drop_column(args.drop_column)
        print(json.dumps({"dropped_column": args.drop_column,
                          "new_version": new_v}))
        return 0

    if args.rename_column:
        old, new = args.rename_column
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.rename_column(old, new)
        print(json.dumps({"renamed_column": [old, new],
                          "new_version": new_v}))
        return 0

    if args.add_constraint:
        name, mode, expr = args.add_constraint
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.add_constraint(name, expr, mode=mode)
        print(json.dumps({"added_constraint": name, "mode": mode,
                          "expr": expr, "new_version": new_v}))
        return 0

    if args.drop_constraint:
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.drop_constraint(args.drop_constraint)
        print(json.dumps({"dropped_constraint": args.drop_constraint,
                          "new_version": new_v}))
        return 0

    if args.set_schema_evolution:
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.set_schema_evolution(args.set_schema_evolution)
        print(json.dumps({"schema_evolution": args.set_schema_evolution,
                          "version": new_v}))
        return 0

    if args.delete_where:
        tbl = SnapshotTable(spark, args.table_path)
        n = tbl.delete_where(args.delete_where)
        print(json.dumps({"deleted_rows": n, "predicate": args.delete_where,
                          "version": tbl._snapshot["version"]}))
        return 0

    if args.update_where:
        if len(args.update_where) < 2:
            p.error("--update-where needs PREDICATE plus >=1 COL=EXPR")
        predicate, *assigns = args.update_where
        set_exprs = {}
        for a in assigns:
            if "=" not in a:
                p.error(f"--update-where assignment {a!r} is not COL=EXPR")
            c, e = a.split("=", 1)
            set_exprs[c.strip()] = e.strip()
        tbl = SnapshotTable(spark, args.table_path)
        n = tbl.update_where(predicate, set_exprs)
        print(json.dumps({"updated_rows": n, "predicate": predicate,
                          "set": set_exprs,
                          "version": tbl._snapshot["version"]}))
        return 0

    if args.add_generated_column:
        name, expr = args.add_generated_column
        tbl = SnapshotTable(spark, args.table_path)
        new_v = tbl.add_generated_column(name, expr)
        print(json.dumps({"added_generated_column": name, "expr": expr,
                          "new_version": new_v}))
        return 0

    if args.quarantine_summary:
        from pyspark.sql import functions as F
        tbl = SnapshotTable(spark, args.table_path)
        rows = (
            tbl.read_quarantine()
            .select("_epoch_key", F.explode("_violated").alias("constraint"))
            .groupBy("_epoch_key", "constraint")
            .count()
            .collect()
        )
        out: dict = {}
        for r in rows:
            out.setdefault(r["_epoch_key"], {})[r["constraint"]] = int(r["count"])
        print(json.dumps({"quarantine": out}))
        return 0

    if args.clear_quarantine:
        tbl = SnapshotTable(spark, args.table_path)
        which = None if args.clear_quarantine == "all" else args.clear_quarantine
        n = tbl.clear_quarantine(which)
        print(json.dumps({"cleared_quarantine_epochs": n,
                          "scope": args.clear_quarantine}))
        return 0

    if args.maintain:
        tbl = SnapshotTable(spark, args.table_path)
        report = tbl.maintain(
            max_files=args.maintain_max_files,
            cluster_files=args.cluster_files or 1,
            changelog_retention_lsn=args.changelog_retention_lsn,
            retain_versions=args.vacuum_retain,
            older_than_secs=args.vacuum_older_than,
        )
        print(json.dumps(report))
        return 0

    if args.cluster_files:
        tbl = SnapshotTable(spark, args.table_path)
        n = tbl.compact(max_files=0, cluster_files=args.cluster_files)
        print(json.dumps({
            "clustered_buckets": n,
            "n_data_files": sum(
                len(f) for f in tbl._snapshot["buckets"].values()
            ),
        }))
        return 0

    if args.clone_to:
        cl = SnapshotTable(spark, args.table_path).clone(args.clone_to)
        print(json.dumps({"cloned_to": cl.path, "version": 0,
                          "n_data_files": sum(len(f) for f in
                                              cl._snapshot["buckets"].values())}))
        return 0

    if args.fast_forward_from:
        tbl = SnapshotTable(spark, args.table_path)
        fork = SnapshotTable(spark, args.fast_forward_from)
        v = tbl.fast_forward(fork)
        print(json.dumps({"fast_forwarded_to": v,
                          "committed_epochs": tbl.committed_epoch_count}))
        return 0

    if args.tag:
        tbl = SnapshotTable(spark, args.table_path)
        name = args.tag[0]
        version = int(args.tag[1]) if len(args.tag) > 1 else None
        v = tbl.tag(name, version=version)
        print(json.dumps({"tag": name, "version": v}))
        return 0

    if args.delete_tag:
        SnapshotTable(spark, args.table_path).delete_tag(args.delete_tag)
        print(json.dumps({"deleted_tag": args.delete_tag}))
        return 0

    if args.list_tags:
        print(json.dumps(SnapshotTable(spark, args.table_path).tags()))
        return 0

    if args.publish_staged:
        st = SnapshotTable(spark, args.table_path).publish_staged(args.publish_staged)
        print(json.dumps({"published": args.publish_staged, "epoch": st.epoch_id,
                          "was_noop": st.was_noop, "applied": st.applied}))
        return 0

    if args.abort_staged:
        n = SnapshotTable(spark, args.table_path).abort_staged(args.abort_staged)
        print(json.dumps({"aborted": args.abort_staged, "files_removed": n}))
        return 0

    if args.list_staged:
        print(json.dumps(SnapshotTable(spark, args.table_path).staged_refs()))
        return 0

    if not args.changes_dir and not args.bootstrap_dir:
        p.error("--changes-dir or --bootstrap-dir is required (or --demo)")

    from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA

    table = SnapshotTable.create(
        spark,
        args.table_path,
        TRANSCRIPT_SCHEMA,
        n_buckets=args.n_buckets,
        mode=args.mode,
        type_widening=args.type_widening,
    )

    if args.bootstrap_dir:
        state = spark.read.option("mergeSchema", "true").parquet(args.bootstrap_dir)
        st = table.bootstrap(state, epoch_id=args.bootstrap_epoch_id)
        print(
            f"bootstrap {st.epoch_id}: applied={st.applied} max_lsn={st.max_lsn} "
            f"noop={st.was_noop}",
            file=sys.stderr,
        )
        if not args.changes_dir:
            print(json.dumps(status(table), indent=2))
            return 0

    if args.source_format == "debezium-json" and not args.checkpoint_dir:
        p.error("--source-format debezium-json requires --checkpoint-dir")

    if args.checkpoint_dir:
        if args.source_format == "debezium-json":
            from pyspark.sql import types as T

            from mas_scada_bulkingest_spark.schemas import TRANSCRIPT_SCHEMA
            from mas_scada_bulkingest_spark.streaming.driver import (
                run_stream_debezium,
            )

            payload = T.StructType(
                [f for f in TRANSCRIPT_SCHEMA.fields if f.name not in ("ts", "lsn")]
            )
            q = run_stream_debezium(
                spark,
                args.changes_dir,
                args.table_path,
                args.checkpoint_dir,
                payload,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=not args.stream,
                normalize=args.normalize,
            )
        else:
            q = run_stream(
                spark,
                args.changes_dir,
                args.table_path,
                args.checkpoint_dir,
                max_files_per_trigger=args.max_files_per_trigger,
                available_now=not args.stream,
                normalize=args.normalize,
                # CoW tables fall back to the post-run rebuild below
                rollup_path=args.rollup_path if table.mode == "mor" else None,
                derived_tables=(
                    [(
                        create_dedup_index(spark, args.dedup_index_path),
                        lsh_index_state,
                    )]
                    if args.dedup_index_path and table.mode == "mor"
                    else None
                ),
            )
        q.awaitTermination()
    else:
        stats = replay_batches(
            spark,
            args.changes_dir,
            table,
            files_per_epoch=args.files_per_epoch,
            normalize=args.normalize,
        )
        for st in stats:
            print(
                f"epoch {st.epoch_id}: applied={st.applied} skipped={st.skipped} "
                f"deleted={st.deleted} max_lsn={st.max_lsn} noop={st.was_noop}",
                file=sys.stderr,
            )

    table = SnapshotTable(spark, args.table_path)
    if args.rollup_path:
        from mas_scada_bulkingest_spark.derived import (
            create_conversation_rollup,
            rebuild_rollup,
            refresh_rollup,
        )

        rollup = create_conversation_rollup(spark, args.rollup_path)
        fn = refresh_rollup if table.mode == "mor" else rebuild_rollup
        try:
            st = fn(table, rollup)
        except FileNotFoundError as exc:
            # feed cannot serve the pending state (truncated range /
            # bootstrap load / clone floor): absorb via full rebuild.
            # ValueError (source cursor moved backwards) propagates —
            # that needs an operator decision, not an O(table) rebuild.
            print(f"rollup: incremental refresh unavailable ({exc}); "
                  f"falling back to full rebuild", file=sys.stderr)
            fn = rebuild_rollup
            st = rebuild_rollup(table, rollup)
        print(
            f"rollup[{fn.__name__}]: "
            + ("caught up (no-op)" if st is None else
               f"epoch={st.epoch_id} applied={st.applied} deleted={st.deleted}"),
            file=sys.stderr,
        )
    if args.dedup_index_path:
        from mas_scada_bulkingest_spark.derived import rebuild_derived

        idx = create_dedup_index(spark, args.dedup_index_path)
        if table.mode == "mor":
            try:
                st = refresh_derived(table, idx, lsh_index_state)
            except FileNotFoundError as exc:
                print(f"dedup-index: incremental refresh unavailable ({exc});"
                      f" falling back to full rebuild", file=sys.stderr)
                st = rebuild_derived(table, idx, lsh_index_state)
        else:
            st = rebuild_derived(table, idx, lsh_index_state)
        print(
            "dedup-index: "
            + ("caught up (no-op)" if st is None else
               f"epoch={st.epoch_id} applied={st.applied} deleted={st.deleted}"),
            file=sys.stderr,
        )
    if args.vacuum:
        n = table.vacuum(
            retain_versions=args.vacuum_retain,
            older_than_secs=args.vacuum_older_than,
        )
        print(f"vacuum: removed {n} superseded data files", file=sys.stderr)
    print(json.dumps(status(table), indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
