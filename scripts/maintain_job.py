"""spark-submit entry point: scheduled table maintenance for the CDC
sink — the operational companion to replay_job.py.

A 10^10-row merge-on-read table accumulates deltas, dead tombstones,
superseded files, and (eventually) an undersized bucket space; this job
runs the maintenance passes in the safe order, each one an independent
crash-safe commit, so a cron/Airflow cadence keeps read amplification
and storage bounded without pausing ingest (all passes take the same
commit locks as writers; only REBUCKET requires a quiesced table and
is therefore opt-in and last):

  1. compact            — fold multi-delta buckets to one key-sorted
                          file each (row-group pruning for lookups);
                          MAINTAIN_CLUSTER_BY=col1,col2 re-sorts by
                          payload columns instead (scan_where layout)
  2. expire_tombstones  — drop delete markers below the retention
                          floor MAINTAIN_TOMBSTONE_FLOOR (the caller
                          owns the promise that no event below it can
                          still arrive; replication cursors — visible
                          as repl-* tags — should stay AHEAD of it)
  3. vacuum             — reap superseded/orphaned files older than
                          MAINTAIN_VACUUM_AGE_S (default 86400; >0 is
                          REQUIRED on multi-writer roots). Tagged
                          snapshots' files are retained.
  4. fsck               — opt-in integrity audit (sinks/fsck.py) of
                          the metadata the pruned read paths trust;
                          MAINTAIN_FSCK_DEEP=1 adds the one-scan
                          bucket-assignment check; corruption FAILS
                          the job (scheduler alert)
  5. rebucket           — only when MAINTAIN_REBUCKET_TO is set and
                          differs from the table's bucket count.
  6. expire (opt-in)    — snapshot-chain metadata GC: retire version
                          JSONs below head - MAINTAIN_SNAPSHOT_KEEP
                          (tagged versions kept; tags clamp the floor)
  7. report (opt-in)    — advisory health report (sinks.health):
                          per-bucket delta/skew/small-file state and
                          the concrete maintenance calls needed next
  8. retention (opt-in) — predicate-scoped soft-delete sweep
                          (operators.retention.delete_where):
                          MAINTAIN_DELETE_WHERE holds JSON conjuncts
                          in scan_where grammar; matched live rows
                          tombstone as ONE ordinary change batch —
                          changelog-visible, replicable, and aged out
                          by the compact/vacuum passes above (list
                          retention BEFORE compact so one run sweeps
                          and folds)
  9. dedup (opt-in)     — corpus near-dup sweep
                          (operators.dedup_sweep): refresh the
                          table's NearDupView (bootstrapped under
                          <root>/_views/neardup if the replay job
                          never ran one), verify candidate pairs by
                          exact shingle Jaccard on CURRENT content,
                          keep one canonical doc per duplicate
                          cluster, tombstone the rest as ONE
                          exactly-once batch. Knobs:
                          MAINTAIN_DEDUP_THRESHOLD (default 0.8),
                          MAINTAIN_DEDUP_PREFER=col[:max|min] (keep
                          e.g. the longest doc; default min doc_id),
                          MAINTAIN_DEDUP_VIEW (view root override),
                          MAINTAIN_DEDUP_DRY_RUN=1 (report only).
                          List dedup BEFORE compact so one run
                          sweeps and folds.
  10. views (opt-in)    — fold the delta dirs of the incremental view
                          structures under <root>/_views/ (token
                          index, ANN index, SCD2 history store,
                          near-dup signature store): each refresh
                          appends one dir and reads union every file,
                          so this pass bounds view read amplification
                          the way compact bounds the table's.
                          MAINTAIN_VIEWS_AGE_S (default 3600) gates
                          reaping of superseded dirs.

MAINTAIN_SECTIONS (comma list, default "compact,tombstones,vacuum")
selects passes AND their order — sections run in list order, so
"report,compact,vacuum" captures the pre-maintenance state while
"compact,vacuum,report" reports the residue. Prints one
MAINTAIN_METRICS JSON line for schedulers.

Usage:
  spark-submit --py-files beehive.zip scripts/maintain_job.py <table_root>
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import SparkSession

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources import table_meta as tm


def main() -> None:
    root = sys.argv[1]
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if tm.current_snapshot(root) is None:
        print("MAINTAIN_METRICS " + json.dumps({"skipped": "no snapshot"}))
        return
    # open() reads the bucket count AND the fold mode from the head: a
    # row-LWW handle compacting a per-cell table would fold it wrongly
    sink = SnapshotSink.open(spark, root)

    known = {
        "compact",
        "tombstones",
        "vacuum",
        "fsck",
        "expire",
        "report",
        "retention",
        "dedup",
        "views",
    }
    sections = [
        s.strip()
        for s in os.environ.get(
            "MAINTAIN_SECTIONS", "compact,tombstones,vacuum"
        ).split(",")
        if s.strip()
    ]
    unknown = [s for s in sections if s not in known]
    if unknown:
        # fail loudly: a typo silently skipping a maintenance pass
        # means unbounded storage growth with no signal
        raise ValueError(f"unknown MAINTAIN_SECTIONS {unknown}; known: {sorted(known)}")
    out: dict = {"sections": sections}
    t0 = time.time()

    def _run_compact():
        # MAINTAIN_CLUSTER_BY=col1,col2 sorts bucket files by these
        # payload columns first (key as tie-breaker): tight row-group
        # stats for scan_where() predicates, at the cost of lookup()'s
        # key-primary row-group skipping — pick per table read pattern
        cluster = [
            c.strip()
            for c in os.environ.get("MAINTAIN_CLUSTER_BY", "").split(",")
            if c.strip()
        ]
        # MAINTAIN_ZORDER=1: Morton-interleave the cluster columns
        # instead of sorting lexicographically (2-4 columns) — row
        # groups then prune on EVERY clustered column, not the first
        zorder = os.environ.get("MAINTAIN_ZORDER", "") in ("1", "true")
        return sink.compact(cluster_by=cluster or None, zorder=zorder)

    def _run_tombstones():
        floor = int(os.environ.get("MAINTAIN_TOMBSTONE_FLOOR", "0"))
        if floor > 0:
            return sink.expire_tombstones(floor)
        return {"skipped": "MAINTAIN_TOMBSTONE_FLOOR unset"}

    def _run_vacuum():
        return sink.vacuum(
            older_than_s=float(os.environ.get("MAINTAIN_VACUUM_AGE_S", "86400"))
        )

    def _run_report():
        # advisory health report (metadata+footers only, no Spark job):
        # per-bucket delta/row/file counts + the concrete maintenance
        # calls the table needs next
        from beehive_data_etl_spark.sinks.health import table_report

        return table_report(sink)

    def _run_expire():
        # snapshot-chain metadata GC; MAINTAIN_SNAPSHOT_KEEP sizes the
        # retained suffix (tags clamp the floor, so replicas/audit pins
        # are safe regardless)
        return sink.expire_snapshots(
            keep_last=int(os.environ.get("MAINTAIN_SNAPSHOT_KEEP", "10000"))
        )

    def _run_fsck():
        # integrity audit — list it AFTER the mutating passes to check
        # their output; MAINTAIN_FSCK_DEEP=1 adds the one-scan
        # bucket-assignment check. Corruption fails the job (a
        # scheduler alert), it is never auto-"repaired".
        from beehive_data_etl_spark.sinks.fsck import fsck

        report = fsck(sink, deep=os.environ.get("MAINTAIN_FSCK_DEEP") == "1")
        res = {
            "ok": report["ok"],
            "errors": report["errors"],
            "files_checked": report["files_checked"],
        }
        if not report["ok"]:
            out["fsck"] = res
            print("MAINTAIN_METRICS " + json.dumps(out))
            raise RuntimeError(f"fsck failed: {report['errors']}")
        return res

    def _run_retention():
        where_env = os.environ.get("MAINTAIN_DELETE_WHERE")
        if not where_env:
            return {"skipped": "MAINTAIN_DELETE_WHERE unset"}
        from beehive_data_etl_spark.operators.retention import delete_where

        preds = [tuple(p) for p in json.loads(where_env)]
        return delete_where(sink, preds)

    def _run_dedup():
        # near-dup sweep: refresh the table's NearDupView (the same
        # root replay_job uses, so a live pipeline's view is reused;
        # a table without one bootstraps it here), then verify +
        # cluster + tombstone losers (operators/dedup_sweep.py)
        from beehive_data_etl_spark.functions.incremental_dedup import (
            NearDupView,
        )
        from beehive_data_etl_spark.operators.dedup_sweep import dedup_sweep

        view = NearDupView(
            spark,
            sink,
            os.environ.get(
                "MAINTAIN_DEDUP_VIEW", os.path.join(root, "_views", "neardup")
            ),
        )
        view.refresh()
        prefer_env = os.environ.get("MAINTAIN_DEDUP_PREFER")
        prefer = None
        if prefer_env:
            col, _, direction = prefer_env.partition(":")
            prefer = (col.strip(), (direction or "max").strip())
        return dedup_sweep(
            sink,
            view.pairs(),
            threshold=float(
                os.environ.get("MAINTAIN_DEDUP_THRESHOLD", "0.8")
            ),
            prefer=prefer,
            dry_run=os.environ.get("MAINTAIN_DEDUP_DRY_RUN") == "1",
        )

    def _run_views():
        # fold the delta dirs of whatever incremental view structures
        # live under <root>/_views/ — each refresh appends one dir, and
        # a year of micro-batches without this pass is 10^5+ dirs whose
        # every read unions every file. MAINTAIN_VIEWS_AGE_S gates the
        # reaping of superseded dirs (pinned readers finish first),
        # mirroring vacuum's horizon.
        age = float(os.environ.get("MAINTAIN_VIEWS_AGE_S", "3600"))
        vroot = os.path.join(root, "_views")
        res: dict = {}
        if os.path.isdir(os.path.join(vroot, "token_index")):
            from beehive_data_etl_spark.sinks.token_index import TokenIndex

            stored = tm.read_json(os.path.join(vroot, "token_index", "CURRENT"))
            res["token_index"] = TokenIndex(
                spark, sink, os.path.join(vroot, "token_index"),
                n_buckets=stored["n_buckets"],
            ).compact(orphan_older_than_s=age)
        if os.path.isdir(os.path.join(vroot, "ann")):
            from beehive_data_etl_spark.sinks.ann_index import AnnIndex

            res["ann"] = AnnIndex.open(
                spark, sink, os.path.join(vroot, "ann")
            ).compact(orphan_older_than_s=age)
        if os.path.isdir(os.path.join(vroot, "history")):
            from beehive_data_etl_spark.sinks.history import HistoryView

            res["history"] = HistoryView(
                spark, sink, os.path.join(vroot, "history")
            ).compact()
        if os.path.isdir(os.path.join(vroot, "neardup")):
            from beehive_data_etl_spark.functions.incremental_dedup import (
                NearDupView,
            )

            NearDupView(
                spark, sink, os.path.join(vroot, "neardup"),
                compact_older_than_s=age,
            ).nd.store.compact()
            res["neardup"] = {"store_compacted": True}
        return res or {"skipped": "no view structures under _views/"}

    runners = {
        "compact": _run_compact,
        "tombstones": _run_tombstones,
        "vacuum": _run_vacuum,
        "report": _run_report,
        "expire": _run_expire,
        "fsck": _run_fsck,
        "retention": _run_retention,
        "dedup": _run_dedup,
        "views": _run_views,
    }
    # sections run IN LIST ORDER — "report,compact,..." sees the
    # pre-maintenance state, "...,report" the residue (review-found:
    # the old hard-coded order made the documented pre-maintenance
    # report unobtainable)
    for name in sections:
        out[name] = runners[name]()
    retain = int(os.environ.get("MAINTAIN_RETAIN_BATCHES", "0"))
    if retain > 0:
        # bound the exactly-once dedup window (see
        # SnapshotSink.trim_committed_batches): size to the source's
        # re-delivery horizon, above the replication sync cadence
        out["trim_batches"] = sink.trim_committed_batches(retain)
    target = os.environ.get("MAINTAIN_REBUCKET_TO")
    if target and int(target) != sink.n_buckets:
        out["rebucket"] = sink.rebucket(int(target))
    out["wall_s"] = round(time.time() - t0, 2)
    out["version"] = sink.current_snapshot()["version"]
    print("MAINTAIN_METRICS " + json.dumps(out))


if __name__ == "__main__":
    main()
