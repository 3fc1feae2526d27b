"""spark-submit entry point: a DECOUPLED table subscriber.

``subscribe_job.py <src_table_root> <dst_table_root>`` tails the source
table's changelog through the Python Data Source stream
(``spark.readStream.format("beehive_changes")``,
sources/spark_datasource.py) and applies each window into a replica
sink — the consumer-side twin of ``REPLAY_REPLICATE_TO``:

- ``Replicator`` (sinks/replicate.py) runs INSIDE the producer's job,
  synced per committed batch by the producer's own loop.
- This job is a SEPARATE process with its own lifecycle, its own Spark
  checkpoint as the cursor, and no producer cooperation beyond the
  table's files — the Kafka-consumer shape. Kill it, redeploy it,
  fall behind and catch up: Spark's offset log + the replica's
  batch-id dedup make every window exactly-once.

Bootstrap: the stream's first window (offset 0 → head) is the full
LIVE state as ``I`` rows. Unlike Replicator's bootstrap it does NOT
copy source tombstones — unnecessary here, because the replica's only
writer is this subscription, and every future change arrives as a
post-LWW change row already carrying its truthful op_sequence (a stale
event that loses LWW upstream never produces a change row at all).
Point anything else at the replica and the Replicator's
tombstone-carrying bootstrap is the right tool instead.

Windows spanning rollback / backfill / purge / column alters /
rebucket / tombstone-floor advances fail loudly with recovery guidance
(the data source's guards); recover by reconciling out of band and
restarting from a fresh checkpoint, exactly as the error says.  A
retention pin (``stream-<SUBSCRIBE_PIN>`` tag on the source) follows
the committed cursor so source maintenance never reaps files a
replayed window still needs — create it before first start if source
retention is aggressive.

Env knobs (same style as replay_job.py):

- ``SUBSCRIBE_CHECKPOINT``  cursor dir (default ``<dst>/_subscribe_ckpt``)
- ``SUBSCRIBE_PIN``         retention-pin name on the source (default
                            the dst basename); empty string disables
- ``SUBSCRIBE_BUCKETS``     replica bucket count (default 64)
- ``SUBSCRIBE_TRIGGER_S``   processing-time trigger seconds (default 5)
- ``SUBSCRIBE_ONCE=1``      drain what's available, then exit 0 — the
                            cron/batch shape (Python stream sources
                            don't implement Trigger.AvailableNow; this
                            uses processAllAvailable)
- ``SUBSCRIBE_MAX_VERSIONS`` per-batch version cap (steady-state rate
                            limit; restart catch-up is unbounded)

Schema evolution: the stream's schema is fixed at start. Columns added
upstream mid-run ride as NULL until the next (re)start; SUBSCRIBE_ONCE
cron runs therefore pick evolution up one run later, for free.
"""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from beehive_data_etl_spark.sinks.snapshot import SnapshotSink
from beehive_data_etl_spark.sources import table_meta as tm
from beehive_data_etl_spark.sources.spark_datasource import register


def _run_id(ckpt: str) -> str:
    """One id per CHECKPOINT LINEAGE, stored inside the checkpoint dir:
    epoch ids restart at 0 on a fresh checkpoint, so a bare
    'subscribe-<epoch>' batch id would collide with the ids an earlier
    checkpoint's run already committed into the replica — every
    replayed window silently skipped as a re-delivery (review-found).
    Namespacing by a per-checkpoint uuid keeps crash-retry WITHIN a
    checkpoint exactly-once (same run id + same epoch) while a fresh
    checkpoint gets fresh ids; re-applying its bootstrap over the
    existing replica is plain LWW idempotence."""
    os.makedirs(ckpt, exist_ok=True)
    path = os.path.join(ckpt, "BEEHIVE_RUN_ID")
    try:
        with open(path) as fh:
            return fh.read().strip()
    except FileNotFoundError:
        rid = uuid.uuid4().hex[:12]
        tm.write_text(path, rid)
        return rid


def main() -> None:
    src, dst = sys.argv[1], sys.argv[2]
    spark = SparkSession.builder.appName("beehive-subscribe").getOrCreate()
    register(spark)
    replica = SnapshotSink(
        spark, dst, n_buckets=int(os.environ.get("SUBSCRIBE_BUCKETS", "64"))
    )
    pin = os.environ.get("SUBSCRIBE_PIN", os.path.basename(dst.rstrip("/")))
    ckpt = os.environ.get(
        "SUBSCRIBE_CHECKPOINT", os.path.join(dst, "_subscribe_ckpt")
    )
    run_id = _run_id(ckpt)
    applied: list[int] = []

    def apply_window(df, epoch_id: int) -> None:
        # change rows → envelope: D stays a delete, I/U are upserts
        # (the replica's LWW doesn't distinguish them), op_sequence is
        # the truthful upstream clock already on the row; 'deleted' is
        # the sink's internal column — drop it like Replicator does
        # rather than relying on apply_batch overwriting it
        events = df.withColumn(
            "op",
            F.when(F.col("change_type") == "D", F.lit("D")).otherwise(
                F.lit("U")
            ),
        ).drop("change_type", "deleted")
        m = replica.apply_batch(events, f"subscribe-{run_id}-{epoch_id}")
        if not m.get("skipped"):
            applied.append(epoch_id)

    reader = spark.readStream.format("beehive_changes")
    if pin:
        reader = reader.option("pin", pin)
    max_v = os.environ.get("SUBSCRIBE_MAX_VERSIONS")
    if max_v:
        reader = reader.option("maxVersionsPerBatch", max_v)
    trigger_s = int(os.environ.get("SUBSCRIBE_TRIGGER_S", "5"))
    q = (
        reader.load(src)
        .writeStream.foreachBatch(apply_window)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=f"{trigger_s} seconds")
        .start()
    )
    t0 = time.time()
    if os.environ.get("SUBSCRIBE_ONCE") == "1":
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            q.awaitTermination(60)
        if q.exception() is not None:
            raise q.exception()
        print(
            "SUBSCRIBE_METRICS "
            + json.dumps(
                {
                    "wall_s": round(time.time() - t0, 2),
                    "epochs_applied": len(applied),
                    "replica_version": (replica.current_snapshot() or {}).get(
                        "version"
                    ),
                }
            )
        )
    else:
        q.awaitTermination()


if __name__ == "__main__":
    main()
