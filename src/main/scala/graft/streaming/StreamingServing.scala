package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

import graft.online.OnlineStore

/** Stream → published serving snapshot: each micro-batch of vector
  * updates MERGEs into a point-read snapshot ([[graft.online
  * .OnlineStore.upsertSnapshot]]), so lookups serve the latest value
  * while the store keeps full version history — the reference's
  * events → materialize → online-store loop (MaterializationService →
  * RocksDB/Redis) re-expressed with storage-level multi-get serving.
  *
  * The snapshot must be [[graft.online.OnlineStore.publishSnapshot]]'d
  * once before the stream starts — the key/bucket config the upserts
  * need is encoded in the snapshot's own schema (the bucket column's
  * name), so there is no separate config to keep in sync. The keyed
  * MERGE makes foreachBatch's
  * at-least-once replay idempotent (same batch re-merged → same
  * state), the same argument as StreamingVersionedSink's merge mode.
  * Each upsert keeps the snapshot's serving layout, so file pruning
  * holds without compaction; [[graft.online.OnlineStore.compactSnapshot]]
  * is needed only once the snapshot outgrows its file count (it
  * commits nothing while the layout still fits).
  */
object StreamingServing {

  def writer(updates: DataFrame, root: String)
  : DataStreamWriter[org.apache.spark.sql.Row] =
    updates.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) { OnlineStore.upsertSnapshot(batch, root); () }
      ()
    }

  /** Convenience: start the sink with a processing-time trigger. */
  def start(updates: DataFrame, root: String, checkpoint: String,
            trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery =
    writer(updates, root)
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
}
