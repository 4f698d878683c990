package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The sink contract of an at-rest index a maintenance stream keeps in
  * step with its source ([[graft.streaming.Streams.indexStream]] /
  * [[graft.streaming.Streams.cdcStream]]) — the single idempotent-epoch
  * sink every store family plugs into:
  *
  *  - `append` lands rows at `epoch >= 0` as a dynamic overwrite of that
  *    epoch's own partitions, so an at-least-once replay replaces its
  *    previous attempt; it returns the family's per-batch report `S`;
  *  - `delete` tombstones ids at `epoch` (a row dies iff its epoch ≤ the
  *    tombstone's — see [[Tombstones]]);
  *  - `compact` applies tombstones physically and merges closed epochs,
  *    sparing `excludeEpoch` (the stream's in-flight epoch) so its replay
  *    can still overwrite itself; it returns (data files before, after).
  *
  * `upsertTombstones` is a property of the store, not a caller option:
  * true when a serve has no per-id versioning, so an upsert must
  * tombstone its own id's older rows (the celled stores, the lexical
  * index, the hnsw docs sidecar); false for the graph-only hnsw store,
  * whose serve-time last-writer-wins already lets a later epoch
  * supersede an id, so its tombstones carry true deletes only.
  */
trait MaintainedStore[S] {
  def append(df: DataFrame, idCol: String, valueCol: String, path: String,
      epoch: Long): S
  def delete(spark: SparkSession, path: String, ids: DataFrame, idCol: String,
      epoch: Long): Unit
  def compact(spark: SparkSession, path: String, excludeEpoch: Long): (Long, Long)
  def upsertTombstones: Boolean
}
