package graft.iq

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftfn.MemorySinkReads

/** Interactive queries over materialized state — the analog of
  * `src/cddr/ksml/ring.clj`: the reference routes an HTTP point-lookup to
  * whichever Kafka Streams instance owns the key's state shard
  * (`ring.clj:20-53`). In Spark, state materialized through a memory sink
  * (or any table sink) is queryable on the driver — a running query's
  * memory sink straight from its rows, any other table with plain SQL — so
  * the shard-routing layer collapses; we keep the reference's handler shape
  * (findHost / remote / local) as a façade for multi-driver deployments.
  *
  * Note: `ring.clj:15-18`'s `remote?` returns true when the owner equals
  * self (inverted name); we implement the intended semantics — route to the
  * owner, serve locally when the owner is self (SURVEY §3 entry point 3).
  */
object InteractiveQueries {

  /** All rows of a materialized store (memory-sink query name or temp view). */
  def store(spark: SparkSession, name: String): DataFrame = spark.table(name)

  /** Point lookup by key — the `ReadOnlyKeyValueStore.get` analog. A
    * running query's memory sink answers from the rows it holds on the
    * driver (no Spark job); any other store runs the lookup as Spark SQL.
    */
  def lookup(spark: SparkSession, name: String, keyCol: String,
             key: Any): Array[Row] = {
    val df = store(spark, name).where(col(keyCol) === key)
    MemorySinkReads.collect(df).getOrElse(df.collect())
  }

  /** At most `limit` rows of `df` (a [[store]], optionally under one
    * `where`) as `Dataset.toJSON` strings — the body rows of every
    * [[HttpStateServer]] route, read like [[lookup]].
    */
  private[iq] def json(df: DataFrame, limit: Int): Array[String] =
    MemorySinkReads.toJson(df, limit)
      .getOrElse(df.limit(limit).toJSON.collect())

  /** State of a CHECKPOINTED streaming query read straight from its
    * checkpoint via Spark's state data source
    * (`spark.read.format("statestore")`, Spark ≥ 4.0) — the IQ face for
    * state the query never materialized through a sink. Works on a
    * stopped query and on a RUNNING one (it reads the last committed
    * batch's snapshot; pass `batchId` to pin an earlier batch). Output
    * is flattened to the key columns + value columns (`partition_id`
    * dropped — single-driver IQ routes by key, not shard). Value columns
    * carry the OPERATOR's internal buffer names (`sum`, `count`, …), not
    * the sink projection's aliases — the state precedes the projection.
    *
    * Prefer the memory-sink path ([[store]]) when the query already
    * materializes a queryable view (no checkpoint file I/O per lookup,
    * driver-local); prefer THIS face when the query writes to an
    * external sink only, when state must be inspected offline
    * (post-mortem of a stopped/failed job), or when replaying a specific
    * `batchId`'s state.
    */
  def storeFromCheckpoint(spark: SparkSession, checkpointPath: String,
                          operatorId: Long = 0L,
                          storeName: String = "default",
                          batchId: Option[Long] = None): DataFrame = {
    val r = spark.read.format("statestore")
      .option("operatorId", operatorId)
      .option("storeName", storeName)
    val withBatch = batchId.fold(r)(b => r.option("batchId", b))
    val raw = withBatch.load(checkpointPath)
    raw.select(col("key.*"), col("value.*"))
  }

  /** Register a checkpoint's state as a temp view so the existing
    * [[HttpStateServer]] routes serve it like any memory-sink store.
    * The view re-reads the checkpoint per query, so a running query's
    * later commits become visible on subsequent lookups.
    */
  def registerCheckpointStore(spark: SparkSession, name: String,
                              checkpointPath: String,
                              operatorId: Long = 0L,
                              storeName: String = "default"): Unit =
    storeFromCheckpoint(spark, checkpointPath, operatorId, storeName)
      .createOrReplaceTempView(name)

  final case class HostInfo(host: String, port: Int)

  /** `ring.clj:40-53` handler parity: route a key's query to the shard
    * owner; serve locally when this instance owns it.
    */
  def handler[A](
      findHost: String => HostInfo,
      remote: (HostInfo, String) => A,
      local: String => A,
      self: HostInfo
  ): String => A = { key =>
    val owner = findHost(key)
    if (owner == self) local(key) else remote(owner, key)
  }
}
