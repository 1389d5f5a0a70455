package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.{Ann, AnnEngine, GraphEngine, IndexCatalog}

/**
 * Structured-Streaming incremental ANN index maintenance — the Spark
 * re-expression of the reference's auto-maintained indexes on INSERT
 * (src/diskann_index.cpp:316-357): each micro-batch becomes a delta shard
 * (`Ann.append`), and the index compacts back to a bounded shard count when
 * deltas accumulate.
 *
 * At scale this is the "index the firehose" shape: `readStream` →
 * `maintain(...)` → queries against the index see data as of the last
 * completed batch. Appends and compactions of a small index run on the
 * driver with no Spark job (route op `ann.write`); above the gate an append
 * is a shard-parallel job, and a compaction one job of one task per output
 * shard, whose vectors never visit the driver.
 */
object StreamingIndex {

  /**
   * Attach index maintenance to a streaming DataFrame of (id, vector) rows.
   * First batch creates the index (if absent); subsequent batches append
   * delta shards; when the shard count exceeds `compactAt`, the index is
   * compacted to `params.numShards` (or 1).
   */
  def maintain(stream: DataFrame, column: String, idColumn: String, name: String,
      checkpointDir: String, params: Ann.BuildParams = Ann.BuildParams(),
      compactAt: Int = 16): StreamingQuery = {
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        appendBatch(batch, column, idColumn, name, params, compactAt)
      }
      .start()
  }

  /** One micro-batch step (also directly callable for foreachBatch reuse). */
  def appendBatch(batch: DataFrame, column: String, idColumn: String, name: String,
      params: Ann.BuildParams, compactAt: Int): Unit = {
    val spark = batch.sparkSession
    if (!IndexCatalog.exists(Ann.root(spark), name)) {
      if (!batch.isEmpty) Ann.buildIndex(batch, column, idColumn, name, params)
    } else if (Ann.append(batch, column, idColumn, name).shards.size > compactAt)
      compact(spark, name, math.max(params.numShards, 1))
  }

  /**
   * Compact a graph index to `targetShards` shards: its live vectors
   * (tombstones drop out, like the reference's Vacuum,
   * src/diskann_index.cpp:701-741) rebuilt by [[GraphEngine.compact]], the
   * rewrite vacuum also runs. The index keeps its binding (column/id/source
   * files) and build parameters. Route op `ann.write`: a compaction to one
   * shard whose shard files fit the gate runs on the driver with no Spark
   * job; anything else is one job of one task per output shard.
   */
  def compact(spark: SparkSession, name: String, targetShards: Int): Unit = {
    val r = Ann.root(spark)
    val meta = IndexCatalog.load(r, name)
    AnnEngine.of(meta) match {
      case g: GraphEngine =>
        g.compact(spark, meta, IndexCatalog.readTombstones(r, name), targetShards max 1)
      case _ => throw new IllegalArgumentException("compact supports graph engines")
    }
  }
}
