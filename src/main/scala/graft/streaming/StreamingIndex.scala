package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.index.{Ann, AnnEngine, IndexCatalog, ShardCache, ShardMeta}

/**
 * Structured-Streaming incremental ANN index maintenance — the Spark
 * re-expression of the reference's auto-maintained indexes on INSERT
 * (src/diskann_index.cpp:316-357): each micro-batch becomes a delta shard
 * (`Ann.append`), and the index compacts back to a bounded shard count when
 * deltas accumulate.
 *
 * At scale this is the "index the firehose" shape: `readStream` →
 * `maintain(...)` → queries against the index see data as of the last
 * completed batch. Compaction is a shard-parallel Spark job (vectors never
 * visit the driver).
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
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val r = Ann.root(spark)
    if (!IndexCatalog.exists(r, name)) {
      Ann.buildIndex(batch, column, idColumn, name, params)
    } else {
      Ann.append(batch, column, idColumn, name)
      val meta = IndexCatalog.load(r, name)
      if (meta.shards.size > compactAt)
        compact(spark, name, math.max(params.numShards, 1))
    }
  }

  /**
   * Compact an index to `targetShards` shards: re-shard all live vectors
   * through a distributed rebuild (tombstones drop out, like the
   * reference's Vacuum, src/diskann_index.cpp:701-741). The rebuilt index
   * keeps the original binding (column/id/source files).
   */
  def compact(spark: SparkSession, name: String, targetShards: Int): Unit = {
    import spark.implicits._
    val r = Ann.root(spark)
    val meta = IndexCatalog.load(r, name)
    require(AnnEngine.of(meta).isGraph, "compact supports graph engines")
    val tomb = IndexCatalog.readTombstones(r, name)
    val tombB = spark.sparkContext.broadcast(tomb)
    val cosine = meta.metricObj eq graft.core.Metric.Cosine
    // distributed extraction: one task per shard emits its live (id, vector)
    val vecsDf = spark.sparkContext
      .parallelize(meta.shards, math.max(meta.shards.size, 1))
      .flatMap { sh =>
        val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
        val t = tombB.value
        loaded.ids.indices.iterator
          .filter(l => !t.contains(loaded.ids(l)))
          .map(l => (loaded.ids(l), loaded.index.vector(l)))
      }.toDF("id", "vec")
    val tmpName = s"${name}__compacting"
    val params = Ann.BuildParams(engine = meta.engine, metric = meta.metric,
      maxDegree = meta.maxDegree, buildComplexity = meta.buildComplexity,
      alpha = meta.alpha,
      quantization = if (meta.quantized) s"sq${meta.quantBits}" else "",
      numShards = targetShards,
      hnswM = meta.maxDegree, efConstruction = meta.buildComplexity)
    // NOTE: cosine vectors in shards are already normalized; re-normalizing
    // is a no-op, so the rebuild is safe for every metric.
    val rebuilt = Ann.buildIndex(vecsDf, "vec", "id", tmpName, params)
    // Crash-safe swap: the old metadata.json stays authoritative until the
    // new one atomically replaces it. Rebuilt shards move in FIRST under
    // version-suffixed names (no collision with the live shards), then
    // IndexCatalog.save atomically publishes the new metadata, and only
    // then are the superseded shard files / tombstones / tmp dir deleted.
    // A crash at any point leaves a consistent index (worst case: orphaned
    // files from the interrupted generation).
    val ver = meta.version + 1
    val dstDir = new java.io.File(IndexCatalog.indexDir(r, name))
    dstDir.mkdirs()
    val moved = rebuilt.shards.zipWithIndex.map { case (sh, i) =>
      val ext = sh.file.substring(sh.file.lastIndexOf('.') + 1)
      def mv(p: String, suffix: String): String = {
        val dst = new java.io.File(dstDir, f"compact-$i%05d-v$ver.$suffix")
        java.nio.file.Files.move(java.nio.file.Paths.get(p), dst.toPath,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        dst.getAbsolutePath
      }
      ShardMeta(mv(sh.file, ext), mv(sh.idsFile, "ids"), sh.count)
    }
    val oldShards = meta.shards
    IndexCatalog.save(r, rebuilt.copy(name = name, column = meta.column,
      idColumn = meta.idColumn, sourceFiles = meta.sourceFiles,
      version = ver, shards = moved))
    // new metadata is live — clean up the superseded generation
    oldShards.foreach { sh =>
      new java.io.File(sh.file).delete(); new java.io.File(sh.idsFile).delete()
    }
    new java.io.File(IndexCatalog.tombstonePath(r, name)).delete()
    IndexCatalog.drop(r, tmpName)
  }
}
