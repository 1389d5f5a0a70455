package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.core.Route
import graft.index.{Ann, AnnEngine, GraphEngine, IndexCatalog, ShardCache, ShardMeta}

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
 * is a shard-parallel job, and a compaction too, whose vectors never visit
 * the driver.
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

  /** `sh`'s rows not in `tomb`, in label order, as the shard stores them. */
  private def live(sh: ShardMeta, cosine: Boolean,
      tomb: Set[Long]): Iterator[(Long, Array[Float])] = {
    val loaded = ShardCache.get(sh.file, sh.idsFile, cosine)
    loaded.ids.indices.iterator.filter(l => !tomb.contains(loaded.ids(l)))
      .map(l => (loaded.ids(l), loaded.index.vector(l)))
  }

  /**
   * Compact an index to `targetShards` shards: rebuild all live vectors
   * (tombstones drop out, like the reference's Vacuum,
   * src/diskann_index.cpp:701-741). The rebuilt index keeps the original
   * binding (column/id/source files). Route op `ann.write`, estimate = the
   * on-disk bytes of the shards it rewrites: below the gate a compaction to
   * one shard reads the live rows through [[ShardCache]] in shard and label
   * order and rebuilds them on the driver, with no Spark job, through the
   * same per-shard build as the one task of the distributed rebuild, so both
   * routes write the same files. Otherwise one task per shard extracts its
   * live rows and [[Ann.buildIndex]] rebuilds them.
   */
  def compact(spark: SparkSession, name: String, targetShards: Int): Unit = {
    import spark.implicits._
    val r = Ann.root(spark)
    val meta = IndexCatalog.load(r, name)
    val graph = AnnEngine.of(meta) match {
      case g: GraphEngine => g
      case _ => throw new IllegalArgumentException("compact supports graph engines")
    }
    val tomb = IndexCatalog.readTombstones(r, name)
    val cosine = meta.metricObj eq graft.core.Metric.Cosine
    // NOTE: cosine vectors in shards are already normalized; re-normalizing
    // is a no-op, so the rebuild is safe for every metric.
    val params = graph.paramsOf(meta).copy(numShards = targetShards)
    val tmpName = s"${name}__compacting"
    // Crash-safe swap: the old metadata.json stays authoritative until the
    // new one atomically replaces it. Rebuilt shards land FIRST under
    // version-suffixed names (no collision with the live shards), then
    // IndexCatalog.save atomically publishes the new metadata, and only
    // then are the superseded shard files / tombstones / tmp dir deleted.
    // A crash at any point leaves a consistent index (worst case: orphaned
    // files from the interrupted generation).
    val ver = meta.version + 1
    val dstDir = new java.io.File(IndexCatalog.indexDir(r, name))
    dstDir.mkdirs()
    val onDisk = meta.shards.map(sh => new java.io.File(sh.file).length +
      new java.io.File(sh.idsFile).length).sum
    // only a one-shard rebuild has a driver-local version
    val local = if (targetShards == 1) Route.local(spark, "ann.write", onDisk) else {
      Route.post(spark, "ann.write", Route.Distributed, onDisk, Route.maxBytes(spark))
      false
    }
    val rebuilt = if (local)
      graph.buildLocal(meta.shards.iterator.flatMap(live(_, cosine, tomb)), name, meta.dim,
        params, new java.io.File(dstDir, s"compact-00000-v$ver").getAbsolutePath)
    else {
      val tombB = spark.sparkContext.broadcast(tomb)
      val vecsDf = spark.sparkContext
        .parallelize(meta.shards, math.max(meta.shards.size, 1))
        .flatMap(live(_, cosine, tombB.value)).toDF("id", "vec")
      val built = Ann.buildIndex(vecsDf, "vec", "id", tmpName, params)
      built.copy(shards = built.shards.zipWithIndex.map { case (sh, i) =>
        val ext = sh.file.substring(sh.file.lastIndexOf('.') + 1)
        def mv(p: String, suffix: String): String = {
          val dst = new java.io.File(dstDir, f"compact-$i%05d-v$ver.$suffix")
          java.nio.file.Files.move(java.nio.file.Paths.get(p), dst.toPath,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          dst.getAbsolutePath
        }
        ShardMeta(mv(sh.file, ext), mv(sh.idsFile, "ids"), sh.count)
      })
    }
    IndexCatalog.save(r, rebuilt.copy(name = name, column = meta.column,
      idColumn = meta.idColumn, sourceFiles = meta.sourceFiles, version = ver))
    // new metadata is live — clean up the superseded generation
    meta.shards.foreach { sh =>
      new java.io.File(sh.file).delete(); new java.io.File(sh.idsFile).delete()
    }
    new java.io.File(IndexCatalog.tombstonePath(r, name)).delete()
    IndexCatalog.drop(r, tmpName)
  }
}
