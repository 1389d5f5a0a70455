package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/**
 * Per-stage profile of named `SparkEntry.queries` entries, under Bench's
 * environment contract (`SPARK_GRAFT_CPUS` cores, `local[cpus]`, shuffle
 * partitions = cpus, memoized index builds). Each entry runs once untimed,
 * then once timed under [[StageStats]], and prints one JSON line:
 * `{"entry", "wall_s", "jobs", "stages": [...], "routes": [...]}` with the
 * timed run's job count, the fields of [[StageStats.Stage]] and the timed
 * run's route decisions.
 *
 * Usage: runMain graft.tools.Profile <sfDir> <entry>...
 */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.tools.Profile <sfDir> <entry>...")
    val names = args.toSeq.tail
    checkNames(names)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.bench.reuseIndexes", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val stats = new StageStats
    spark.sparkContext.addSparkListener(stats)
    try names.foreach(n => println(run(spark, stats, args(0), n)))
    finally spark.stop()
  }

  /** Fails naming every known entry when any of `names` is unknown. */
  def checkNames(names: Seq[String]): Unit = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown entries: ${unknown.mkString(", ")}; known entries: " +
      SparkEntry.queries.keys.toSeq.sorted.mkString(", "))
  }

  /** Warm-up run, then one timed run of `name` over `sfDir`; returns its
   *  JSON line. `stats` must be registered on `spark`'s context. */
  def run(spark: SparkSession, stats: StageStats, sfDir: String, name: String): String = {
    checkNames(Seq(name))
    val fn = SparkEntry.queries(name)
    fn(spark, sfDir).count()
    spark.catalog.clearCache()
    stats.drain(spark.sparkContext)
    stats.clear()
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val sec = (System.nanoTime() - t0) / 1e9
    stats.drain(spark.sparkContext)
    s"""{"entry":"$name","wall_s":$sec,"jobs":${stats.jobs},""" +
      s""""stages":[${stats.stages.map(_.json).mkString(",")}],""" +
      s""""routes":[${stats.routes.map(_.json).mkString(",")}]}"""
  }
}
