package graft.tools

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Dump `.explain("formatted")` for named SparkEntry queries to files —
 *  the before/after plan receipts an optimization round commits under
 *  plans/<round>/. Usage:
 *    runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <name>[,name...]
 *  Writes <outDir>/<name>_<suffix>.txt per query. Building the DataFrame
 *  runs any index builds the entry performs (same as the bench's warmup),
 *  so the dumped plan is the one the timed action executes.
 */
object PlanDump {
  private val ExecRows = 1000 // rows exec mode pulls to the driver per query
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.graft.bench.reuseIndexes", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    // exec mode (5th arg "exec"): run the query through the noop sink first
    // and dump the FINAL adaptive plan — the only receipt that shows runtime
    // exchange/stage reuse (ReusedExchange/ReusedQueryStage), which the
    // pre-execution formatted plan cannot (AQE decides reuse per stage).
    val execMode = args.length > 4 && args(4) == "exec"
    val qs = graft.SparkEntry.queries
    names.foreach { name =>
      val fn = qs.getOrElse(name, sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val txt = if (execMode) {
        // toLocalIterator executes THIS df's QueryExecution (a noop write
        // would plan its own copy and leave this one isFinalPlan=false); AQE
        // finalizes before the first row, and the result stage then runs a
        // partition at a time, so only ExecRows rows reach the driver
        df.toLocalIterator().asScala.take(ExecRows).foreach(_ => ())
        df.queryExecution.executedPlan.toString
      } else df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val p = java.nio.file.Paths.get(outDir,
        s"${name}_$suffix${if (execMode) "_exec" else ""}.txt")
      java.nio.file.Files.write(p, txt.getBytes("UTF-8"))
      println(s"[plandump] wrote $p (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
