package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * FK-consistent scale-factor replication: write `<outDir>/sf<X>` carrying
 * `factor` copies of every table in `srcDir`, with all primary AND foreign
 * keys offset by `replica * 100M` so the star schema joins exactly as the
 * original does (ScaleSmoke replicates only documents/embeddings; the bench
 * needs the relational tables too). Text and embedding payloads are
 * perturbed per replica — same scheme as ScaleSmoke — so near-dup structure
 * survives instead of collapsing to exact copies. region/nation (fixed
 * dimension tables) are copied once.
 *
 * Usage: runMain graft.tools.SfReplicate <srcDir> <outDir> <factor>
 * Then:  SPARK_GRAFT_SF_DIR=<outDir> ... runMain graft.Bench
 * (give <outDir> an sf-suffixed name, e.g. /root/scale/sf1, and symlink a
 * sibling sf0.001 so the bench's warmup ladder resolves).
 */
object SfReplicate {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val out = args(1)
    val factor = args(2).toInt
    val off = 100000000L
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // key columns offset by replica·off, primary and foreign alike
    val keys = Map("customer" -> Seq("c_custkey"), "orders" -> Seq("o_orderkey", "o_custkey"),
      "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"), "part" -> Seq("p_partkey"),
      "supplier" -> Seq("s_suppkey"), "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    // a source key ≥ off would collide with the next replica's shifted copy
    if (factor > 1) for ((name, cols) <- keys; c <- cols) {
      val top = spark.read.parquet(s"$src/$name.parquet").agg(max(col(c)).cast("long")).head()
      require(top.isNullAt(0) || top.getLong(0) < off,
        s"$name.$c reaches ${top.get(0)} >= $off: replica keys would collide")
    }

    def write(name: String, build: (DataFrame, Int) => DataFrame,
        replicas: Int = factor): Unit = {
      val path = s"$out/$name.parquet"
      // a crashed run can leave the directory without its commit marker
      if (new java.io.File(s"$path/_SUCCESS").exists()) {
        System.err.println(s"[sfreplicate] $path exists, skipping"); return
      }
      val srcDf = spark.read.parquet(s"$src/$name.parquet")
      (0 until replicas).map(r => build(srcDf, r)).reduce(_ unionByName _)
        .repartition(cpus.toInt)
        .write.mode("overwrite").parquet(path)
      System.err.println(s"[sfreplicate] wrote $path")
    }
    def shifted(name: String)(d: DataFrame, r: Int): DataFrame =
      keys(name).foldLeft(d)((acc, c) => acc.withColumn(c, col(c) + lit(r * off)))

    // fixed dimension tables: ONE copy (their keys are FK'd unchanged)
    write("region", (d, _) => d, replicas = 1)
    write("nation", (d, _) => d, replicas = 1)
    Seq("customer", "orders", "lineitem", "part", "supplier", "events")
      .foreach(name => write(name, shifted(name)))
    write("documents", (d, r) => shifted("documents")(d, r)
      .withColumn("text",
        if (r == 0) col("text") else concat(col("text"), lit(s" replica$r"))))
    write("embeddings", (d, r) => shifted("embeddings")(d, r)
      .withColumn("embedding",
        if (r == 0) col("embedding")
        else transform(col("embedding"), x => x + lit(r * 1e-4f))
          .cast("array<float>")))
    spark.stop()
  }
}
