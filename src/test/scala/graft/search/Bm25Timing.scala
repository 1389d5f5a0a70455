package graft.search

import java.nio.file.Files

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.RouteParity
import graft.index.{BaseRows, IndexCatalog}

/**
 * Wall time of [[Hybrid.bm25Ranks]] on both `search.bm25` routes over
 * generated corpora shaped like perfbench `mixed`'s table (id, 64-dim vec,
 * category, 24-word text over a 3,000-word vocabulary, one word in four a
 * stopword), read as `parquet(dir).where(!id.isin(dead))`. For each row
 * count: the first (cold) call's route and time, the warm calls' route,
 * estimate and median time, and the median time of the distributed route
 * (`spark.graft.localMaxBytes=0`). The first row count also warms the JVM.
 *
 * {{{
 * SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.search.Bm25Timing 25000 100000 200000"
 * }}}
 */
object Bm25Timing {
  private val Stopwords = Array("the", "a", "of", "and", "is", "to", "in", "that", "it", "for")

  def main(args: Array[String]): Unit = {
    val sizes = if (args.isEmpty) Seq(25000, 100000) else args.toSeq.map(_.toInt)
    val reps = 5
    val work = Files.createTempDirectory("graft-bm25-timing").toFile
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4").config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val r = new scala.util.Random(7)
    val vocab = Array.fill(3000)(new String(Array.fill(3 + r.nextInt(7))(('a' + r.nextInt(26)).toChar)))
    val schema = StructType(Seq(StructField("id", LongType), StructField("vec",
      ArrayType(FloatType, containsNull = false)), StructField("category", StringType),
      StructField("text", StringType)))
    def text(): String = Array.tabulate(24)(i =>
      if (i % 4 == 1) Stopwords(r.nextInt(Stopwords.length)) else vocab(r.nextInt(vocab.length)))
      .mkString(" ")
    try sizes.foreach { n =>
      val dir = s"$work/corpus_$n"
      (0 until n by 50000).foreach { from =>
        val rows = (from until math.min(n, from + 50000)).map(i =>
          Row(i.toLong, Array.fill(64)(r.nextFloat()).toSeq, s"c${i % 16}", text()))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .repartition(8).write.mode("append").parquet(dir)
      }
      val dead = Seq.fill(50)(r.nextInt(n).toLong).distinct
      val df = spark.read.parquet(dir).where(!col("id").isin(dead: _*))
      val queries = Seq.fill(reps + 1)(
        text().split(" ").filter(_.length > 3).take(3).toSeq)
      def call(q: Seq[String]): (Double, String, Long) = {
        val t0 = System.nanoTime()
        val (_, routes) = RouteParity.routed(spark)(
          Hybrid.bm25Ranks(df, "text", "id", q, 100).collect())
        val ev = routes.find(_.op == "search.bm25").get
        ((System.nanoTime() - t0) / 1e6, ev.route, ev.estimate)
      }
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
      BaseRows.clear()
      val (cold, route, _) = call(queries.head)
      val warm = queries.tail.map(call(_))
      spark.conf.set("spark.graft.localMaxBytes", "0")
      val dist = try { call(queries.head); queries.tail.map(call(_)._1) }
        finally spark.conf.unset("spark.graft.localMaxBytes")
      val listed = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet"))
        .map(_.length).sum
      println(f"""{"rows":$n,"listed_bytes":$listed,"cold_route":"$route",""" +
        f""""warm_route":"${warm.last._2}","warm_estimate":${warm.last._3},""" +
        f""""cold_ms":$cold%.1f,"warm_ms":${median(warm.map(_._1))}%.1f,""" +
        f""""dist_ms":${median(dist)}%.1f}""")
      IndexCatalog.deleteTree(dir)
    } finally {
      spark.stop()
      IndexCatalog.deleteTree(work.getPath)
    }
  }
}
