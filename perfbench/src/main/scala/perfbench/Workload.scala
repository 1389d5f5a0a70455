package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/**
 * One benchmark workload. [[setup]] generates the inputs from the seed and
 * builds what the timed phase serves from; it runs several times and the
 * last build stays. [[timed]] issues operations until its time is up,
 * recording latencies into the given samples. [[finish]] runs after the
 * clock stops: quality checks (recall, exact counts) and sizes.
 */
trait Workload {
  def setup(run: Run): Unit
  def warm(run: Run): Unit
  def timed(run: Run, s: Samples, seconds: Double, phase: String): Unit
  def finish(run: Run, s: Samples): Unit
  /** Input and index sizes for the provenance record. */
  def sizes: Map[String, Any]
}

object Workload {
  def byName(name: String): Workload = name match {
    case "serve" => new Serve
    case "batch" => new Batch
    case "mixed" => new Mixed
    case "curate" => new Curate
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  val VecSchema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false)))

  def vectorFrame(spark: SparkSession, vs: Array[Array[Float]], firstId: Long = 0): DataFrame = {
    val rows = vs.indices.map(i => org.apache.spark.sql.Row(firstId + i, vs(i)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), VecSchema)
  }

  /** Exact top-k ids by squared L2 over (id, vector) pairs, ties by id. */
  def exactTopK(q: Array[Float], ids: Array[Long], vs: Array[Array[Float]], k: Int,
      live: Long => Boolean = _ => true): Array[Long] = {
    val heap = new java.util.PriorityQueue[(Float, Long)](k + 1,
      (a: (Float, Long), b: (Float, Long)) =>
        if (a._1 != b._1) java.lang.Float.compare(b._1, a._1) else java.lang.Long.compare(b._2, a._2))
    var i = 0
    while (i < vs.length) {
      if (live(ids(i))) {
        val d = graft.core.Simd.l2Sq(q, 0, vs(i), 0, q.length)
        heap.add((d, ids(i)))
        if (heap.size > k) heap.poll()
      }
      i += 1
    }
    val out = new Array[Long](heap.size)
    var j = out.length - 1
    while (!heap.isEmpty) { out(j) = heap.poll()._2; j -= 1 }
    out
  }

  def recall(found: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) 1.0 else found.toSet.intersect(exact.toSet).size.toDouble / exact.size

  /** Non-decreasing distances. */
  def sorted(d: Seq[Double]): Boolean = d.zip(d.drop(1)).forall { case (a, b) => a <= b }
}
