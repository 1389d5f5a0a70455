package graft.text

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The distributed connected-components loop reports non-convergence: when
  * its last allowed round still changed a label it throws instead of
  * returning a partial labelling. */
class ConnectedComponentsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  test("distributed loop: a round cap that cuts the propagation short throws") {
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("id_a", "id_b")
    val edge = Seq((7L, 8L)).toDF("id_a", "id_b")
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val e = intercept[IllegalStateException](
        TextOps.connectedComponents(chain, maxIter = 1).collect())
      assert(e.getMessage.contains("maxIter = 1") && e.getMessage.contains("round 1"),
        e.getMessage)
      // one changing round plus one quiet round: converged within the cap
      val labels = TextOps.connectedComponents(edge, maxIter = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(labels == Seq((7L, 7L), (8L, 7L)))
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }
}
