package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.index.{Ann, IndexCatalog}

/**
 * `batch`: one client issuing `Ann.searchTable` over blocks of distinct
 * queries against an `IVF64,PQ16,RFlat` index probed at nprobe > 1. This
 * is the Spark-job route: stage scheduling, probe selection, ADC scan and
 * exact refine. Graph kernels stay idle.
 */
final class Batch extends Workload {
  val N = 5000
  val Dim = 128
  val K = 10
  val Block = 16
  val Nprobe = 8
  private val name = "batch"
  private var corpus: Array[Array[Float]] = _
  private var gen: Corpus.Clustered = _
  private var base: DataFrame = _
  private val sample = new ConcurrentLinkedQueue[(Array[Float], Array[Long])]()
  private var blockNo = 0L

  def sizes: Map[String, Any] = Map("vectors" -> N, "dim" -> Dim, "k" -> K,
    "block" -> Block, "index" -> s"IVF64,PQ16,RFlat nprobe=$Nprobe")

  def setup(run: Run): Unit = {
    gen = new Corpus.Clustered(run.seed, Dim, 64)
    corpus = gen.points(N, 20)
    val df = Workload.vectorFrame(run.spark, corpus)
    base = run.spark.range(N).toDF("id")
    run.tracer.span("index.build.batch") {
      Ann.buildIndexFactory(df, "vec", "id", name, "IVF64,PQ16,RFlat",
        Ann.BuildParams(nprobe = Nprobe))
    }
  }

  private def block(run: Run, s: Samples): Unit = {
    val b = blockNo; blockNo += 1
    val r = Corpus.rng(run.seed, 1L << 32 | b)
    val qs = Array.fill(Block)(gen.point(r))
    val qdf = Workload.vectorFrame(run.spark, qs).toDF("qid", "qvec")
    run.tracer.op("batch.read") {
      run.timed(s, read = true, "batch read") {
        run.tracer.span("index.search_table") {
          Ann.searchTable(qdf, "qvec", base, "id", name, K).select("qid", "id", "_distance").collect()
        }
      } { rows =>
        val byQ = rows.groupBy(_.getLong(0))
        val bad = (0 until Block).filter { q =>
          val hits = byQ.getOrElse(q.toLong, Array.empty)
          hits.length != K || hits.map(_.getLong(1)).distinct.length != K
        }
        if (bad.nonEmpty) Some(s"${bad.size} of $Block queries without $K distinct rows")
        else None
      }.foreach { rows =>
        s.answered.addAndGet(Block)
        val byQ = rows.groupBy(_.getLong(0))
        (0 until Block).foreach(q =>
          sample.add((qs(q), byQ.getOrElse(q.toLong, Array.empty).map(_.getLong(1)))))
      }
    }
  }

  def warm(run: Run): Unit = (0 until 3).foreach(_ => block(run, new Samples))

  def timed(run: Run, s: Samples, seconds: Double, phase: String): Unit =
    run.closedLoop(1, seconds, phase)((_, _) => block(run, s))

  def finish(run: Run, s: Samples): Unit = {
    val ids = corpus.indices.map(_.toLong).toArray
    val rs = sample.asScala.toSeq.map { case (q, found) =>
      Workload.recall(found, Workload.exactTopK(q, ids, corpus, K))
    }
    run.e2e("recall") = (rs.sum / math.max(1, rs.size), "frac")
    val bytes = run.dirBytes(IndexCatalog.indexDir(Ann.root(run.spark), name))
    run.e2e("bytes_per_vec") = (bytes.toDouble / N, "B")
    run.layer("index.bytes_on_disk") = (bytes.toDouble, "B")
    sample.clear()
  }
}
