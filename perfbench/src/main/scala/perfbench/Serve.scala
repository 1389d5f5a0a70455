package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import graft.index.{Ann, IndexCatalog, ShardCache}

/**
 * `serve`: `nproc / 2` closed-loop clients, each calling `Ann.searchHits`
 * (top-10) with a query never issued before, against one single-shard
 * DiskANN index (R=64, L=100 over 10,000 × 128-d vectors, the reference's
 * bench shape) served through the mmap route. Graph kernels and the
 * job-free index path do the work; Spark runs no job per read and no cache
 * can answer a read.
 *
 * Half the cores, not all: with one client per core the reads compete with
 * the JIT, the collector and the host's other tenants; on a shared 4-core
 * host five back-to-back seeds spread the read median by 19-25 % at four
 * clients and by 10 % at two.
 */
final class Serve extends Workload {
  val N = 10000
  val Dim = 128
  val K = 10
  def clients(run: Run): Int = math.max(1, run.nproc / 2)
  private val name = "serve"
  private var corpus: Array[Array[Float]] = _
  private var gen: Corpus.Clustered = _
  @volatile private var shard: graft.core.GraphIndex = _
  private val sample = new ConcurrentLinkedQueue[(Array[Float], Array[Long])]()

  def sizes: Map[String, Any] = Map("vectors" -> N, "dim" -> Dim, "k" -> K,
    "clients" -> "nproc/2",
    "index" -> "DiskANN R=64 L=100, 1 shard, mmap-served")

  def setup(run: Run): Unit = {
    // serve every shard through the mmap route, whatever its size
    sys.props("graft.ann.mmapThreshold") = "0"
    gen = new Corpus.Clustered(run.seed, Dim, 64)
    corpus = gen.points(N, 10)
    shard = null
    val df = Workload.vectorFrame(run.spark, corpus)
    run.tracer.span("index.build.serve") {
      Ann.buildIndex(df, "vec", "id", name, Ann.BuildParams(engine = "diskann",
        maxDegree = 64, buildComplexity = 100, numShards = 1, buildThreads = run.nproc))
    }
  }

  private def query(run: Run, client: Int, i: Long): Array[Float] =
    gen.point(Corpus.rng(run.seed, 1000L + client * 1000003L + i))

  private def read(run: Run, s: Samples, q: Array[Float], keep: Boolean): Unit =
    run.tracer.op("serve.read") {
      run.timed(s, read = true, "serve read") {
        run.tracer.span("index.search_hits") {
          Ann.searchHits(run.spark, name, q, K).collect()
        }
      } { rows =>
        val d = rows.map(_.getFloat(1).toDouble)
        if (rows.length != K) Some(s"${rows.length} rows, expected $K")
        else if (rows.map(_.getLong(0)).distinct.length != K) Some("duplicate ids")
        else if (!Workload.sorted(d)) Some("rows not sorted by distance")
        else None
      }.foreach { rows =>
        s.answered.incrementAndGet()
        if (keep) sample.add((q, rows.map(_.getLong(0))))
      }
      if (run.tracer.tracing) graphSearch(run, q)
    }

  def warm(run: Run): Unit = {
    val s = new Samples
    (0 until 100).foreach(i => read(run, s, query(run, -1, i), keep = false))
  }

  def timed(run: Run, s: Samples, seconds: Double, phase: String): Unit = {
    run.closedLoop(clients(run), seconds, phase) { (c, i) =>
      val q = query(run, c, i)
      read(run, s, q, keep = i % 8 == 0)
    }
  }

  /** The graph kernel alone, on the shard the reads use, after the read
   *  and outside its latency. */
  private def graphSearch(run: Run, q: Array[Float]): Unit = {
    if (shard == null) {
      val sh = IndexCatalog.load(Ann.root(run.spark), name).shards.head
      shard = ShardCache.get(sh.file, sh.idsFile, false).index
    }
    run.tracer.span("core.graph_search") { shard.searchSaturationChecked(q, K) }
  }

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
