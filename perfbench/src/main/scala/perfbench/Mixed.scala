package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import graft.index.{Ann, IndexCatalog}
import graft.plans.{AnnRewrittenMarker, Graft}
import graft.search.Hybrid
import graft.streaming.StreamingIndex

/**
 * `mixed`: one closed-loop client on a DiskANN-indexed parquet table
 * (id, vec, category, text) through the SQL surface: top-10 rewrites (half
 * with a WHERE filter, the over-fetch path), hybrid BM25+vector search,
 * appends through `StreamingIndex` and deletes through `Ann.delete`, with a
 * compaction threshold low enough that compaction cycles several times per
 * run. A fixed share of reads repeats an earlier query vector. Every
 * operation comes from one seeded op stream; the read after an append
 * queries one of the appended vectors.
 */
final class Mixed extends Workload {
  val N = 2000
  val Dim = 64
  val K = 10
  val Categories = 8
  val AppendRows = 16
  val DeleteRows = 4
  /** Delta shards tolerated before compaction. */
  val CompactAt = 2
  /** One SQL read in this many repeats one of the last few query vectors. */
  val RepeatEvery = 4
  /** The op mix, run in whole cycles, each in a seeded order, so every run
   *  has the same shares. Each append is followed by a read of one of its
   *  vectors, so a cycle issues 14 operations. */
  val Cycle: Seq[String] = Seq.fill(4)("sql-filtered") ++ Seq.fill(4)("sql") ++
    Seq("hybrid", "append", "append", "delete")
  private val name = "mixed"
  private val params = Ann.BuildParams(engine = "diskann", maxDegree = 32,
    buildComplexity = 64, numShards = 1)

  private var run0: Run = _
  private var gen: Corpus.Clustered = _
  private var vocab: Array[String] = _
  private var dir: String = _
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val texts = mutable.ArrayBuffer.empty[String]
  private val deletedAt = mutable.HashMap.empty[Long, Long] // id -> op index
  private var ops = 0L
  private var opRng: java.util.SplittableRandom = _
  private val recent = mutable.Queue.empty[Array[Float]]
  private var probe: Option[(Long, Array[Float])] = None
  private val pending = mutable.Queue.empty[String]
  // (query, found ids, op index, ids below this existed)
  private val sample = new ConcurrentLinkedQueue[(Array[Float], Array[Long], Long, Long)]()
  private var sqlReads, repeats, eligible, fired, compactions = 0L

  def sizes: Map[String, Any] = Map("rows" -> N, "dim" -> Dim, "k" -> K,
    "append_rows" -> AppendRows, "delete_rows" -> DeleteRows, "compact_at" -> CompactAt,
    "index" -> "DiskANN R=32 L=64")

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vec", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("category", StringType, nullable = false),
    StructField("text", StringType, nullable = false)))

  private def category(id: Long): String =
    s"c${Math.floorMod(java.lang.Long.hashCode(id * 0x9E3779B97F4A7C15L), Categories)}"

  private def rowsFrom(from: Int, until: Int): DataFrame = {
    val rows = (from until until).map(i => Row(i.toLong, vecs(i), category(i), texts(i)))
    run0.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private def addRows(n: Int, stream: Long): Unit = {
    val r = Corpus.rng(run0.seed, stream)
    (0 until n).foreach { _ =>
      vecs += gen.point(r)
      texts += Corpus.words(r, vocab, 24).mkString(" ")
    }
  }

  private def table: DataFrame = run0.spark.read.parquet(dir)

  def setup(run: Run): Unit = {
    run0 = run
    Graft.init(run.spark)
    gen = new Corpus.Clustered(run.seed, Dim, 32)
    vocab = Corpus.vocabulary(run.seed, 3000)
    vecs.clear(); texts.clear(); deletedAt.clear()
    addRows(N, 30)
    dir = new java.io.File(run.workDir, "mixed_table").getAbsolutePath
    rowsFrom(0, N).repartition(run.nproc).write.mode("overwrite").parquet(dir)
    run.tracer.span("index.build.mixed") {
      Ann.buildIndex(table, "vec", "id", name, params)
    }
    table.createOrReplaceTempView("docs")
    opRng = Corpus.rng(run.seed, 31)
    ops = 0L
    pending.clear(); recent.clear(); probe = None
  }

  private def lit(q: Array[Float]): String = q.map(x => s"${x}f").mkString("array(", ", ", ")")

  private def live(id: Long, at: Long): Boolean = deletedAt.get(id).forall(_ > at)

  private def sqlRead(run: Run, s: Samples, q: Array[Float], filter: Option[String],
      mustFind: Option[Long]): Unit = {
    val where = filter.map(c => s"WHERE category = '$c' ").getOrElse("")
    val sql = s"SELECT id, category, array_distance(vec, ${lit(q)}) AS d FROM docs $where" +
      s"ORDER BY d LIMIT $K"
    val at = ops
    run.tracer.op("mixed.sql") {
      run.timed(s, read = true, "mixed sql read") {
        val df = run.spark.sql(sql)
        val plan = run.tracer.span("plans.plan")(df.queryExecution.optimizedPlan)
        val rewritten = plan.exists(_.expressions.exists(_.exists(_.isInstanceOf[AnnRewrittenMarker])))
        (rewritten, run.tracer.span("plans.exec")(df.collect()))
      } { case (rewritten, rows) =>
        val ids = rows.map(_.getLong(0))
        val d = rows.map(_.getDouble(2))
        if (!rewritten) Some("top-k rewrite did not fire")
        else if (filter.isEmpty && rows.length != K) Some(s"${rows.length} rows, expected $K")
        else if (rows.length > K) Some(s"${rows.length} rows, limit $K")
        else if (!Workload.sorted(d)) Some("rows not sorted by distance")
        else if (ids.exists(id => !live(id, at))) Some("a deleted id came back")
        else if (filter.exists(c => rows.exists(_.getString(1) != c))) Some("a row fails the WHERE filter")
        else if (mustFind.exists(id => !(ids.headOption.contains(id) && d.head == 0.0)))
          Some("an appended vector was not found at distance 0")
        else None
      }.foreach { case (rewritten, rows) =>
        s.answered.incrementAndGet()
        sqlReads += 1; eligible += 1; if (rewritten) fired += 1
        if (filter.isEmpty && mustFind.isEmpty && at % 4 == 0)
          sample.add((q, rows.map(_.getLong(0)), at, vecs.length.toLong))
      }
    }
  }

  private def hybrid(run: Run, s: Samples): Unit = {
    val at = ops
    val src = pickLive(at)
    val qText = texts(src.toInt).split(" ").filter(_.length > 3).take(3).mkString(" ")
    val q = gen.point(opRng)
    val dead = deletedAt.keys.toSeq
    run.tracer.op("mixed.hybrid") {
      run.timed(s, read = true, "mixed hybrid read") {
        val liveDf = if (dead.isEmpty) table else table.where(!col("id").isin(dead: _*))
        run.tracer.span("search.hybrid") {
          Hybrid.hybridSearch(liveDf, "text", "vec", "id", qText, q, k = K, indexName = name).collect()
        }
      } { rows =>
        if (rows.length != K) Some(s"hybrid returned ${rows.length} rows, expected $K")
        else if (rows.exists(r => !live(r.getLong(0), at))) Some("a deleted id came back from hybrid")
        else None
      }.foreach(_ => s.answered.incrementAndGet())
    }
  }

  private def append(run: Run, s: Samples): Unit = {
    val from = vecs.length
    addRows(AppendRows, 1L << 33 | ops)
    val batch = rowsFrom(from, vecs.length)
    run.tracer.op("mixed.append") {
      run.timed(s, read = false, "mixed append") {
        batch.write.mode("append").parquet(dir)
        run.tracer.span("streaming.append_batch") {
          StreamingIndex.appendBatch(batch, "vec", "id", name, params, compactAt = Int.MaxValue)
        }
        // compaction as StreamingIndex.appendBatch would run it, called here
        // so its time is a span of its own
        if (IndexCatalog.load(Ann.root(run.spark), name).shards.size > CompactAt) {
          run.tracer.span("streaming.compact")(StreamingIndex.compact(run.spark, name, 1))
          compactions += 1
        }
        table.createOrReplaceTempView("docs")
      }(_ => None)
    }
    val pick = from + opRng.nextInt(AppendRows)
    probe = Some((pick.toLong, vecs(pick)))
  }

  private def delete(run: Run, s: Samples): Unit = {
    val victims = Seq.fill(DeleteRows)(pickLive(ops)).distinct
    run.tracer.op("mixed.delete") {
      run.timed(s, read = false, "mixed delete") {
        run.tracer.span("index.delete")(Ann.delete(run.spark, name, victims))
      }(_ => None)
    }
    victims.foreach(v => deletedAt(v) = ops)
  }

  private def shuffle(cycle: Seq[String]): Seq[String] = {
    val a = cycle.toArray
    (a.length - 1 to 1 by -1).foreach { i =>
      val j = opRng.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }

  private def pickLive(at: Long): Long = {
    var id = 0L
    while ({ id = opRng.nextInt(vecs.length).toLong; !live(id, at) }) ()
    id
  }

  private def step(run: Run, s: Samples): Unit = {
    probe match {
      case Some((id, v)) =>
        probe = None
        sqlRead(run, s, v, None, Some(id))
      case None =>
        pending.dequeue() match {
          case op @ ("sql" | "sql-filtered") =>
            // every RepeatEvery-th SQL read repeats one of the last 8 vectors
            val q = if (recent.nonEmpty && sqlReads % RepeatEvery == RepeatEvery - 1) {
              repeats += 1
              recent(opRng.nextInt(recent.size))
            } else gen.point(opRng)
            recent.enqueue(q); if (recent.size > 8) recent.dequeue()
            val filter = if (op == "sql-filtered") Some(s"c${opRng.nextInt(Categories)}") else None
            sqlRead(run, s, q, filter, None)
          case "hybrid" => hybrid(run, s)
          case "append" => append(run, s)
          case "delete" => delete(run, s)
        }
    }
    ops += 1
  }

  private def cycle(run: Run, s: Samples): Unit = {
    pending ++= shuffle(Cycle)
    while (pending.nonEmpty || probe.nonEmpty) step(run, s)
  }

  def warm(run: Run): Unit = cycle(run, new Samples)

  /** Whole cycles until the time is up, so the op shares are exact. */
  def timed(run: Run, s: Samples, seconds: Double, phase: String): Unit =
    run.closedLoop(1, seconds, phase)((_, _) => cycle(run, s))

  def finish(run: Run, s: Samples): Unit = {
    val ids = vecs.indices.map(_.toLong).toArray
    val all = vecs.toArray
    val rs = sample.asScala.toSeq.map { case (q, found, at, bound) =>
      Workload.recall(found, Workload.exactTopK(q, ids, all, K, id => id < bound && live(id, at)))
    }
    run.e2e("recall") = (rs.sum / math.max(1, rs.size), "frac")
    val liveN = vecs.length - deletedAt.size
    val bytes = run.dirBytes(IndexCatalog.indexDir(Ann.root(run.spark), name))
    run.e2e("bytes_per_vec") = (bytes.toDouble / liveN, "B")
    run.layer("index.bytes_on_disk") = (bytes.toDouble, "B")
    run.layer("plans.rewrite_fired_frac") = (fired.toDouble / math.max(1, eligible), "frac")
    run.layer("plans.repeat_query_frac") = (repeats.toDouble / math.max(1, sqlReads), "frac")
    run.layer("streaming.compactions") = (compactions.toDouble, "count")
    run.info("repeat_every") = RepeatEvery
    sample.clear()
  }
}
