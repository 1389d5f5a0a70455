package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.text.{Curate => Pipeline, TextOps}

/**
 * `curate`: repeated passes of the curation pipeline
 * (`Curate.taggedStaged` + `Curate.reportOf`) and of near-duplicate
 * clustering (`TextOps.connectedComponents` over `TextOps.jaccardPairs`)
 * over a generated corpus with planted duplicate groups. No ANN code runs.
 *
 * Planted groups are cliques (copies of one base, each with another last
 * word) and chains (each member rewrites two fresh consecutive words of the
 * previous one), so in a chain a~b and b~c hold at [[Theta]] while a~c does
 * not: only the transitive closure joins them.
 */
final class Curate extends Workload {
  val Docs = 400
  val Words = 150
  val Groups = 24
  /** Jaccard threshold for the clustering pass: on the 148 3-word shingles
   *  of a document, neighbours in a chain sit at 144/152 ≈ 0.947, members two
   *  steps apart at 140/156 ≈ 0.897, and copies in a clique at 147/149. At
   *  J ≥ 0.947 the LSH bands (8 × 4 rows) miss a pair with probability
   *  below 3e-6. */
  val Theta = 0.92
  private var dir: String = _
  private var groups: Seq[Seq[Long]] = Nil
  private var expectedPairs: Set[(Long, Long)] = Set.empty
  private var firstReport: Option[Map[String, Long]] = None
  private var passes = 0L
  private var lastPairs, lastComponents, foundPlanted, plantedSeen = 0L

  def sizes: Map[String, Any] = Map("docs" -> Docs, "words_per_doc" -> Words,
    "planted_groups" -> Groups, "theta" -> Theta)

  private val schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** The corpus for `seed`: (id, text) rows and the planted groups. */
  def corpus(seed: Long): (Seq[(Long, String)], Seq[Seq[Long]]) = {
    val r = Corpus.rng(seed, 40)
    val vocab = Corpus.vocabulary(seed, 5000)
    val german = Array("der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf")
    val docs = mutable.ArrayBuffer.empty[Array[String]]
    val planted = mutable.ArrayBuffer.empty[Seq[Long]]
    def fresh(): Array[String] = Corpus.words(r, vocab, Words)
    (0 until Groups).foreach { g =>
      val size = 2 + r.nextInt(3)
      val base = fresh()
      val first = docs.length.toLong
      if (g % 2 == 0) { // clique: each copy ends in another word
        docs += base
        (1 until size).foreach { _ =>
          val c = base.clone(); c(Words - 1) = vocab(r.nextInt(vocab.length)); docs += c
        }
      } else { // chain: each member rewrites a fresh 2-word region of the previous
        var cur = base; docs += cur
        (1 until size).foreach { i =>
          cur = cur.clone()
          val at = (i * Words / size) - 2
          (0 until 2).foreach(j => cur(at + j) = vocab(r.nextInt(vocab.length)))
          docs += cur
        }
      }
      planted += (first until docs.length.toLong)
    }
    while (docs.length < Docs) {
      val d = fresh()
      if (r.nextInt(20) == 0) d.indices.filter(_ % 4 == 1).foreach(i => d(i) = german(r.nextInt(german.length)))
      docs += d
    }
    (docs.indices.map(i => (i.toLong, docs(i).mkString(" "))), planted.toSeq)
  }

  private def shingles(t: String): Set[String] = t.split(" ").sliding(3).map(_.mkString(" ")).toSet

  def setup(run: Run): Unit = {
    val (docs, planted) = corpus(run.seed)
    groups = planted
    val sh = docs.map { case (id, t) => id -> shingles(t) }.toMap
    expectedPairs = planted.flatMap { g =>
      for (a <- g; b <- g if a < b && {
        val (x, y) = (sh(a), sh(b))
        val inter = x.intersect(y).size
        inter.toDouble / (x.size + y.size - inter) >= Theta
      }) yield (a, b)
    }.toSet
    dir = new java.io.File(run.workDir, "curate_docs").getAbsolutePath
    val rows = docs.map { case (id, t) => Row(id, t) }
    run.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(run.nproc).write.mode("overwrite").parquet(dir)
    firstReport = None
  }

  private def pass(run: Run, s: Samples): Unit = {
    val df = run.spark.read.parquet(dir)
    run.tracer.op("curate.pass") {
      run.timed(s, read = true, "curate pass") {
        val report = run.tracer.span("text.curate") {
          val staged = Pipeline.taggedStaged(df, "text", "id", Pipeline.Config())
          try Pipeline.reportOf(staged.df).collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
          finally staged.release()
        }
        val pairsDf = TextOps.jaccardPairs(df, "text", "id", minJaccard = Theta).persist()
        try {
          val pairs = run.tracer.span("text.jaccard_pairs") {
            pairsDf.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          val comps = run.tracer.span("text.cc") {
            TextOps.connectedComponents(pairsDf).collect().map(r => (r.getLong(0), r.getLong(1)))
          }
          (report, pairs, comps)
        } finally pairsDf.unpersist()
      } { case (report, pairs, comps) =>
        val found = comps.groupBy(_._2).values.map(_.map(_._1).sorted.toSeq).toSet
        if (firstReport.exists(_ != report)) Some(s"report changed between passes: $report")
        else if (pairs.toSet != expectedPairs)
          Some(s"${pairs.length} near-dup pairs, expected ${expectedPairs.size}")
        else if (found != groups.map(_.sorted).toSet)
          Some(s"${found.size} components, expected the ${groups.size} planted groups")
        else None
      }.foreach { case (report, pairs, comps) =>
        if (firstReport.isEmpty) firstReport = Some(report)
        foundPlanted += pairs.count(expectedPairs.contains)
        plantedSeen += expectedPairs.size
        s.answered.addAndGet(Docs)
        passes += 1
        lastPairs = pairs.length
        lastComponents = comps.map(_._2).distinct.length
      }
      // the signature projection alone, outside the pass's latency
      if (run.tracer.tracing) run.tracer.span("functions.minhash_sig") {
        TextOps.signatures(df, "text", "id").write.format("noop").mode("overwrite").save()
      }
    }
  }

  def warm(run: Run): Unit = (0 until 3).foreach(_ => pass(run, new Samples))

  def timed(run: Run, s: Samples, seconds: Double, phase: String): Unit =
    run.closedLoop(1, seconds, phase)((_, _) => pass(run, s))

  def finish(run: Run, s: Samples): Unit = {
    // the share of planted near-duplicate pairs the LSH candidate stage found
    run.e2e("recall") = (foundPlanted.toDouble / math.max(1L, plantedSeen), "frac")
    run.e2e("docs_per_s") = (s.answered.get / s.wallS, "1/s")
    run.layer("text.dup_pairs") = (lastPairs.toDouble, "count")
    run.layer("text.components") = (lastComponents.toDouble, "count")
    run.info("passes") = passes
  }
}
