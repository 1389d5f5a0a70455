package perfbench

/**
 * The benchmark's own tests, runnable without a Spark session:
 *
 *   python3 perfbench/run.py --self-test
 *
 * Exits non-zero when a check fails.
 */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: Boolean): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    corpusDeterminism()
    percentileRule()
    selfTime()
    if (failures > 0) { println(s"$failures check(s) failed"); sys.exit(1) }
    println("all checks passed")
  }

  private def corpusDeterminism(): Unit = {
    def vecs(seed: Long) = Corpus.hash(new Corpus.Clustered(seed, 128, 64).points(2000, 10))
    check("same seed gives the same vector corpus")(vecs(7) == vecs(7))
    check("another seed gives another vector corpus")(vecs(7) != vecs(8))
    val curate = new Curate
    def docs(seed: Long) = Corpus.hashText(curate.corpus(seed)._1)
    check("same seed gives the same text corpus")(docs(7) == docs(7))
    check("another seed gives another text corpus")(docs(7) != docs(8))
    val (_, groups) = curate.corpus(7)
    check("planted groups are disjoint and of size 2 to 4")(
      groups.flatten.distinct.size == groups.flatten.size && groups.forall(g => g.size >= 2 && g.size <= 4))
  }

  private def percentileRule(): Unit = {
    val xs = (1 to 99).map(_.toDouble)
    check("p90 of 99 samples is withheld (9 beyond it)")(Stats.percentile(xs, 0.90).isEmpty)
    val ys = (1 to 100).map(_.toDouble)
    check("p90 of 100 samples is reported (10 beyond it)")(Stats.percentile(ys, 0.90).contains(90.0))
    check("p99 of 1000 samples is reported")(Stats.percentile((1 to 1000).map(_.toDouble), 0.99).contains(990.0))
    check("p99 of 999 samples is withheld")(Stats.percentile((1 to 999).map(_.toDouble), 0.99).isEmpty)
    check("p50 of 19 samples is withheld")(Stats.percentile((1 to 19).map(_.toDouble), 0.5).isEmpty)
    check("median of an even count averages the middle pair")(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }

  private def selfTime(): Unit = {
    // root 0..100 with children 10..40 and 30..60 (overlapping: cover 10..60)
    // and 90..120 (clipped to 90..100); grandchild 15..20 under the first
    val spans = Seq(
      Span(1, "root", 0, 1, 0, 100),
      Span(2, "a", 1, 1, 10, 40),
      Span(3, "b", 1, 1, 30, 60),
      Span(4, "c", 1, 1, 90, 120),
      Span(5, "a.x", 2, 1, 15, 20))
    val self = Tracer.selfTimes(spans)
    check("root self time excludes the union of its children")(self(1) == 100 - 50 - 10)
    check("a child's self time excludes its own child")(self(2) == 30 - 5)
    check("a leaf's self time is its duration")(self(3) == 30 && self(5) == 5)
    val agg = Tracer.aggregate(spans)
    check("aggregate sums durations and self times by name")(
      agg("a").total == 30 && agg("a").self == 25 && agg("root").count == 1)
    val t = new Tracer(true)
    t.span("setup")(())
    val flags = (1 to 4).map(_ => t.op("op") { t.span("inner") { Thread.sleep(2) }; t.tracing })
    val rec = t.recorded
    check("every other operation is traced")(flags == Seq(false, true, false, true))
    check("spans outside operations are recorded")(rec.count(_.name == "setup") == 1)
    check("only traced operations record spans")(rec.count(_.name == "op") == 2 && rec.count(_.name == "inner") == 2)
    val op = rec.filter(_.name == "op").head
    val inner = rec.filter(_.name == "inner").find(_.parent == op.id)
    check("a recorded span's parent is the span open around it")(inner.nonEmpty && op.parent == 0)
    check("spans of one operation share its id")(inner.exists(_.op == op.op) && op.op > 0)
    check("a disabled tracer records nothing")({ val d = new Tracer(false); d.op("x")(d.span("y")(1)); d.recorded.isEmpty })
  }
}
