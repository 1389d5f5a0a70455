package graft.text

import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TextOpsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("rolling hash: deterministic, order-sensitive, mod-bounded") {
    val df = docs((1L, "abc"), (2L, "abc"), (3L, "acb"))
    val got = df.select(col("doc_id"), TextOps.rollingHash(col("text")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
    // h("abc") = ((97*31+98)*31+99) % P
    assert(got(1L) == ((97L * 31 + 98) * 31 + 99) % TextOps.HashMod)
    assert(got.values.forall(h => h >= 0 && h < TextOps.HashMod))
  }

  test("token count regex counts words and punctuation marks") {
    val df = docs((1L, "Hello, world! x2"))
    val n = df.select(TextOps.tokenCountRegex(col("text"))).head().getLong(0)
    assert(n == 5) // Hello , world ! x2
  }

  test("langId picks stopword-majority language; und when no hits") {
    val df = docs(
      (1L, "the cat sat on the mat and it is happy"),
      (2L, "der Hund ist nicht auf die Katze und das Haus"),
      (3L, "el perro es una casa y los gatos por que"),
      (4L, "xyzzy plugh qwerty"))
    val got = df.select(col("doc_id"), TextOps.langId(TextOps.tokens(col("text"))).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "en"); assert(got(2L) == "de")
    assert(got(3L) == "es"); assert(got(4L) == "und")
  }

  test("quality columns: ratios in [0,1], score in [0,1]") {
    val df = docs((1L, "The quick brown fox, it jumps over the lazy dog!"))
    val cols = TextOps.qualityColumns(col("text")).map { case (n, c) => c.as(n) }
    val r = df.select(cols: _*).head()
    val score = r.getAs[Double]("quality")
    assert(score > 0 && score <= 1.0)
    assert(r.getAs[Double]("stopword_ratio") > 0)
    assert(r.getAs[Double]("punct_ratio") > 0 && r.getAs[Double]("punct_ratio") < 0.1)
  }

  test("simhash: identical docs equal; near-identical docs close in hamming") {
    val base = "spark shuffle partition join aggregate filter scan window sort merge " * 5
    val df = docs((1L, base), (2L, base), (3L, base + " extra tail words here"),
      (4L, "completely different content about bananas apples oranges fruit"))
    val got = df.select(col("doc_id"), TextOps.simhash(TextOps.tokens(col("text"))).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(got(1L) == got(2L))
    assert(ham(got(1L), got(3L)) <= 6, s"near-dup hamming ${ham(got(1L), got(3L))}")
    assert(ham(got(1L), got(4L)) > ham(got(1L), got(3L)))
  }

  test("minhash LSH finds near-dup pair; jaccard quantifies; dedup drops it") {
    val base = (1 to 60).map(i => s"word$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"word$i").mkString(" ") + " tail other"
    val other = (100 to 160).map(i => s"tok$i").mkString(" ")
    val df = docs((1L, base), (2L, nearDup), (3L, other))
    val pairs = TextOps.jaccardPairs(df, "text", "doc_id").collect()
    assert(pairs.exists(r => r.getLong(0) == 1L && r.getLong(1) == 2L &&
      r.getAs[Double]("jaccard") > 0.7))
    assert(!pairs.exists(r => r.getLong(1) == 3L || r.getLong(0) == 3L))
    val kept = TextOps.dedupByMinhash(df, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(1L, 3L))
  }

  test("connectedComponents: chains collapse to min-id; fixpoint dedup keeps one per cluster") {
    import spark.implicits._
    // chain 1-2-3 (1~2, 2~3 but NOT 1~3 directly) + isolated pair 7-8
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val comps = TextOps.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comps(1L) == 1L && comps(2L) == 1L && comps(3L) == 1L)
    assert(comps(7L) == 7L && comps(8L) == 7L)

    // chained near-dup docs: a~b (high overlap), b~c (high overlap), a vs c lower
    val mid = (1 to 50).map(i => s"w$i").mkString(" ")
    val docA = (1 to 45).map(i => s"w$i").mkString(" ") + " xa ya za aa ba"
    val docC = (4 to 50).map(i => s"w$i").mkString(" ") + " xc yc zc"
    val other = (100 to 150).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, docA), (2L, mid), (3L, docC), (4L, other)).toDF("doc_id", "text")
    val kept = TextOps.dedupByMinhashConverged(df, "text", "doc_id", minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(1L, 4L), s"expected one rep per chain cluster, got $kept")
  }

  test("connectedComponents: driver union-find == distributed fixpoint loop") {
    import spark.implicits._
    // chains + cliques + isolated pair
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 10L),
      (20L, 22L), (21L, 22L), (20L, 21L)).toDF("id_a", "id_b")
    val local = graft.text.TextOps.connectedComponents(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val loop = graft.text.TextOps.connectedComponents(pairs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
      assert(local == loop, s"local $local vs loop $loop")
    } finally spark.conf.unset("spark.graft.localMaxBytes")
    assert(local == Seq((1L,1L),(2L,1L),(3L,1L),(4L,1L),(10L,10L),(11L,10L),
      (20L,20L),(21L,20L),(22L,20L)))
  }

  test("cosineExactPairs: bit-identical to the expression join, incl. near-threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.functions.{toFloatVec, array_cosine_similarity}
    val rnd = new scala.util.Random(3)
    val dim = 64
    val rows = (0L until 120L).map { i =>
      // clusters of 3 around 40 centers → plenty of pairs straddling 0.4
      val center = Array.fill(dim)(rnd.nextFloat() * 2 - 1)
      val v = center.map(c => c + rnd.nextFloat() * 0.6f - 0.3f)
      (i, v)
    }
    val df = rows.toDF("vec_id", "embedding")
    val fast = graft.text.TextOps.cosineExactPairs(df, "embedding", "vec_id", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val e = df.select(col("vec_id"), toFloatVec(col("embedding")).as("v"))
    val ref = e.select(col("vec_id").as("id_a"), col("v").as("va"))
      .join(broadcast(e.select(col("vec_id").as("id_b"), col("v").as("vb"))),
        col("id_a") < col("id_b"))
      .withColumn("sim", array_cosine_similarity(col("va"), col("vb")))
      .where(col("sim") >= 0.4)
      .select("id_a", "id_b", "sim").orderBy("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(fast.nonEmpty, "test data should produce pairs")
    assert(fast.toSeq == ref.toSeq,
      s"gemm path diverged: ${fast.length} vs ${ref.length} pairs")

    // force the tiled (i,j)-block route (input "larger" than the broadcast
    // threshold): must emit the identical rows, bit-exact sims included
    spark.conf.set("spark.graft.neardup.broadcastMaxBytes", "1")
    try {
      val tiled = graft.text.TextOps.cosineExactPairs(df, "embedding", "vec_id", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(tiled.toSeq == fast.toSeq,
        s"tiled route diverged: ${tiled.length} vs ${fast.length} pairs")

      // regression: FEW distinct ids → most blocks empty; a tile whose
      // partner block is empty must not re-emit the diagonal tile's pairs
      val tiny = Seq(
        (1L, Array.fill(dim)(1.0f).toSeq),
        (2L, Array.fill(dim)(1.0f).toSeq),
        (3L, Array.fill(dim)(-1.0f).toSeq)).toDF("vec_id", "embedding")
      val tinyPairs = graft.text.TextOps.cosineExactPairs(tiny, "embedding", "vec_id", 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(tinyPairs.toSeq == Seq((1L, 2L)),
        s"empty-partner tiles duplicated pairs: ${tinyPairs.toSeq}")
    } finally spark.conf.unset("spark.graft.neardup.broadcastMaxBytes")
  }

  test("signature shapes: NumHashes minhashes, NumBands bands") {
    val df = docs((1L, "one two three four five six seven"))
    val r = TextOps.signatures(df, "text", "doc_id").head()
    assert(r.getAs[scala.collection.Seq[Long]]("sig").length == TextOps.NumHashes)
    assert(r.getAs[scala.collection.Seq[Long]]("bands").length == TextOps.NumBands)
  }

  test("MinhashSig expression == array_min(transform) SQL formulation") {
    // the compiled one-pass kernel must be value-identical to the
    // independent Column formulation (the shape the DuckDB oracle macro
    // replays) — element by element, over varied real-ish docs including
    // the sub-k single-shingle case and repeated shingles
    val df = docs(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"),
      (3L, "a b"), // < k tokens: single whole-doc shingle
      (4L, "x y z x y z x y z"), // repeated shingles collapse to distinct
      (5L, "Zahlen und Fakten: 42 ist die Antwort auf alles sagt man"))
    val sh = TextOps.shingleHashes(TextOps.tokens(col("text")), 3)
    val viaAgg = df.select(col("doc_id"),
        TextOps.minhashSignature(sh).as("sig_agg"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    val viaExpr = TextOps.signatures(df, "text", "doc_id")
      .select(col("id"), col("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(viaExpr.keySet == viaAgg.keySet)
    for ((id, sig) <- viaExpr) assert(sig == viaAgg(id), s"doc $id")
  }

  test("ngramsCol: sliding n-grams; short docs yield empty (no desc sequence)") {
    val df = docs((1L, "a b c d e f"), (2L, "a b c"))
    val got = df.select(col("doc_id"),
        TextOps.ngramsCol(TextOps.tokens(col("text")), 5).as("ng"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(got(1L) == Seq("a b c d e", "b c d e f"))
    assert(got(2L) == Seq.empty)
  }

  test("Ngrams expression == HOF formulation; distinct keeps first occurrence") {
    val rnd = new scala.util.Random(7)
    val vocab = Array("aa", "bb", "cc", "dd")
    val rows = (1L to 60L).map(i =>
      (i, Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val df = docs(rows: _*)
    for (n <- Seq(1, 2, 3)) {
      val toks = TextOps.tokens(col("text"))
      val hof = when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => array_join(slice(toks, i + lit(1), lit(n)), " ")))
        .otherwise(array().cast("array<string>"))
      val both = df.select(TextOps.ngramsCol(toks, n).as("fast"), hof.as("ref"))
        .collect()
      both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"n=$n: ${r.getSeq[String](0)} != ${r.getSeq[String](1)}"))
      val dis = df.select(TextOps.ngramsDistinctCol(toks, n).as("d"), hof.as("ref"))
        .collect()
      dis.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1).distinct,
        s"n=$n distinct mismatch"))
      // fused text→ngrams expression == tokenize-then-ngram composition
      val fused = df.select(TextOps.ngramsOfTextCol(col("text"), n).as("f"),
          TextOps.ngramsDistinctCol(toks, n).as("ref")).collect()
      fused.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"n=$n fused mismatch"))
    }
    // unicode/punctuation edges through the fused scanner
    val edge = docs((1L, "Hello, WORLD-x2 ÜBER straße 中文abc DEF"), (2L, ""))
    val t2 = TextOps.tokens(col("text"))
    val both = edge.select(TextOps.ngramsOfTextCol(col("text"), 2).as("f"),
      TextOps.ngramsDistinctCol(t2, 2).as("ref")).collect()
    both.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("ngramDupPairs: shared spans found; df cap drops boilerplate n-grams") {
    val span = "w1 w2 w3 w4 w5 w6"               // two 5-grams when shared whole
    val boiler = "b1 b2 b3 b4 b5"                // in ALL docs → df=4 > dfMax=3
    val df = docs(
      (1L, s"$boiler unique1 $span"),
      (2L, s"$boiler unique2 $span"),
      (3L, s"$boiler unique3 other words entirely here now"),
      (4L, s"$boiler unique4 more filler tokens to pad out"))
    val pairs = TextOps.ngramDupPairs(df, "text", "doc_id",
        n = 5, minShared = 1, dfMax = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // only (1,2) share the span; the boilerplate 5-gram appears in 4 docs and
    // is excluded by the df cap, so no other pair survives
    assert(pairs.toSeq == Seq((1L, 2L, 2L)), pairs.toSeq.toString)
  }

  test("ngramBucketStats: cap audit separates kept / dropped / singleton buckets") {
    val span = "w1 w2 w3 w4 w5 w6"               // 2 distinct 5-grams, df=2
    val boiler = "b1 b2 b3 b4 b5"                // 1 five-gram in all 4 docs
    val df = docs(
      (1L, s"$boiler unique1 $span"),
      (2L, s"$boiler unique2 $span"),
      (3L, s"$boiler unique3 other words entirely here now"),
      (4L, s"$boiler unique4 more filler tokens to pad out"))
    val r = TextOps.ngramBucketStats(df, "text", n = 5, dfMax = 3).collect()(0)
    assert(r.getAs[Long]("max_df") == 4L)                       // the boiler gram
    assert(r.getAs[Long]("ngrams_dropped_over_cap") == 1L)      // df=4 > 3
    assert(r.getAs[Long]("ngrams_kept") == 2L)                  // the span's two
    assert(r.getAs[Long]("ngrams_total") ==
      r.getAs[Long]("ngrams_singleton") + r.getAs[Long]("ngrams_kept") +
      r.getAs[Long]("ngrams_dropped_over_cap"))
    // the audit explains a zero pair count: raising dfMax above max_df makes
    // the dropped bucket reappear in the kept class
    val r2 = TextOps.ngramBucketStats(df, "text", n = 5, dfMax = 4).collect()(0)
    assert(r2.getAs[Long]("ngrams_dropped_over_cap") == 0L)
    assert(r2.getAs[Long]("ngrams_kept") == 3L)
    // empty corpus: all counters zero, no NULLs
    val e = TextOps.ngramBucketStats(docs(), "text").collect()(0)
    assert(Seq("ngrams_total", "ngrams_singleton", "ngrams_kept",
      "ngrams_dropped_over_cap", "max_df").forall(c => e.getAs[Long](c) == 0L))
  }

  test("contaminationCounts: train docs sharing eval n-grams, counted once") {
    val span = "c1 c2 c3 c4 c5"
    val df = docs(
      (5L, s"$span eval doc body"),             // eval (id % 5 == 0)
      (10L, s"$span another eval body"),        // eval too — same span
      (1L, s"train doc with $span inside"),
      (2L, "train doc with nothing shared at all"))
    val got = TextOps.contaminationCounts(df, "text", "doc_id",
        id => id % 5 === 0, n = 5, dfMax = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // doc 1 shares exactly the one 5-gram; it appears in TWO eval docs but
    // counts once; doc 2 clean → omitted
    assert(got.toSeq == Seq((1L, 1L)), got.toSeq.toString)
  }

  test("ngram ops: driver-local and distributed routes agree row-for-row") {
    val rnd = new scala.util.Random(13)
    val vocab = (0 until 40).map(i => s"t$i")
    val span = "s1 s2 s3 s4 s5 s6 s7"
    val rows = (1L to 60L).map { i =>
      val base = Seq.fill(20)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      val text = if (i % 4 == 0) s"$base $span" else base
      (i, text)
    }
    val df = docs(rows: _*)
    def run(): (Set[(Long, Long, Long)], Set[(Long, Long)]) = {
      val p = TextOps.ngramDupPairs(df, "text", "doc_id", n = 5, minShared = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val c = TextOps.contaminationCounts(df, "text", "doc_id", id => id % 8 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (p, c)
    }
    val (pLocal, cLocal) = run()
    assert(pLocal.nonEmpty && cLocal.nonEmpty, "fixture produced no overlaps")
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val (pDist, cDist) = run()
      assert(pDist == pLocal, s"pair routes diverged: $pDist vs $pLocal")
      assert(cDist == cLocal, s"contamination routes diverged: $cDist vs $cLocal")
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("repetitionColumns: fractions match a naive n-gram recount") {
    val df = docs(
      (1L, "a b a b a b c"),           // heavy bigram repetition
      (2L, "all words here are fully distinct tokens now"),
      (3L, "x y x y x y x y x y x y"), // one dominant bigram
      (4L, "tiny"),                    // < n tokens → all fractions 0
      (5L, "p q r s t p q r s t p q r s t")) // repeated 5-grams
    val got = df.select(col("doc_id") +:
        TextOps.repetitionColumns(col("text")).map { case (n, c) => c.as(n) }: _*)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap

    def naive(text: String, n: Int): (Double, Double) = {
      val toks = "[a-z0-9]+".r.findAllIn(text.toLowerCase).toArray
      if (toks.length < n) return (0.0, 0.0)
      val grams = toks.sliding(n).map(_.mkString(" ")).toSeq
      val counts = grams.groupBy(identity).map { case (_, v) => v.size.toLong }
      val total = counts.sum.toDouble
      (counts.max.toDouble / total,
        counts.filter(_ > 1).sum.toDouble / total)
    }
    for ((id, text) <- Seq(1L -> "a b a b a b c",
        2L -> "all words here are fully distinct tokens now",
        3L -> "x y x y x y x y x y x y", 4L -> "tiny",
        5L -> "p q r s t p q r s t p q r s t")) {
      val (top2, dup2) = naive(text, 2)
      val (_, dup5) = naive(text, 5)
      assert(got(id) == ((top2, dup2, dup5)), s"doc $id")
    }
    // sanity on the signal: repetitive docs score high, distinct ones zero
    assert(got(3L)._1 > 0.4 && got(2L)._2 == 0.0 && got(5L)._3 > 0.5)
  }

  test("blocklistAntiJoin: exact vs plain anti-join, Bloom FPs removed") {
    import spark.implicits._
    // duplicate texts across ids so blocking one id's text removes others
    val rows = (0L until 300L).map(i => (i, s"doc text number ${i % 100}"))
    val df = rows.toDF("doc_id", "text")
    val block = df.where(col("doc_id") % 10 === 0).select("text")
    val got = TextOps.blocklistAntiJoin(df, "text", "doc_id", block, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = df.join(block, Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect)
    // aggressive fpp floods the candidate path with false positives; the
    // exact anti-join must still remove every one of them
    val gotHighFpp = TextOps.blocklistAntiJoin(df, "text", "doc_id", block,
      "text", fpp = 0.5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gotHighFpp == expect)
  }

  test("blocklistAntiJoin keeps rows with NULL text (anti-join semantics)") {
    import spark.implicits._
    val df = Seq((1L, "keep me"), (2L, "blocked"), (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val block = Seq(Tuple1("blocked")).toDF("text")
    val got = TextOps.blocklistAntiJoin(df, "text", "doc_id", block, "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val expect = df.join(block, Seq("text"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(expect == Set(1L, 3L), "plain anti-join keeps the NULL-text row")
    assert(got == expect)
  }

  test("sampleGate: exact arithmetic, deterministic, stratum rates apply") {
    import spark.implicits._
    val df = (0L until 1000L).toDF("id")
      .withColumn("lang", when(col("id") % 2 === 0, "en").otherwise("fr"))
    val rate = when(col("lang") === "en", 600).otherwise(250)
    val kept = df.where(TextOps.sampleGate(col("id"), rate))
      .collect().map(_.getLong(0)).toSet
    // exact replica of the gate in Scala
    val expect = (0L until 1000L).filter { id =>
      val g = ((id % TextOps.HashMod) * TextOps.SampleMult) % 1000L
      g < (if (id % 2 == 0) 600 else 250)
    }.toSet
    assert(kept == expect)
    // rates land near the targets (hash gate, not exact quota)
    val en = kept.count(_ % 2 == 0); val fr = kept.size - en
    assert(math.abs(en - 300) < 60 && math.abs(fr - 125) < 50, s"en=$en fr=$fr")
  }

  test("rareTerms: local and distributed routes agree term-for-term") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(): Seq[(Long, String, Long, Long, Long)] =
      TextOps.rareTerms(df, "text", "doc_id", 3)
        .orderBy("doc_id", "rnk")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4))).toSeq
    val local = run()
    assert(local.nonEmpty)
    spark.conf.set("spark.graft.localMaxBytes", "0")
    try {
      val dist = run()
      assert(local == dist, "size-gated driver route must be bit-identical " +
        "to the distributed broadcast-join/window plan")
    } finally spark.conf.unset("spark.graft.localMaxBytes")
  }

  test("TermCounts expression matches explode+groupBy token counting") {
    val df = docs((1L, "The the THE cat! cat dog-42 42"), (2L, ""), (3L, null.asInstanceOf[String]))
    val fused = df.select(col("doc_id"),
        explode(graft.functions.mkCol(graft.expressions.TermCounts(
          graft.functions.mkExpr(col("text"))))).as("tc"))
      .select(col("doc_id"), col("tc.term"), col("tc.term_freq"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val naive = df.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("doc_id", "term").count()
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(fused == naive)
    assert(fused((1L, "the", 3L)) && fused((1L, "42", 2L)))
  }

  test("gopherRules: signals and the pass conjunction") {
    val df = docs(
      (1L, ("the quick brown fox and jumps over lazy dogs daily " * 6).trim),
      (2L, "xy " * 60), // no stopwords, mean len 2 < 3 → fails
      (3L, ""))
    val got = TextOps.gopherRules(df, "text", "doc_id", minWords = 10L)
      .collect().map(r => r.getLong(0) ->
        (r.getAs[Long]("n_words"), r.getAs[Boolean]("passes"))).toMap
    assert(got(1L)._1 == 60 && got(1L)._2)
    assert(got(2L)._1 == 60 && !got(2L)._2)
    assert(got(3L)._1 == 0 && !got(3L)._2)
  }

  test("chunkDocuments: window/stride boundaries, final short chunk, empty doc") {
    val df = docs(
      (1L, (1 to 10).map(i => s"t$i").mkString(" ")), // 10 toks, 1 chunk
      (2L, (1 to 11).map(i => s"t$i").mkString(" ")), // 11 toks → 2 chunks
      (3L, (1 to 16).map(i => s"t$i").mkString(" ")), // 16 = 10 + 6 → exactly 2
      (4L, ""))
    val got = TextOps.chunkDocuments(df, "text", "doc_id", budget = 10, overlap = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val byDoc = got.groupBy(_._1)
    assert(byDoc(1L).map(c => (c._2, c._3, c._4)).toSeq == Seq((0L, 0L, 10L)))
    // stride 6: doc 2 chunks at 0 (10 toks) and 6 (5 toks)
    assert(byDoc(2L).sortBy(_._2).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 10L), (1L, 6L, 5L)))
    assert(byDoc(2L).sortBy(_._2).last._5 == "t7 t8 t9 t10 t11")
    assert(byDoc(3L).sortBy(_._2).map(c => (c._2, c._3, c._4)).toSeq ==
      Seq((0L, 0L, 10L), (1L, 6L, 10L)))
    assert(!byDoc.contains(4L))
    // overlap: chunk 1 of doc 2 re-reads tokens 7-10
    assert(byDoc(2L).sortBy(_._2).head._5.endsWith("t10"))
  }

  test("ChunkSpans kernel ≡ transform∘sequence∘array_join∘slice formulation") {
    // the compiled kernel replaced the interpreted HOF chain (r19 opt);
    // pin value-identity of every struct field across boundary shapes:
    // empty, single token, exact-budget, one-over, punctuation/unicode
    val texts = Seq("", "one", (1 to 40).map(i => s"w$i").mkString(" "),
      (1 to 41).map(i => s"w$i").mkString(" "),
      (1 to 97).map(i => s"w$i").mkString(", ") + "!!",
      "Mixed CASE Tokens 123 foo-bar baz_qux",
      "Übergröße straße ÄÖÜ 42 naïve")
    val df = docs(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }: _*)
    val (budget, overlap) = (10, 4)
    val kernel = TextOps.chunkDocuments(df, "text", "doc_id", budget, overlap)
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    // the pre-r19 Column formulation, verbatim
    val stride = budget - overlap
    val toks = TextOps.tokens(col("text"))
    val n = size(toks).cast("long")
    val nChunks = when(n <= budget, lit(1L))
      .otherwise(lit(1L) + ((n - budget + (stride - 1)) / stride).cast("long"))
    val chunks = transform(sequence(lit(0L), nChunks - 1), i => {
      val start = i * stride
      val len = least(lit(budget.toLong), n - start)
      struct(i.as("chunk_idx"), start.as("tok_start"), len.as("n_tok"),
        array_join(slice(toks, (start + 1).cast("int"),
          len.cast("int")), " ").as("chunk_text"))
    })
    val legacy = df.select(col("doc_id"), explode(chunks).as("__c"))
      .where(col("__c.n_tok") > 0)
      .select(col("doc_id"), col("__c.chunk_idx"), col("__c.tok_start"),
        col("__c.n_tok"), col("__c.chunk_text"))
      .orderBy("doc_id", "chunk_idx").collect().toSeq
    assert(kernel == legacy)
  }

  test("dsirWeights: absent buckets ratio 1.0; eval/raw counts drive the score") {
    // dim=4 so buckets are dense and hand-checkable via recomputation
    val df = docs(
      (0L, "alpha beta gamma delta"),  // eval (id%5==0)
      (1L, "alpha beta epsilon zeta"), // raw
      (2L, "x"))                        // 1 token → no bigrams
    val got = TextOps.dsirWeights(df, "text", "doc_id", id => id % 5 === 0, dim = 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(2L) == ((0L, 0.0)))
    // recompute expected from the op's own hash (independent fold here)
    def bucket(g: String): Long =
      graft.expressions.TextHash.rollingHashString(g) % 4
    val evalFeats = Seq("alpha beta", "beta gamma", "gamma delta").map(bucket)
    val rawFeats = Seq("alpha beta", "beta epsilon", "epsilon zeta").map(bucket)
    val tc = evalFeats.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val rc = rawFeats.groupBy(identity).view.mapValues(_.size.toLong).toMap
    def ratio(b: Long): Double =
      (tc.getOrElse(b, 0L) + 1L).toDouble / (rc.getOrElse(b, 0L) + 1L).toDouble
    val exp0 = evalFeats.foldLeft(0.0)((a, b) => a + ratio(b))
    val exp1 = rawFeats.foldLeft(0.0)((a, b) => a + ratio(b))
    assert(got(0L) == ((3L, exp0)))
    assert(got(1L) == ((3L, exp1)))
  }

  test("dedupLines: first occurrence survives, later instances drop") {
    // doc 1: "a b c" twice (within-doc dup) + unique tail;
    // doc 2 repeats doc 1's line → all instances beyond the first drop
    val df = docs(
      (1L, "a b c a b c x y z"),
      (2L, "a b c q r s"))
    val got = TextOps.dedupLines(df, "text", "doc_id", 3)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got(0) == ((1L, 3L, 2L, "a b c x y z")),
      s"doc1 got ${got(0)}")
    assert(got(1) == ((2L, 2L, 1L, "q r s")), s"doc2 got ${got(1)}")
    // partial trailing line + empty doc
    val df2 = docs((1L, "a b c d"), (2L, ""))
    val got2 = TextOps.dedupLines(df2, "text", "doc_id", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(got2.toSeq == Seq((1L, 2L, 2L, "a b c d")), s"got ${got2.toSeq}")
  }

  test("decontaminateFilter drops exactly the contaminated train docs") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import org.apache.spark.sql.Column
    val pred = (id: Column) => id % 5 === 0
    val contaminated = TextOps.contaminationCounts(df, "text", "doc_id", pred)
      .collect().map(_.getLong(0)).toSet
    val survivors = TextOps.decontaminateFilter(df, "text", "doc_id", pred)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val train = df.where(col("doc_id") % 5 =!= 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(contaminated.nonEmpty && survivors == train -- contaminated)
  }

  test("WordLines expression == interpreted transform/slice formulation") {
    val df = docs((1L, "The quick brown-fox jumps over 42 lazy dogs today ok"),
      (2L, "one two three"), (3L, "solo"), (4L, ""), (5L, null.asInstanceOf[String]))
    val k = 3
    val toks = TextOps.tokens(col("text"))
    val hof = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ((size(toks) + lit(k - 1)) / lit(k)).cast("int") - 1),
        i => array_join(slice(toks, i * k + 1, lit(k)), " ")))
    val rows = df.select(col("doc_id"),
        TextOps.wordLines(col("text"), k).as("fused"), hof.as("ref"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2),
        s"doc ${r.getLong(0)}: ${r.getSeq[String](1)} != ${r.getSeq[String](2)}")
    }
  }

  test("packSequences: greedy fill, overflow starts new sequence, oversize isolated") {
    import spark.implicits._
    // group g: 3+3 fit in budget 7, next 3 overflows; 9-token doc is oversize
    val df = Seq(
      ("g", 1L, "a b c"), ("g", 2L, "d e f"), ("g", 3L, "g h i"),
      ("g", 4L, "one two three four five six seven eight nine"),
      ("g", 5L, "x y"),
      ("h", 9L, "p q r")).toDF("lang", "doc_id", "text")
    val got = TextOps.packSequences(df, "text", "doc_id", "lang", 7L)
      .orderBy("lang", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      ("g", 1L, 3L, 0L, 0L),  // seq 0: docs 1+2 (6 of 7)
      ("g", 2L, 3L, 0L, 3L),
      ("g", 3L, 3L, 1L, 0L),  // overflow -> seq 1
      ("g", 4L, 9L, 2L, 0L),  // oversize: own sequence
      ("g", 5L, 2L, 3L, 0L),  // after oversize, running=9 > 7 -> new seq
      ("h", 9L, 3L, 0L, 0L)), // fresh group restarts at seq 0
      s"got $got")

    // invariants on real data across partition layouts
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    def run(parts: Int) = TextOps.packSequences(
        docs.repartition(parts), "text", "doc_id", "lang", 256L)
      .orderBy("lang", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    val a = run(1); val b = run(7)
    assert(a == b, "packing must not depend on input partitioning")
    // every non-oversize sequence respects the budget
    a.groupBy(x => (x._1, x._4)).foreach { case ((g, sid), rows) =>
      val total = rows.map(_._3).sum
      assert(total <= 256L || rows.length == 1,
        s"sequence ($g, $sid) holds $total tokens across ${rows.length} docs")
    }
  }

  test("hashedTf: sparse == naive hash-mod recount; dense form consistent") {
    val df = docs((1L, "The cat and the Cat sat"), (2L, ""), (3L, null.asInstanceOf[String]))
    val dim = 8
    val sparse = df.select(col("doc_id"),
        TextOps.hashedTf(col("text"), dim).as("h")).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    // naive recount for doc 1
    val toks = "[a-z0-9]+".r.findAllIn("The cat and the Cat sat".toLowerCase).toSeq
    val expect = toks.groupBy(t =>
        graft.expressions.TextHash.rollingHashString(t) % dim)
      .view.mapValues(_.size.toLong).toMap
    val got1 = sparse(1L).map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got1 == expect)
    assert(sparse(1L).map(_.getLong(0)).toSeq ==
      sparse(1L).map(_.getLong(0)).toSeq.sorted, "buckets ascending")
    assert(sparse(2L).isEmpty)
    assert(sparse.get(3L).forall(_ == null) || !sparse.contains(3L))

    val dense = df.where(col("doc_id") === 1L)
      .select(TextOps.hashedTfDense(col("text"), dim)).head().getSeq[Long](0)
    assert(dense.length == dim && dense.sum == toks.length)
    expect.foreach { case (b, c) => assert(dense(b.toInt) == c) }
  }

  test("fused kernels agree with HOF formulations on unicode text") {
    // unicode uppercase (lowered to non-ascii), CJK, emoji, combining marks
    val uni = "\u00c9clair CAF\u00c9 42 \u4e2d\u6587 \ud83d\ude00 na\u00efve ZEBRA zebra"
    val df = docs((1L, uni))
    val toks = TextOps.tokens(col("text"))
    // TermCounts vs explode+groupBy
    val fusedTc = df.select(explode(TextOps.termCountsCol(col("text"))).as("tc"))
      .select(col("tc.term"), col("tc.term_freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val naiveTc = df.select(explode(toks).as("t")).groupBy("t").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(fusedTc == naiveTc)
    // WordLines vs transform/slice
    val k = 2
    val hof = when(size(toks) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ((size(toks) + lit(k - 1)) / lit(k)).cast("int") - 1),
        i => array_join(slice(toks, i * k + 1, lit(k)), " ")))
    val r = df.select(TextOps.wordLines(col("text"), k).as("f"), hof.as("h")).head()
    assert(r.getSeq[String](0) == r.getSeq[String](1))
  }

  test("packSequences: NULL text counts 0 tokens, NULL ids drop, NULL group packs alone") {
    import spark.implicits._
    val df = Seq(
      (java.lang.Long.valueOf(1L), "g", "a b c"),
      (java.lang.Long.valueOf(2L), "g", null.asInstanceOf[String]),  // 0 tokens
      (java.lang.Long.valueOf(3L), "g", "d e"),
      (null.asInstanceOf[java.lang.Long], "g", "x y"),               // no id: dropped
      (java.lang.Long.valueOf(7L), null.asInstanceOf[String],
        "one two three four five six seven eight"))                  // null group, oversize
    .toDF("doc_id", "lang", "text")
    val got = TextOps.packSequences(df, "text", "doc_id", "lang", 7L)
      .orderBy("doc_id")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    assert(got == Seq(
      (Some("g"), 1L, 3L, 0L, 0L),
      (Some("g"), 2L, 0L, 0L, 3L),  // zero-token doc occupies no budget
      (Some("g"), 3L, 2L, 0L, 3L),
      (None, 7L, 8L, 0L, 0L)),      // NULL group's oversize first doc is seq 0
      s"got $got")
  }

  test("sessionizeBatch: NULL ts drops, NULL user sessionizes as its own group") {
    import spark.implicits._
    val df = Seq(
      (java.lang.Long.valueOf(1L), java.lang.Long.valueOf(1000L), 1L),
      (java.lang.Long.valueOf(1L), null.asInstanceOf[java.lang.Long], 2L),
      (null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(5000L), 3L))
      .toDF("user_id", "tus", "event_id")
    val got = graft.streaming.Sessionize
      .sessionizeBatch(df, "user_id", "tus", "event_id", 100L)
      .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
        r.getLong(1), r.getLong(4)))
      .sortBy(t => t._1.getOrElse(Long.MaxValue)).toSeq
    assert(got == Seq((Some(1L), 1L, 1L), (None, 1L, 1L)))
  }

  test("scanBoundedSizeEstimate: anti-join chains bounded by leaves, joins/rollups not") {
    import spark.implicits._
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val raw = TextOps.scanBoundedSizeEstimate(base)
    // an anti-join filter chain can only SHRINK the left side, whatever the
    // drop-set subtree looks like — the estimate must not exceed the base
    val dropSet = base.where(col("doc_id") % 3 === 0)
      .join(base.where(col("doc_id") % 5 === 0), Seq("doc_id"))
      .select(col("doc_id").as("__d"))
    val filtered = base.join(dropSet, col("doc_id") === col("__d"), "left_anti")
    assert(TextOps.scanBoundedSizeEstimate(filtered) <= raw * 2,
      "anti-join chain must stay leaf-bounded (catalyst join stats multiply)")
    // an inner join CAN expand: the estimate must keep catalyst's number,
    // which for a self-join is far above the single-scan size
    val joined = base.join(base.withColumnRenamed("doc_id", "d2"),
      col("doc_id") <= col("d2"))
    assert(TextOps.scanBoundedSizeEstimate(joined) > raw * 10,
      "expanding joins must not be capped by leaf sizes")
  }

  test("dedupByMinhashKeepBest keeps the highest-scoring cluster member") {
    import spark.implicits._
    // 1~2~3 form a near-dup chain; 4 is unrelated. Scores favor doc 2.
    val mid = (1 to 50).map(i => s"w$i").mkString(" ")
    val docA = (1 to 45).map(i => s"w$i").mkString(" ") + " xa ya za aa ba"
    val docC = (4 to 50).map(i => s"w$i").mkString(" ") + " xc yc zc"
    val other = (100 to 150).map(i => s"q$i").mkString(" ")
    val df = Seq((1L, docA, 0.2), (2L, mid, 0.9), (3L, docC, 0.5),
      (4L, other, 0.1)).toDF("doc_id", "text", "score")
    val kept = TextOps.dedupByMinhashKeepBest(df, "text", "doc_id",
        col("score"), minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L), s"expected best-of-cluster, got $kept")
    // score ties fall back to min id
    val tied = Seq((1L, docA, 0.5), (2L, mid, 0.5), (3L, docC, 0.5),
      (4L, other, 0.5)).toDF("doc_id", "text", "score")
    val keptTied = TextOps.dedupByMinhashKeepBest(tied, "text", "doc_id",
        col("score"), minJaccard = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(keptTied == Seq(1L, 4L), s"tie must keep min id, got $keptTied")
  }

  test("operators handle an EMPTY corpus without exceptions") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(TextOps.rareTerms(empty, "text", "doc_id", 3).count() == 0)
    assert(TextOps.dedupLines(empty, "text", "doc_id", 3).count() == 0)
    assert(TextOps.packSequences(empty, "text", "doc_id", "text", 10L).count() == 0)
    assert(TextOps.dedupByMinhash(empty, "text", "doc_id").count() == 0)
    assert(TextOps.contaminationCounts(empty, "text", "doc_id",
      id => id % 2 === 0).count() == 0)
    val block = Seq(Tuple1("bad")).toDF("text")
    assert(TextOps.blocklistAntiJoin(empty, "text", "doc_id", block, "text")
      .count() == 0)
    // and a non-empty corpus against an EMPTY blocklist passes through
    val docs2 = Seq((1L, "hello"), (2L, "world")).toDF("doc_id", "text")
    val emptyBlock = Seq.empty[Tuple1[String]].toDF("text")
    assert(TextOps.blocklistAntiJoin(docs2, "text", "doc_id", emptyBlock, "text")
      .count() == 2)
    val rep = Curate.report(empty, "text", "doc_id", Curate.Config())
      .collect()
    assert(rep.isEmpty || rep.forall(_.getLong(1) == 0L))
  }

  test("simhashPairs matches brute-force hamming pairs (one-agg shape)") {
    // Corpus engineered to exercise every route of the restructured
    // simhashPairs: an identical-text group (intra hamming-0 pairs), a
    // near-dup family with small hamming (inter pairs that match on
    // SEVERAL pigeonhole blocks — the first-match join predicate must
    // dedup them exactly as the old distinct() did), and unrelated docs.
    val base = "spark shuffle partition join aggregate filter scan " * 4
    val rows = Seq(
      1L -> base, 2L -> base, 3L -> base, // identical group
      4L -> (base + " probe" * 4), // hamming 1 vs base
      5L -> (base + " codegen" * 4), // hamming 2 vs base
      6L -> (base + " graph" * 6), // hamming 4 vs base
      7L -> (base + " extra" * 6), // hamming 6 vs base
      8L -> "completely different content about bananas apples oranges",
      9L -> "another unrelated doc mentioning kernels and codegen")
    val df = docs(rows: _*)
    for (maxH <- Seq(2, 6)) {
      val got = TextOps.simhashPairs(df, "text", "doc_id", maxHamming = maxH)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sorted.toSeq
      // brute force over the same simhash column
      val sh = df.select(col("doc_id"),
          TextOps.simhash(TextOps.tokens(col("text"))).as("s"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = (for {
        a <- rows.map(_._1); b <- rows.map(_._1) if a < b
        h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= maxH
      } yield (a, b, h.toLong)).sorted
      assert(got == want, s"maxHamming=$maxH: got $got, want $want")
      // multi-block matches must exist for the dedup to be exercised
      if (maxH == 6)
        assert(want.exists(p => p._3 > 0), "fixture lost its inter pairs")
    }
    // null texts are droppable by contract (the oracle's WHERE
    // bit_count(...) never passes NULL): no pairs involve a null-text doc
    val withNulls = docs(1L -> base, 2L -> base, 3L -> null, 4L -> null)
    val gotN = TextOps.simhashPairs(withNulls, "text", "doc_id", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(gotN == Seq((1L, 2L)), s"null-text docs must not pair: $gotN")
  }
}
