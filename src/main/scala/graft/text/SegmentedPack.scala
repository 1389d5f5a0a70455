package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Segmented (multi-task) greedy sequence packing — the de-skewed engine
 * behind [[TextOps.packSequences]]. The per-group scan is inherently
 * sequential in id order, but "group" must NOT be the parallelism unit: a
 * corpus where one group holds 95% of 100 TB would otherwise scan that
 * group on a single task. This implementation keeps the exact bit-for-bit
 * semantics of the serial scan while spreading every group across range
 * partitions.
 *
 * Key identity: within a group, the greedy scan absorbs documents into the
 * open sequence while `P_d <= P_{s-1} + budget` (P = token prefix sums in
 * id order, s = the sequence's first doc); a doc with `n > budget` forms a
 * singleton whose successor always breaks. So every break position is a
 * function of the prefix sums and ONE incoming scalar per range boundary —
 * beta, the global token base `P_{s-1}` of the open sequence — and the
 * first in-range break for any beta is a binary search over the range's
 * prefix sums.
 *
 * Plan (all passes parallel; the range shuffle is computed once and its
 * map stage is reused by every subsequent job because the passes share one
 * RDD lineage):
 *   1. range-partition by (group, id) and, per partition, per group-run,
 *      emit tiny first/last-run summaries: doc count, token sum, and the
 *      cold (beta = fresh) scan's sequence count + last-start token base;
 *   2. the driver chains group-runs across partition boundaries; for each
 *      partition that CONTINUES a group it fetches that run's "head
 *      window" — prefix-sum candidates within `budget` tokens of the run
 *      start, each with its memoized orbit summary (#starts to run end,
 *      last-start base) — and composes beta across partitions with one
 *      binary search per boundary (O(#partitions) driver work);
 *   3. a final pass emits per-doc rows: docs before the composed entry
 *      point join the incoming open sequence (offset = localP - beta);
 *      from the entry point a plain cold scan runs with the composed
 *      sequence-id base.
 *
 * Memory: pass 2 materializes prefix arrays only for partitions that
 * continue a group (bounded by the partition's own row count, same order
 * as the sort buffer the scan already pays); windows are <= budget entries
 * each and fetched only for continuation partitions.
 */
private[text] object SegmentedPack {

  /** Largest token budget this engine composes (16M tokens): composing
   *  collects up to one head-window entry per budget token per boundary. */
  val MaxComposeBudget: Long = 16L * 1024 * 1024

  /** One group-run summary (first and/or last run of a partition). */
  private case class RunSum(part: Int, gNull: Boolean, g: String,
      isFirst: Boolean, isLast: Boolean, docs: Long, tokens: Long,
      coldCnt: Long, coldBeta: Long)

  /** Driver-composed plan for a partition whose FIRST run continues a
   *  group: docs before `entry` join the open sequence (`seqBase - 1`,
   *  offsets `localP - betaLocal`); from `entry` a cold scan starts at
   *  `seqBase`. `entry == -1` means the whole run joins the open sequence. */
  private case class ContPlan(entry: Long, seqBase: Long, betaLocal: Long)

  private def groupKey(gNull: Boolean, g: String): (Boolean, String) =
    (gNull, if (gNull) "" else g)

  def pack(counted: Dataset[(String, Long, Long)], budget: Long,
      groupCol: String, idCol: String): DataFrame = {
    val spark = counted.sparkSession
    import spark.implicits._
    val numParts = spark.sessionState.conf.numShufflePartitions
    // persist the tiny (group, id, n) rows: the range partitioner's sampling
    // job would otherwise re-run tokenization for every row a second time
    // when the shuffle map stage executes. Released right after the shuffle
    // is written (pass 1); later passes reuse the shuffle files.
    val cached = counted.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranged = cached.toDF("g", "id", "n")
      .repartitionByRange(numParts, col("g").asc_nulls_first, col("id"))
      .sortWithinPartitions(col("g").asc_nulls_first, col("id"))
      .as[(String, Long, Long)]
    // ONE fixed RDD lineage: jobs 1/2/3 below all hang off this instance,
    // so the range shuffle's map stage executes once and is reused
    val rdd: RDD[(String, Long, Long)] = ranged.rdd

    // ---- pass 1: first/last group-run summaries per partition ----------
    val sums: Array[RunSum] = rdd.mapPartitionsWithIndex { (p, it0) =>
      val it = it0.buffered
      if (!it.hasNext) Iterator.empty
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[RunSum]
        var runIdx = 0
        var firstSum: RunSum = null
        var lastSum: RunSum = null
        while (it.hasNext) {
          val g = it.head._1
          var docs = 0L; var tokens = 0L
          var cnt = 0L; var lastBeta = 0L; var running = 0L; var started = false
          while (it.hasNext && java.util.Objects.equals(it.head._1, g)) {
            val n = it.next()._3
            docs += 1L
            if (!started) { started = true; cnt = 1L; lastBeta = 0L; running = n }
            else if (running + n > budget) { cnt += 1L; lastBeta = tokens; running = n }
            else running += n
            tokens += n
          }
          val s = RunSum(p, g == null, if (g == null) "" else g,
            isFirst = runIdx == 0, isLast = !it.hasNext, docs, tokens, cnt, lastBeta)
          if (runIdx == 0) firstSum = s
          lastSum = s
          runIdx += 1
        }
        if (firstSum eq lastSum) Iterator(firstSum.copy(isLast = true))
        else Iterator(firstSum, lastSum.copy(isFirst = false))
      }
    }.collect()
    cached.unpersist(blocking = false) // shuffle files now carry passes 2/3

    // ---- driver: find groups that cross partition boundaries ----------
    // adjacency skips empty partitions (range partitioning can leave holes)
    val byPart = sums.groupBy(_.part)
    val partsWithData = byPart.keys.toArray.sorted
    // partitions whose first run continues the previous non-empty
    // partition's last run
    val continuations = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 1
    while (i < partsWithData.length) {
      val prev = partsWithData(i - 1); val cur = partsWithData(i)
      val prevLast = byPart(prev).find(_.isLast).get
      val curFirst = byPart(cur).find(_.isFirst).get
      if (groupKey(prevLast.gNull, prevLast.g) == groupKey(curFirst.gNull, curFirst.g))
        continuations += ((prev, cur))
      i += 1
    }
    val contParts: Set[Int] = continuations.map(_._2).toSet

    // ---- pass 2 (only when groups cross): head windows for the first
    // run of each continuation partition ----------------------------------
    // window entry: (P_d, ordinal d, orbit #starts from d to run end,
    // orbit last-start local base). P_d is strictly increasing over
    // entries (zero-token docs can never be the first doc past a cut).
    val windows: Map[Int, Array[(Long, Long, Long, Long)]] =
      if (contParts.isEmpty) Map.empty
      else {
        val need = contParts
        rdd.mapPartitionsWithIndex { (p, it) =>
          if (!need.contains(p) || !it.hasNext) Iterator.empty
          else {
            // materialize the FIRST run only
            val buf = scala.collection.mutable.ArrayBuffer.empty[Long] // n_d
            var g0: String = null; var first = true
            var done = false
            while (!done && it.hasNext) {
              val (g, _, n) = it.next()
              if (first) { g0 = g; first = false }
              if (java.util.Objects.equals(g, g0)) buf += n else done = true
            }
            val len = buf.length
            val pSum = new Array[Long](len + 1) // pSum(d+1) = P_d
            var d = 0
            while (d < len) { pSum(d + 1) = pSum(d) + buf(d); d += 1 }
            // next(d): first sequence start strictly after d when a
            // sequence starts AT d. Oversize doc => singleton => d+1;
            // else largest j with P_j <= P_{d-1} + budget, start = j+1.
            def nxt(d0: Int): Int =
              if (buf(d0) > budget) d0 + 1
              else {
                val cap = pSum(d0) + budget
                var lo = d0; var hi = len - 1; var ans = d0
                while (lo <= hi) {
                  val mid = (lo + hi) >>> 1
                  if (pSum(mid + 1) <= cap) { ans = mid; lo = mid + 1 }
                  else hi = mid - 1
                }
                ans + 1
              }
            // orbit memo: d -> (#starts in [d, len), last start's P_{s-1})
            val memoCnt = new java.util.HashMap[Integer, Long]()
            val memoBeta = new java.util.HashMap[Integer, Long]()
            def orbit(d0: Int): (Long, Long) = {
              var path = List.empty[Int]
              var cur = d0
              while (cur < len && !memoCnt.containsKey(cur)) {
                path = cur :: path
                cur = nxt(cur)
              }
              var cnt = if (cur >= len) 0L else memoCnt.get(cur)
              var beta = if (cur >= len) 0L else memoBeta.get(cur)
              var tailEmpty = cur >= len
              path.foreach { d1 =>
                cnt += 1L
                if (tailEmpty) { beta = pSum(d1); tailEmpty = false }
                memoCnt.put(d1, cnt); memoBeta.put(d1, beta)
              }
              (memoCnt.get(d0), memoBeta.get(d0))
            }
            val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
            d = 0
            while (d < len && pSum(d) <= budget) {
              if (buf(d) > 0L) {
                val (c, b) = orbit(d)
                out += ((pSum(d + 1), d.toLong, c, b))
              }
              d += 1
            }
            Iterator((p, out.toArray))
          }
        }.collect().toMap
      }

    // ---- driver: compose beta across each crossing group's chain -------
    val plans = scala.collection.mutable.HashMap.empty[Int, ContPlan]
    // walk chains: a chain starts at a partition whose last run is
    // continued by the next data partition and which is NOT itself a
    // continuation of the same group
    val contFrom = continuations.map(_._1).toSet
    partsWithData.foreach { p0 =>
      val last = byPart(p0).find(_.isLast).get
      val isChainStart = contFrom.contains(p0) &&
        !(contParts.contains(p0) && {
          val f = byPart(p0).find(_.isFirst).get
          groupKey(f.gNull, f.g) == groupKey(last.gNull, last.g)
        })
      if (isChainStart) {
        var seqBase = last.coldCnt
        var betaG = last.coldBeta // global: chain base of p0's run is 0
        var base = last.tokens
        var idx = partsWithData.indexOf(p0) + 1
        var going = true
        while (going && idx < partsWithData.length) {
          val pi = partsWithData(idx)
          val firstRun = byPart(pi).find(_.isFirst).get
          if (!contParts.contains(pi) ||
              groupKey(firstRun.gNull, firstRun.g) != groupKey(last.gNull, last.g)) {
            going = false
          } else {
            val cut = betaG + budget - base
            val (entry, cnt, betaL) =
              if (cut < 0L) (0L, firstRun.coldCnt, firstRun.coldBeta)
              else {
                val w = windows(pi)
                // first window entry with P_d > cut
                var lo = 0; var hi = w.length - 1; var ans = -1
                while (lo <= hi) {
                  val mid = (lo + hi) >>> 1
                  if (w(mid)._1 > cut) { ans = mid; hi = mid - 1 } else lo = mid + 1
                }
                if (ans < 0) (-1L, 0L, 0L) // whole run joins the open sequence
                else (w(ans)._2, w(ans)._3, w(ans)._4)
              }
            plans(pi) = ContPlan(entry, seqBase, betaG - base)
            if (entry >= 0L) { seqBase += cnt; betaG = base + betaL }
            base += firstRun.tokens
            // chain continues only if pi's first run is also its last
            going = firstRun.isLast
            idx += 1
          }
        }
      }
    }

    // ---- pass 3: emit per-doc rows --------------------------------------
    val bPlans = spark.sparkContext.broadcast(plans.toMap)
    val outRdd: RDD[Row] = rdd.mapPartitionsWithIndex { (p, it0) =>
      val plan = bPlans.value.get(p)
      val it = it0.buffered
      new Iterator[Row] {
        var runIdx = 0
        var inRun = false
        var g: String = null
        var ord = 0L; var localP = 0L
        var seqNo = 0L; var running = 0L; var started = false
        override def hasNext: Boolean = it.hasNext
        override def next(): Row = {
          val (rg, id, n) = it.next()
          if (!inRun || !java.util.Objects.equals(rg, g)) {
            if (inRun) runIdx += 1
            inRun = true; g = rg; ord = 0L; localP = 0L
            started = false; seqNo = 0L; running = 0L
          }
          val cont = if (runIdx == 0) plan else None
          val row = cont match {
            case Some(cp) if cp.entry < 0L || ord < cp.entry =>
              // joins the sequence left open by the previous partition
              Row(g, id, n, cp.seqBase - 1L, localP - cp.betaLocal)
            case _ =>
              val seqBase = cont.map(_.seqBase).getOrElse(0L)
              if (!started) { started = true; seqNo = 0L; running = n; Row(g, id, n, seqBase, 0L) }
              else if (running + n > budget) { seqNo += 1L; running = n; Row(g, id, n, seqBase + seqNo, 0L) }
              else { val r = Row(g, id, n, seqBase + seqNo, running); running += n; r }
          }
          ord += 1L; localP += n
          row
        }
      }
    }
    // Nullability must match packSequencesSerial's tuple-encoder schema
    // (String nullable, Longs non-null) — routing is size-gated, so the two
    // routes must be indistinguishable to strict sinks/unions.
    spark.createDataFrame(outRdd, StructType(Seq(
      StructField(groupCol, StringType, nullable = true),
      StructField(idCol, LongType, nullable = false),
      StructField("n_tokens", LongType, nullable = false),
      StructField("seq_id", LongType, nullable = false),
      StructField("seq_offset", LongType, nullable = false))))
  }
}
