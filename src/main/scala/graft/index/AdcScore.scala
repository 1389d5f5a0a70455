package graft.index

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, FloatType, IntegerType, LongType}

/**
 * Per-plan executor state for codegen'd ADC scoring: the PQ codebook and
 * the driver-frozen (qid → ADC query) map as broadcasts, the [[Coarse]]
 * quantizer (residual ivfpq codes only), plus the [[Ann.AdcLutCache]] plan
 * token. `score` is the body
 * the generated code calls per joined row — LUTs come from the executor
 * cache keyed (qid, probe), so per-row work is m byte-lookups.
 */
final class AdcScoreState(
    val cbB: Broadcast[PqCodec.Codebook],
    val coarse: Coarse, // residual codes only, else null
    val qArrB: Broadcast[Array[Array[Float]]], // indexed by driver-frozen qid
    val l2: Boolean,
    val token: Long,
    // scalar code width for packed ivfsq rows (4/6); 8 = byte-per-entry
    // codes (pq/ivfpq/ivfsq-u8), the PqCodec.adc fast path
    val bits: Int = 8) extends Serializable {

  @transient private lazy val cb: PqCodec.Codebook = cbB.value
  @transient private lazy val cbK: Int = cb.k
  // resolved ONCE per executor per plan: the per-row path must not touch
  // the cache registry's global lock (32 threads × ~100M rows serialized
  // on it measured slower than the ivfflat distance join it replaces)
  @transient private lazy val sub: Ann.AdcLutCache.Sub =
    Ann.AdcLutCache.subFor(token)

  def score(qid: Long, probe: Int, code: Array[Byte]): Float = {
    val q = qArrB.value(qid.toInt)
    val e = Ann.AdcLutCache.getIn(sub, qid, probe, q) {
      if (coarse == null || probe < 0) (PqCodec.lut(cb, q, l2), 0.0f)
      else PqCodec.residualLut(cb, q, coarse.cents(probe), l2, PqCodec.lut(cb, q, l2 = false))
    }
    AdcQuery.adc(e.lut, cbK, bits, cb.m, code) + e.off
  }
}

/**
 * One prepped query's ADC ranking score for the PQ and SQ families — the
 * single ADC kernel behind their distributed scans (a broadcast UDF) and
 * their driver-local scorers. Codes that quantize raw vectors (pq, ivfsq)
 * read the one table `lut`; residual ivfpq codes read their cell's table
 * `cellLuts(c)` plus offset `cellOffs(c)`, built for the probed cells only.
 * `bits` < 8 marks packed SQ4/SQ6 rows of `m` dims.
 */
private[index] final class AdcQuery private (k: Int, bits: Int, m: Int, lut: Array[Float],
    cellLuts: Array[Array[Float]], cellOffs: Array[Float]) extends Serializable {

  /** The `__dd` of `code`, a row stored in IVF cell `cluster` (ignored
   *  unless the codes are residuals). */
  def score(cluster: Int, code: Array[Byte]): Float =
    if (cellLuts == null) AdcQuery.adc(lut, k, bits, m, code)
    else AdcQuery.adc(cellLuts(cluster), k, bits, m, code) + cellOffs(cluster)
}

private[index] object AdcQuery {
  /** ADC of one byte code (`bits` = 8) or packed SQ row against a table. */
  def adc(table: Array[Float], k: Int, bits: Int, m: Int, code: Array[Byte]): Float =
    if (bits == 8) PqCodec.adc(table, k, code)
    else graft.core.SqPackedCodec.adc(table, bits, m, code)

  /** One table for every row: codes of raw (or OPQ-rotated) vectors. */
  def flat(cb: PqCodec.Codebook, q: Array[Float], l2: Boolean, bits: Int): AdcQuery =
    new AdcQuery(cb.k, bits, cb.m, PqCodec.lut(cb, q, l2), null, null)

  /** Residual codes: one [[PqCodec.residualLut]] per probed cell. */
  def residual(cb: PqCodec.Codebook, q: Array[Float], cents: Array[Array[Float]],
      probes: Array[Int], l2: Boolean): AdcQuery = {
    val luts = new Array[Array[Float]](cents.length)
    val offs = new Array[Float](cents.length)
    lazy val qLut = PqCodec.lut(cb, q, l2 = false)
    probes.foreach { p =>
      val (t, off) = PqCodec.residualLut(cb, q, cents(p), l2, qLut)
      luts(p) = t
      offs(p) = off
    }
    new AdcQuery(cb.k, 8, cb.m, null, luts, offs)
  }
}

/**
 * `pq_adc_score(qid, probe, code)` — the TABLE-path quantized ranking score
 * as a NATIVE expression: the Scala-UDF formulation converted three
 * arguments per joined row and, worse, broke whole-stage codegen for the
 * entire ~100M-row probe-join stage (measured 30 s vs ivfflat's 5.6 s
 * codegen join of the same shape at 1.5M × 512q). This keeps the stage in
 * one codegen span; the generated code calls [[AdcScoreState.score]]
 * directly with primitive args (`byte[]` codes need no conversion).
 */
case class PqAdcScore(qid: Expression, probe: Expression, code: Expression,
    state: AdcScoreState) extends TernaryExpression {

  override def first: Expression = qid
  override def second: Expression = probe
  override def third: Expression = code

  override def checkInputDataTypes(): TypeCheckResult =
    (qid.dataType, probe.dataType, code.dataType) match {
      case (LongType, IntegerType, BinaryType) => TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BIGINT, INT, BINARY), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }

  override def dataType: DataType = FloatType
  override def prettyName: String = "pq_adc_score"

  override protected def nullSafeEval(q: Any, p: Any, c: Any): Any =
    state.score(q.asInstanceOf[Long], p.asInstanceOf[Int],
      c.asInstanceOf[Array[Byte]])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("adcScoreState", state,
      classOf[AdcScoreState].getName)
    defineCodeGen(ctx, ev, (q, p, c) => s"$st.score($q, $p, $c)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(qid = newFirst, probe = newSecond, code = newThird)
}

/**
 * Per-plan executor state for codegen'd quantized RANGE distances: the full
 * reconstruction's DOUBLE-fold metric distance (range compares the double
 * fold of the decoded vector against the radius — the float ADC LUT cannot
 * provide that, so range scoring gets its own kernel instead of
 * [[AdcScoreState]]). `coarse` is null except for ivfpq (residual codes);
 * `bits` < 8 marks packed ivfsq rows.
 */
final class QuantRangeState(
    val cbB: Broadcast[PqCodec.Codebook],
    val coarse: Coarse, // ivfpq only, else null
    val l2: Boolean,
    val bits: Int = 8) extends Serializable {

  @transient private lazy val cb: PqCodec.Codebook = cbB.value

  def dist(code: Array[Byte], cluster: Int,
      q: org.apache.spark.sql.catalyst.util.ArrayData): Double = {
    val vhat =
      if (bits < 8) Ann.sqDecode(cb, bits, code)
      else if (coarse != null && cluster >= 0)
        PqCodec.decodeResidual(cb, code, coarse.cents(cluster))
      else PqCodec.decode(cb, code)
    Ann.doubleFoldDist(vhat, q.toFloatArray(), l2)
  }
}

/**
 * `quant_range_dist(code, cluster, query)` — the quantized range filter's
 * per-row distance as a NATIVE expression: decode (+ centroid for ivfpq),
 * then the sequential double fold against the query column. The Scala-UDF
 * formulation broke whole-stage codegen for the probe-pruned scan stage —
 * this keeps the scan → score → radius-filter span in one generated loop
 * (the PqAdcScore lesson applied to range search). `cluster` is -1 for
 * engines whose codes reconstruct without a centroid (pq, ivfsq).
 */
case class QuantRangeDist(code: Expression, cluster: Expression,
    query: Expression, state: QuantRangeState) extends TernaryExpression {

  override def first: Expression = code
  override def second: Expression = cluster
  override def third: Expression = query

  override def checkInputDataTypes(): TypeCheckResult =
    (code.dataType, cluster.dataType, query.dataType) match {
      case (BinaryType, IntegerType,
          org.apache.spark.sql.types.ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (BINARY, INT, ARRAY<FLOAT>), got " +
          s"${a.catalogString}, ${b.catalogString}, ${c.catalogString}")
    }

  override def dataType: DataType = org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "quant_range_dist"

  override protected def nullSafeEval(c: Any, cl: Any, q: Any): Any =
    state.dist(c.asInstanceOf[Array[Byte]], cl.asInstanceOf[Int],
      q.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val st = ctx.addReferenceObj("quantRangeState", state,
      classOf[QuantRangeState].getName)
    defineCodeGen(ctx, ev, (c, cl, q) => s"$st.dist($c, $cl, $q)")
  }

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): Expression =
    copy(code = newFirst, cluster = newSecond, query = newThird)
}
