package graft.core

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftshim.GraftShim

/** One route decision on the listener bus: `op` took `route` because its
 *  `estimate` compared so against `limit` (bytes, except the graph route's
 *  shards and SemDedup's centroids). */
final case class GraftRouteEvent(op: String, route: String, estimate: Long, limit: Long)
    extends SparkListenerEvent {
  def json: String = s"""{"op":"$op","route":"$route","estimate":$estimate,"limit":$limit}"""
}

/**
 * The one place an operator picks its driver-local version (the reference
 * runs everything in-process; a Spark job's fixed cost dominates small
 * inputs) or its distributed one. Both give the same answer. The gate is
 * `spark.graft.localMaxBytes`, default 64 MB of estimated driver state; 0
 * forces every distributed version, including limits that are not bytes.
 * Each decision posts one [[GraftRouteEvent]].
 */
object Route {
  val Local = "local"
  val Distributed = "distributed"

  def maxBytes(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.localMaxBytes").map(_.toLong).getOrElse(64L << 20)

  /** True when `op` runs driver-local: the gate is on and `estimate` is at
   *  most `limit`, by default the gate itself. */
  def local(spark: SparkSession, op: String, estimate: BigInt): Boolean =
    local(spark, op, estimate, maxBytes(spark))

  def local(spark: SparkSession, op: String, estimate: BigInt, limit: Long): Boolean = {
    val isLocal = maxBytes(spark) > 0 && estimate <= limit
    post(spark, op, if (isLocal) Local else Distributed, estimate.min(Long.MaxValue).toLong, limit)
    isLocal
  }

  /** Posts a decision made elsewhere (a non-size route). */
  def post(spark: SparkSession, op: String, route: String, estimate: Long, limit: Long): Unit =
    GraftShim.post(spark, GraftRouteEvent(op, route, estimate, limit))
}
