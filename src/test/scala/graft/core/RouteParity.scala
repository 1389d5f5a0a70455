package graft.core

import org.apache.spark.sql.SparkSession
import graft.tools.StageStats

/** Test hooks around [[Route]]: run a closure under both routes, and see
 *  the route events a closure posts. */
object RouteParity {
  private val Gate = "spark.graft.localMaxBytes"

  /** `body` at the default gate, then with the gate at 0 (every distributed
   *  version); the session's previous setting is restored. */
  def both[A](spark: SparkSession)(body: => A): (A, A) = {
    val prev = spark.conf.getOption(Gate)
    try {
      spark.conf.unset(Gate)
      val local = body
      spark.conf.set(Gate, "0")
      (local, body)
    } finally prev.fold(spark.conf.unset(Gate))(spark.conf.set(Gate, _))
  }

  /** `body` with the gate at 0 (every distributed version); the session's
   *  previous setting is restored. */
  def distributed[A](spark: SparkSession)(body: => A): A = {
    val prev = spark.conf.getOption(Gate)
    try {
      spark.conf.set(Gate, "0")
      body
    } finally prev.fold(spark.conf.unset(Gate))(spark.conf.set(Gate, _))
  }

  /** `body`'s answer and the route events it posted, in order. */
  def routed[A](spark: SparkSession)(body: => A): (A, Seq[GraftRouteEvent]) = {
    val sc = spark.sparkContext
    val stats = new StageStats
    sc.addSparkListener(stats)
    try {
      stats.drain(sc)
      stats.clear()
      val a = body
      stats.drain(sc)
      (a, stats.routes)
    } finally sc.removeSparkListener(stats)
  }
}
