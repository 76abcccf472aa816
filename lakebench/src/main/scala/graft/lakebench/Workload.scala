package graft.lakebench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable

/** A closed-loop workload: set up, run the census cycle, then run seeded
  * operations one after the other in timed cycles of `cycleOps` operations
  * until the time is up, then check the outputs.
  *
  * The census cycle runs every operation of the workload once. It is the
  * run's warm-up: its latencies are left out of every end-to-end figure,
  * because it is the first run of each code path in the JVM and its times
  * are inflated by class loading and JIT compilation. The exact counters of a
  * traced run (files, bytes, jobs, tasks, commits, table health) and the
  * success rate are taken over it only, so two runs with the same seed
  * report the same counts on any host.
  */
abstract class Workload(val spark: SparkSession, val rec: Recorder) {
  def censusOps: Int
  /** Operations in one timed cycle; step(censusOps + j) runs the j-th. */
  def cycleOps: Int = censusOps
  /** How many times setup runs; `setup_s` is the median. */
  def setupReps: Int = 5
  /** Fewest timed cycles a run measures, however short `--seconds` is. */
  def timedCycles: Int = 2
  def setup(rep: Int): Unit
  def step(i: Int): Unit
  /** Output mismatches found by the workload's own check (empty = correct). */
  def check(): Seq[String]
  /** Adds the workload's own per-layer metrics: name -> (value, unit). */
  def perLayer(m: mutable.Map[String, (Double, String)]): Unit

  /** Ops of the census, in order. */
  final def census: Seq[OpRecord] = rec.ops.take(censusOps).toSeq
  /** Ops of the timed cycles, in order. */
  final def timed: Seq[OpRecord] = rec.ops.drop(censusOps).toSeq

  protected def dropCaches(): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** Rows as sorted strings, for order-insensitive comparison. */
  protected def canon(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
  protected def canon(df: DataFrame): Seq[String] = canon(df.collect().toSeq)
}

/** Size of every regular file under a directory, by path. */
object DiskWalk {
  def files(root: String): Map[String, Long] = {
    val p = java.nio.file.Paths.get(root)
    if (!java.nio.file.Files.exists(p)) return Map.empty
    val s = java.nio.file.Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(f => f.toString -> java.nio.file.Files.size(f)).toMap
    } finally s.close()
  }
}
