package graft.lakebench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.util.control.NonFatal

/** One timed interval of the run. `layer` names the engine layer the time
  * belongs to (catalog, table, spark, streaming, queries, bench); `op` is the
  * id of the operation the span belongs to, shared by all its descendants.
  */
final case class Span(id: Long, op: Long, parent: Long, name: String, layer: String,
    startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** A Spark job as seen by the listener, with its task totals. */
final class JobInfo(val id: Int, val group: String, val startMs: Double) {
  var endMs: Double = startMs
  var tasks = 0L
  var taskMs = 0L
  var inputBytes = 0L
  var shuffleBytes = 0L
}

/** One finished micro-batch as reported by the streaming listener. */
final case class BatchInfo(startMs: Double, triggerMs: Double, addBatchMs: Double)

/** One closed-loop operation of a workload's timed loop. */
final case class OpRecord(id: Long, kind: String, startMs: Double, endMs: Double,
    error: Option[String]) {
  def ms: Double = endMs - startMs
}

/** Collects everything a run measures.
  *
  * Untraced, it only times operations. Traced, it also keeps spans for the
  * calls a workload wraps in [[span]], attributes Spark jobs and tasks to
  * operations (by job group, or by time for jobs started on other threads
  * such as a stream's execution thread), and keeps micro-batch timings.
  * Everything stays in memory until the run ends.
  */
final class Recorder(spark: SparkSession, val trace: Boolean) {
  private val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def nowMs: Double = (System.nanoTime() + epochNs) / 1e6

  val ops = mutable.ArrayBuffer[OpRecord]()
  val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0L
  /** Id of the operation running now (or last run). */
  var currentOp = 0L
  /** Open spans of the running operation; empty when not tracing. */
  private val stack = mutable.Stack[Span]()

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val batchQ = new java.util.concurrent.ConcurrentLinkedQueue[BatchInfo]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, new JobInfo(e.jobId, group.getOrElse(""), e.time.toDouble))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = jobs.get(stageJob.getOrDefault(e.stageId, -1))
      if (j != null && e.taskMetrics != null) j.synchronized {
        val m = e.taskMetrics
        j.tasks += 1
        j.taskMs += m.executorRunTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs
      def dur(k: String): Double = if (d.containsKey(k)) d.get(k).doubleValue else 0.0
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      batchQ.add(BatchInfo(start, dur("triggerExecution"), dur("addBatch")))
    }
  }

  if (trace) {
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(streamListener)
  }

  /** Runs one operation of the timed loop. A throwing operation is recorded
    * with its exception class and returns None; it is never timed as a
    * result.
    */
  def op[T](kind: String, layer: String = "bench")(body: => T): Option[T] = {
    nextId += 1
    val id = nextId
    currentOp = id
    val sc = spark.sparkContext
    sc.setJobGroup(s"lakebench-op-$id", kind, interruptOnCancel = false)
    val start = nowMs
    val root = Span(id, id, 0L, kind, layer, start, start)
    if (trace) stack.push(root)
    val result = try Right(body) catch { case NonFatal(e) => Left(e) }
    val end = nowMs
    sc.clearJobGroup()
    if (trace) { stack.clear(); spans += root.copy(endMs = end) }
    result match {
      case Right(v) =>
        System.err.println(f"[lakebench] op $kind ${end - start}%.0f ms")
        ops += OpRecord(id, kind, start, end, None); Some(v)
      case Left(e) =>
        System.err.println(f"[lakebench] op $kind failed after ${end - start}%.0f ms: ${e.getClass.getName}: " +
          String.valueOf(e.getMessage).take(300))
        ops += OpRecord(id, kind, start, end, Some(e.getClass.getName)); None
    }
  }

  /** Times a call inside the current operation as a child span (traced
    * operations only; otherwise it just runs the call).
    */
  def span[T](name: String, layer: String)(body: => T): T =
    if (stack.isEmpty) body
    else {
      nextId += 1
      val parent = stack.top
      val s = Span(nextId, parent.op, parent.id, name, layer, nowMs, 0.0)
      stack.push(s)
      try body finally {
        stack.pop()
        spans += s.copy(endMs = nowMs)
      }
    }

  /** Waits for the listener bus, then returns the Spark jobs of each
    * operation and the micro-batches run inside operations, and adds both to
    * the span list.
    */
  def collectListeners(): (Map[Long, Seq[JobInfo]], Seq[BatchInfo]) = {
    if (!trace) return (Map.empty, Nil)
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    import scala.jdk.CollectionConverters._
    def during(t: Double): Option[OpRecord] = ops.find(o => t >= o.startMs - 1 && t <= o.endMs + 1)
    def opOf(j: JobInfo): Option[OpRecord] =
      if (j.group.startsWith("lakebench-op-"))
        ops.find(_.id == j.group.stripPrefix("lakebench-op-").toLong)
      else during(j.startMs)
    val byOp = jobs.values.asScala.toSeq.sortBy(_.id)
      .flatMap(j => opOf(j).map(_.id -> j))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val batches = batchQ.asScala.toSeq.sortBy(_.startMs).flatMap(b => during(b.startMs).map(b -> _))
    // batches and jobs become spans under the innermost span of their
    // operation that contains their start
    def innermost(op: Long, t: Double): Span =
      spans.filter(s => s.op == op && s.startMs <= t + 1 && t <= s.endMs + 1)
        .maxBy(s => (s.startMs, -s.endMs))
    for ((b, o) <- batches) {
      nextId += 1
      spans += Span(nextId, o.id, innermost(o.id, b.startMs).id, "streaming.batch", "streaming",
        b.startMs, b.startMs + b.triggerMs)
    }
    for ((opId, js) <- byOp; j <- js) {
      nextId += 1
      spans += Span(nextId, opId, innermost(opId, j.startMs).id, "spark.job", "spark", j.startMs, j.endMs)
    }
    (byOp, batches.map(_._1))
  }

  /** Self time per layer (ms) summed over all operations: each span's
    * duration minus the union of its children's intervals.
    */
  def layerSelfMs(): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val ivs = kids.getOrElse(s.id, Nil).map(c => (c.startMs max s.startMs, c.endMs min s.endMs))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0.0; var curS = Double.NaN; var curE = Double.NaN
      for ((a, b) <- ivs) {
        if (curE.isNaN || a > curE) { if (!curE.isNaN) covered += curE - curS; curS = a; curE = b }
        else curE = curE max b
      }
      if (!curE.isNaN) covered += curE - curS
      s.layer -> (s.ms - covered).max(0.0)
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Writes every span as one JSON object per line. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    for (s <- spans.sortBy(s => (s.op, s.startMs))) {
      sb ++= f"""{"id":${s.id},"op":${s.op},"parent":${s.parent},"name":"${s.name}","layer":"${s.layer}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
      sb += '\n'
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, sb.toString)
  }

  def close(): Unit = if (trace) {
    spark.sparkContext.removeSparkListener(jobListener)
    spark.streams.removeListener(streamListener)
  }
}

object Stats {
  /** The q-quantile (0..1) by the nearest-rank rule; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else s(math.min(s.length - 1, math.max(0, math.ceil(q * s.length).toInt - 1)))
  }
  /** The middle value, or the mean of the two middle values; NaN when empty. */
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN else (s((s.length - 1) / 2) + s(s.length / 2)) / 2
  }
  /** The highest percentile that still has at least ten samples above it
    * (the p99 of a run with 1000+ samples, a lower one otherwise).
    */
  def tail(xs: Iterable[Double]): Double = {
    val n = xs.size
    val q = math.min(0.99, (n - 10).toDouble / n)
    if (q <= 0.5) median(xs) else quantile(xs, q)
  }
}
