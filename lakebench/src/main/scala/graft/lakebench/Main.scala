package graft.lakebench

import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  * {{{
  * Main --workload <lake_ingest|crawl_dedup> --seed <n> --seconds <s>
  *      --trace <0|1> --data <input dir> --work <scratch dir> --cpus <n>
  *      [--spans <file>]
  * }}}
  *
  * Sets up the workload several times (timing each), runs its census cycle
  * and then its timed cycles for `--seconds`, checks its outputs and prints
  * one line `LAKEBENCH_RESULT {json}` with the end-to-end metrics (untraced)
  * or the per-layer metrics (traced).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = a("cpus")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    probeThreads = cpus.toInt
    probePool = java.util.concurrent.Executors.newFixedThreadPool(probeThreads, (r: Runnable) => {
      val t = new Thread(r, "lakebench-probe")
      t.setDaemon(true)
      t
    })
    try run(spark, workload, seed, seconds, trace, a("data"), work, a.get("spans"))
    finally {
      probePool.shutdownNow()
      spark.stop()
    }
  }

  /** Host-speed control: `graft.Bench`'s CPU kernel at a quarter of its
    * rows, best of two after two priming runs (ms).
    */
  private def control(spark: SparkSession): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      spark.range(0, 50_000_000L)
        .selectExpr("sum(id % 7) AS s", "count(if(id % 11 = 0, 1, null)) AS c")
        .collect()
      (System.nanoTime() - t0) / 1e6
    }
    once(); once()
    math.min(once(), once())
  }

  /** Host-speed probe, run before every set-up and every operation: on
    * every CPU at once, a fixed chain of multiply-adds and a fixed walk
    * through a random cycle of 4M slots (16 MB, so memory latency counts as
    * it does for the engine's object graphs); its time is the median of the
    * threads' times (ms). Every thread slows down when the host or other
    * processes take CPU time or memory bandwidth from the benchmark; the
    * median ignores the one or two threads that share a CPU with the
    * benchmark's own background work (JIT compilation, GC, listener threads).
    */
  private var probePool: java.util.concurrent.ExecutorService = _
  private var probeThreads = 1
  @volatile private var sink = 0L
  private lazy val ring: Array[Int] = {
    val n = 1 << 22
    val a = Array.tabulate(n)(identity)
    val r = new java.util.SplittableRandom(1)
    var i = n - 1
    while (i > 0) { val j = r.nextInt(i); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
    a
  }
  private def probeThread(seed: Long): Double = {
    val t0 = System.nanoTime()
    var x = seed
    var i = 0
    while (i < 5000000) { x = x * 6364136223846793005L + i; i += 1 }
    var p = (x & 0x3fffff).toInt
    i = 0
    while (i < 125000) { p = ring(p); i += 1 }
    sink += x + p
    (System.nanoTime() - t0) / 1e6
  }
  private def probe(): Double = {
    val s = sink
    val fs = (0 until probeThreads).map(k =>
      probePool.submit(new java.util.concurrent.Callable[Double] { def call(): Double = probeThread(s + k) }))
    Stats.median(fs.map(_.get()))
  }
  /** The probe's time at the reference host speed (ms): about that of a
    * quiet 4-CPU host of the kind the benchmark was tuned on.
    */
  private val RefProbeMs = 28.0

  private def category(kind: String): String = kind match {
    case k if k.startsWith("read") => "read"
    case "delete" | "merge" => "dml"
    case k if k.startsWith("gate.") => "gate"
    case k => k
  }

  /** Throughput (1/s) and geometric-mean latency (ms) of the timed cycles'
    * mix of operations, each operation taking its kind's median latency: one
    * slow outlier moves neither. Failed operations are left out.
    */
  private def mix(ops: Seq[OpRecord]): (Double, Double) = {
    val kinds = ops.filter(_.error.isEmpty).groupBy(_.kind).values
      .map(os => (os.size, Stats.median(os.map(_.ms))))
    val n = kinds.map(_._1).sum.toDouble
    (n / (kinds.map { case (c, ms) => c * ms }.sum / 1e3),
      math.exp(kinds.map { case (c, ms) => c * math.log(ms) }.sum / n))
  }

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, work: String, spansOut: Option[String]): Unit = {
    val rec = new Recorder(spark, trace)
    val w: Workload = workload match {
      case "lake_ingest" => new LakeIngest(spark, rec, seed, data, work)
      case "crawl_dedup" => new CrawlDedup(spark, rec, data, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    (1 to 30).foreach(_ => probe())
    val probes = scala.collection.mutable.ArrayBuffer[Double]()
    val setupS = (0 until w.setupReps).map { r =>
      probes += probe()
      val t0 = System.nanoTime()
      w.setup(r)
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(s"[lakebench] set up in ${setupS.map(s => f"$s%.2f").mkString(" ")} s")
    val controlStart = if (trace) control(spark) else 0.0
    var i = 0
    while (i < w.censusOps) {
      probes += probe()
      w.step(i)
      i += 1
    }
    // whole timed cycles of the workload's op sequence until the time is up,
    // so every run measures the same mix of operations
    val loopStart = System.nanoTime()
    val deadline = loopStart + (seconds * 1e9).toLong
    var j = 0
    while (j % w.cycleOps != 0 || j < w.timedCycles * w.cycleOps || System.nanoTime() < deadline) {
      probes += probe()
      w.step(w.censusOps + j)
      j += 1
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    System.err.println(f"[lakebench] ran ${w.timed.size} timed ops in $loopS%.2f s")
    probes += probe()
    val controlEnd = if (trace) control(spark) else 0.0
    // On a shared host the CPU time left to the benchmark drifts by up to
    // 1.5x over minutes, slowing every operation of a run alike: the
    // end-to-end figures are scaled to the reference speed by the probe's
    // median over the run.
    val speed = Stats.median(probes) / RefProbeMs
    System.err.println(f"[lakebench] host probe median ${Stats.median(probes)}%.2f ms (reference $RefProbeMs ms)")
    val checkStart = System.nanoTime()
    val mismatches = w.check()
    System.err.println(f"[lakebench] checked outputs in ${(System.nanoTime() - checkStart) / 1e9}%.2f s")
    mismatches.foreach(x => System.err.println(s"[lakebench] output mismatch: $x"))

    val failed = rec.ops.filter(_.error.nonEmpty)
    val (opsPerS, geomeanMs) = mix(w.timed)
    val m = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    if (!trace) {
      m("setup_s") = (Stats.median(setupS) / speed, "s")
      m("ops_per_s") = (opsPerS * speed, "1/s")
      m("op_geomean_ms") = (geomeanMs / speed, "ms")
      m("success_rate") = (w.census.count(_.error.isEmpty).toDouble / w.census.size, "ratio")
    } else {
      val (jobs, batches) = rec.collectListeners()
      val census = w.census
      val self = rec.layerSelfMs()
      val nOps = rec.ops.size.max(1)
      m("error_rate") = (failed.size.toDouble / rec.ops.size, "ratio")
      m("host.control_ms") = (math.max(controlStart, controlEnd), "ms")
      m("host.control_drift") = (controlEnd / controlStart, "ratio")
      m("host.probe_ms") = (Stats.median(probes), "ms")
      for (l <- Seq("catalog", "table", "spark", "streaming", "queries", "bench"))
        m(s"layer.$l.self_ms") = (self.getOrElse(l, 0.0) / nOps, "ms")
      val timedIds = w.timed.map(_.id).toSet
      def p50(name: String) =
        Stats.median(rec.spans.filter(s => s.name == name && timedIds(s.op)).map(_.ms))
      m("catalog.load_ms") = (p50("catalog.load"), "ms")
      m("table.plan_ms") = (p50("table.plan"), "ms")
      m("spark.exec_ms") = (p50("spark.exec"), "ms")
      for (c <- Seq("read", "append", "dml", "gate")) {
        val ops = census.filter(o => category(o.kind) == c && o.error.isEmpty)
        val js = ops.map(o => jobs.getOrElse(o.id, Nil))
        val n = ops.size.max(1).toDouble
        m(s"spark.jobs_per_$c") = (js.map(_.size).sum / n, "count")
        m(s"spark.tasks_per_$c") = (js.map(_.map(_.tasks).sum).sum / n, "count")
        m(s"spark.task_ms_per_$c") = (js.map(_.map(_.taskMs).sum).sum / n, "ms")
      }
      val censusJobs = census.flatMap(o => jobs.getOrElse(o.id, Nil))
      m("spark.shuffle_bytes") = (censusJobs.map(_.shuffleBytes).sum.toDouble, "bytes")
      m("spark.input_bytes") = (censusJobs.map(_.inputBytes).sum.toDouble, "bytes")
      val censusEnd = census.lastOption.map(_.endMs).getOrElse(0.0)
      val cb = batches.filter(_.startMs <= censusEnd + 1)
      m("streaming.batches") = (cb.size.toDouble, "count")
      m("streaming.add_batch_ms") = (Stats.median(batches.map(_.addBatchMs)), "ms")
      m("streaming.trigger_overhead_ms") =
        (Stats.median(batches.map(b => b.triggerMs - b.addBatchMs)), "ms")
      m("batch_p50_ms") = (Stats.median(batches.map(_.triggerMs)), "ms")
      // the end-to-end figures under tracing: minus the untraced run's
      // figures of the same seed, they are the tracing overhead
      m("trace.ops_per_s") = (opsPerS * speed, "1/s")
      m("trace.op_geomean_ms") = (geomeanMs / speed, "ms")
      m("trace.spans") = (rec.spans.size.toDouble, "count")
      w.perLayer(m)
      spansOut.foreach(p => rec.writeSpans(java.nio.file.Paths.get(p)))
    }
    rec.close()

    def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
    def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val metrics = m.map { case (k, (v, u)) =>
      s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}"
    }.mkString("{", ",", "}")
    val failures = failed.map(o => s"{\"op\":${str(o.kind)},\"error\":${str(o.error.get)}}")
      .mkString("[", ",", "]")
    println(s"LAKEBENCH_RESULT {\"correct\":${mismatches.isEmpty},\"attempted\":${rec.ops.size}," +
      s"\"failed\":${failed.size},\"failures\":$failures,\"metrics\":$metrics}")
  }
}
