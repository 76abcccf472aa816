package graft.lakebench

import graft.SparkEntry
import graft.queries.{FixtureClock, TableOps, Tables}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** `crawl_dedup`: the incremental and streaming dedup gates of the crawl
  * pipeline, run one after the other as one pass. Each gate is one
  * operation. The census pass runs every gate and writes each result as
  * parquet under `<work>/results/<gate>` for the DuckDB comparison against
  * `SparkEntry.oracleSql`; the timed passes run the gates of [[Timed]].
  */
final class CrawlDedup(spark: SparkSession, rec: Recorder, data: String, work: String)
    extends Workload(spark, rec) {
  val Gates = Seq(
    "x_incremental_dedup", "x_stream_incremental_dedup",
    "x_stream_incremental_neardup", "x_neardup_retract")
  /** The gates of a timed pass. `x_stream_incremental_neardup` fails its
    * fetch-pruning check at this head: it runs once per run, in the census,
    * where it counts against `success_rate`, and the timed mix (and so
    * `ops_per_s` and `op_geomean_ms`) stays the same when it is fixed.
    * `x_neardup_retract` also runs in the census only: over ten runs its
    * median time spread 13% between the quartiles with or without the
    * host-speed scaling, which brought the other two gates from 18–20% to
    * 9–11%, and a third pass of the two fits the time of two passes of three.
    */
  val Timed = Seq("x_incremental_dedup", "x_stream_incremental_dedup")
  def censusOps: Int = Gates.size
  override def cycleOps: Int = Timed.size
  override def timedCycles: Int = 3
  /** Two set-ups fewer than the default keep a run near a minute. */
  override def setupReps: Int = 3

  private val queries = SparkEntry.queries
  private val oracle = SparkEntry.oracleSql
  private val fixtureS = mutable.Map[String, Double]()
  /** Gates whose first-pass result was written for the oracle comparison. */
  val dumped = mutable.ArrayBuffer[String]()

  /** Reads the input and runs one tiny stream: the fixed costs every pass
    * depends on (the input's first scan, the streaming engine's start-up).
    */
  def setup(rep: Int): Unit = {
    Tables.documents(spark, data).select("doc_id", "text").distinct().count()
    val dir = s"$work/setup-stream-$rep"
    spark.range(0, 100).selectExpr("id", "cast(id % 7 AS string) AS k").write.parquet(dir)
    val q = spark.readStream.schema("id BIGINT, k STRING").parquet(dir)
      .dropDuplicates("k")
      .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) => b.count(); () }
      .option("checkpointLocation", s"$dir-ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def step(i: Int): Unit = {
    val gate = if (i < censusOps) Gates(i) else Timed((i - censusOps) % Timed.size)
    dropCaches()
    TableOps.reclaimTempDirs()
    FixtureClock.reset()
    val rows = rec.op(s"gate.$gate", layer = "queries") {
      val df = queries(gate)(spark, data)
      (rec.span("spark.exec", "spark")(df.collect()), df.schema)
    }
    if (i < censusOps) {
      rows.foreach { case (rs, schema) =>
        fixtureS(gate) = FixtureClock.sec
        if (oracle.contains(gate)) {
          import scala.jdk.CollectionConverters._
          spark.createDataFrame(rs.toSeq.asJava, schema).coalesce(1)
            .write.parquet(s"$work/results/$gate")
          dumped += gate
        }
      }
    }
  }

  /** Gate outputs are checked against DuckDB outside the JVM; here only the
    * oracle SQL of the written results is saved next to them.
    */
  def check(): Seq[String] = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = dumped.map(g => q(g) + ":" + q(oracle(g))).mkString("{", ",", "}")
    val out = java.nio.file.Paths.get(s"$work/results")
    java.nio.file.Files.createDirectories(out)
    java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), json)
    Nil
  }

  def perLayer(m: mutable.Map[String, (Double, String)]): Unit = {
    // a gate's time is its median over the timed passes; a gate that is not
    // timed reports its census time, and a failing one 0
    def ms(ops: Seq[OpRecord], g: String) = ops.filter(o => o.kind == s"gate.$g" && o.error.isEmpty).map(_.ms)
    val gateS = Gates.map { g =>
      val t = if (ms(timed, g).nonEmpty) ms(timed, g) else ms(census, g)
      if (t.isEmpty) 0.0 else Stats.median(t) / 1e3
    }
    for ((g, t) <- Gates.zip(gateS)) m(s"queries.gate_s.$g") = (t, "s")
    m("pipeline_s") = (gateS.sum, "s")
    m("queries.fixture_s") = (fixtureS.values.sum, "s")
  }
}
