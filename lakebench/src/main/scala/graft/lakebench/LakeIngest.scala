package graft.lakebench

import graft.format.{Predicate, TableProperties, Transform}
import graft.queries.Tables
import graft.table.GraftTable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `lake_ingest`: a write-heavy loop with reads beside the writes, on an
  * `events` Graft table partitioned by `day(ts)` with a bloom filter on
  * `user_id`. Setup creates the table and loads the first `BaseRows` events
  * in one append. The timed loop then repeats a fixed cadence: 500-row
  * appends from driver-local frames (with statement ids), copy-on-write
  * DELETEs of one user, 250-row MERGE upserts (half corrections of recent
  * events, half new events), a maintenance cycle (compact, expire keeping
  * the last 10 snapshots, rewrite manifests) and four reads, each on a
  * freshly committed snapshot: a point lookup of one user (bloom pruning), a
  * one-day aggregate (partition pruning), an aggregate at an older retained
  * snapshot (time travel) and a full group-by (no pruning).
  */
final class LakeIngest(spark: SparkSession, rec: Recorder, seed: Long, data: String, work: String)
    extends Workload(spark, rec) {
  val BaseRows = 20000
  val AppendRows = 500
  val MergeRows = 250
  val Cadence = Seq("append", "append", "read.point", "append", "delete", "append",
    "read.range", "append", "merge", "read.timetravel", "append", "read.scan", "append",
    "maintenance")
  def censusOps: Int = Cadence.size

  private val events = Tables.events(spark, data).cache()
  private val schema = events.schema
  private val rows: Array[Row] = events.orderBy("event_id").collect()
  /** Logical size of an event: four 8-byte fields plus its two strings. */
  private def rowBytes(r: Row): Long = 32L + r.getString(3).length + r.getString(5).length
  private val userBytes: Array[Long] = rows.map(rowBytes)
  private var table: GraftTable = _
  private var cat: TimedCatalog = _

  def setup(rep: Int): Unit = {
    cat = new TimedCatalog(s"$work/wh-$rep", rec)
    table = cat.createTable("db.events", schema,
      partitionBy = Seq("ts" -> Transform.Day),
      properties = Map(TableProperties.BloomColumns -> "user_id"))
    table.append(spark, events.filter(col("event_id") < BaseRows), Some("base"))
    snapAt.clear()
    noteSnapshot()
  }

  private def local(rs: Seq[Row]): DataFrame = spark.createDataFrame(rs.asJava, schema)

  private val rng = new scala.util.Random(seed)
  private var cursor = BaseRows
  /** Successful changes in order, replayed by [[check]]. */
  private val log = mutable.ArrayBuffer[(String, Any)]()
  /** Per traced census op: data files and bytes it added, and all bytes it wrote. */
  private val written = mutable.Map[Long, (Long, Long, Long)]()
  private var seen = Map.empty[String, Long]
  private var census0: Option[(graft.table.TableHealth, Long)] = None
  private var censusUserBytes = 0L
  /** (files scanned, bytes scanned) per traced read. */
  private val scanned = mutable.Map[Long, (Long, Long)]()
  /** Day index (from 2024-01-01) of the newest ingested event. */
  private def lastDay: Int = (rows(cursor - 1).getAs[java.time.LocalDateTime](1)
    .toLocalDate.toEpochDay - java.time.LocalDate.of(2024, 1, 1).toEpochDay).toInt

  /** Number of logged changes behind each snapshot this run created. */
  private val snapAt = mutable.Map[Long, Int]()
  private def noteSnapshot(): Unit =
    table.meta.snapshots.foreach(sn => snapAt.getOrElseUpdate(sn.snapshotId, log.size))
  /** Census reads: (read kind, user, day, changes behind the snapshot read, result). */
  private val reads = mutable.ArrayBuffer[(String, Long, java.time.LocalDateTime, Int, Seq[String])]()

  private def summary(df: DataFrame): DataFrame = df.groupBy("event_type").agg(
    count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
    sum(col("value").cast("decimal(18,2)")).as("value"))

  def step(i: Int): Unit = {
    if (i == 0 && rec.trace) seen = DiskWalk.files(table.location)
    val kind = Cadence(i % Cadence.size)
    kind match {
      case "append" =>
        val lo = cursor
        val batch = local(rows.slice(lo, lo + AppendRows).toSeq)
        rec.op("append") {
          rec.span("table.append", "table")(table.append(spark, batch, Some(s"append-$lo")))
          cursor += AppendRows
          log += (("append", lo))
          if (i < censusOps) censusUserBytes += userBytes.slice(lo, lo + AppendRows).sum
        }
      case "delete" =>
        val user = rng.nextInt(1500).toLong
        rec.op("delete") {
          rec.span("table.delete", "table")(table.delete(spark, Seq(Predicate.Eq("user_id", user))))
          log += (("delete", user))
        }
      case "merge" =>
        // corrections of recent events plus new events keyed above the input
        val recent = (0 until MergeRows / 2).map(_ => cursor - 1 - rng.nextInt(2000)).distinct
        val fresh = (0 until MergeRows - recent.size).map(_ => rng.nextInt(rows.length))
        val src = recent.map(k => withValue(rows(k), rows(k).getDouble(4) + 1.0)) ++
          fresh.zipWithIndex.map { case (k, j) => withId(rows(k), 1000000L + cursor * 10L + j) }
        val source = local(src)
        rec.op("merge") {
          rec.span("table.merge", "table")(table.merge(spark, source, Seq("event_id" -> "event_id"),
            whenMatchedUpdate = Map("value" -> col("s.value")),
            whenNotMatchedInsert = Some(schema.fieldNames.map(f => f -> col(s"s.$f")).toMap)))
          log += (("merge", src))
          if (i < censusOps) censusUserBytes += src.map(rowBytes).sum
        }
      case read if read.startsWith("read.") =>
        val kind = read.stripPrefix("read.")
        val user = rng.nextInt(1500).toLong
        val day = java.time.LocalDate.of(2024, 1, 1).plusDays(rng.nextInt(lastDay + 1)).atStartOfDay()
        val pick = rng.nextInt(Int.MaxValue)
        var at = log.size
        rec.op(read) {
          val scan = rec.span("table.scan", "table") {
            kind match {
              case "point" => table.scan(Predicate.Eq("user_id", user))
              case "range" => table.scan(Predicate.GtEq("ts", day), Predicate.Lt("ts", day.plusDays(1)))
              case "timetravel" =>
                val snaps = table.meta.snapshots
                val id = snaps(pick % snaps.size).snapshotId
                at = snapAt(id)
                table.atSnapshot(id)
              case "scan" => table.scan()
            }
          }
          val m = rec.span("table.plan", "table") { scan.dataFiles; scan.metrics }
          val got = rec.span("spark.exec", "spark")(query(kind, user, day, scan.toDF(spark)).collect())
          if (rec.trace) scanned(rec.currentOp) = (m.filesScanned, m.bytesScanned)
          if (i < censusOps) reads += ((kind, user, day, at, canon(got.toSeq)))
        }
      case "maintenance" =>
        rec.op("maintenance") {
          rec.span("table.compact", "table")(table.compact(spark))
          rec.span("table.expire", "table")(table.expireSnapshots(System.currentTimeMillis(), retainLast = 10))
          rec.span("table.rewrite_manifests", "table")(table.rewriteManifests())
        }
    }
    noteSnapshot()
    if (rec.trace && i < censusOps) {
      val now = DiskWalk.files(table.location)
      val fresh = now.filter { case (p, _) => !seen.contains(p) }
      val data = fresh.filter(_._1.contains("/data/"))
      written(rec.ops.last.id) = (data.size.toLong, data.values.sum, fresh.values.sum)
      seen = now
      if (i == censusOps - 1) {
        val v = cat.currentVersion("db.events")
        census0 = Some((table.health(), java.nio.file.Files.size(java.nio.file.Paths.get(
          table.location, "metadata", s"v$v.metadata.json"))))
      }
    }
  }

  private def withValue(r: Row, v: Double): Row = Row.fromSeq(r.toSeq.updated(4, v))
  private def withId(r: Row, id: Long): Row = Row.fromSeq(r.toSeq.updated(0, id))
  /** What a read returns, over the table's scan or over a replay. */
  private def query(kind: String, user: Long, day: java.time.LocalDateTime, df: DataFrame): DataFrame =
    kind match {
      case "point" => df.filter(col("user_id") === user)
      case "range" => summary(df.filter(col("ts") >= lit(day) && col("ts") < lit(day.plusDays(1))))
      case _ => summary(df)
    }

  /** The first `n` logged changes replayed with plain DataFrame operations
    * over the input.
    */
  private def replay(n: Int): DataFrame = {
    var want = events.filter(col("event_id") < BaseRows)
    for ((kind, arg) <- log.take(n)) kind match {
      case "append" =>
        val lo = arg.asInstanceOf[Int]
        want = want.unionByName(events.filter(col("event_id") >= lo && col("event_id") < lo + AppendRows))
      case "delete" =>
        want = want.filter(col("user_id") =!= arg.asInstanceOf[Long])
      case "merge" =>
        val src = local(arg.asInstanceOf[Seq[Row]])
        val upd = src.select(col("event_id").as("k"), col("value").as("v"))
        val kept = want.join(upd, want("event_id") === upd("k"), "left")
          .select(schema.fieldNames.map(f => if (f == "value") coalesce(col("v"), col(f)).as(f) else col(f)): _*)
        want = kept.unionByName(src.join(want.select("event_id"), Seq("event_id"), "left_anti"))
    }
    want
  }

  /** Compares the census reads and the final table with replays of the
    * changes logged before them.
    */
  def check(): Seq[String] = {
    val badReads = reads.toSeq.flatMap { case (kind, user, day, at, got) =>
      val want = canon(query(kind, user, day, replay(at)))
      if (got == want) None else Some(s"read.$kind after $at changes: ${got.take(2)} != ${want.take(2)}")
    }
    val want = replay(log.size).localCheckpoint()
    val got = table.toDF(spark).localCheckpoint()
    val missing = want.exceptAll(got).count()
    val extra = got.exceptAll(want).count()
    if (missing == 0 && extra == 0) badReads
    else badReads :+ s"final table differs from the replay: $missing rows missing, $extra extra"
  }

  private def censusOf(kind: String): Seq[(Long, Long, Long)] =
    census.filter(o => o.kind == kind && o.error.isEmpty).flatMap(o => written.get(o.id))

  def perLayer(m: mutable.Map[String, (Double, String)]): Unit = {
    val ok = timed.filter(_.error.isEmpty)
    def lat(kind: String) = ok.filter(_.kind == kind).map(_.ms)
    val reads = ok.filter(_.kind.startsWith("read.")).map(_.ms)
    m("read_p50_ms") = (Stats.median(reads), "ms")
    m("read_p99_ms") = (Stats.tail(reads), "ms")
    for (k <- Seq("point", "range", "timetravel", "scan")) {
      m(s"${k}_p50_ms") = (Stats.median(lat(s"read.$k")), "ms")
      if (k != "scan") {
        val c = census.filter(_.kind == s"read.$k").flatMap(o => scanned.get(o.id))
        m(s"table.${k}_files_scanned") = (c.map(_._1).sum.toDouble, "count")
        m(s"table.${k}_bytes_scanned") = (c.map(_._2).sum.toDouble, "bytes")
      }
    }
    m("append_p50_ms") = (Stats.median(lat("append")), "ms")
    m("append_p99_ms") = (Stats.tail(lat("append")), "ms")
    m("dml_p50_ms") = (Stats.median(lat("delete") ++ lat("merge")), "ms")
    m("maintenance_s") = (Stats.median(lat("maintenance")) / 1e3, "s")
    val all = census.flatMap(o => written.get(o.id))
    m("bytes_written_per_user_byte") =
      (if (censusUserBytes > 0) all.map(_._3).sum.toDouble / censusUserBytes else 0.0, "ratio")
    m("catalog.commits") = (rec.spans.count(s => s.name == "catalog.commit" &&
      census.exists(_.id == s.op)).toDouble, "count")
    val app = censusOf("append")
    m("table.append_files_added") = (app.map(_._1).sum.toDouble, "count")
    m("table.append_bytes_added") = (app.map(_._2).sum.toDouble, "bytes")
    val dml = censusOf("delete") ++ censusOf("merge")
    m("table.dml_files_rewritten") = (dml.map(_._1).sum.toDouble, "count")
    m("table.dml_bytes_rewritten") = (dml.map(_._2).sum.toDouble, "bytes")
    m("table.maint_bytes_rewritten") = (censusOf("maintenance").map(_._2).sum.toDouble, "bytes")
    census0.foreach { case (h, metaBytes) =>
      m("catalog.meta_json_bytes") = (metaBytes.toDouble, "bytes")
      m("table.health.snapshots") = (h.snapshotCount.toDouble, "count")
      m("table.health.manifests") = (h.manifestCount.toDouble, "count")
      m("table.health.data_files") = (h.dataFileCount.toDouble, "count")
      m("table.health.avg_file_bytes") = (h.avgFileSizeBytes.toDouble, "bytes")
    }
  }
}
