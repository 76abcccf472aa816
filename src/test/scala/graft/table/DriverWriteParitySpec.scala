package graft.table

import graft.SparkSpec
import graft.catalog.GraftCatalog
import graft.format.{Predicate, TableProperties, Transform}
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** The driver-side parquet write (small driver-local appends skip the
  * per-append Spark job) must be indistinguishable from the executor job
  * path: same read-back rows, same partition tuples, same manifest stats
  * (bounds + null counts + record counts) — a diverging lower/upper bound
  * would make min/max pruning unsound, exactly like a diverging bloom bit.
  * Both paths run on the same rows by flipping the bytes cutover conf, and
  * the driver leg must run no Spark job at all, so the spec fails if the
  * fast path silently stops firing.
  */
class DriverWriteParitySpec extends SparkSpec {

  private def withConf[T](key: String, value: String)(body: => T): T = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs `body` started on this thread. */
  private def jobsDuring(body: => Unit): Int = {
    val group = s"dwpar-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "driver-write parity")
    try body
    finally {
      sc.clearJobGroup()
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get()
  }

  private def basicRows: DataFrame = {
    import spark.implicits._
    Seq[(java.lang.Long, String, java.lang.Double, java.lang.Boolean, java.lang.Integer)](
      (1L, "alpha", 1.5, true, 7),
      (2L, "", -0.0, false, null),
      (3L, null, Double.NaN, null, -1),
      (4L, "üñïçødé and spaces", 9.25, true, Int.MinValue),
      (11L, "alpha", 1.5, true, 7),
      (12L, "zz", -3.5, false, 0)
    ).toDF("id", "s", "d", "b", "i")
  }

  /** An `events`-shaped frame: timestamp, date, decimal and array columns,
    * and a string whose values need path escaping (or the default partition).
    */
  private def eventRows: DataFrame = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("ts", TimestampType),
      StructField("d", DateType),
      StructField("amt", DecimalType(18, 2)),
      StructField("tags", ArrayType(StringType)),
      StructField("s", StringType)))
    val specials = Seq("a b", "x/y", "k=v", "50%", "", null, "plain")
    val rows = (0 until 42).map { i =>
      Row(i.toLong,
        java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z").plusSeconds(i * 20000L)),
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i % 5)),
        if (i % 6 == 5) null else new java.math.BigDecimal(s"${i * 37 - 400}.${i % 10}5"),
        if (i % 4 == 3) null else Seq.tabulate(i % 3)(k => s"t$k"),
        specials(i % specials.size))
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  private final case class Both(driver: GraftTable, job: GraftTable, driverJobs: Int)

  /** Appends `rows` as a local frame to two fresh tables: one through the
    * driver write, one forced onto the job path (coalesced to one task, so
    * each partition tuple gets one file there as on the driver).
    */
  private def buildBoth(rows: DataFrame, partitionBy: Seq[(String, Transform)],
                        blooms: String): Both = {
    val local = spark.createDataFrame(java.util.Arrays.asList(rows.collect(): _*), rows.schema)
    def tableOf(maxBytes: Long): (GraftTable, Int) =
      withConf("graft.write.driver-max-bytes", maxBytes.toString) {
        val cat = new GraftCatalog(
          java.nio.file.Files.createTempDirectory("graft-dwpar").toString)
        val t = cat.createTable("db.dw", rows.schema, partitionBy = partitionBy,
          properties = Map(TableProperties.BloomColumns -> blooms))
        val jobs = jobsDuring(t.append(spark, if (maxBytes > 0) local else local.coalesce(1)))
        (t, jobs)
      }
    val (driver, driverJobs) = tableOf(8L * 1024 * 1024)
    val (job, _) = tableOf(0L)
    Both(driver, job, driverJobs)
  }

  private def check(both: Both, probes: Seq[Predicate]): Unit = {
    val Both(driver, job, driverJobs) = both
    assert(driverJobs == 0, s"the driver-path append ran $driverJobs Spark jobs")
    // read-back parity through the full scan stack
    val a = driver.toDF(spark).orderBy("id").collect().toSeq
    val b = job.toDF(spark).orderBy("id").collect().toSeq
    assert(a == b, "read-back rows diverge")
    // manifest parity: per-partition-tuple record counts and column stats
    def statsOf(t: GraftTable) = t.scan().dataFiles
      .groupBy(_.partition)
      .map { case (p, fs) =>
        val perCol = fs.flatMap(_.stats.toSeq).groupBy(_._1).map { case (id, sts) =>
          // bounds aggregated across files of the tuple for comparability
          id -> ((sts.flatMap(_._2.min).sorted.headOption,
            sts.flatMap(_._2.max).sorted.lastOption,
            sts.flatMap(_._2.nullCount).sum))
        }
        p -> ((fs.map(_.recordCount).sum, perCol))
      }
    val sa = statsOf(driver)
    val sb = statsOf(job)
    assert(sa == sb, s"manifest stats diverge:\n$sa\nvs\n$sb")
    // bloom parity rides on BloomDriverParitySpec's machinery: both tables
    // carry blooms; assert present and equal per partition tuple
    def blooms(t: GraftTable) = t.scan().dataFiles.groupBy(_.partition).map {
      case (p, fs) => p -> fs.flatMap(_.stats.toSeq.collect {
        case (id, st) if st.bloom.isDefined => id -> st.bloom.get }).sortBy(_._1)
    }
    assert(blooms(driver).values.exists(_.nonEmpty), "no blooms written")
    assert(blooms(driver) == blooms(job), "bloom bitmaps diverge")
    // point lookups prune identically on both
    probes.foreach { p =>
      val pa = driver.scan(p).dataFiles.size
      val pb = job.scan(p).dataFiles.size
      assert(pa == pb, s"pruning of $p diverges: $pa vs $pb files kept")
    }
    // file footers agree on the parquet schema and the codec
    assert(footers(driver) == footers(job), "parquet schemas or codecs diverge")
  }

  /** Distinct (parquet schema, column codecs) over a table's data files. */
  private def footers(t: GraftTable): Set[(String, Seq[String])] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    t.scan().dataFiles.map { f =>
      val path = new org.apache.hadoop.fs.Path(graft.format.GraftUtil.resolve(t.meta.location, f.path))
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(path, spark.sparkContext.hadoopConfiguration))
      try {
        val footer = r.getFooter
        (footer.getFileMetaData.getSchema.toString,
          footer.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(_.getCodec.name)).distinct)
      } finally r.close()
    }.toSet
  }

  test("driver-written files are manifest- and read-identical (unpartitioned)") {
    check(buildBoth(basicRows, Nil, "id,s"), Seq(Predicate.Eq("s", "alpha")))
  }

  test("driver-written files are manifest- and read-identical (bucket-partitioned)") {
    check(buildBoth(basicRows, Seq("id" -> Transform.Bucket(2)), "id,s"),
      Seq(Predicate.Eq("s", "alpha")))
  }

  test("driver-written files match for timestamp, date, decimal and array columns " +
    "under day and escaped identity partitions") {
    val both = buildBoth(eventRows, Seq("ts" -> Transform.Day, "s" -> Transform.Identity), "id,s")
    check(both, Seq(Predicate.Eq("s", "a b"), Predicate.Eq("s", "x/y"), Predicate.Eq("s", "k=v"),
      Predicate.Eq("s", "50%"), Predicate.IsNull("s"), Predicate.Eq("id", 17L)))
    val tuples = both.driver.scan().dataFiles.map(_.partition).distinct
    assert(tuples.size == both.job.scan().dataFiles.map(_.partition).distinct.size)
    assert(tuples.exists(_.values.exists(_.isEmpty)), "null/empty strings lose the default partition")
  }

  test("driver writes follow the session parquet codec") {
    withConf("spark.sql.parquet.compression.codec", "gzip") {
      val both = buildBoth(basicRows, Nil, "id,s")
      check(both, Seq(Predicate.Eq("s", "alpha")))
      assert(footers(both.driver).flatMap(_._2) == Set("GZIP"),
        s"driver-written codecs: ${footers(both.driver)}")
    }
  }

  test("driver writes go through NIO: no Hadoop .crc sidecars, files still readable") {
    // The driver path writes via parquet's LocalOutputFile (measured ~10x
    // cheaper per small file than Hadoop's ChecksumFileSystem), so no .crc
    // sidecar may appear next to driver-written files; readers and manifest
    // stats are unaffected (the parity legs above prove that on the same rows).
    val driver = buildBoth(basicRows, Seq("id" -> Transform.Bucket(2)), "id,s").driver
    val dataDir = java.nio.file.Paths.get(driver.meta.location)
    val walk = java.nio.file.Files.walk(dataDir)
    val (crcs, parquets) = try {
      import scala.jdk.CollectionConverters._
      val names = walk.iterator().asScala.map(_.getFileName.toString).toVector
      (names.count(_.endsWith(".crc")), names.count(_.endsWith(".parquet")))
    } finally walk.close()
    assert(parquets > 0, "expected driver-written parquet files under the table location")
    assert(crcs == 0, s"driver-written table carries $crcs Hadoop .crc sidecars")
  }

  test("non-local plans and oversize appends keep the job path") {
    import spark.implicits._
    val rows = (0L until 200L).map(i => (i, s"v$i")).toDF("id", "s")
    val cat = new GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-dwfb").toString)
    val t = cat.createTable("db.fb", rows.schema)
    // a parquet-backed (non-local) plan must take the job path and still work
    val dir = java.nio.file.Files.createTempDirectory("graft-dwsrc").toString
    rows.write.mode("overwrite").parquet(dir)
    t.append(spark, spark.read.parquet(dir))
    assert(t.toDF(spark).count() == 200)
    // oversize local append falls back and still works
    withConf("graft.write.driver-max-bytes", "64") { // bytes: forces fallback
      val local = spark.createDataFrame(
        java.util.Arrays.asList(rows.collect(): _*), rows.schema)
      t.append(spark, local)
      assert(t.toDF(spark).count() == 400)
    }
  }

  test("an expanding local plan past the row cap takes the job path and commits every row") {
    // a cross join of two local frames is a local plan whose output (64M
    // rows) is far past the row cap: the driver collect stops at cap + 1
    // rows and the append falls back to the job write
    val n = 8192L
    val left = spark.createDataFrame(java.util.Arrays.asList((0L until n).map(Row(_)): _*),
      StructType(Seq(StructField("a", LongType))))
    val right = spark.createDataFrame(java.util.Arrays.asList((0L until n).map(Row(_)): _*),
      StructType(Seq(StructField("b", LongType))))
    val joined = left.crossJoin(right)
    assert(graft.io.DriverParquet.isLocalPlan(joined.queryExecution.optimizedPlan))
    val cat = new GraftCatalog(
      java.nio.file.Files.createTempDirectory("graft-dwx").toString)
    val t = cat.createTable("db.x", joined.schema)
    t.append(spark, joined)
    assert(t.scan().dataFiles.map(_.recordCount).sum == n * n)
  }
}
