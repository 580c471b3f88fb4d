package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.types.{LongType, TimestampType}

/** The schema catalog behind [[Tables.load]]: an unchanged table loads
  * without a schema-inference job, and every change the catalog claims
  * to see — an appended part file, an overwrite with a new schema, a
  * parquet conf flip — is read as a plain `spark.read.parquet` would.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  /** Job-group ids of every job started, in listener order. */
  private val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private lazy val listener = {
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        started.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    spark.sparkContext.addSparkListener(l)
    l
  }
  private var groups = 0

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    super.afterAll()
  }

  /** `body`'s result and the number of Spark jobs it started. A fence job
    * run afterwards flushes the asynchronous listener bus: once its start
    * is seen, every earlier job start has been delivered too. */
  private def jobsIn[A](body: => A): (A, Int) = {
    listener
    val sc = spark.sparkContext
    groups += 1
    val (tag, fence) = (s"tables-spec-$groups", s"tables-spec-$groups-fence")
    sc.setJobGroup(tag, "TablesSpec")
    val out = try body finally sc.clearJobGroup()
    sc.setJobGroup(fence, "TablesSpec fence")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!started.contains(fence) && System.nanoTime() < deadline) Thread.sleep(20)
    assert(started.contains(fence), "listener never saw the fence job")
    (out, started.toArray.count(_ == tag))
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.collect().map(_.toSeq.mkString("|")).toSet

  private def table(n: Int, from: Int = 0) =
    (from until from + n).map(i => (i.toLong, s"r$i")).toDF("id", "tag")

  test("a second load of an unchanged table starts no job") {
    val dir = tmpDir()
    writeTable(dir, "t", table(50).repartition(3))
    val (first, inferJobs) = jobsIn(Tables.load(spark, dir, "t"))
    // the counter sees the inference job a cold load runs
    assert(inferJobs >= 1, inferJobs)
    val (second, jobs) = jobsIn(Tables.load(spark, dir, "t"))
    assert(jobs == 0, s"a load of an unchanged table started $jobs jobs")
    assert(second.schema == first.schema)
    assert(rows(second) == rows(spark.read.parquet(s"$dir/t.parquet")))
    assert(rows(second).size == 50)
  }

  test("an appended part file is read by the next load") {
    val dir = tmpDir()
    writeTable(dir, "t", table(20))
    assert(Tables.load(spark, dir, "t").count() == 20L)
    table(5, from = 20).write.mode("append").parquet(s"$dir/t.parquet")
    val after = Tables.load(spark, dir, "t")
    assert(after.count() == 25L)
    assert(rows(after) == rows(table(25)))
  }

  test("an overwrite with one column added returns the new schema") {
    val dir = tmpDir()
    writeTable(dir, "t", table(10))
    assert(Tables.load(spark, dir, "t").columns.toSeq == Seq("id", "tag"))
    writeTable(dir, "t", table(10).withColumn("extra", $"id" * 2))
    val after = Tables.load(spark, dir, "t")
    assert(after.columns.toSeq == Seq("id", "tag", "extra"), after.schema)
    assert(after.filter($"extra" === $"id" * 2).count() == 10L)
  }

  /** An events table whose `ts` is parquet TIMESTAMP(NANOS), the type
    * `nanosAsLong` governs (Spark cannot write it, so the parquet example
    * writer does). */
  private def nanosEvents(): String = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.util.HadoopOutputFile
    import org.apache.parquet.schema.MessageTypeParser
    val dir = tmpDir()
    val conf = spark.sparkContext.hadoopConfiguration
    val schema = MessageTypeParser.parseMessageType(
      "message events { required int64 ts (TIMESTAMP(NANOS,false)); " +
        "required int64 user_id; }")
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(s"$dir/events.parquet"), conf))
      .withType(schema).withConf(conf).build()
    val rows = new SimpleGroupFactory(schema)
    try (0 until 10).foreach { i =>
      w.write(rows.newGroup().append("ts", 1700000000000000000L + i * 1000000L)
        .append("user_id", i.toLong))
    } finally w.close()
    dir
  }

  test("flipping nanosAsLong gives the matching events.ts type") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.get(key)
    val dir = nanosEvents()
    def plain = scala.util.Try(spark.read.parquet(s"$dir/events.parquet").schema("ts").dataType)
    def viaCatalog = scala.util.Try(Tables.load(spark, dir, "events").schema("ts").dataType)
    try {
      spark.conf.set(key, "true")
      assert(viaCatalog == scala.util.Success(LongType), viaCatalog)
      // the cached LongType must not outlive the conf it was inferred
      // under: the load infers again and, like a plain read, refuses
      // the nanos column Spark has no type for
      spark.conf.set(key, "false")
      Seq(plain, viaCatalog).foreach { t =>
        assert(t.failed.toOption.exists(_.getMessage.contains("TIMESTAMP(NANOS")), t)
      }
      // Tables.events sets the conf itself and converts to micros
      val ev = Tables.events(spark, dir)
      assert(spark.conf.get(key) == "true")
      assert(ev.schema("ts").dataType == TimestampType, ev.schema)
      assert(ev.filter($"ts" === org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.lit(1700000000000000L))).count() == 1L)
      val (again, jobs) = jobsIn(viaCatalog)
      assert(again == scala.util.Success(LongType), again)
      assert(jobs == 0, s"a reload under the same confs started $jobs jobs")
    } finally spark.conf.set(key, prev)
  }

  test("20 appends leave one catalog entry for the path") {
    val dir = tmpDir()
    val path = s"$dir/t.parquet"
    writeTable(dir, "t", table(1))
    Tables.load(spark, dir, "t")
    val before = Tables.catalogPaths.size
    (1 to 20).foreach { i =>
      table(1, from = i).write.mode("append").parquet(path)
      assert(Tables.load(spark, dir, "t").count() == i + 1L)
    }
    assert(Tables.catalogPaths.count(_ == path) == 1, Tables.catalogPaths)
    assert(Tables.catalogPaths.size == before, Tables.catalogPaths)
  }
}
