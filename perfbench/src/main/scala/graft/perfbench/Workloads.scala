package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.api.{GraftApi, Prepared}

/** One benchmark workload: set-up, a warm-up, an endless closed-loop
  * stream of steps (each step runs one or more op calls through the
  * harness), and the untimed result checks.
  */
trait Workload {
  /** Tables of the data directory (for the `tables` layer probe). */
  def tables: Seq[String]
  /** First-touch builds: compiled queries, persisted indexes, states. */
  def prepare(): Unit
  def warmup(): Unit
  /** Run the next step; returns the input rows it absorbed. */
  def step(): Long
  /** Whether the next step starts a new pass over the workload's ops. */
  def atPassStart: Boolean = true
  /** Untimed result checks, run after the timed window. */
  def checks(out: String): Seq[Map[String, Any]]
}

object Workload {
  def apply(h: Harness, plan: JsonNode, work: String): Workload =
    plan.get("workload").asText() match {
      case "incremental_ingest" => new Ingest(h, plan, work)
      case _ => new RegistryPasses(h, plan, work)
    }

  def strings(n: JsonNode): Seq[String] = n.elements().asScala.map(_.asText()).toSeq

  /** Order-independent content hash: (row count, exact sum of row
    * xxhash64s) over the columns in name order. */
  def contentHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(df.columns.sorted.map(col): _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), r.getDecimal(1))
  }

  /** Compare a maintained state with its from-scratch rebuild, the
    * rebuild's columns cast to the maintained state's stored types. */
  def stateCheck(op: String, state: String, maintained: DataFrame,
      rebuilt: DataFrame): Map[String, Any] = {
    val aligned = rebuilt.select(maintained.schema.fields.toSeq.map(f =>
      col(f.name).cast(f.dataType).as(f.name)): _*)
    val (m, r) = (contentHash(maintained), contentHash(aligned))
    Map("op" -> op, "kind" -> "state", "state" -> state, "ok" -> (m == r),
      "rows" -> m._1, "rebuilt_rows" -> r._1)
  }

  def writeCheck(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)
}

/** `relational_interactive`: seeded passes over registry ops
  * (`SparkEntry.queries`), plus two `Prepared` queries re-bound with
  * seeded constants each pass. The
  * warm-up pass doubles as the check pass: it writes each op's result for
  * the oracle comparison instead of discarding it. The warm-up binds the
  * Prepared queries to constants of its own, so every timed call re-binds
  * to new ones; each distinct timed bind is re-run and checked after the
  * window. */
final class RegistryPasses(h: Harness, plan: JsonNode, work: String) extends Workload {
  import Workload._
  private val spark = h.spark
  private val data = plan.get("data").asText()
  private val passes = plan.get("passes").elements().asScala.map(strings).toVector
  private val binds = Option(plan.get("binds"))
  private val warmupBinds = Option(plan.get("warmup_binds"))
  /** The (op, bind index) pairs the timed calls used. */
  private val timedBinds = mutable.LinkedHashSet.empty[(String, Int)]
  private var pass = 0
  private var pos = 0
  private var revenue: Prepared = _
  private var priority: Prepared = _

  val tables: Seq[String] =
    new java.io.File(data).list().toSeq.filter(_.endsWith(".parquet"))
      .map(_.stripSuffix(".parquet")).sorted

  def prepare(): Unit = if (binds.isDefined) {
    val li = Tables.lineitem(spark, data)
    revenue = Prepared.compile(li.filter(
        col("l_shipdate") >= Prepared.param("t0", java.sql.Timestamp.valueOf("1996-01-01 00:00:00")) &&
        col("l_shipdate") < Prepared.param("t1", java.sql.Timestamp.valueOf("1997-01-01 00:00:00")) &&
        col("l_discount").between(Prepared.param("dlo", 0.03), Prepared.param("dhi", 0.05)) &&
        col("l_quantity") < Prepared.param("qmax", 24.0))
      .agg(sum(col("l_extendedprice").cast("decimal(12,2)") *
        col("l_discount").cast("decimal(12,2)")).cast("double").as("revenue")))
    priority = Prepared.compile(Tables.orders(spark, data)
      .filter(col("o_totalprice") > Prepared.param("cut", 0.0))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n")))
  }

  /** Bind `op` to the constants of timed pass `p`, or to the warm-up's
    * own constants for `p = -1`; returns the frame and its oracle SQL. */
  private def bind(op: String, p: Int): (DataFrame, String) = {
    val arr = binds.get.get(op)
    val b = if (p < 0) warmupBinds.get.get(op) else arr.get(p % arr.size())
    op match {
      case "prepared_revenue" =>
        val y = b.get("y0").asInt()
        val (dlo, dhi, q) = (b.get("dlo").asDouble(), b.get("dhi").asDouble(),
          b.get("qmax").asDouble())
        (revenue.bind(
          "t0" -> java.sql.Timestamp.valueOf(s"$y-01-01 00:00:00"),
          "t1" -> java.sql.Timestamp.valueOf(s"${y + 1}-01-01 00:00:00"),
          "dlo" -> dlo, "dhi" -> dhi, "qmax" -> q),
          s"""SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) *
             |  CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) AS revenue
             |FROM lineitem WHERE l_shipdate >= TIMESTAMP '$y-01-01'
             |  AND l_shipdate < TIMESTAMP '${y + 1}-01-01'
             |  AND l_discount BETWEEN $dlo AND $dhi AND l_quantity < $q""".stripMargin)
      case "prepared_priority" =>
        val cut = b.get("cut").asDouble()
        (priority.bind("cut" -> cut),
          s"""SELECT o_orderpriority, COUNT(*) AS n FROM orders
             |WHERE o_totalprice > $cut GROUP BY o_orderpriority""".stripMargin)
    }
  }

  private def build(op: String, p: Int): DataFrame =
    if (op.startsWith("prepared_")) bind(op, p)._1
    else SparkEntry.queries(op)(spark, data)

  private def oracleSql(op: String, p: Int): String =
    if (op.startsWith("prepared_")) bind(op, p)._2 else SparkEntry.oracleSql(op)

  private val checked = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def oracleCheck(op: String, path: String, sql: => String)(ok: Boolean) =
    if (ok) Map("op" -> op, "kind" -> "oracle", "out" -> path, "sql" -> sql)
    else Map("op" -> op, "kind" -> "error", "ok" -> false)

  def warmup(): Unit = passes.head.distinct.sorted.foreach { op =>
    val path = s"$work/out/$op"
    checked += oracleCheck(op, path, oracleSql(op, -1))(
      h.query(op, writeCheck(_, path))(build(op, -1)))
  }

  override def atPassStart: Boolean = pos == 0

  def step(): Long = {
    val op = passes(pass % passes.size)(pos)
    if (op.startsWith("prepared_")) timedBinds += ((op, pass))
    h.query(op)(build(op, pass))
    pos += 1
    if (pos == passes(pass % passes.size).size) { pos = 0; pass += 1 }
    0L
  }

  def checks(out: String): Seq[Map[String, Any]] = checked.toSeq ++ timedBinds.toSeq.map {
    case (op, p) =>
      val path = s"$out/${op}_bind$p"
      oracleCheck(op, path, oracleSql(op, p))(
        try { writeCheck(build(op, p), path); true }
        catch { case e: Throwable =>
          System.err.println(s"[perfbench] check of $op bind $p failed: $e"); false
        } finally graft.CacheRegistry.drain())
  }
}

/** `incremental_ingest`: benchmark-owned tables seeded with 80% of the
  * corpus; each step appends one staged delta batch as new parquet files,
  * absorbs it through the public upsert functions, feeds one Structured
  * Streaming micro-batch, reads the changed state back, and probes a
  * registry read op over the changed table. */
final class Ingest(h: Harness, plan: JsonNode, work: String) extends Workload {
  import Workload._
  private val spark = h.spark
  private val data = plan.get("data").asText()
  private val state = s"$work/state"
  private val batches = plan.get("batches").elements().asScala.toVector
  private var next = 0
  private val absorbed = mutable.ArrayBuffer.empty[Int]
  private val streamed = mutable.ArrayBuffer.empty[String]

  val tables: Seq[String] = Seq("customer", "documents", "events")

  private def read(paths: Seq[String]): DataFrame = spark.read.parquet(paths: _*)
  private def table(t: String) = s"$data/$t.parquet"
  private def staged(b: Int, t: String) = batches(b).get(t).get("path").asText()
  private def stagedRows(b: Int, t: String) = batches(b).get(t).get("rows").asLong()

  // maintained state
  private val skPaths = mutable.ArrayBuffer.empty[String]
  private val pairPaths = mutable.ArrayBuffer.empty[String]
  private var cust: DataFrame = _
  private var view: DataFrame = _
  private var stream: org.apache.spark.sql.streaming.StreamingQuery = _
  private var input: org.apache.spark.sql.execution.streaming.runtime.MemoryStream[
    graft.streaming.EventStreams.Event] = _
  /** Per-step file listings of documents, for the stale-read probe. */
  val probeFiles = mutable.ArrayBuffer.empty[Seq[String]]
  /** Streaming progress of each timed micro-batch. */
  val streamBatches = mutable.ArrayBuffer.empty[Map[String, Any]]
  /** Storage counters of each timed step. */
  val storage = mutable.ArrayBuffer.empty[Map[String, Any]]

  private def events(df: DataFrame) = {
    import spark.implicits._
    df.select(col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[graft.streaming.EventStreams.Event].collect().toSeq
  }

  private def timed[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] prepare $what: ${(System.nanoTime() - t0) / 1e9}%.2f s")
  }

  def prepare(): Unit = {
    import spark.implicits._
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.load(spark, data, "documents")
    timed("sketches") {
      GraftApi.sketchTable(docs, "doc_id", "text").write.parquet(s"$state/sk/base")
      skPaths += s"$state/sk/base"
    }
    timed("customers and view") {
      Tables.load(spark, data, "customer").write.parquet(s"$state/cust/v0")
      cust = spark.read.parquet(s"$state/cust/v0")
      graft.streaming.DeltaViews.recompute(Tables.events(spark, data), "user_id", "value")
        .write.parquet(s"$state/view/v0")
      view = spark.read.parquet(s"$state/view/v0")
    }
    timed("stream start") {
      input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[graft.streaming.EventStreams.Event]
      stream = graft.streaming.EventStreams.windowedCounts(input.toDF())
        .writeStream.format("memory").queryName("perfbench_stream")
        .outputMode("complete")
        .option("checkpointLocation", s"$state/stream_ckpt").start()
    }
    graft.CacheRegistry.drain()
  }

  /** One step over the small warm-up batch: compiles every step's plans
    * without the cost of a full batch. */
  def warmup(): Unit = {
    step()
    streamBatches.clear()
    storage.clear()
  }

  private def dirBytes(p: String): (Long, Int) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new java.io.File(p)).filter(f => f.getName.endsWith(".parquet"))
    (files.map(_.length).sum, files.size)
  }

  def step(): Long = {
    require(next < batches.size, "incremental_ingest ran out of staged delta batches")
    val b = next
    next += 1
    val v = b + 1
    val (data0, dataFiles0) = dirBytes(data)
    val (state0, stateFiles0) = dirBytes(state)
    var ok = true
    ok &= h.call("append") {
      h.phase("storage.write") {
        for (t <- Seq("documents", "events", "customer"))
          spark.read.parquet(staged(b, t)).write.mode("append").parquet(table(t))
      }
    }
    val (data1, _) = dirBytes(data)
    val deltaDocs = read(Seq(staged(b, "documents")))
    ok &= h.call("near_dup_upsert") {
      val skPath = s"$state/sk/b$b"
      val sk = h.phase("api.sketchTable.build")(GraftApi.sketchTable(deltaDocs, "doc_id", "text"))
      h.phase("api.sketchTable.exec")(sk.write.parquet(skPath))
      val pairs = h.phase("api.incrementalNearDupPairs.build")(
        GraftApi.incrementalNearDupPairs(read(skPaths.toSeq), read(Seq(skPath))))
      h.phase("api.incrementalNearDupPairs.exec")(pairs.write.parquet(s"$state/pairs/b$b"))
      skPaths += skPath
      pairPaths += s"$state/pairs/b$b"
      h.drainCaches()
    }
    ok &= h.call("merge_upsert") {
      val delta = read(Seq(staged(b, "customer_updates")))
        .unionByName(read(Seq(staged(b, "customer"))))
      val merged = h.phase("api.mergeUpsert.build")(
        GraftApi.mergeUpsert(cust, delta, "c_custkey").drop("merge_action"))
      h.phase("api.mergeUpsert.exec")(merged.write.parquet(s"$state/cust/v$v"))
      cust = spark.read.parquet(s"$state/cust/v$v")
      h.drainCaches()
    }
    val deltaEvents = read(Seq(staged(b, "events")))
    ok &= h.call("view_delta") {
      val nv = h.phase("api.applyDelta.build")(graft.streaming.DeltaViews.applyDelta(view,
        graft.streaming.DeltaViews.aggDelta(deltaEvents, "user_id", "value", 1)))
      h.phase("api.applyDelta.exec")(nv.write.parquet(s"$state/view/v$v"))
      view = spark.read.parquet(s"$state/view/v$v")
      h.drainCaches()
    }
    ok &= h.call("stream_batch") {
      h.phase("stream.batch") {
        input.addData(events(deltaEvents))
        stream.processAllAvailable()
      }
      streamed += staged(b, "events")
      val p = stream.lastProgress
      val so = p.stateOperators.headOption
      streamBatches += Map(
        "rows" -> p.numInputRows,
        "trigger_ms" -> Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
        "state_rows" -> so.map(_.numRowsTotal).getOrElse(0L),
        "state_bytes" -> so.map(_.memoryUsedBytes).getOrElse(0L))
    }
    ok &= h.call("read_back") {
      h.phase("readback") {
        Seq(read(skPaths.toSeq), read(pairPaths.toSeq), cust, view,
          spark.table("perfbench_stream")).foreach(h.drainRows)
      }
    }
    ok &= h.query("dedup_exact")(SparkEntry.queries("dedup_exact")(spark, data))
    h.untimed {
      val i = probeFiles.size
      writeCheck(SparkEntry.queries("dedup_exact")(spark, data), s"$work/out/probe_$i")
      probeFiles += new java.io.File(table("documents")).list().toSeq
        .filter(_.endsWith(".parquet")).sorted.map(f => s"${table("documents")}/$f")
    }
    val (data2, dataFiles2) = dirBytes(data)
    val (state2, stateFiles2) = dirBytes(state)
    storage += Map("delta_bytes" -> (data1 - data0), "bytes_written" -> (data2 - data0 + state2 - state0),
      "state_bytes_written" -> (state2 - state0),
      "files" -> (dataFiles2 - dataFiles0 + stateFiles2 - stateFiles0))
    if (!ok) 0L
    else {
      absorbed += b
      Seq("documents", "events", "customer", "customer_updates")
        .map(stagedRows(b, _)).sum
    }
  }

  def checks(out: String): Seq[Map[String, Any]] = {
    val deltas = absorbed.toSeq
    def allDeltas(t: String) = read(deltas.map(staged(_, t)))
    val docs = Tables.load(spark, data, "documents")
    val ev = Tables.events(spark, data)
    def guarded(op: String, st: String)(m: => DataFrame, r: => DataFrame) =
      try stateCheck(op, st, m, r)
      catch { case e: Throwable =>
        Map("op" -> op, "kind" -> "state", "state" -> st, "ok" -> false,
          "error" -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500))
      } finally graft.CacheRegistry.drain()
    val probes = probeFiles.zipWithIndex.map { case (files, i) =>
      Map("op" -> "dedup_exact", "kind" -> "oracle", "out" -> s"$out/probe_$i",
        "sql" -> SparkEntry.oracleSql("dedup_exact"),
        "files" -> Map("documents" -> files))
    }
    val states = if (deltas.isEmpty) Seq.empty else Seq(
      guarded("near_dup_upsert", "sketches")(read(skPaths.toSeq),
        GraftApi.sketchTable(docs, "doc_id", "text")),
      guarded("near_dup_upsert", "pairs")(read(pairPaths.toSeq),
        GraftApi.incrementalNearDupPairs(read(Seq(skPaths.head)),
          GraftApi.sketchTable(allDeltas("documents"), "doc_id", "text"))),
      guarded("merge_upsert", "customers")(cust,
        GraftApi.mergeUpsert(spark.read.parquet(s"$state/cust/v0"),
          allDeltas("customer_updates").unionByName(allDeltas("customer")), "c_custkey")
          .drop("merge_action")),
      guarded("view_delta", "user_view")(view,
        graft.streaming.DeltaViews.recompute(ev, "user_id", "value")),
      guarded("stream_batch", "window_counts")(spark.table("perfbench_stream"),
        graft.streaming.EventStreams.windowedCounts(read(streamed.toSeq))))
    stream.stop()
    probes.toSeq ++ states
  }
}
