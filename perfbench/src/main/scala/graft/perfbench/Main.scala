package graft.perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** JVM side of the benchmark (`perfbench/run.py` drives it):
  *
  *   Main --plan <plan.json> --work <dir> --seconds <s> --trace <0|1> --cores <n>
  *
  * Starts a `local[cores]` graft session, runs the workload's set-up and
  * warm-up, then one closed-loop client for at least `seconds` of timed op
  * calls, rounded up to whole passes, then the untimed result checks. With
  * `--trace 1` the first half of the window runs untraced and the second
  * half traced (so the trace reports its own overhead), followed by the
  * tables/functions layer probes.
  * Everything measured goes to `<work>/raw.json`; spans to
  * `<work>/spans.json`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val tMain = System.currentTimeMillis()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val cores = opt("cores").toInt
    val plan = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(opt("plan")))

    val spark = graft.GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val tSession = System.currentTimeMillis()
    val h = new Harness(spark)
    val wl = Workload(h, plan, work)
    val t0 = System.nanoTime()
    wl.prepare()
    val t1 = System.nanoTime()
    wl.warmup()
    val t2 = System.nanoTime()
    val warmupFailures = h.calls.count(c => c("ok") == false)
    h.calls.clear()
    h.pausedS = 0.0
    h.pausedCpuS = 0.0
    h.pausedGcMs = 0L

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = h.gcMs
    val cpu0 = h.processCpuS
    val w0 = System.nanoTime()
    val half = w0 + (seconds * 0.5e9).toLong
    val deadline = w0 + (seconds * 1e9).toLong
    var rows = 0L
    var untracedCalls = -1
    var untracedS = 0.0
    // whole passes only, so every run measures the same op mix; a traced
    // run measures at least one untraced and one traced pass
    while (System.nanoTime() < deadline || !wl.atPassStart || (trace && !h.tracing)) {
      if (trace && !h.tracing && wl.atPassStart && System.nanoTime() >= half) {
        untracedCalls = h.calls.size
        untracedS = (System.nanoTime() - w0) / 1e9 - h.pausedS
        h.startTracing()
      }
      rows += wl.step()
    }
    val timedS = (System.nanoTime() - w0) / 1e9 - h.pausedS
    val cpuS = h.processCpuS - cpu0 - h.pausedCpuS
    val gcWindow = h.gcMs - gc0 - h.pausedGcMs
    val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum
    val heapLive = liveHeapBytes()

    val probes = if (trace) layerProbes(h, wl, plan.get("data").asText()) else Map.empty
    val checks = wl.checks(s"$work/out")
    val ingest = wl match {
      case i: Ingest => Map("stream" -> i.streamBatches.toSeq, "storage" -> i.storage.toSeq)
      case _ => Map.empty
    }
    val raw = Map(
      "cores" -> cores,
      "t_main_ms" -> tMain, "t_session_ms" -> tSession,
      "prepare_s" -> (t1 - t0) / 1e9, "warmup_s" -> (t2 - t1) / 1e9,
      "warmup_failures" -> warmupFailures,
      "timed_s" -> timedS, "cpu_s" -> cpuS, "rows_absorbed" -> rows,
      "untraced_calls" -> untracedCalls, "untraced_s" -> untracedS,
      "jvm_gc_ms" -> gcWindow, "heap_used_peak_bytes" -> heapPeak,
      "heap_live_bytes" -> heapLive,
      "vm_hwm_kb" -> vmHwmKb(),
      "calls" -> h.calls.toSeq.map(_.toMap),
      "checks" -> checks, "probes" -> probes) ++ ingest
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/raw.json"), Json.render(raw))
    if (trace)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/spans.json"),
        Json.render(h.spans))
    spark.stop()
  }

  /** Heap graft still holds once the window ends (caches, memos, state):
    * used heap after a full collection. Spark's cleaner releases blocks of
    * unreachable broadcasts and shuffles only after a collection finds
    * them, so collect until the figure settles. */
  private def liveHeapBytes(): Long = {
    def collect(): Long = {
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    var (prev, cur, rounds) = (Long.MaxValue, collect(), 1)
    while (math.abs(prev - cur) >= (1L << 20) && rounds < 6) {
      prev = cur
      cur = collect()
      rounds += 1
    }
    cur
  }

  /** Peak resident set of this JVM, from the kernel's VmHWM. */
  private def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong }
        .getOrElse(-1L)
    } catch { case _: Throwable => -1L }

  /** Traced-run probes of two layers the op calls reach only indirectly:
    * `graft.Tables.load` per table, and each `graft.functions` kernel the
    * pipeline ops use, selected directly over the workload's frames. */
  private def layerProbes(h: Harness, wl: Workload, data: String): Map[String, Any] = {
    val spark = h.spark
    val loads = wl.tables.map { t =>
      t -> h.probe("tables.load", 5)(graft.Tables.load(spark, data, t))
    }
    val kernels: Seq[(String, DataFrame => DataFrame)] = Seq(
      "shingle_md5_bottom_k" -> (d => d.select(
        graft.functions.ShingleSketch.shingle_md5_bottom_k(col("text"), 5, 8))),
      "shingle_md5_grams" -> (d => d.select(
        graft.functions.ShingleSketch.shingle_md5_grams(col("text"), 5, 1))),
      "text_token_counts" -> (d => d.select(
        graft.functions.TokenCounts.text_token_counts(col("text")))),
      "simhash_bits" -> (d => d.select(graft.functions.simhash.simhash_bits(col("md5s")))))
    val fns: Map[String, Any] =
      if (!wl.tables.contains("documents")) Map.empty
      else {
        val docs = graft.Tables.load(spark, data, "documents")
          .select(col("doc_id"), col("text"),
            expr("transform(split(coalesce(text, ''), ' '), w -> md5(w))").as("md5s"))
          .repartition(spark.sparkContext.defaultParallelism).cache()
        val n = docs.count()
        val out = kernels.map { case (k, f) =>
          k -> n / (h.probe(s"functions.$k", 3)(h.drainRows(f(docs)))._1 / 1e3)
        }
        docs.unpersist()
        out.toMap
      }
    Map("tables" -> loads.map { case (t, (ms, jobs)) =>
        t -> Map("load_ms" -> ms, "load_jobs" -> jobs) }.toMap,
      "functions_rows_per_s" -> fns)
  }
}
