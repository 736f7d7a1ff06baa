package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, StreamingQueryListener, Trigger}

import graft.{GraftSession, SparkEntry}
import graft.streaming.StreamingPipeline

/** JVM side of the benchmark: runs one workload against the engine's
  * public functions and writes everything it observed to one JSON file.
  * Metrics, percentiles and correctness are computed by `perfbench/run.py`
  * from that file; this side only drives the engine and records times,
  * progress events and (with trace=1) task counts and plan census.
  *
  * Usage: Harness key=value ... (see run.py for the keys). */
object Harness {

  def now(): Long = System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = opt("workload")
    if (workload == "oracle_sql") {
      // the DuckDB oracle text of the listed queries (make_fingerprints.py)
      val sql = opt("queries").split(",").map(n => n -> SparkEntry.oracleSql(n)).toMap
      Files.write(Paths.get(opt("out")), Json.render(sql).getBytes(UTF_8))
      return
    }
    val runDir = Paths.get(opt("run_dir"))
    val cpus = opt("cpus")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = mutable.LinkedHashMap[String, Any]()

    val tBegin = now()
    // ---- set-up, repeated: session start + warm-up on a fresh session ----
    val setup = mutable.ArrayBuffer[Map[String, Any]]()
    var spark: SparkSession = null
    for (rep <- 1 to opt("setup_reps").toInt) {
      if (spark != null) spark.stop()
      val t0 = now()
      spark = GraftSession.builder(master = s"local[$cpus]", appName = "perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.local.dir", runDir.resolve("spark-local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val t1 = now()
      workload match {
        case "batch_mix" =>
          opt("warmup_queries").split(",").foreach { n =>
            SparkEntry.queries(n)(spark, opt("data")).collect()
            spark.catalog.clearCache()
          }
        case _ =>
          val q = topology(spark, runDir.resolve("warm/src").toString, None)
            .writeStream.outputMode(OutputMode.Update()).format("noop")
            .option("checkpointLocation", runDir.resolve(s"warm/ckpt$rep").toString)
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination()
      }
      setup += Map("session_ms" -> (t1 - t0), "warmup_ms" -> (now() - t1))
    }
    out("setup") = setup.toSeq
    val tSetup = now()

    val counts = if (trace) Some(new TaskCounts) else None
    counts.foreach(spark.sparkContext.addSparkListener)
    // resident set size, sampled every 100 ms while the workload runs
    val rss = mutable.ArrayBuffer[Long]()
    val sampler = new Thread(() => try {
      while (true) { rss.synchronized(rss += procStatusKb("VmRSS:")); Thread.sleep(100) }
    } catch { case _: InterruptedException => () })
    sampler.setDaemon(true)
    sampler.start()
    workload match {
      case "batch_mix" => batchMix(spark, opt, seconds, counts, out)
      case "stream" =>
        out("bulk") = stream(spark, "bulk", runDir.resolve("bulk"), opt, seconds, counts)
        if (trace) out("ladder") = ladder(spark, opt)
        out("trickle") = stream(spark, "trickle", runDir.resolve("trickle"), opt, seconds, counts)
    }
    counts.foreach { c =>
      org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
      out("counts") = c.snapshot()
    }
    sampler.interrupt()
    sampler.join()
    out("rss_kb") = rss.synchronized(rss.toSeq)
    out("rss_peak_kb") = procStatusKb("VmHWM:")
    out("phases_ms") = Map("setup" -> (tSetup - tBegin), "measure" -> (now() - tSetup))
    spark.stop()
    Files.write(Paths.get(opt("out")), Json.render(out).getBytes(UTF_8))
  }

  /** The reference topology up to the changelog: payload → decode →
    * stay_category enrich → hotels_count, over a text file source. */
  def topology(spark: SparkSession, src: String, filesPerTrigger: Option[Int]): DataFrame = {
    val reader = spark.readStream.format("text")
    val raw = filesPerTrigger.fold(reader)(n => reader.option("maxFilesPerTrigger", n.toString)).load(src)
    StreamingPipeline.hotelsCount(StreamingPipeline.enrich(StreamingPipeline.fromJsonPayload(raw)))
  }

  // ---------------------------------------------------------------- streams

  /** One phase of the `stream` workload: `bulk` drains a staged backlog
    * (closed loop), `trickle` is fed on a schedule (open loop). */
  def stream(spark: SparkSession, phase: String, runDir: Path, opt: Map[String, String],
             seconds: Double, counts: Option[TaskCounts]): Map[String, Any] = {
    val out = mutable.LinkedHashMap[String, Any]()
    counts.foreach(_.phase = phase)
    val progress = new ConcurrentHashMap[Long, String]()
    val rowsIn = new java.util.concurrent.atomic.AtomicLong()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        progress.put(e.progress.batchId, e.progress.json)
        rowsIn.addAndGet(e.progress.numInputRows)
      }
    }
    spark.streams.addListener(listener)
    val sinkDir = Files.createDirectories(runDir.resolve("sink"))
    val sinkSpans = new ConcurrentHashMap[Long, Seq[Long]]()
    // The HOTELS_COUNT topic stand-in: run the batch, then write its
    // changelog rows as toJsonPayload lines, one file per batch (atomic).
    val sink: (DataFrame, Long) => Unit = (df, batchId) => {
      val rows = df.collect()
      val s0 = now()
      val lines = StreamingPipeline
        .toJsonPayload(spark.createDataFrame(rows.toSeq.asJava, df.schema))
        .collect().map(_.getString(0))
      val tmp = sinkDir.resolve(s".$batchId.tmp")
      Files.write(tmp, lines.toSeq.asJava, UTF_8)
      Files.move(tmp, sinkDir.resolve(s"$batchId.json"), StandardCopyOption.ATOMIC_MOVE)
      sinkSpans.put(batchId, Seq(s0, now()))
    }
    val bulk = phase == "bulk"
    val src = runDir.resolve("src").toString
    val q: StreamingQuery = topology(spark, src, if (bulk) Some(1) else None)
      .writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", runDir.resolve("ckpt").toString)
      .foreachBatch(sink)
      .start()
    val gen = mutable.ArrayBuffer[Seq[Long]]()
    try {
      if (bulk) {
        // closed loop: the staged backlog drains at the engine's pace; the
        // window opens once the warm batches have completed
        val warm = opt("warm_batches").toInt
        waitFor(120000, q)(progress.size >= warm)
        Thread.sleep((seconds * 1000).toLong)
      } else {
        // open loop: one generator thread drops each staged file into the
        // source directory when it is due, whatever the engine is doing
        val staged = Files.list(runDir.resolve("stage")).iterator().asScala.toSeq.sortBy(_.toString)
        val interval = opt("interval_ms").toLong
        val t0 = now() + 500
        val thread = new Thread(() => staged.zipWithIndex.foreach { case (f, i) =>
          val due = t0 + i * interval
          val wait = due - now()
          if (wait > 0) Thread.sleep(wait)
          Files.move(f, Paths.get(src).resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
          gen.synchronized(gen += Seq(due, now()))
        })
        thread.start()
        thread.join()
        val total = opt("total_rows").toLong
        waitFor(120000, q)(rowsIn.get >= total)
      }
      // with the trickle drained, no batch is in flight and its grown
      // state is still loaded
      if (!bulk) out("heap_live_kb") = liveHeapKb(spark)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    // census of the last micro-batch's physical plan
    if (counts.isDefined) out("census") = Option(q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution)
      .map(e => Census(e.executedPlan)).getOrElse(Map.empty)
    out("progress") = progress.asScala.toSeq.sortBy(_._1).map(p => Json.Raw(p._2))
    out("sink_spans") = sinkSpans.asScala.toSeq.sortBy(_._1).map { case (b, s) => Seq(b) ++ s }
    out("generator") = gen.synchronized(gen.toSeq)
    out.toMap
  }

  private def waitFor(timeoutMs: Long, q: StreamingQuery)(cond: => Boolean): Unit = {
    val deadline = now() + timeoutMs
    while (!cond) {
      q.exception.foreach(e => throw e)
      if (now() > deadline) throw new RuntimeException("timed out waiting for the stream")
      Thread.sleep(10)
    }
  }

  /** Batch-form prefix ladder over the staged payloads: each rung adds one
    * layer of the topology and keeps only the columns the full topology
    * reads, so `from_json` is pruned the same way in every rung. */
  def ladder(spark: SparkSession, opt: Map[String, String]): Map[String, Any] = {
    val files = opt("ladder_files").split(",").toSeq
    val raw = spark.read.format("text").load(files: _*)
    val decoded = StreamingPipeline.fromJsonPayload(raw).select("srch_ci", "srch_co", "hotel_id")
    val enriched = StreamingPipeline.enrich(decoded).select("stay_category", "hotel_id")
    val agg = StreamingPipeline.hotelsCount(enriched)
    val rungs = Seq("scan" -> raw, "decode" -> decoded, "enrich" -> enriched, "agg" -> agg,
      "sink" -> StreamingPipeline.toJsonPayload(agg))
    // rungs interleaved within each repetition, so drift hits them alike
    val times = (1 to opt("ladder_reps").toInt).flatMap(_ => rungs.map { case (name, df) =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      name -> (System.nanoTime() - t0) / 1e6
    }).groupMap(_._1)(_._2)
    Map("rows" -> raw.count(), "rungs_ms" -> times)
  }

  // ------------------------------------------------------------------ batch

  def batchMix(spark: SparkSession, opt: Map[String, String], seconds: Double,
               counts: Option[TaskCounts], out: mutable.LinkedHashMap[String, Any]): Unit = {
    val names = opt("queries").split(",").toSeq
    val data = opt("data")
    val resultDir = Paths.get(opt("run_dir")).resolve("results")
    val sc = spark.sparkContext
    val census = mutable.LinkedHashMap[String, Map[String, Long]]()
    val results = mutable.ArrayBuffer[(String, Array[org.apache.spark.sql.Row], org.apache.spark.sql.types.StructType)]()

    def runOne(id: String, name: String, record: Boolean): Map[String, Any] = {
      counts.foreach(_.recording = record)
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = now()
      var t1, t2 = t0
      val res = try {
        val df = SparkEntry.queries(name)(spark, data)
        t1 = now()
        df.queryExecution.executedPlan
        t2 = now()
        val rows = df.collect()
        val t3 = now()
        sc.clearJobGroup()
        if (record && counts.isDefined) census(id) = Census(df.queryExecution.executedPlan)
        results += ((id, rows, df.schema))
        Map("ok" -> true, "rows" -> rows.length, "end_ms" -> t3)
      } catch {
        case e: Throwable =>
          sc.clearJobGroup()
          Map("ok" -> false, "error" -> String.valueOf(e.getMessage).take(300), "end_ms" -> now())
      }
      spark.catalog.clearCache()
      Map("id" -> id, "name" -> name, "start_ms" -> t0,
        "compose_end_ms" -> t1, "plan_end_ms" -> t2) ++ res
    }

    val runs = mutable.ArrayBuffer[Map[String, Any]]()
    val tStart = now()
    var pass = 0
    while (pass == 0 || now() - tStart < seconds * 1000) {
      names.zipWithIndex.foreach { case (n, i) => runs += runOne(s"p$pass-$i-$n", n, record = true) }
      pass += 1
    }
    out("queries") = runs.toSeq
    // after the timed passes: keep every result for the oracle check in
    // run.py, four writes at a time
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    results.map { case (id, rows, schema) => pool.submit(new Runnable {
      def run(): Unit =
        spark.createDataFrame(rows.toSeq.asJava, schema).write.parquet(resultDir.resolve(id).toString)
    })}.foreach(_.get())
    pool.shutdown()
    results.clear()
    out("heap_live_kb") = liveHeapKb(spark)
    // tracing overhead: the first few queries again, recorded and not,
    // alternating which goes first
    if (counts.isDefined) {
      out("overhead_pairs") = names.take(opt("overhead_pairs").toInt).zipWithIndex.map { case (n, i) =>
        val order = if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        val ms = order.map { rec =>
          val r = runOne(s"o$i-${if (rec) "t" else "u"}-$n", n, rec)
          rec -> (r("end_ms").asInstanceOf[Long] - r("start_ms").asInstanceOf[Long])
        }.toMap
        Seq(ms(false), ms(true))
      }
    }
    out("census") = census.toMap
  }

  /** Heap the run still holds once garbage is gone, taken at the end of
    * the measured window (a stream's state is still loaded then). */
  private def liveHeapKb(spark: SparkSession): Long = {
    // the context cleaner frees broadcast blocks only after a GC has
    // dropped their handles, so collect, give it a moment, collect again
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    System.gc()
    Thread.sleep(500)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1024
  }

  private def procStatusKb(key: String): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith(key)).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
}

/** Join/exchange census of a physical plan, through AQE query stages and
  * subqueries (the final plan once the query has run). */
object Census extends AdaptiveSparkPlanHelper {
  def apply(plan: SparkPlan): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    def n(f: SparkPlan => Boolean): Long = nodes.count(f).toLong
    Map(
      "planner.joins_bhj" -> n(_.isInstanceOf[BroadcastHashJoinExec]),
      "planner.joins_smj" -> n(_.isInstanceOf[SortMergeJoinExec]),
      "planner.joins_shj" -> n(_.isInstanceOf[ShuffledHashJoinExec]),
      "planner.joins_bnlj" -> n(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
      "planner.exchanges" -> n(p => p.isInstanceOf[ShuffleExchangeLike] || p.isInstanceOf[BroadcastExchangeLike]))
  }
}

/** Task-level counts per scope: one scope per batch query (its job group)
  * or per micro-batch (the `streaming.sql.batchId` job property). With
  * `recording` off, events are ignored. */
class TaskCounts extends SparkListener {
  @volatile var recording = true
  @volatile var phase = ""
  private val stageScope = new ConcurrentHashMap[Int, String]()
  private val scopes = new ConcurrentHashMap[String, mutable.Map[String, Long]]()

  private def add(scope: String, kv: (String, Long)*): Unit = {
    val m = scopes.computeIfAbsent(scope, _ => mutable.Map[String, Long]().withDefaultValue(0L))
    m.synchronized(kv.foreach { case (k, v) =>
      m(k) = if (k == "exec.peak_exec_mem_bytes") math.max(m(k), v) else m(k) + v
    })
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
    val p = Option(e.properties)
    // micro-batches: only even batch ids are recorded, so the odd ones
    // give the untraced side of the overhead comparison
    val batch = p.flatMap(x => Option(x.getProperty("streaming.sql.batchId")))
      .filter(_.toLong % 2 == 0).map(s"$phase-batch-" + _)
    val group = p.flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_ => !p.exists(_.containsKey("streaming.sql.batchId")))
    val scope = batch.orElse(group)
    scope.foreach { s =>
      e.stageIds.foreach(id => stageScope.put(id, s))
      add(s, "exec.jobs" -> 1L)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach(add(_, "exec.stages" -> 1L))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { s =>
      val m = e.taskMetrics
      if (m == null) add(s, "exec.tasks" -> 1L)
      else add(s,
        "exec.tasks" -> 1L,
        "exec.cpu_ms" -> m.executorCpuTime / 1000000L,
        "exec.run_ms" -> m.executorRunTime,
        "exec.gc_ms" -> m.jvmGCTime,
        "exec.shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
        "exec.shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "exec.spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
        "exec.peak_exec_mem_bytes" -> m.peakExecutionMemory)
    }

  def snapshot(): Map[String, Map[String, Long]] =
    scopes.asScala.map { case (k, v) => k -> v.synchronized(v.toMap) }.toMap
}

/** Minimal JSON writer for the harness output (maps, sequences, strings,
  * numbers, booleans and pre-rendered JSON). */
object Json {
  final case class Raw(json: String)

  def render(v: Any): String = v match {
    case null => "null"
    case Raw(s) => s
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case o => quote(o.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
