package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.{CkptMemo, GraftSession, SparkEntry, Tables}
import graft.operators.Ecommerce
import graft.streaming.{Pipelines, Stateful}

/** The benchmark's JVM: runs one workload against graft's public
  * entry points and records raw observations (setup phases, per-operation
  * wall times, streaming progress and, when tracing, job/stage spans) as
  * JSON lines. All metric arithmetic happens in perfbench/metrics.py. */
object Harness {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val rec = new Recorder(Paths.get(a("out"), "records.jsonl").toString)
    val trace = a("trace") == "1"
    val status =
      try {
        val t0 = rec.now
        val spark = GraftSession.local(a("cores").toInt)
        rec.emit("setup", "phase" -> "session", "ms" -> (rec.now - t0))
        spark.streams.addListener(new ProgressListener(rec))
        if (trace) spark.sparkContext.addSparkListener(new SchedListener(rec))
        a("workload") match {
          case "catalog-floor" | "catalog-shared" => Catalog.run(spark, a, rec, trace)
          case "stream-reference" => Streams.referenceTopology(spark, a, rec)
          case "stream-saturate" => Streams.saturate(spark, a, rec)
          case "derive-shared" => Catalog.deriveShared(spark, a, rec)
        }
        Jvm.record(rec)
        spark.stop()
        0
      } catch { case e: Throwable =>
        rec.emit("fatal", "error" -> String.valueOf(e))
        e.printStackTrace()
        1
      }
    rec.flush()
    sys.exit(status)
  }
}

/** In-memory JSON-lines buffer, written once when the run ends. */
final class Recorder(path: String) {
  private val lines = new ConcurrentLinkedQueue[String]()
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def now: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  final case class Raw(json: String)

  private def enc(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(enc).mkString("[", ",", "]")
    case o => enc(o.toString)
  }

  def emit(kind: String, fields: (String, Any)*): Unit =
    lines.add((("type" -> kind) +: fields)
      .map { case (k, v) => enc(k) + ":" + enc(v) }.mkString("{", ",", "}"))

  def flush(): Unit = Files.write(Paths.get(path), lines.asScala.asJava)
}

/** Job and stage spans, parented to the operation through the job group
  * the harness sets around each query. */
final class SchedListener(rec: Recorder) extends SparkListener {
  private val readBytes = new java.util.concurrent.ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()
  private val failedTasks = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()

  override def onJobStart(js: SparkListenerJobStart): Unit =
    rec.emit("job", "job" -> js.jobId, "start" -> js.time.toDouble,
      "group" -> Option(js.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
      "stages" -> js.stageIds)

  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    rec.emit("job_end", "job" -> je.jobId, "end" -> je.time.toDouble,
      "ok" -> (je.jobResult == JobSucceeded))

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null)
      readBytes.computeIfAbsent(te.stageId, _ => new ConcurrentLinkedQueue[Long]())
        .add(m.shuffleReadMetrics.totalBytesRead)
    if (te.reason != org.apache.spark.Success)
      failedTasks.merge(te.stageId, 1, (x: Integer, y: Integer) => x + y)
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
    val si = sc.stageInfo
    val m = si.taskMetrics
    val reads = Option(readBytes.remove(si.stageId)).map(_.asScala.toSeq).getOrElse(Nil)
    rec.emit("stage", "stage" -> si.stageId,
      "start" -> si.submissionTime.map(_.toDouble).orNull,
      "end" -> si.completionTime.map(_.toDouble).orNull,
      "tasks" -> si.numTasks,
      "failed_tasks" -> Option(failedTasks.remove(si.stageId)).map(_.intValue).getOrElse(0),
      "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
      "input_bytes" -> m.inputMetrics.bytesRead, "input_rows" -> m.inputMetrics.recordsRead,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "task_reads" -> reads)
  }
}

/** Every streaming trigger's progress report, as Spark emits it. */
final class ProgressListener(rec: Recorder) extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    rec.emit("stream_start", "id" -> e.id.toString, "t" -> rec.now)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    rec.emit("progress", "recv" -> rec.now, "p" -> rec.Raw(e.progress.json))
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    rec.emit("stream_end", "id" -> e.id.toString, "t" -> rec.now,
      "error" -> e.exception.orNull)
}

object Jvm {
  def gcMs: Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  def record(rec: Recorder): Unit = {
    import org.apache.spark.metrics.source.CodegenMetrics
    val comp = CodegenMetrics.METRIC_COMPILATION_TIME
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")))
    val hwmKb = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(status).map(_.group(1).toLong).getOrElse(-1L)
    rec.emit("jvm", "gc_ms" -> gcMs, "peak_rss_kb" -> hwmKb,
      "codegen_compiles" -> comp.getCount,
      "codegen_compile_ms_mean" -> comp.getSnapshot.getMean)
  }
}

object Catalog {
  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path)).asScala.map(_.trim).filter(_.nonEmpty).toSeq

  private def leafRddIds(df: DataFrame): Set[Int] =
    df.queryExecution.logical.collectLeaves().collect { case l: LogicalRDD => l.rdd.id }.toSet

  /** Drop what the previous query left cached, keeping live memo entries. */
  private def cleanup(spark: SparkSession): Unit = {
    val owned = CkptMemo.liveRddIds
    spark.sparkContext.getPersistentRDDs.values
      .filter(r => !r.isCheckpointed || !owned.contains(r.id))
      .foreach(_.unpersist(blocking = false))
    spark.catalog.clearCache()
  }

  def run(spark: SparkSession, a: Map[String, String], rec: Recorder, trace: Boolean): Unit = {
    val queries = SparkEntry.queries
    val names = a.get("sample") match {
      case Some(n) => // a seeded sample of the catalog, minus the excluded names
        val pool = queries.keys.toSeq.sorted.diff(lines(a("exclude")))
        new scala.util.Random(a("seed").toLong).shuffle(pool).take(n.toInt).sorted
      case None => lines(a("queries"))
    }
    val (dir, warmDir, outDir) = (a("data"), a("warmup_data"), a("out"))

    var t = rec.now
    for (n <- Tables.names) Tables.table(spark, dir, n)
    rec.emit("setup", "phase" -> "tables_open", "ms" -> (rec.now - t))

    t = rec.now
    for (n <- lines(a("warmup"))) {
      spark.sparkContext.setJobGroup("warmup", "warmup", false)
      try queries(n)(spark, warmDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => rec.emit("warmup_error", "name" -> n, "error" -> String.valueOf(e)) }
    }
    // nothing built during warm-up may serve the timed pass
    CkptMemo.invalidateAll()
    cleanup(spark)
    rec.emit("setup", "phase" -> "warmup", "ms" -> (rec.now - t))
    rec.emit("setup_done", "t" -> rec.now)

    for (n <- names) {
      cleanup(spark)
      val before = CkptMemo.liveRddIds
      spark.sparkContext.setJobGroup(n, n, false)
      val s = rec.now
      var (b, p) = (s, s)
      var memoReads = Set.empty[Int]
      try {
        val df = queries(n)(spark, dir)
        b = rec.now
        memoReads = leafRddIds(df).intersect(CkptMemo.liveRddIds)
        if (trace) df.queryExecution.executedPlan
        p = rec.now
        df.write.mode("overwrite").parquet(s"$outDir/q/$n")
        val e = rec.now
        rec.emit("query", "name" -> n, "ok" -> true, "start" -> s, "build_end" -> b,
          "plan_end" -> p, "end" -> e, "memo_reads" -> memoReads.nonEmpty,
          "memo_built" -> (CkptMemo.liveRddIds -- before).size)
      } catch { case e: Throwable =>
        rec.emit("query", "name" -> n, "ok" -> false, "error" -> String.valueOf(e).take(500))
      }
    }
    spark.sparkContext.clearJobGroup()
    if (trace && a.contains("kernel_data")) Kernels.time(spark, a("kernel_data"), rec)
    recordOracle(names, rec)
  }

  /** The DuckDB oracle SQL of each query, for the output check. */
  def recordOracle(names: Seq[String], rec: Recorder): Unit = {
    val oracle = SparkEntry.oracleSql
    rec.emit("oracle", "sql" -> names.map(n => Seq(n, oracle.getOrElse(n, ""))))
  }

  /** The catalog-shared membership rule: a query belongs if, after its
    * builder runs, its plan has a leaf RDD that a live memo entry owns. */
  def deriveShared(spark: SparkSession, a: Map[String, String], rec: Recorder): Unit = {
    val queries = SparkEntry.queries
    for (n <- queries.keys.toSeq.sorted) {
      val shared =
        try leafRddIds(queries(n)(spark, a("data"))).intersect(CkptMemo.liveRddIds).nonEmpty
        catch { case _: Throwable => false }
      if (shared) rec.emit("member", "name" -> n)
      cleanup(spark)
    }
  }
}

/** Direct, single-threaded calls to the GraftHash kernels the shared
  * builds use, over every `documents.text` value. */
object Kernels {
  import graft.functions.GraftHash
  import org.apache.spark.unsafe.types.UTF8String

  def time(spark: SparkSession, dir: String, rec: Recorder): Unit = {
    val docs = Tables.table(spark, dir, "documents").select("text").collect()
      .map(r => UTF8String.fromString(r.getString(0)))
    val cfg = graft.dedup.MinHashLSH.Config()
    val kernels: Seq[(String, UTF8String => Any)] = Seq(
      "minhashSig" -> (s => GraftHash.minhashSig(s, cfg.numHashes, cfg.shingleK)),
      "tokenXxHashes" -> (s => GraftHash.tokenXxHashes(s)),
      "gramChainDigests" -> (s => GraftHash.gramChainDigests(GraftHash.tokenXxHashes(s), 8)),
      "tokensOf" -> (s => GraftHash.tokensOf(s)))
    for ((name, f) <- kernels) {
      var sink = 0
      for (_ <- 0 until 3; d <- docs) sink ^= f(d).hashCode // JIT warm-up
      val reps = 5
      val t0 = System.nanoTime()
      for (_ <- 0 until reps; d <- docs) sink ^= f(d).hashCode
      val ns = (System.nanoTime() - t0).toDouble / (reps * docs.length)
      rec.emit("kernel", "fn" -> name, "ns_per_doc" -> ns, "sink" -> sink)
    }
  }
}

object Streams {
  /** Sleeps until the wall clock next reaches one of `phasesMs` within
    * each `periodMs` period. */
  private def awaitPhase(periodMs: Long, phasesMs: Seq[Long]): Unit = {
    val now = System.currentTimeMillis()
    Thread.sleep(phasesMs.map(p => Math.floorMod(p - now, periodMs)).min)
  }

  private def stopAll(qs: Seq[StreamingQuery], rec: Recorder): Unit =
    qs.foreach { q =>
      val alive = q.isActive
      q.stop()
      rec.emit("query_stopped", "id" -> q.id.toString, "alive_at_end" -> alive,
        "error" -> q.exception.map(_.toString).orNull)
    }

  /** The shipped topology, unchanged, at a fixed open-loop rate. */
  def referenceTopology(spark: SparkSession, a: Map[String, String], rec: Recorder): Unit = {
    val rate = a("rate").toInt
    val out = a("out")
    // warm-up: the topology's three branches with 1 s triggers, until each
    // has committed a batch with rows, so every branch has run rows through
    // its plan before the timed run starts. (A fixed sleep would end during
    // the first, empty batch on some runs and after a loaded one on others.)
    val t = rec.now
    val orders = Pipelines.sampleOrderStream(spark, rate)
    val aggs = Pipelines.windowedAggregationStream(orders)
    val warm = Seq(
      Pipelines.parquetSink(aggs, s"$out/warmup/agg", s"$out/warmup/cp-agg", "1 second").start(),
      Pipelines.parquetSink(Pipelines.fraudAlertStream(orders), s"$out/warmup/alerts",
        s"$out/warmup/cp-alerts", "1 second").start(),
      Pipelines.consoleSink(aggs, "1 second").start())
    while (!warm.forall(_.recentProgress.exists(_.numInputRows > 0))) {
      warm.find(!_.isActive).foreach(q => throw q.exception.getOrElse(
        new IllegalStateException(s"warm-up query ${q.id} stopped")))
      Thread.sleep(5)
    }
    rec.emit("setup", "phase" -> "warmup", "ms" -> (rec.now - t))
    rec.emit("setup_done", "t" -> rec.now)
    // Stopping waits for any batch a branch started after its loaded one
    // (a batch that overran the 1 s trigger is followed at once). That wait
    // is the harness's own clean-up, and it falls in the untimed wait for
    // the start phase below.
    warm.foreach(_.stop())
    // Trigger times sit on the epoch grid of each trigger interval and the
    // rate source's offsets are whole seconds, so the start is placed at
    // fixed phases of the 30 s grid: every run sees the same trigger schedule.
    awaitPhase(30000L, a("phases_ms").split(",").map(_.toLong).toSeq)
    val start = rec.now
    rec.emit("run_start", "t" -> start)
    val qs = Pipelines.runReferenceTopology(spark, s"$out/run", rate)
    Thread.sleep(math.max(0L, (start + a("seconds").toDouble * 1000 - rec.now).toLong))
    rec.emit("run_end", "t" -> rec.now, "ids" -> qs.map(_.id.toString),
      "names" -> Seq("agg", "alerts", "console"))
    stopAll(qs, rec)
  }

  /** Deterministic per-row uniform in [0, 1) from the row value and seed. */
  private def unif(salt: Long) =
    pmod(xxhash64(col("value"), lit(salt)), lit(1000000L)) / 1e6

  /** Generator side of stream-saturate: rewrites the rate rows' value
    * (duplicates of an earlier order) and event time (late rows). The same
    * expression builds the streaming input and the batch reference. */
  def generate(rate: DataFrame, a: Map[String, String]): DataFrame = {
    val seed = a("seed").toLong
    val rows = a("rows_per_batch").toLong
    val lag = lit(rows) + pmod(xxhash64(col("value"), lit(seed + 2)), lit(a("dup_lag_batches").toLong * rows))
    val isDup = unif(seed) < a("dup_share").toDouble && col("value") >= lag
    val u = unif(seed + 1)
    val late = a("late_share").toDouble
    val shiftMs = when(isDup, 0L)
      .when(u < late / 2, a("ooo_ms").toLong)
      .when(u < late, a("late_ms").toLong)
      .otherwise(0L)
    rate
      .withColumn("timestamp", timestamp_millis(unix_millis(col("timestamp")) - shiftMs))
      .withColumn("value", when(isDup, col("value") - lag).otherwise(col("value")))
  }

  def saturate(spark: SparkSession, a: Map[String, String], rec: Recorder): Unit = {
    val out = a("out")
    val batches = a("batches").toLong
    def source(): DataFrame = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", a("rows_per_batch"))
      .option("numPartitions", a("cores"))
      .option("startTimestamp", a("start_ms"))
      .option("advanceMillisPerBatch", a("advance_ms"))
      .load()
    // Spark refuses a second watermark after dropDuplicatesWithinWatermark,
    // so the dedup runs as its own sink beside the aggregation and alerts.
    def start(dir: String): Seq[StreamingQuery] = {
      val orders = Ecommerce.synthesizeOrders(generate(source(), a))
      Seq(
        Pipelines.parquetSink(Stateful.dedupStream(orders, Seq("order_id"), "event_timestamp",
          a("watermark")), s"$dir/dedup", s"$dir/cp-dedup", "0 seconds").start(),
        Pipelines.parquetSink(Pipelines.windowedAggregationStream(orders, a("watermark")),
          s"$dir/agg", s"$dir/cp-agg", "0 seconds").start(),
        Pipelines.parquetSink(Pipelines.fraudAlertStream(orders),
          s"$dir/alerts", s"$dir/cp-alerts", "0 seconds").start())
    }
    def runUntil(qs: Seq[StreamingQuery], lastBatch: Long): Unit = {
      val done = Array.fill(qs.size)(false)
      while (!done.forall(identity) && qs.forall(q => q.isActive || q.exception.isEmpty)) {
        qs.zipWithIndex.foreach { case (q, i) =>
          val p = q.lastProgress
          if (!done(i) && (p != null && p.batchId >= lastBatch || !q.isActive)) {
            q.stop(); done(i) = true
          }
        }
        Thread.sleep(5)
      }
    }
    val t = rec.now
    val warm = start(s"$out/warmup")
    runUntil(warm, a("warmup_batches").toLong - 1)
    rec.emit("setup", "phase" -> "warmup", "ms" -> (rec.now - t))
    rec.emit("setup_done", "t" -> rec.now)
    val run = start(s"$out/run")
    rec.emit("run_start", "t" -> rec.now, "ids" -> run.map(_.id.toString),
      "names" -> Seq("dedup", "agg", "alerts"))
    runUntil(run, batches - 1)
    rec.emit("run_end", "t" -> rec.now)
    stopAll(run, rec)
    batchReference(spark, a, rec)
  }

  /** The batch reference for stream-saturate: the generated rows, with the
    * watermark's admission rule applied in plain Scala, fed through the
    * same Ecommerce operators in batch. */
  private def batchReference(spark: SparkSession, a: Map[String, String], rec: Recorder): Unit = {
    import spark.implicits._
    val rows = a("rows_per_batch").toLong
    val batches = a("batches").toLong
    val delayMs = a("watermark").split(" ")(0).toLong * 1000
    val gen = generate(spark.range(0, rows * batches).select(col("id"), col("id").as("value"),
      timestamp_millis(lit(a("start_ms").toLong) + (col("id") / rows).cast("long") * a("advance_ms").toLong)
        .as("timestamp")), a)
    val gens = gen.select(col("id"), col("value"), unix_millis(col("timestamp")))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val kept, onTime = Array.newBuilder[Long]
    val state = scala.collection.mutable.HashMap.empty[Long, Long]
    // Spark drops late rows against the previous batch's watermark and
    // evicts state against the current one
    var (wmLate, wm, maxEt, late, dups) = (0L, 0L, Long.MinValue, 0L, 0L)
    for (b <- 0 until batches.toInt) {
      for (i <- b * rows.toInt until (b + 1) * rows.toInt) {
        val (id, key, et) = gens(i)
        maxEt = math.max(maxEt, et)
        if (et <= wmLate) late += 1
        else {
          onTime += id
          if (state.contains(key)) dups += 1
          else { state(key) = et + delayMs; kept += id }
        }
      }
      state.filterInPlace { case (_, expiry) => expiry > wm }
      wmLate = wm
      wm = math.max(wm, maxEt - delayMs)
    }
    val (keptIds, onTimeIds) = (kept.result(), onTime.result())
    rec.emit("model", "kept" -> keptIds.length, "late" -> late, "dups" -> dups)
    def rowsOf(ids: Array[Long]) = gen.join(ids.toSeq.toDF("id"), "id").drop("id")
    Ecommerce.synthesizeOrders(rowsOf(keptIds))
      .select(col("order_id"), col("event_timestamp"))
      .write.mode("overwrite").parquet(s"${a("out")}/expected/dedup")
    // late rows sit beyond every window the watermark still holds open, so
    // the aggregation admits exactly the rows the dedup does not call late
    Ecommerce.windowedAggregations(Ecommerce.synthesizeOrders(rowsOf(onTimeIds)))
      .write.mode("overwrite").parquet(s"${a("out")}/expected/agg")
    Pipelines.fraudAlertStream(Ecommerce.synthesizeOrders(gen.drop("id")))
      .write.mode("overwrite").parquet(s"${a("out")}/expected/alerts")
  }
}
