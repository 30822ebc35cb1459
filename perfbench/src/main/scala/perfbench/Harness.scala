package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.anomaly.AnomalyDetector
import graft.core.Tables
import graft.functions.Scalars
import graft.ml.MlPredict
import graft.operators.{IntervalJoin, Tumble}
import graft.vector.VectorSearchAgg

/** The benchmark's JVM. Runs one workload over pre-generated inputs and
  * writes `result.json` (and `spans.json` when traced) into `--out`.
  *
  *   batch:  --queries q1,q2,..  a warm-up pass that writes each output as
  *           parquet for the value gates, then noop-sink passes for --seconds.
  *   stream: Labs.lab4FraudStreaming over --data/feed with the first
  *           --backlog files present; the rest are renamed in from
  *           --data/stage at --rate files/s for --seconds.
  *
  * Every query output carries an order-insensitive fingerprint
  * (row count, sum of xxhash64 over the row) observed inside the same write.
  */
object Harness {

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def cpuS(): Double = os.getProcessCpuTime / 1e9
  def nowS(): Double = System.currentTimeMillis() / 1e3
  def sinceJvmS(): Double = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val r = p / 100.0 * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }

  def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def json(v: Any): String = v match {
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case null => "null"
    case other => other.toString
  }

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val out = Paths.get(a("out"))
    Files.createDirectories(out)
    val traced = a("trace") == "1"
    val tracer = new Tracer(traced, a.get("run", "run"))
    val cpus = a("cpus")
    val spark = graft.core.Sessions.localCpus(cpus, Map("spark.sql.files.maxPartitionBytes" -> "8m"))
    val rec = new Recorder
    val plans = new PlanCatcher
    if (traced) {
      spark.sparkContext.addSparkListener(rec)
      spark.listenerManager.register(plans)
    }
    val ctx = Ctx(spark, a, out, tracer, rec, plans, cpus.toInt)
    val result =
      try if (a("mode") == "stream") StreamRun(ctx) else BatchRun(ctx)
      finally spark.stop()
    if (traced) Files.writeString(out.resolve("spans.json"), tracer.toJson)
    Files.writeString(out.resolve("result.json"), json(result + ("peak_rss_mb" -> vmHwmMb())))
  }

  final case class Ctx(spark: SparkSession, a: Args, out: Path, tracer: Tracer, rec: Recorder,
                       plans: PlanCatcher, cores: Int) {
    def traced: Boolean = tracer.on
    def phase[T](name: String)(body: => T): T = {
      val prev = rec.phase
      rec.phase = name
      try tracer(name)(body) finally rec.phase = prev
    }
  }

  /** Collects the executed plan of every successful noop-sink write, so the
    * traced run can count the exchanges of each query's final (post-AQE)
    * plan. Other actions (the builders' own jobs) are skipped: listener
    * events arrive asynchronously, so they may land after `clear()`.
    */
  final class PlanCatcher extends QueryExecutionListener {
    private val seen = new java.util.concurrent.LinkedBlockingQueue[SparkPlan]()
    override def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit =
      if (qe.logical.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand])
        seen.put(qe.executedPlan)
    override def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    def clear(): Unit = seen.clear()
    def next(): Option[SparkPlan] = Option(seen.poll(10, java.util.concurrent.TimeUnit.SECONDS))
  }

  /** (shuffle exchanges, broadcast exchanges) in a physical plan, looking
    * through adaptive wrappers, query stages, command wrappers and subqueries.
    */
  def exchanges(p: SparkPlan): (Int, Int) = {
    var sh = 0
    var bc = 0
    val seen = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def walk(n: SparkPlan): Unit = if (seen.add(n)) {
      n match {
        case _: ShuffleExchangeLike => sh += 1
        case _: BroadcastExchangeLike => bc += 1
        case _ =>
      }
      val inner = n match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case _ => n.children ++ n.innerChildren.collect { case s: SparkPlan => s }
      }
      (inner ++ n.subqueries).foreach(walk)
    }
    walk(p)
    (sh, bc)
  }

  /** Order-insensitive fingerprint columns: row count and the exact sum of a
    * per-row xxhash64.
    */
  def observed(df: DataFrame, obs: Observation): DataFrame =
    df.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*)
        .cast("decimal(38,0)")), lit(0).cast("decimal(38,0)")).as("h"))

  def fingerprint(obs: Observation): String =
    try {
      val r = Await.result(obs.future, 60.seconds)
      s"${r.getAs[Long]("n")}:${r.getAs[java.math.BigDecimal]("h").toPlainString}"
    } catch { case _: java.util.concurrent.TimeoutException => "none" }

  // ------------------------------------------------------------ direct calls

  /** Direct calls into single layers on the workload's own inputs, each
    * output fully materialised; median of three runs. Run only when traced,
    * after the timed region.
    */
  def directCalls(c: Ctx, dir: String): Map[String, Double] = {
    val spark = c.spark
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    def time(name: String)(body: => Unit): (String, Double) = name -> median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      c.tracer(name)(body)
      (System.nanoTime() - t0) / 1e9
    })
    val docs = Tables(spark, dir, "documents")
    val events = Tables(spark, dir, "events")
    val corpus = MlPredict.embedDistinct(docs, "local-embed-64", "text")
      .select(col("doc_id"), col("text").as("chunk"), col("embedding")).localCheckpoint()
    val ivf = VectorSearchAgg.buildIndex(corpus).pinned()
    val queries = MlPredict.embed(docs.orderBy("doc_id").limit(50)
      .select(col("doc_id").as("query_id"), col("text")), "local-embed-64", "text")
    val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 99.9)
    val tumbled = Tumble(events, "ts", "5 minutes", col("event_type"))(
      "request_count" -> count(lit(1))).localCheckpoint()
    val claims = events.select(col("event_id").as("claim_id"), col("event_type").as("claim_city"),
      col("ts").as("claim_ts"), col("value").as("claim_amount"))
    val windows = Tumble(events, "ts", "6 hours", col("event_type"))("n" -> count(lit(1)))
      .select(col("event_type").as("city"), col("window_time")).localCheckpoint()
    val distinctFrac = {
      val r = docs.agg(countDistinct(col("text")), count(col("text"))).head()
      r.getLong(0).toDouble / math.max(1L, r.getLong(1))
    }
    Map(
      time("ml.embed_distinct_s")(noop(MlPredict.embedDistinct(docs, "local-embed-64", "text"))),
      "ml.distinct_frac" -> distinctFrac,
      time("vector.build_index_s")(VectorSearchAgg.buildIndex(corpus).pinned()),
      time("vector.ann_search_s")(noop(VectorSearchAgg.annPrepared(queries, ivf, corpus, "embedding", 3, 500))),
      time("anomaly.detect_s")(noop(AnomalyDetector.detectBatch(tumbled, col("request_count"),
        Seq(col("event_type")), Seq(col("window_start")), cfg))),
      time("operators.tumble_s")(noop(Tumble(events, "ts", "5 minutes", col("event_type"))(
        "request_count" -> count(lit(1)), "total_value" -> Scalars.sumMoney(col("value"))))),
      time("operators.interval_join_s")(noop(IntervalJoin(claims, windows, "claim_city", "city",
        "claim_ts", "window_time", "'-6' HOUR", "'0' HOUR"))),
      time("llmops.minhash_lsh_s")(noop(graft.llmops.Dedup.minHashLsh(docs, "text", "doc_id",
        shingleSize = 3, numHashes = 16, numBands = 4, threshold = 0.2))))
  }

  // ------------------------------------------------------------------- batch

  object BatchRun {
    def apply(c: Ctx): Map[String, Any] = {
      val spark = c.spark
      val dir = c.a("data")
      val names = c.a("queries").split(",").toSeq
      val seconds = c.a("seconds").toDouble
      val builders = graft.SparkEntry.queries
      val errors = mutable.ArrayBuffer.empty[String]
      val fps = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[String]]
      names.foreach(n => fps(n) = mutable.ArrayBuffer.empty)
      var attempted = 0
      var failed = 0

      /** One query: build, plan, write; returns (seconds, per-phase seconds). */
      def runQuery(name: String, sink: DataFrame => Unit): (Double, Map[String, Double]) = {
        attempted += 1
        val t0 = System.nanoTime()
        val ph = mutable.Map.empty[String, Double]
        def timed[T](p: String)(body: => T): T = {
          val s = System.nanoTime()
          try c.phase(p)(body) finally ph(p) = (System.nanoTime() - s) / 1e9
        }
        try c.tracer(s"query:$name") {
          val df = timed("build")(builders(name)(spark, dir))
          val obs = Observation()
          val o = observed(df, obs)
          timed("plan")(o.queryExecution.executedPlan)
          c.plans.clear()
          timed("run")(sink(o))
          fps(name) += fingerprint(obs)
          if (c.traced) c.plans.next().foreach { p =>
            val (sh, bc) = exchanges(p)
            ph("exchanges") = sh
            ph("broadcasts") = bc
          }
        } catch {
          case e: Throwable =>
            failed += 1
            fps(name) += "error"
            errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        }
        ((System.nanoTime() - t0) / 1e9, ph.toMap)
      }
      val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

      // warm-up pass: the same queries, written as single-file parquet that
      // the value gates read afterwards (outputs are small; timed passes use
      // the noop sink)
      val dumpDir = c.out.resolve("dump")
      c.tracer("warmup")(names.foreach { n =>
        runQuery(n, _.coalesce(1).write.mode("overwrite").parquet(dumpDir.resolve(n).toString))
      })
      val setupS = sinceJvmS()

      final case class Pass(wall: Double, cpu: Double, q: Map[String, Double],
                            phases: Map[String, Double], spark: Map[String, Double])
      val passes = mutable.ArrayBuffer.empty[Pass]
      val tStart = System.nanoTime()
      // at least one pass; another only while it would end within --seconds
      // even if it ran 25 % longer than the last, so a pass time near
      // --seconds / 2 does not flip the number of passes between runs
      def elapsed = (System.nanoTime() - tStart) / 1e9
      while (passes.isEmpty || elapsed + 1.25 * passes.last.wall <= seconds) {
        val before = c.rec.snapshot()
        c.rec.takePeakMb()
        val cpu0 = cpuS()
        val t0 = System.nanoTime()
        val rs = c.tracer(s"pass:${passes.size}")(names.map(n => n -> runQuery(n, noop)))
        val wall = (System.nanoTime() - t0) / 1e9
        val cpu = cpuS() - cpu0
        val after = c.rec.snapshot()
        val delta = (after.keySet ++ before.keySet).map(k =>
          k -> (after.getOrElse(k, 0.0) - before.getOrElse(k, 0.0))).toMap +
          ("spark.peak_exec_mem_mb" -> c.rec.takePeakMb())
        val phases = Seq("build", "plan", "run", "exchanges", "broadcasts").map(p =>
          p -> rs.map(_._2._2.getOrElse(p, 0.0)).sum).toMap
        passes += Pass(wall, cpu, rs.map { case (n, (s, _)) => n -> s }.toMap, phases, delta)
      }

      val lat = passes.flatMap(_.q.values).map(_ * 1000)
      val e2e = Map(
        "setup_s" -> setupS,
        "pass_s" -> median(passes.map(_.wall).toSeq),
        "cpu_s_per_pass" -> median(passes.map(_.cpu).toSeq),
        "latency_ms_p50" -> percentile(lat.toSeq, 50),
        "latency_ms_p90" -> percentile(lat.toSeq, 90))
      val layer =
        if (!c.traced) Map.empty[String, Double]
        else {
          def med(f: Pass => Double): Double = median(passes.map(f).toSeq)
          val sparkKeys = passes.flatMap(_.spark.keySet).toSet
          val fromSpark = sparkKeys.map(k => k -> med(_.spark.getOrElse(k, 0.0))).toMap
          fromSpark ++ Map(
            "build_s" -> med(_.phases("build")),
            "build_jobs" -> med(_.spark.getOrElse("phase.build.jobs", 0.0)),
            "plan_s" -> med(_.phases("plan")),
            "run_s" -> med(_.phases("run")),
            "run_jobs" -> med(_.spark.getOrElse("phase.run.jobs", 0.0)),
            "spark.exchanges" -> med(_.phases("exchanges")),
            "spark.broadcasts" -> med(_.phases("broadcasts")),
            "spark.core_busy_frac" -> med(p => p.spark.getOrElse("spark.task_s", 0.0) / (p.wall * c.cores))) ++
            names.map(n => s"query.${n}_s" -> med(_.q(n))) ++
            Map("trace.pass_s" -> med(_.wall)) ++
            directCalls(c, dir)
        }
      Map("mode" -> "batch", "e2e" -> e2e, "layer" -> layer, "fingerprints" -> fps,
        "passes" -> passes.size, "attempted" -> attempted, "failed" -> failed,
        "errors" -> errors, "pass_walls" -> passes.map(_.wall))
    }
  }

  // ------------------------------------------------------------------ stream

  object StreamRun {
    final case class Batch(id: Long, endS: Double, rows: Long, watermarkUs: Option[Long],
                           durations: Map[String, Long], stateRows: Long, stateMem: Long,
                           lateDropped: Long)

    def apply(c: Ctx): Map[String, Any] = {
      val spark = c.spark
      val data = Paths.get(c.a("data"))
      val feed = data.resolve("feed")
      val stage = data.resolve("stage")
      val static = data.resolve("static").toString
      val seconds = c.a("seconds").toDouble
      val rate = c.a("rate").toDouble
      val hours = Manifest.hours(data.resolve("manifest.json"))
      val backlog = c.a("backlog").toInt
      val cumRows = hours.scanLeft(0L)(_ + _.rows).tail
      val backlogRows = cumRows(backlog - 1)
      val totalRows = cumRows.last

      val batches = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
      val listener = new StreamingQueryListener {
        override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          val d = p.durationMs
          val dur = d.keySet().toArray.map(_.toString).map(k => k -> d.get(k).longValue()).toMap
          val start = java.time.Instant.parse(p.timestamp).toEpochMilli / 1e3
          val wm = Option(p.eventTime.get("watermark")).map(s =>
            java.time.Instant.parse(s).toEpochMilli * 1000L)
          batches.add(Batch(p.batchId, start + dur.getOrElse("triggerExecution", 0L) / 1e3,
            p.numInputRows, wm, dur,
            p.stateOperators.map(_.numRowsTotal).sum, p.stateOperators.map(_.memoryUsedBytes).sum,
            p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
        }
      }
      spark.streams.addListener(listener)
      def committedRows(): Long = batches.toArray(Array.empty[Batch]).map(_.rows).sum
      def waitFor(cond: => Boolean, timeoutS: Double): Boolean = {
        val dl = nowS() + timeoutS
        while (!cond && nowS() < dl) Thread.sleep(5)
        cond
      }

      val sink = c.out.resolve("sink").toString
      val tBuild = nowS()
      val q = c.phase("build")(graft.pipelines.Labs.lab4FraudStreaming(spark, feed.toString, sink,
        c.out.resolve("checkpoint").toString, staticDir = static, policyAnn = Some(500)))
      val tStreamStart = nowS()
      val buildS = tStreamStart - tBuild
      val cpu0 = cpuS()
      val errors = mutable.ArrayBuffer.empty[String]
      var drops = Seq.empty[(Double, Double)] // (scheduled, actual) per live file
      var catchupCpu = 0.0
      var setupS = 0.0
      var catchupS = 0.0
      try {
        c.rec.phase = "run"
        c.tracer("catchup")(waitFor(committedRows() >= backlogRows || q.exception.isDefined, 150))
        if (committedRows() < backlogRows) sys.error(s"backlog not committed: ${q.exception}")
        val firstEnd = batches.toArray(Array.empty[Batch]).map(_.endS).min
        setupS = firstEnd - jvmStartMs / 1e3
        val caught = batches.toArray(Array.empty[Batch]).sortBy(_.id)
          .find(b => batches.toArray(Array.empty[Batch]).filter(_.id <= b.id).map(_.rows).sum >= backlogRows).get
        catchupS = caught.endS - tStreamStart
        catchupCpu = cpuS() - cpu0
        // the batch after the backlog closes every backlog window at once;
        // let it finish so the live phase starts from a drained stream
        val passed = hours(math.max(0, backlog - 2)).newestUs
        c.tracer("drain")(waitFor(q.exception.isDefined ||
          batches.toArray(Array.empty[Batch]).exists(_.watermarkUs.exists(_ > passed)), 60))

        // live phase: open loop, one atomic rename per scheduled slot
        val live = hours.drop(backlog)
        val t0 = nowS() + 0.2
        c.tracer("live") {
          drops = live.zipWithIndex.map { case (h, i) =>
            val due = t0 + i / rate
            val wait = due - nowS()
            if (wait > 0) Thread.sleep((wait * 1000).toLong)
            Files.move(stage.resolve(h.file), feed.resolve(h.file), StandardCopyOption.ATOMIC_MOVE)
            (due, nowS())
          }
          val lastNewest = live.init.lastOption.map(_.newestUs).getOrElse(Long.MinValue)
          waitFor(q.exception.isDefined || (committedRows() >= totalRows &&
            batches.toArray(Array.empty[Batch]).exists(_.watermarkUs.exists(_ > lastNewest))), 60)
        }
        q.exception.foreach(e => errors += s"stream: ${e.getMessage.take(300)}")
      } catch {
        case e: Throwable => errors += s"stream: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      } finally { q.stop(); c.rec.phase = "other" }
      val runS = nowS() - tStreamStart
      val cpuTotal = cpuS() - cpu0
      spark.streams.removeListener(listener)
      val sparkCounts = c.rec.snapshot()

      // ------------------------------------------------ per-file accounting
      val bs = batches.toArray(Array.empty[Batch]).sortBy(_.id).toSeq
      val cum = bs.scanLeft(0L)(_ + _.rows).tail
      // file k is committed by the first batch whose cumulative rows cover it
      val commitBatch = cumRows.map(r => cum.indexWhere(_ >= r))
      val live = hours.drop(backlog)
      val latencies = live.zipWithIndex.flatMap { case (h, i) =>
        bs.find(_.watermarkUs.exists(_ > h.newestUs)).map(b => (b.endS - drops.lift(i).map(_._1).getOrElse(b.endS)) * 1000)
      }
      val uncommitted = commitBatch.count(_ < 0)
      // every live file but the last must see a watermark pass
      val unpassed = math.max(0, live.size - 1 - latencies.size)
      val liveBatches = bs.filter(_.endS >= drops.headOption.map(_._1).getOrElse(Double.MaxValue))
      val liveIdx = liveBatches.map(b => bs.indexOf(b)).toSet
      val filesPerBatch = bs.indices.filter(liveIdx).map(j => commitBatch.count(_ == j).toDouble)
        .filter(_ > 0)
      def durP50(k: String): Double = median(liveBatches.map(_.durations.getOrElse(k, 0L).toDouble))
      val backlogMax = liveBatches.map { b =>
        val dropped = drops.count(_._2 <= b.endS) + backlog
        val done = commitBatch.count(j => j >= 0 && j <= bs.indexOf(b))
        (dropped - done).toDouble
      }.maxOption.getOrElse(0.0)

      val e2e = Map(
        "setup_s" -> setupS,
        "pass_s" -> catchupS,
        "cpu_s_per_pass" -> catchupCpu,
        "catchup_eps" -> backlogRows / math.max(catchupS, 1e-9),
        "latency_ms_p50" -> percentile(latencies, 50),
        "latency_ms_p90" -> percentile(latencies, 90),
        "cpu_ms_per_kevent" -> cpuTotal * 1000.0 / (math.max(1L, committedRows()) / 1000.0))
      val layer =
        if (!c.traced) Map.empty[String, Double]
        else sparkCounts ++ Map(
          "build_s" -> buildS,
          "build_jobs" -> sparkCounts.getOrElse("phase.build.jobs", 0.0),
          "run_s" -> runS,
          "run_jobs" -> sparkCounts.getOrElse("phase.run.jobs", 0.0),
          "spark.core_busy_frac" -> sparkCounts.getOrElse("spark.task_s", 0.0) / (runS * c.cores),
          "spark.peak_exec_mem_mb" -> c.rec.takePeakMb(),
          "streaming.batches" -> liveBatches.size.toDouble,
          "streaming.files_per_batch_p50" -> median(filesPerBatch),
          "streaming.trigger_ms_p50" -> durP50("triggerExecution"),
          "streaming.add_batch_ms_p50" -> durP50("addBatch"),
          "streaming.latest_offset_ms_p50" -> durP50("latestOffset"),
          "streaming.query_planning_ms_p50" -> durP50("queryPlanning"),
          "streaming.wal_commit_ms_p50" -> durP50("walCommit"),
          "streaming.commit_offsets_ms_p50" -> durP50("commitOffsets"),
          "streaming.empty_batch_frac" -> liveBatches.count(_.rows == 0).toDouble / math.max(1, liveBatches.size),
          "streaming.state_rows" -> bs.map(_.stateRows.toDouble).maxOption.getOrElse(0.0),
          "streaming.state_mem_mb" -> bs.map(_.stateMem / 1048576.0).maxOption.getOrElse(0.0),
          "streaming.late_rows_dropped" -> bs.map(_.lateDropped.toDouble).sum,
          "streaming.backlog_files_max" -> backlogMax,
          "streaming.generator_late_ms_max" -> drops.map(d => (d._2 - d._1) * 1000).maxOption.getOrElse(0.0)) ++
          directCalls(c, static)

      val check = if (errors.isEmpty) c.tracer("check")(StreamCheck(c, static, sink)) else Map("ok" -> false)
      Map("mode" -> "stream", "e2e" -> e2e, "layer" -> layer, "errors" -> errors,
        "attempted" -> hours.size, "failed" -> (if (errors.nonEmpty) hours.size else uncommitted + unpassed),
        "latency_samples" -> latencies.size, "live_files" -> live.size, "check" -> check,
        "live_start_s" -> drops.headOption.map(_._1).getOrElse(0.0),
        "batches" -> bs.map(b => Seq(b.id.toDouble, b.endS, b.rows.toDouble,
          b.durations.getOrElse("triggerExecution", 0L).toDouble,
          b.durations.getOrElse("addBatch", 0L).toDouble)))
    }
  }

  /** The SpotStreamingLabs contract for the lab4 stream: the spike windows
    * the streaming stages emit over the whole replay are a subset of the
    * batch twin's, missing at most the final open window per city, and every
    * judged claim lies in a batch spike's 6-hour interval. Spike stages use
    * the same operators and config as Labs.lab4Fraud / lab4FraudStreaming.
    */
  object StreamCheck {
    def apply(c: Ctx, static: String, sink: String): Map[String, Any] = {
      val spark = c.spark
      import graft.streaming.{StreamingAnomaly, StreamingOps}
      val cfg = AnomalyDetector.Config(minTrainingSize = 8, maxTrainingSize = 50, confidencePercentage = 95.0)
      val events = Tables(spark, static, "events")
      val batchSpikes = AnomalyDetector.detectBatch(
          Tumble(events, "ts", "6 hours", col("event_type"))(
            "total_amount" -> Scalars.sumMoney(col("value"))),
          col("total_amount"), Seq(col("event_type")), Seq(col("window_start")), cfg)
        .filter(col("is_anomaly") === true && col("total_amount") > col("upper_bound"))
        .select(col("event_type").as("city"), col("window_time").cast("timestamp").as("window_time"))
        .localCheckpoint()
      val raw = spark.read.parquet(s"$static/events.parquet").schema
      val stream = spark.readStream.schema(raw).option("pathGlobFilter", "events.parquet").parquet(static)
        .withColumn("ts", Tables.normalizeEventTs(raw).cast("timestamp"))
      val windowed = StreamingOps.tumble(stream, "ts", "5 seconds", "6 hours", col("event_type"))(
        "total_amount" -> Scalars.sumMoney(col("value")))
      val spikes = StreamingAnomaly(windowed.select(col("event_type"), col("window_time"), col("total_amount")),
        "event_type", "window_time", "total_amount", cfg)
        .filter(col("is_anomaly") && col("value") > col("upper_bound"))
        .select(col("key").as("city"), col("ts").as("window_time"))
      val spikeSink = c.out.resolve("spikes").toString
      val sq = spikes.writeStream.format("parquet").option("path", spikeSink)
        .option("checkpointLocation", c.out.resolve("spikes_ckpt").toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      sq.awaitTermination()
      // spike sets are a few dozen (city, window) rows: compare them here
      def windows(df: DataFrame): Set[(String, Long)] =
        df.collect().map(r => (r.getString(0), r.getTimestamp(1).getTime)).toSet
      val batchSet = windows(batchSpikes)
      val streamSet = windows(spark.read.parquet(spikeSink))
      val lastMs = events.agg(max(col("ts").cast("timestamp"))).head().getTimestamp(0).getTime
      // the final window never closes: the watermark stays below its end
      val missingNotFinal = (batchSet -- streamSet).count(_._2 <= lastMs - 6 * 3600 * 1000L)
      val judged = spark.read.parquet(sink)
      val claims = events.select(col("event_id").as("claim_id"), col("ts").cast("timestamp").as("claim_ts"))
      val outside = judged.join(claims, "claim_id").as("j")
        .join(batchSpikes.as("s"), col("j.claim_city") === col("s.city") &&
          col("j.claim_ts") >= col("s.window_time") - expr("INTERVAL 6 HOURS") &&
          col("j.claim_ts") <= col("s.window_time"), "left_anti").count()
      val enum5 = Seq("APPROVE", "APPROVE_PARTIAL", "REQUEST_DOCS", "DENY_INELIGIBLE", "DENY_FRAUD")
      val j = judged.agg(count(lit(1)), count(when(!col("verdict").isin(enum5: _*), 1))).head()
      val (nJudged, badVerdict) = (j.getLong(0), j.getLong(1))
      val extra = (streamSet -- batchSet).size
      val ok = extra == 0 && missingNotFinal == 0 && outside == 0 && badVerdict == 0 &&
        nJudged > 0 && streamSet.nonEmpty
      Map("ok" -> ok, "streamed_spikes" -> streamSet.size, "batch_spikes" -> batchSet.size,
        "extra_spikes" -> extra, "missing_spikes_not_final" -> missingNotFinal, "judged" -> nJudged,
        "judged_outside_spikes" -> outside, "bad_verdicts" -> badVerdict)
    }
  }

  /** The per-hour feed files listed in the generator's manifest. */
  object Manifest {
    final case class Hour(file: String, rows: Long, newestUs: Long)
    private val entry = """\{\s*"file":\s*"([^"]+)",\s*"newest_us":\s*(-?\d+),\s*"rows":\s*(\d+)\s*\}""".r
    def hours(p: Path): Seq[Hour] =
      entry.findAllMatchIn(Files.readString(p)).map(m =>
        Hour(m.group(1), m.group(3).toLong, m.group(2).toLong)).toSeq
  }
}
