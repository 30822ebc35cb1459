package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.MatchRecognize
import graft.operators.MatchRecognize.MrTok

/** The MATCH_RECOGNIZE and skip-past scans are one plan node
  * (graft.plans.KeyedScan): building a query that uses them runs no Spark
  * job — the shuffle, the sort and the scan all run in the caller's action.
  */
class KeyedScanSpec extends SparkSpec {

  import spark.implicits._

  private val phaseKey = "graft.spec.phase"

  /** Jobs started while `build` ran. The build runs under one local-property
    * tag and the action after it under another; the listener bus delivers in
    * order, so once an action job has arrived every build job has too.
    */
  private def buildJobs(build: => DataFrame): Int = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).flatMap(p => Option(p.getProperty(phaseKey))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setLocalProperty(phaseKey, "build")
      val df = try build finally sc.setLocalProperty(phaseKey, "run")
      df.collect()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains("run") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(seen.contains("run"), "the action's jobs never reached the listener")
      seen.toArray.count(_ == "build")
    } finally {
      sc.removeSparkListener(listener)
      sc.setLocalProperty(phaseKey, null)
    }
  }

  test("building a MATCH_RECOGNIZE scan over an in-memory frame launches no job") {
    val ticker = Seq(
      ("k1", 1L, 10.0), ("k1", 2L, 8.0), ("k1", 3L, 7.0), ("k1", 4L, 9.0),
      ("k2", 1L, 1.0), ("k2", 2L, 2.0)).toDF("k", "ts", "v")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("k").orderBy("ts")
    val jobs = buildJobs(
      MatchRecognize.scan(ticker, Seq(col("k")), Seq(col("ts")), "ts",
        Seq(MrTok("D", 1, None), MrTok("U", 1, None)),
        Seq(col("v") < lag(col("v"), 1).over(w), col("v") > lag(col("v"), 1).over(w)),
        withinMicros = None, skip = MatchRecognize.SkipPastLastRow, allRows = false,
        measureCols = Seq("ts")))
    assert(jobs == 0, s"the scan ran $jobs job(s) while the query was being built")
  }

  test("building q162 launches no job beyond reading its input's schema") {
    // reading parquet infers the schema, which may run a small job of its
    // own; the skip-past scan must add nothing to it
    val readJobs = buildJobs(core.Tables(spark, sfDir, "events"))
    val jobs = buildJobs(graft.queries.Catalog.queries("q162_match_skip_past")(spark, sfDir))
    assert(jobs == readJobs,
      s"building q162 ran $jobs job(s); reading its input alone runs $readJobs")
  }

  test("a scan's result joins with itself and with the scan's own input") {
    // the node's output attributes are new ones; the analyzer must renew them
    // on the second side of a self-join, or the join cannot resolve
    val t = Seq(("k1", 1L, 10.0), ("k1", 2L, 8.0), ("k1", 3L, 9.0), ("k2", 1L, 1.0))
      .toDF("k", "ts", "v")
    val r = MatchRecognize.scan(t, Seq(col("k")), Seq(col("ts")), "ts",
        Seq(MrTok("U", 1, None)), Seq(col("v") > 0), None,
        MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq.empty)
      .select(col("k"), col("__mr_len").as("n"))
    val self = r.as("a").join(r.as("b"), col("a.k") === col("b.k"))
      .select(col("a.k"), col("a.n"), col("b.n")).as[(String, Long, Long)].collect().sorted
    assert(self.toSeq == Seq(("k1", 3L, 3L), ("k2", 1L, 1L)), s"got ${self.toSeq}")
    val withInput = r.join(t, "k").groupBy("k").agg(max("n"), count(lit(1)))
      .as[(String, Long, Long)].collect().sorted
    assert(withInput.toSeq == Seq(("k1", 3L, 3L), ("k2", 1L, 1L)), s"got ${withInput.toSeq}")
    val sel = graft.operators.Behavior.skipPastSelect(
      Seq(("a", 1L, 2L), ("a", 2L, 1L), ("a", 3L, 1L)).toDF("k", "ts", "len"),
      Seq(col("k")), Seq(col("ts")), "len")
    val selSelf = sel.as("a").join(sel.as("b"), col("a.ts") === col("b.ts"))
      .select(col("a.ts")).as[Long].collect().sorted
    assert(selSelf.toSeq == Seq(1L, 3L), s"got ${selSelf.toSeq}")
  }

  test("a scan over a streaming input is refused at build") {
    // per-key state cannot carry across micro-batches — the streaming twins
    // (graft.streaming) are the route for streams
    val stream = spark.readStream.format("rate").load().withColumn("k", col("value") % 2)
    val err = intercept[IllegalArgumentException] {
      MatchRecognize.scan(stream, Seq(col("k")), Seq(col("timestamp")), "timestamp",
        Seq(MrTok("U", 1, None)), Seq(col("value") > 0), None,
        MatchRecognize.SkipPastLastRow, allRows = false, measureCols = Seq.empty)
    }
    assert(err.getMessage.contains("micro-batch"), err.getMessage)
  }
}
