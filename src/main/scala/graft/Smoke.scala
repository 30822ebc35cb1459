package graft

/** Full-catalog rows-only smoke gate (r5 judge directive #4): execute EVERY
  * `SparkEntry.queries` entry at the given scale with full materialization
  * (count plus an xxhash64 sum over every column — count() alone lets
  * Catalyst prune per-row-expensive projections, trap #2), recording rc,
  * rows and seconds per query as one JSON line each plus a trailing summary
  * line.
  *
  * The oracle gate runs sf0.01/sf0.1; this is the cheap way to EXECUTE the
  * whole catalog at sf1, where every layout/scale surprise so far has
  * surfaced (q04 bucketing, row-group parallelism, q154 digit-strings).
  * Times are single-run cold — meant for outlier triage (>10× the sf0.1
  * time beyond the data ratio), not for anchor comparisons.
  *
  * Usage: runMain graft.Smoke <sfDir> [startAfter | only=qa,qb,...]
  * (`only=` runs just the named queries — the sf10 heavy-set gate.)
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Smoke <sfDir> [startAfter | only=qa,qb,...]")
    val sfDir = args(0)
    val selector = args.lift(1)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    import org.apache.spark.sql.functions.{col, count, lit, struct, sum, xxhash64}
    var ok = 0; var failed = List.empty[String]
    val names = selector match {
      case Some(s) if s.startsWith("only=") =>
        val wanted = s.stripPrefix("only=").split(",").map(_.trim).filter(_.nonEmpty)
        val missing = wanted.filterNot(SparkEntry.queries.contains)
        require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
        wanted.toSeq
      case startAfter =>
        SparkEntry.queries.keys.toSeq.sorted.dropWhile(n => startAfter.exists(_ >= n))
    }
    names.foreach { name =>
      val t0 = System.nanoTime()
      val res =
        try {
          val df = SparkEntry.queries(name)(spark, sfDir)
          val rows =
            try df.select(count(lit(1)).as("n"),
              sum(xxhash64(struct(df.columns.map(col): _*)).cast("decimal(38,0)")))
              .head().getLong(0)
            catch { case _: org.apache.spark.sql.AnalysisException =>
              SparkEntry.queries(name)(spark, sfDir).count() // unhashable column
            }
          ok += 1
          s""""rc":0,"rows":$rows"""
        } catch {
          case e: Throwable =>
            failed ::= name
            val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
              .replaceAll("[\"\\\\\n\r\t]", " ").take(160)
            s""""rc":1,"error":"$msg""""
        }
      val sec = String.format(java.util.Locale.ROOT, "%.2f",
        Double.box((System.nanoTime() - t0) / 1e9))
      println(s"""[smoke] {"q":"$name",$res,"sec":$sec}""")
    }
    println(s"""[smoke] {"summary":true,"ok":$ok,"failed":${failed.size},""" +
      s""""failedNames":[${failed.reverse.map("\"" + _ + "\"").mkString(",")}]}""")
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
