package perfbench

import java.nio.file.Files

import graft.SparkEntry

/** The `queries` workload: one pass over six `SparkEntry.queries`, three
  * of the gps side and three of the text side, each result written in full
  * to parquet so that run.py can compare it with the DuckDB oracle.
  */
object QueryWorkload {

  /** Per-layer metric → the query whose body calls that operator module. A
    * query's first run in a JVM pays for its code generation and for
    * compiling the engine paths it takes, about 3.5 s each on 4 cores, so a
    * run times one such pass over six queries instead of all 80
    * (README.md gives the choice). */
  val groups: Seq[(String, String)] = Seq(
    "gps.relational_s" -> "q3_revenue",
    "gps.sessions_s" -> "gps_sessions",
    "gps.dbscan_distributed_s" -> "dbscan_distributed",
    "text.quality_s" -> "doc_filter_pipeline",
    "text.dedup_s" -> "doc_dedup_minhash",
    "text.emb_s" -> "emb_dedup")

  /** Run once during set-up: starts the parquet reader, the shuffle and
    * code generation without compiling any timed query's own code. */
  val WarmUp = "q1_pricing"

  def names: Seq[String] = groups.map(_._2)

  /** The DuckDB oracle text of each of the workload's queries that has one. */
  def writeOracles(path: java.nio.file.Path): Unit = {
    val sql = SparkEntry.oracleSql
    Files.writeString(path, names.flatMap(n => sql.get(n).map(n -> _))
      .map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}"))
  }

  /** One pass: every query of the workload, in a fixed order. Returns
    * per-query seconds; a query that throws is counted in `r` and noted. */
  def pass(spark: org.apache.spark.sql.SparkSession, a: Main.Args, out: String,
           trace: Option[Trace], r: Main.Result, pinnedMb: Double => Unit): Seq[(String, Double)] =
    names.map { name =>
      val t0 = System.nanoTime()
      r.attempted += 1
      def body(): Unit = SparkEntry.queries(name)(spark, a.data.toString)
        .write.mode("overwrite").parquet(s"$out/$name")
      try trace match {
        case Some(t) => t.span("query", name)(body())
        case None => body()
      } catch { case e: Throwable =>
        r.failed += 1
        r.notes("failed_queries") = (r.notes.get("failed_queries").toSeq :+ name).mkString(",")
        System.err.println(s"[perfbench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val dt = Main.seconds(t0)
      spark.sharedState.cacheManager.clearCache()
      pinnedMb(Main.storageMb(spark))
      name -> dt
    }

  def run(a: Main.Args, r: Main.Result): Unit = {
    writeOracles(a.work.resolve("oracle_sql.json"))
    r.notes("queries") = names.mkString(",")
    val cSetup = Main.cpuSeconds()
    val spark = Main.session(4, a.work)
    try {
      val out = a.work.resolve("out").toString
      Files.createDirectories(a.work.resolve("out"))
      SparkEntry.queries(WarmUp)(spark, a.data.toString).write.mode("overwrite").format("noop").save()
      r.put("setup_s", Main.cpuSeconds() - cSetup)
      val trace = if (a.trace) Some(new Trace(spark)) else None
      trace.foreach(_.register())
      var pinned = 0.0
      // one pass: the first run of each query in this JVM
      val t0 = System.nanoTime()
      val c0 = Main.cpuSeconds()
      val perQuery = (trace match {
        case Some(t) => t.span("pass", "queries")(pass(spark, a, out, trace, r, p => pinned = math.max(pinned, p)))
        case None => pass(spark, a, out, None, r, _ => ())
      }).toMap
      r.put("round_s", Main.seconds(t0))
      r.put("round_cpu_s", Main.cpuSeconds() - c0)
      groups.foreach { case (m, q) => r.put(m, perQuery(q)) }
      for (side <- Seq("gps", "text"))
        r.put(s"${side}_pass_s", groups.collect { case (m, q) if m.startsWith(side + ".") => perQuery(q) }.sum)
      r.put("retained_heap_mb", Main.retainedHeapMb())
      trace.foreach { t =>
        t.unregister()
        Engine.report(t, r, pinned)
        t.writeSpans(a.work.resolve("spans.jsonl"))
        // one traced and one untraced warm pass: the run's time allows no more
        r.put("trace.overhead_pct",
          Main.tracingOverheadPct(spark, 1)(t2 => pass(spark, a, out, t2, r, _ => ())))
      }
    } finally spark.stop()
  }
}
