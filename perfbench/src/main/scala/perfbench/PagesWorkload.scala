package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.OracleSql
import graft.functions.Grid
import graft.ingest.Pages
import graft.lineage.CheckpointedRunner
import graft.sources.Tables

/** The `pages` workload: the headline pipeline over generated pages
  * (extract → geocode → S2 cell → rectangle join → tile features) at
  * local[4] and local[1], and the same pages written per `warc_ts` day
  * through `lineage.CheckpointedRunner`.
  *
  * The plan is composed from the same public functions as
  * `graft.ScalingBench.runJob`, but its per-tile rows are collected so that
  * run.py can check them against DuckDB.
  */
object PagesWorkload {

  /** Generated pages per run; a day of `warc_ts` is one lineage unit. */
  val Pages_ = 60000L
  val Days = 2
  val Files_ = 8

  // ---- input -----------------------------------------------------------------

  /** `events` and `region` tables from the seed: the same seed gives the
    * same rows. `events` carries the columns `Tables.gps` reads; it derives
    * every coordinate from `event_id` and `user_id`, and the seed shuffles
    * users over events and events over days. */
  def generate(spark: SparkSession, seed: Long, dir: Path): Unit = {
    val h = (salt: Long) => xxhash64(col("id"), lit(seed), lit(salt))
    spark.range(0, Pages_, 1, Files_).select(
      (col("id") + lit(Math.floorMod(seed, 1000L) * Pages_)).as("event_id"),
      timestamp_micros(lit(1704067200000000L) + pmod(h(1), lit(Days * 86400000000L))).as("ts"),
      pmod(h(2), lit(1500L)).as("user_id"))
      .write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
    spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("R"), col("id").cast("string")).as("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(dir.resolve("region.parquet").toString)
  }

  // ---- pipeline ------------------------------------------------------------------

  /** Pipeline prefixes, in order; each ends where the next layer begins. */
  val Prefixes = Seq("scan", "synth_extract", "geocode", "s2", "join", "tile_agg")

  def rects(spark: SparkSession, d: String): DataFrame =
    Tables.region(spark, d).select(
      col("r_regionkey"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 - 2e-3).as("lat_min"),
      (lit(40.0) + col("r_regionkey").cast("double") * 1e-2 + 6e-3).as("lat_max"),
      lit(-76.0).as("lon_min"), lit(-74.0).as("lon_max"))

  /** The pipeline cut after `upTo` (an index into [[Prefixes]]). */
  def plan(spark: SparkSession, d: String, upTo: Int): DataFrame = {
    val gps = Tables.gps(spark, d)
    if (upTo == 0) return gps
    val pages = Pages.pagesFromGps(gps)
    if (upTo == 1) return pages
    val geo = Pages.geocode(pages)
    if (upTo == 2) return geo
    val cells = geo
      .withColumn("cell", Grid.cell(col("lat"), col("lon"), 13))
      .withColumn("tile_id", Grid.toParent(col("cell"), 13, 5))
    if (upTo == 3) return cells
    val joined = cells.join(broadcast(rects(spark, d)),
      col("lat") >= col("lat_min") && col("lat") < col("lat_max") &&
        col("lon") >= col("lon_min") && col("lon") < col("lon_max"), "left")
    if (upTo == 4) return joined
    // two-stage tile aggregation, as in ScalingBench.runJob, but joined
    // null-safe: pages outside every rectangle have a null r_regionkey, and
    // an equi-join on it would leave their tile's n_urls null
    val stats = joined.groupBy("tile_id", "r_regionkey")
      .agg(count(lit(1)).as("n_pages"), avg(length(col("text"))).as("mean_chars"))
    val urls = joined.select("tile_id", "r_regionkey", "url").distinct()
      .groupBy(col("tile_id").as("u_tile"), col("r_regionkey").as("u_region"))
      .agg(count(lit(1)).as("n_urls"))
    stats.join(urls, col("tile_id") <=> col("u_tile") && col("r_regionkey") <=> col("u_region"), "left")
      .drop("u_tile", "u_region")
  }

  /** One run of the whole pipeline: the per-tile rows. */
  def tiles(spark: SparkSession, d: String): Array[Row] =
    plan(spark, d, Prefixes.size - 1).collect()

  def pagesOut(rows: Array[Row]): Long = rows.map(_.getAs[Long]("n_pages")).sum

  def tilesJson(rows: Array[Row]): String = rows.map { r =>
    val rk = if (r.isNullAt(r.fieldIndex("r_regionkey"))) "null" else r.getAs[Int]("r_regionkey").toString
    s"""{"tile_id":${r.getAs[Long]("tile_id")},"r_regionkey":$rk,""" +
      s""""n_pages":${r.getAs[Long]("n_pages")},"n_urls":${r.getAs[Long]("n_urls")},""" +
      s""""mean_chars":${Json.num(r.getAs[Double]("mean_chars"))}}"""
  }.mkString("[", ",", "]")

  /** DuckDB text of every page: the `pages_text` oracle's extractor chain,
    * which run.py materializes as table `ptext_m` for the two checks below. */
  val textOracleSql: String =
    s"""WITH ${OracleSql.gpsCte}, ${OracleSql.pagesCtes}
       |SELECT url, text FROM ptext""".stripMargin

  /** DuckDB twin of [[plan]] over `ptext_m`, from the program's own oracle
    * CTEs: the S2 cell chain at the tile level (toParent of a level-13 cell
    * equals the direct level-5 encode) and the rectangle predicate over the
    * microdegree-rounded coordinates. */
  val oracleSql: String = {
    def grp(i: Int) =
      s"CAST(CAST(regexp_extract(text, 'loc:(-?\\d+),(-?\\d+)', $i) AS BIGINT) AS DOUBLE) / 1e6"
    s"""WITH geo AS (
       |  SELECT url, text, ${grp(1)} AS lat, ${grp(2)} AS lon FROM ptext_m
       |  WHERE regexp_matches(text, 'loc:-?\\d+,-?\\d+')
       |),
       |${OracleSql.s2CellCtes("geo", "lat", "lon", 5, "tt")},
       |rects AS (
       |  SELECT r_regionkey,
       |    4e1 + CAST(r_regionkey AS DOUBLE) * 1e-2 - 2e-3 AS lat_min,
       |    4e1 + CAST(r_regionkey AS DOUBLE) * 1e-2 + 6e-3 AS lat_max,
       |    -76e0 AS lon_min, -74e0 AS lon_max
       |  FROM region
       |)
       |SELECT tt_cell AS tile_id, r_regionkey, count(*) AS n_pages,
       |  count(DISTINCT url) AS n_urls, avg(length(text)) AS mean_chars
       |FROM tt LEFT JOIN rects
       |  ON lat >= lat_min AND lat < lat_max AND lon >= lon_min AND lon < lon_max
       |GROUP BY 1, 2""".stripMargin
  }

  // ---- ingest through lineage -----------------------------------------------------

  def days(spark: SparkSession, d: String): Seq[String] =
    Tables.gps(spark, d).select(to_date(col("ts")).cast("string").as("day")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq

  /** One lineage unit per day: that day's pages projected per page. */
  def units(spark: SparkSession, d: String, ds: Seq[String]): Seq[(String, () => DataFrame)] =
    ds.map { day =>
      day -> (() => {
        val gps = Tables.gps(spark, d).where(to_date(col("ts")) === lit(day).cast("date"))
        Pages.geocode(Pages.pagesFromGps(gps))
          .select(col("url"),
            Grid.toParent(Grid.cell(col("lat"), col("lon"), 13), 13, 5).as("tile_id"),
            sha2(col("text"), 256).as("text_sha"), col("text"))
      })
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f)) finally s.close()
  }

  // ---- the workload ------------------------------------------------------------------

  def run(a: Main.Args, r: Main.Result): Unit = {
    val input = a.work.resolve("input")
    val d = input.toString
    val ingest = a.work.resolve("ingest")
    var setup = 0.0 // CPU seconds

    // local[4]: the pipeline, then the lineage ingest
    var c0 = Main.cpuSeconds()
    var spark = Main.session(4, a.work)
    setup += Main.cpuSeconds() - c0
    try {
      generate(spark, a.seed, input)
      // five full-size warm-up runs: the JIT compiles the kernels over the
      // first runs, and after three a run still takes ~2x its steady CPU
      c0 = Main.cpuSeconds()
      (1 to 5).foreach(_ => tiles(spark, d))
      setup += Main.cpuSeconds() - c0
      val ds = days(spark, d)
      val us = units(spark, d, ds)
      def oneShot(): Double = {
        r.attempted += 1
        delete(ingest.resolve("oneshot"))
        val t = System.nanoTime()
        val ran = CheckpointedRunner.runPartitioned(spark, ingest.resolve("oneshot/ckpt").toString,
          ingest.resolve("oneshot/out").toString, us)
        val dt = Main.seconds(t)
        r.notes("ingest_oneshot") = ran.mkString(",")
        dt
      }
      def pipeline(): Array[Row] = { r.attempted += 1; tiles(spark, d) }
      // interrupted after the first day, resumed, then called once more;
      // returns the resume call's seconds
      def resume(): Double = {
        r.attempted += 1
        delete(ingest.resolve("resumed"))
        val ck = ingest.resolve("resumed/ckpt").toString
        val out = ingest.resolve("resumed/out").toString
        val first = CheckpointedRunner.runPartitioned(spark, ck, out, us.take(1))
        val t = System.nanoTime()
        val rest = CheckpointedRunner.runPartitioned(spark, ck, out, us)
        val dt = Main.seconds(t)
        val again = CheckpointedRunner.runPartitioned(spark, ck, out, us)
        r.notes("ingest_days") = ds.mkString(",")
        r.notes("ingest_first") = first.mkString(",")
        r.notes("ingest_resumed") = rest.mkString(",")
        r.notes("ingest_again") = again.mkString(",")
        dt
      }

      // a fixed count, not a time budget: the blocks each run leaves behind
      // count in `retained_heap_mb`, which must not follow the run's speed
      val reps4 = (1 to math.max(3, math.ceil(a.seconds).toInt)).map { _ =>
        val t = System.nanoTime()
        val c = Main.cpuSeconds()
        val rows = pipeline()
        (Main.seconds(t), rows, Main.cpuSeconds() - c)
      }
      r.put("round_s", Main.median(reps4.map(_._1)))
      r.put("round_cpu_s", Main.median(reps4.map(_._3)))
      r.notes("round_s") = reps4.map(x => f"${x._1}%.3f").mkString(" ")
      r.notes("round_cpu_s") = reps4.map(x => f"${x._3}%.3f").mkString(" ")
      r.put("pages_per_s", pagesOut(reps4.last._2) / Main.median(reps4.map(_._1)))
      Files.writeString(a.work.resolve("tiles_4.json"), tilesJson(reps4.last._2))
      r.put("ingest_pages_per_s", Pages_ / oneShot())
      resume()
      r.put("retained_heap_mb", Main.retainedHeapMb())

      if (a.trace) {
        r.put("trace.overhead_pct", Main.tracingOverheadPct(spark, 4)(_ => pipeline()))
        // one traced round of every operation: the pipeline, its prefixes,
        // a one-shot ingest and an interrupted-then-resumed ingest
        val t = new Trace(spark)
        t.register()
        val rows = t.span("pipeline", "pages@4")(pipeline())
        t.waitForEvents()
        r.put("spatial.join_rows_out", t.nodeRows("BroadcastNestedLoopJoin").toDouble)
        Files.writeString(a.work.resolve("tiles_4.json"), tilesJson(rows))
        prefixes(spark, d, t, r)
        val write = t.span("ingest", "oneshot")(oneShot())
        val resumeS = t.span("ingest", "resume")(resume())
        r.put("lineage.write_s", write)
        r.put("lineage.unit_s", write / ds.size)
        r.put("lineage.resume_s", resumeS)
        r.put("lineage.metric_rows",
          spark.read.parquet(ingest.resolve("oneshot/ckpt/_metrics").toString).count().toDouble)
        t.unregister()
        Engine.report(t, r, Main.storageMb(spark))
        t.writeSpans(a.work.resolve("spans.jsonl"))
      }
    } finally spark.stop()

    // local[1]: the same pipeline on one core, in traced runs (the 1→4
    // scaling figures are per-layer metrics): a warm-up run, then three timed
    if (a.trace) {
      spark = Main.session(1, a.work)
      try {
        tiles(spark, d) // warm-up
        val reps1 = (1 to 3).map { _ =>
          r.attempted += 1
          val t = System.nanoTime()
          val rows = tiles(spark, d)
          (pagesOut(rows) / Main.seconds(t), rows)
        }
        r.put("pages_per_s_1core", Main.median(reps1.map(_._1)))
        Files.writeString(a.work.resolve("tiles_1.json"), tilesJson(reps1.last._2))
      } finally spark.stop()
      r.put("scaling_eff", r.metrics("pages_per_s") / (4 * r.metrics("pages_per_s_1core")))
    }
    r.put("setup_s", setup)
    r.notes("pages") = Pages_.toString
    Files.writeString(a.work.resolve("pages_oracle.sql"), oracleSql)
    Files.writeString(a.work.resolve("pages_text_oracle.sql"), textOracleSql)
  }

  /** Prefix timing: each prefix materialized to `noop`, best of two; a
    * layer's time is its prefix minus the one before, floored at 0. */
  def prefixes(spark: SparkSession, d: String, t: Trace, r: Main.Result): Unit = {
    val secs = Prefixes.indices.map { k =>
      (1 to 2).map { _ =>
        val t0 = System.nanoTime()
        t.span("prefix", Prefixes(k)) {
          plan(spark, d, k).write.mode("overwrite").format("noop").save()
        }
        Main.seconds(t0)
      }.min
    }
    val self = secs.indices.map(k => if (k == 0) secs(0) else math.max(0.0, secs(k) - secs(k - 1)))
    r.put("sources.scan_s", self(0))
    r.put("ingest.synth_extract_s", self(1))
    r.put("ingest.geocode_s", self(2))
    r.put("functions.s2_s", self(3))
    r.put("spatial.join_s", self(4))
    r.put("pages.tile_agg_s", self(5))
  }
}
