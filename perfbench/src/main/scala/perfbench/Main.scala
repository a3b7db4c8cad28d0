package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.ScalingBench

/** JVM side of the benchmark: runs one workload and writes its figures to
  * `<work>/jvm_result.json`; `perfbench/run.py` checks the outputs and
  * prints the result line.
  *
  * Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir>
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, data: Path)

  /** Figures of one run: metric name → value, plus operation counts. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val notes = mutable.LinkedHashMap.empty[String, String]
    var attempted = 0L
    var failed = 0L
    def put(k: String, v: Double): Unit = metrics(k) = v
  }

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      // no ContextCleaner: a cached, checkpointed or broadcast block stays
      // until the program releases it itself, so `retained_heap_mb` counts
      // it whatever the timing of the collections during the run
      .config("spark.cleaner.referenceTracking", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this JVM has used so far, summed over all its threads. */
  def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Heap in use right after a full collection, in MB, read while the
    * session is live. With the ContextCleaner off (see [[session]]), every
    * block the program left in the block manager counts in full. */
  def retainedHeapMb(): Double = {
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Tracing overhead in %: `pairs` rounds of `op` under a fresh [[Trace]]
    * and as many without a listener, in the same JVM, ordered traced,
    * untraced, untraced, traced, ... With an even count a steady warm-up
    * drift cancels; with one pair it can only overstate the overhead. The
    * median traced round against the median untraced one. */
  def tracingOverheadPct(spark: SparkSession, pairs: Int)(op: Option[Trace] => Unit): Double = {
    def time(body: => Unit): Double = { val t0 = System.nanoTime(); body; seconds(t0) }
    def plain(): Double = time(op(None))
    def traced(): Double = {
      val t = new Trace(spark)
      t.register()
      try time(t.span("round", "overhead")(op(Some(t)))) finally t.unregister()
    }
    val rounds = (0 until pairs).map { i =>
      if (i % 2 == 0) { val t = traced(); (plain(), t) } else { val p = plain(); (p, traced()) }
    }
    100.0 * (median(rounds.map(_._2)) / median(rounds.map(_._1)) - 1)
  }

  /** Storage memory (MB) held by cached or checkpointed blocks right now. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0

  def main(argv: Array[String]): Unit = {
    if (argv(0) == "oracles") {
      // oracle texts only, for rebuilding the memo: oracles <file>
      QueryWorkload.writeOracles(Paths.get(argv(1)))
      return
    }
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, Paths.get(argv(5)).toAbsolutePath)
    val r = new Result
    val host = Host.start()
    a.workload match {
      case "pages"        => PagesWorkload.run(a, r)
      case "queries"      => QueryWorkload.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.put("host.steal_pct", host.stealPct())
    Files.writeString(a.work.resolve("jvm_result.json"), Json.result(r))
  }
}

/** /proc/stat sampling: the share of CPU time the hypervisor stole from the
  * host while the workload ran. */
final class Host(t0: (Long, Long, Long)) {
  def stealPct(): Double = {
    val (_, s1, t1) = ScalingBench.cpuTicks()
    if (t1 > t0._3) 100.0 * (s1 - t0._2) / (t1 - t0._3) else 0.0
  }
}

object Host {
  def start(): Host = new Host(ScalingBench.cpuTicks())
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def result(r: Main.Result): String = {
    val ms = r.metrics.map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
    val ns = r.notes.map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"attempted":${r.attempted},"failed":${r.failed},"metrics":$ms,"notes":$ns}"""
  }
}
