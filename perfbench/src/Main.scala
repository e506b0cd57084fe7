package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM:
  *
  *   set-up ×3 (session + extensions + the workload's first stage at
  *   small size; the first counted from JVM start) → one untimed small
  *   iteration → load inputs → measured iterations with
  *   tracing off → [with --trace: traced iterations, layer probes and a
  *   local[1] pass] → one JSON record written to --out.
  *
  * Usage: Main --workload W --input DIR --work DIR --out FILE
  *             --seconds S --trace 0|1 --cores N
  */
object Main {

  /** One measured unit of a workload: its wall time, the workload's
    * named metrics for this unit, and any output-check failures. */
  case class Iter(wallS: Double, named: Map[String, Double],
                  failures: Seq[String])

  trait Workload {
    /** One iteration of the workload's call chain, checked. */
    def iterate(t: Trace): Iter
    /** The measured phase: iterations until `seconds` have passed. */
    def measure(seconds: Double, t: Trace): Seq[Iter] = {
      val start = System.nanoTime()
      val out = mutable.ArrayBuffer[Iter]()
      while (out.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
        out += safely(iterate(t))
        if (out.last.failures.exists(_.startsWith("exception"))) return out.toSeq
      }
      out.toSeq
    }
    /** The set-up's cold warm-up, on the workload built with
      * `small = true`: its first stage only, so set-up can be repeated. */
    def warmup(): Unit
    /** One untimed iteration of the small workload after set-up, so the
      * measured iterations run warm. */
    def prime(): Unit = {
      val it = safely(iterate(new Trace(false)))
      require(it.failures.isEmpty, s"warm-up failed: ${it.failures.mkString("; ")}")
    }
    /** Traced-only calls that time one layer alone. */
    def probes(t: Trace): Unit = ()
    /** Whether the traced run adds a local[1] pass of this workload. */
    def singleCorePass: Boolean = false
  }

  def safely(body: => Iter): Iter =
    try body catch {
      case NonFatal(e) =>
        e.printStackTrace()
        Iter(Double.NaN, Map.empty, Seq(s"exception ${e.getClass.getName}: ${e.getMessage} at " +
          e.getStackTrace.take(8).mkString(" < ")))
    }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.install(s)
    s
  }

  def make(name: String, spark: SparkSession, in: String, work: String,
           small: Boolean): Workload = name match {
    case "fleet_calibrate" => new FleetCalibrate(spark, in, small)
    case "session_pipeline" => new SessionPipeline(spark, in, work, small)
    case "stream_ingest" => new StreamIngest(spark, in, work, small)
    case "corpus_index" => new CorpusIndex(spark, in, work, small)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Stop a session, dropping its cached frames first: the cache
    * manager outlives the context, and a stale entry breaks the next. */
  def stop(spark: SparkSession): Unit = {
    graft.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    spark.stop()
  }

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload"); val in = opt("input"); val work = opt("work")
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

    // set-up, three times; the first is counted from process start
    val setups = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      val t0 = if (i == 0) jvmStart else Trace.nowMs()
      if (spark != null) stop(spark)
      spark = session(cores, work)
      make(name, spark, in, s"$work/warmup$i", small = true).warmup()
      setups += (Trace.nowMs() - t0) / 1000.0
    }

    val phases = mutable.LinkedHashMap[String, Double]("setups" -> (Trace.nowMs() - jvmStart) / 1000.0)
    def phase[T](name: String)(body: => T): T = {
      val t0 = Trace.nowMs()
      try body finally phases(name) = (Trace.nowMs() - t0) / 1000.0
    }
    phase("prime")(make(name, spark, in, s"$work/prime", small = true).prime())
    val w = phase("load")(make(name, spark, in, s"$work/run", small = false))
    val off = new Trace(false)
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> name, "cores" -> cores, "setup_s" -> setups.toSeq, "phase_s" -> phases)
    if (!traced) {
      record("iterations") = phase("measure")(w.measure(seconds, off))
    } else {
      // a traced iteration, then an untraced one: their wall difference is
      // the tracing overhead (the later, warmer untraced run overstates it)
      val t = new Trace(true)
      t.register(spark)
      t.iteration = 1
      val tracedIters = Seq(safely(w.iterate(t)))
      t.unregister(spark)
      val untraced = Seq(safely(w.iterate(off)))
      t.register(spark)
      t.iteration = 0
      t.pass = "probe"
      try w.probes(t) catch { case NonFatal(e) => e.printStackTrace() }
      Kernels.run(spark, t)
      t.unregister(spark)
      var single: Option[Iter] = None
      if (w.singleCorePass) {
        stop(spark)
        spark = session(1, work)
        t.register(spark)
        t.pass = "local1"; t.iteration = 1
        single = Some(safely(make(name, spark, in, s"$work/local1", small = false).iterate(t)))
        t.unregister(spark)
      }
      record("iterations") = untraced
      record("traced_iterations") = tracedIters
      record("local1_iteration") = single.toSeq
      record("spans") = t.spans.toSeq
      record("tasks") = t.listener.tasks.toSeq
      record("stages") = t.listener.stages.toSeq
      record("jobs") = t.listener.jobs.toSeq.map { case (a, b) => Seq(a, b) }
      record("stage_writes") = t.writes.done.toSeq.map { case (s, e) => Seq(s, e) }
    }
    phase("stop")(stop(spark))
    record("peak_rss_mb") = peakRssMb()
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(Paths.get(opt("out")), mapper.writeValueAsBytes(record))
  }
}
