package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{ErrorMap, SessionCalibrator}
import graft.sources.PldataSource
import Main.{Iter, Workload}

/** Many sessions, one calibration each:
  * reducedPoints → fitModels → transform → summaryBySession. */
final class FleetCalibrate(spark: SparkSession, in: String, small: Boolean)
    extends Workload {
  import spark.implicits._

  private val truth = Inputs.json(s"$in/truth.json").get("sessions").asScala.toSeq
    .take(if (small) 4 else Int.MaxValue)
  private val nSessions = truth.length
  private val accepted = truth.filterNot(_.get("rejected").asBoolean)
    .map(s => Inputs.sessionName(s.get("session").asInt)).toSet
  private val affines = truth.map { s =>
    val a = s.get("affine").asScala.map(_.asDouble).toSeq
    (Inputs.sessionName(s.get("session").asInt), a(0), a(1), a(2), a(3), a(4), a(5))
  }.toDF("session", "a", "b", "c", "d", "tx", "ty")

  private val (markers, pupils) = {
    def col1(n: String) = PldataSource.readNpyDoubles(s"$in/$n.npy")
    val cols = Seq("session", "timestamp", "mx", "my", "cluster", "pts", "px", "py")
      .map(col1)
    val rows = cols.head.indices
      .filter(i => cols.head(i).toInt < nSessions)
      .map(i => cols.map(_(i)))
    val m = rows.map(r => (Inputs.sessionName(r(0).toInt), r(1), r(2), r(3), r(4).toLong))
      .toDF("session", "timestamp", "norm_x", "norm_y", "marker_cluster_index")
    val p = rows.map(r => (Inputs.sessionName(r(0).toInt), r(5), r(6), r(7), 0.95))
      .toDF("session", "timestamp", "norm_x", "norm_y", "confidence")
    (Inputs.cached(m), Inputs.cached(p))
  }

  /** Set-up warm-up: the cluster reduction. */
  def warmup(): Unit =
    SessionCalibrator.reducedPoints(markers, pupils, "session", 1.0 / 60.0, 0.75).count()

  def iterate(t: Trace): Iter = {
    val t0 = System.nanoTime()
    val reduced = t.span("model.reduce", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(SessionCalibrator.reducedPoints(markers, pupils, "session",
        1.0 / 60.0, 0.75))
    }
    // the model table is persisted, as SessionCalibrator.fitTransform does
    val models = t.span("model.fit", (d: DataFrame) =>
        Map("fits" -> d.count().toDouble, "attempted" -> nSessions.toDouble)) {
      val m = SessionCalibrator.fitModels(spark, reduced, "session").persist()
      if (t.on) m.count()
      m
    }
    val gaze = t.span("model.apply", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(SessionCalibrator.transform(pupils, models, "session",
        carry = Seq("norm_x" -> "px", "norm_y" -> "py")))
    }
    val summary = t.span("model.error") {
      ErrorMap.summaryBySession(markers,
        gaze.select(col("session"), col("timestamp"), col("gaze_x").as("norm_x"),
          col("gaze_y").as("norm_y"), col("confidence")), "session",
        ErrorMap.Config(resolution = (60, 80))).collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9

    // output checks, outside the timed chain
    val failures = Seq.newBuilder[String]
    val fitted = models.select("session").as[String].collect().toSet
    if (fitted != accepted)
      failures += s"models for ${fitted.size} sessions, expected exactly the ${accepted.size} planted"
    val worst = gaze.join(affines, "session").select(max(greatest(
        abs(col("gaze_x") - (col("a") * col("px") + col("b") * col("py") + col("tx"))),
        abs(col("gaze_y") - (col("c") * col("px") + col("d") * col("py") + col("ty"))))))
      .head().getDouble(0)
    if (!(worst <= 0.01)) failures += f"gaze off the planted affine by $worst%.4g (> 0.01)"
    val summarized = summary.map(_.getAs[String]("session")).toSet
    if (summarized != accepted)
      failures += s"error summaries for ${summarized.size} sessions, expected ${accepted.size}"
    val badErr = summary.count(r => !(r.getAs[Double]("err_median") < 0.2))
    if (badErr > 0) failures += s"$badErr sessions with err_median >= 0.2 deg"
    models.unpersist()
    t.releaseDrained()
    graft.CacheRegistry.releaseAll()
    Iter(wall, Map("sessions_per_s" -> nSessions / wall), failures.result())
  }

  override def probes(t: Trace): Unit =
    t.span("operators.asof", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(graft.operators.AsOfJoin.nearest(markers, pupils, "timestamp",
        "timestamp", Seq("session"), rightPrefix = "p_", tolerance = Some(1.0 / 60.0)))
    }

  override def singleCorePass: Boolean = true
}
