package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.{Calibrator, ErrorMap}
import graft.pipeline.{Pipeline, VedbPipeline}
import graft.sources.PldataSource
import graft.streaming.BinocularMerge
import Main.{Iter, Workload}
import SessionPipeline.MemoReruns

/** One binocular session from its .pldata files: the memoizing
  * VedbPipeline on eye0 (cold, then memoized) and the binocular chain
  * fitBinocular → mergeBatch → applyModels → ErrorMap.compute. */
final class SessionPipeline(spark: SparkSession, in: String, work: String,
                            small: Boolean) extends Workload {
  import spark.implicits._

  private val truth = Inputs.json(s"$in/truth.json")
  // the small variant keeps the calibration and first validation epoch;
  // it serves the set-up's decode warm-up only: the pipeline's cost is
  // mostly per-job overhead, so its untimed first iteration runs full size
  private val until = if (small) 130.0 else Double.MaxValue
  private val valClusters = truth.get("validation_clusters").asInt
  private val pupilFields = Seq("norm_pos" -> ArrayType(DoubleType),
    "confidence" -> DoubleType, "id" -> LongType)
  private var runs = 0

  private def eye(i: Int): DataFrame =
    PldataSource.read(spark, in, s"pupil_eye$i", pupilFields)
      .filter(col("timestamp") < until)
      .select(col("timestamp"), element_at(col("norm_pos"), 1).as("norm_x"),
        element_at(col("norm_pos"), 2).as("norm_y"), col("confidence"),
        col("id").cast("int").as("id"))

  private def markers(): DataFrame =
    PldataSource.read(spark, in, "markers",
        Seq("norm_pos" -> ArrayType(DoubleType), "size" -> ArrayType(DoubleType)))
      .filter(col("timestamp") < until).select("timestamp", "norm_pos", "size")

  private def clock(): DataFrame =
    PldataSource.readNpyDoubles(s"$in/world_timestamps.npy").filter(_ < until)
      .toSeq.toDF("timestamp")

  /** Set-up warm-up: decode the session's files. */
  override def warmup(): Unit = Seq(eye(0), eye(1), markers(), clock()).foreach(_.count())
  override def prime(): Unit =
    if (small) new SessionPipeline(spark, in, work, small = false).prime()
    else super.prime()

  private def named(df: DataFrame): DataFrame = df.select(col("timestamp"),
    element_at(col("norm_pos"), 1).as("norm_x"),
    element_at(col("norm_pos"), 2).as("norm_y"), col("marker_cluster_index"))

  private def pipeline(root: String, markers: DataFrame, clock: DataFrame,
                       pupils: DataFrame) =
    VedbPipeline.run(spark, root, markers, clock,
      pupils.select("timestamp", "norm_x", "norm_y", "confidence"),
      epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0))

  private def stageCounts(r: Map[String, Pipeline.StageResult]): Map[String, Double] =
    Map("computed" -> Pipeline.Computed, "memoized" -> Pipeline.Memoized,
      "failed" -> Pipeline.Failed, "skipped" -> Pipeline.SkippedUpstreamFailure)
      .map { case (k, s) => k -> r.values.count(_.state == s).toDouble }

  def iterate(t: Trace): Iter = {
    runs += 1
    val root = s"$work/pipeline$runs"
    val t0 = System.nanoTime()
    val (eye0, eye1, marks, clk) = t.span("sources.read",
        (r: (DataFrame, DataFrame, DataFrame, DataFrame)) =>
          if (!t.on) Map.empty[String, Double]
          else Map("rows" -> (r._1.count() + r._2.count() + r._3.count()).toDouble,
            "bytes" -> Inputs.fileBytes(Seq("pupil_eye0", "pupil_eye1", "markers")
              .flatMap(n => Seq(s"$in/$n.pldata", s"$in/${n}_timestamps.npy")): _*))) {
      (t.drain(eye(0)), t.drain(eye(1)), t.drain(markers()), clock())
    }
    val cold = t.span("pipeline.run", (r: Map[String, Pipeline.StageResult]) =>
      stageCounts(r) + ("bytes" -> Inputs.treeBytes(root)))(pipeline(root, marks, clk, eye0))
    val failures = Seq.newBuilder[String]
    if (!cold.values.forall(_.state == Pipeline.Computed))
      failures += "cold run: " + cold.values.map(r => s"${r.name}=${r.state}").mkString(",")
    def stage(n: String) = spark.read.parquet(cold(n).path)
    val models = t.span("model.fit_binocular") {
      Calibrator.fitBinocular(named(stage("markers_cal")), eye0, eye1)
        .getOrElse(throw new IllegalStateException("binocular fit rejected"))
    }
    val merged = t.span("streaming.merge_batch", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(BinocularMerge.mergeBatch(eye0.union(eye1)
        .select(lit("s0").as("session"), col("timestamp"), col("id"),
          col("norm_x").as("x"), col("norm_y").as("y"), col("confidence"))
        .as[BinocularMerge.Pupil]).toDF())
    }
    val gaze = t.span("model.apply", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(BinocularMerge.applyModels(merged, models.bino, models.eye0, models.eye1))
    }
    val binoErr = t.span("model.error") {
      ErrorMap.compute(named(stage("markers_val")),
        gaze.select(col("timestamp"), col("gaze_x").as("norm_x"),
          col("gaze_y").as("norm_y"), col("confidence")),
        ErrorMap.Config(resolution = (60, 80))).summary.collect()
    }
    val coldWall = (System.nanoTime() - t0) / 1e9

    // the memoized re-run is short, so it is repeated and its median kept
    val reruns = (1 to MemoReruns).map { _ =>
      val t1 = System.nanoTime()
      val memo = t.span("pipeline.memo", stageCounts)(pipeline(root, marks, clk, eye0))
      val (rows, err) = t.span("pipeline.memo_read") {
        (spark.read.parquet(memo("gaze").path).count(),
          spark.read.parquet(memo("error").path).collect())
      }
      if (!memo.values.forall(_.state == Pipeline.Memoized))
        failures += "re-run: " + memo.values.map(r => s"${r.name}=${r.state}").mkString(",")
      ((System.nanoTime() - t1) / 1e9, rows, err)
    }
    val memoWall = StreamIngest.median(reruns.map(_._1))
    val (gazeRows, pipeErr) = (reruns.head._2, reruns.head._3)

    // output checks, outside the timed chain
    val bound = truth.get("err_median_bound_deg").asDouble
    for ((what, rows) <- Seq("pipeline" -> pipeErr, "binocular" -> binoErr)) {
      if (rows.length != 1) failures += s"$what: ${rows.length} error summary rows"
      else {
        val r = rows.head
        if (r.getAs[Int]("n_points") != valClusters)
          failures += s"$what: n_points ${r.getAs[Int]("n_points")} != $valClusters"
        if (!(r.getAs[Double]("err_median") < bound))
          failures += s"$what: err_median ${r.getAs[Double]("err_median")} >= $bound"
      }
    }
    if (gazeRows != eye0.count()) failures += s"gaze artifact has $gazeRows rows"
    val counts = merged.groupBy("binocular").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val want = Map(true -> truth.get("binocular_rows").asLong,
      false -> truth.get("monocular_rows").asLong)
    if (counts != want) failures += s"binocular/monocular counts $counts != $want"
    t.releaseDrained()
    graft.CacheRegistry.releaseAll()
    Iter(coldWall + reruns.map(_._1).sum,
      Map("pipeline_wall_s" -> coldWall, "memo_rerun_s" -> memoWall),
      failures.result())
  }

  override def probes(t: Trace): Unit = {
    val (m, c, e0, e1) = (Inputs.cached(markers()), Inputs.cached(clock()),
      Inputs.cached(eye(0)), Inputs.cached(eye(1)))
    t.span("operators.filter_cluster", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(graft.operators.MarkerParsing.filterAndCluster(m, c,
        epochDuration = (30.0, 150.0), clusterDuration = (0.5, 5.0)))
    }
    def side(df: DataFrame, p: String) = df.select(col("timestamp"),
      col("norm_x").as(s"${p}x"), col("norm_y").as(s"${p}y"))
    t.span("operators.asof", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(graft.operators.AsOfJoin.triple(
        m.select(col("timestamp")), side(e0, "p0"), side(e1, "p1"),
        "timestamp", "timestamp", "timestamp", Nil))
    }
    t.releaseDrained()
    Seq(m, c, e0, e1).foreach(_.unpersist())
  }

  override def singleCorePass: Boolean = true
}

object SessionPipeline {
  val MemoReruns = 5
}
