package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** 100× standing for the SESSION QC REPORT lineage
  * ([[graft.Queries.qcReportFrom]]) — the r16 verdict's directive #3:
  * the report composes `SessionCalibrator` fits + `ErrorMap
  * .summaryBySession` session-keyed kernels + four session-keyed stat
  * aggregations into ONE output frame, exactly the multi-session fan-out that must
  * not funnel at fleet scale (reference: plot_session_qc over a whole
  * recording corpus, visualization.py:713-726, 804ff).
  *
  * Planted construction (the `Sessions100x` discipline, two-eye form):
  * per session, 25 marker clusters × 3 repeats at 1 Hz; each eye's
  * pupil is the known inverse affine of its marker + deterministic
  * sub-milli jitter, 2/4 ms later (inside the 1/60 s match window);
  * confidence is 0.95 for two repeats and 0.55 for the third, so the
  * kept-fraction (conf > 0.7 → 2/3), the calibration floor
  * (conf > 0.75 → 2 pairs/cluster) and the error floor (conf > 0.6 →
  * all three) all gate NON-vacuously and still close in analytic form.
  * Every one of the `nSessions` report rows must then read: all five
  * statuses 'ok', the exact planted counts, planted_ok (each fitted
  * TPS reproduces its session's affine), and the analytic error
  * bounds — zero misses required.
  *
  * Scale evidence asserted from the plan, not claimed: the full
  * report lineage must contain NO single-partition exchange, NO
  * keyless window, and NO all-pairs join — the session axis scales by
  * adding partitions. Also measures sessions/sec for docs/SCALE.md.
  *
  * Usage: runMain graft.tools.Qc100x [nSessions]
  */
object Qc100x {
  def main(args: Array[String]): Unit = {
    val nSessions = args.headOption.map(_.toInt).getOrElse(10000)
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // 25 clusters × 3 repeats per session, one marker per second, the
    // eye samples 2/4 ms later; conf 0.95/0.95/0.55 per repeat triple
    // (shared planted construction: PlantedSessions)
    val per = 75L
    val base = PlantedSessions.base(spark, nSessions, per)
    val conf = when(col("rep") === 2, 0.55).otherwise(0.95)
    val markers = PlantedSessions.markers(base)
    val pupL = PlantedSessions.eye(base, 1, 0.002, conf)
    val pupR = PlantedSessions.eye(base, -1, 0.004, conf)
    val sessions = base.select(col("session")).distinct()

    val t0 = System.nanoTime()
    val report = graft.Queries.qcReportFrom(spark, markers, pupL, pupR,
      sessions)

    // plan laws BEFORE the run: the fan-out must scale by partitions
    val p = report.queryExecution.executedPlan.toString
    val singleExchanges =
      p.split("\n").count(_.contains("Exchange SinglePartition"))
    val keyless = report.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
        if w.partitionSpec.isEmpty => w
    }.length
    val allPairs = (if (p.contains("CartesianProduct")) 1 else 0) +
      (if (p.contains("BroadcastNestedLoopJoin")) 1 else 0)

    // the closed-form per-session green condition (both eyes)
    def eyeGreen(sfx: String) =
      col(s"status_pupil_$sfx") === "ok" &&
      col(s"status_calibration_$sfx") === "ok" &&
      col(s"status_gaze_$sfx") === "ok" &&
      col(s"status_error_$sfx") === "ok" &&
      col(s"n_pupils_$sfx") === per &&
      col(s"pct_kept_$sfx") === 0.666667 &&
      col(s"conf_dec_0_$sfx") === 0.55 &&
      col(s"conf_dec_10_$sfx") === 0.95 &&
      col(s"n_cal_points_$sfx") === 25L &&
      col(s"n_gaze_$sfx") === per &&
      col(s"planted_ok_$sfx") &&
      col(s"n_error_points_$sfx") === 25L &&
      col(s"err_median_ok_$sfx") && col(s"err_weighted_ok_$sfx") &&
      col(s"excl_frac_ok_$sfx")
    val agg = report.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("status_markers") === "ok" &&
        col("n_markers_raw") === per &&
        col("n_markers_filtered") === per &&
        col("n_clusters") === 25L &&
        col("cov_min") === 3L && col("cov_max") === 3L &&
        eyeGreen("l") && eyeGreen("r"), 1L).otherwise(0L)).as("n_green"))
      .head()
    val sec = (System.nanoTime() - t0) / 1e9
    graft.CacheRegistry.releaseAll()

    val (nRows, nGreen) = (agg.getLong(0), agg.getLong(1))
    println(s"""{"tool":"qc_100x","n_sessions":$nSessions,""" +
      s""""rows":${nSessions * per * 3},"report_rows":$nRows,""" +
      s""""green":$nGreen,"single_partition_exchanges":$singleExchanges,""" +
      s""""keyless_windows":$keyless,"all_pairs_joins":$allPairs,""" +
      f""""sec":$sec%.1f,"sessions_per_sec":${nRows / sec}%.0f}""")
    require(nRows == nSessions && nGreen == nSessions,
      s"planted-oracle mismatch: $nRows rows, $nGreen green " +
        s"(expected $nSessions)")
    require(singleExchanges == 0 && keyless == 0 && allPairs == 0,
      "QC-report plan grew a single-partition stage or all-pairs join")
    println("[qc_100x] PLANTED ORACLE GREEN (report keyed end-to-end)")
    spark.stop()
  }
}
