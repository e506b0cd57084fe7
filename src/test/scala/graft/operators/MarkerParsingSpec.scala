package graft.operators

import scala.util.Random

import graft.SparkSpec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class MarkerParsingSpec extends SparkSpec {
  import spark.implicits._

  test("snapTimestamps repairs float drift within 1e-8 (J5)") {
    val clock = Seq(1.0, 2.0, 3.0).toDF("timestamp")
    val m = Seq(1.0 + 4e-9, 2.0, 2.5).toDF("timestamp")
    val out = MarkerParsing.snapTimestamps(m, clock, "timestamp", "timestamp")
      .select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(out.toSeq == Seq(1.0, 2.0, 2.5))
  }

  test("removeBriefDetections drops dup-ts rows and short runs (W3)") {
    // clock at 10 Hz; markers present for 1.0 s (kept), 0.2 s (dropped),
    // plus a duplicated timestamp (both copies dropped)
    val clock = (0 until 100).map(_ * 0.1).toDF("timestamp")
    val longRun = (10 to 20).map(_ * 0.1) // 1.0 s
    val shortRun = (50 to 52).map(_ * 0.1) // 0.2 s
    val dup = Seq(8.0, 8.0)
    val markers = (longRun ++ shortRun ++ dup).toDF("timestamp")
      .withColumn("v", col("timestamp") * 10)
    val out = MarkerParsing.removeBriefDetections(
        markers, clock, "timestamp", "timestamp", 0.6)
      .select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(out.length == longRun.length)
    assert(math.abs(out.head - 1.0) < 1e-9 && math.abs(out.last - 2.0) < 1e-9)
  }

  test("sizeAspect + removeSmallDetections gates size and aspect (P5/P7)") {
    val rows = Seq.tabulate(40)(i =>
      (i.toDouble, Seq(0.05, 0.05))) ++ // round, normal size
      Seq((40.0, Seq(0.08, 0.05)), // oblique: aspect 1.6 > 1.2
        (41.0, Seq(0.002, 0.002))) // tiny
    val df = rows.toDF("timestamp", "size")
    val out = MarkerParsing.removeSmallDetections(df, "size",
      sizeStdThreshold = Some(2.0), bimodalStdThreshold = None)
    val kept = out.select("timestamp").collect().map(_.getDouble(0))
    assert(!kept.contains(40.0)) // oblique dropped
    assert(!kept.contains(41.0)) // small dropped
    assert(kept.length == 40)
  }

  test("conjunctive masks: std floor comes from the FULL set, not post-bimodality") {
    // bimodal sizes: 30 big (~0.06) + 10 small (~0.01). The full-set std
    // (~0.022) puts the k=1 floor at median−std ≈ 0.038: small mode dropped
    // by BOTH masks. A sequential composition would recompute std over the
    // big mode only (~0.001) and keep every big row regardless — same here —
    // but with k large enough the full-set floor keeps all 40 while the
    // bimodality mask still cuts: intersection ≠ composition is covered by
    // asserting the exact kept set under both thresholds.
    val rows = Seq.tabulate(30)(i => (i.toDouble, Seq(0.06 + 1e-4 * i, 0.06))) ++
      Seq.tabulate(10)(i => (100.0 + i, Seq(0.01 + 1e-4 * i, 0.01)))
    val df = rows.toDF("timestamp", "size")
    val out = MarkerParsing.removeSmallDetections(df, "size",
      sizeStdThreshold = Some(1.0), bimodalStdThreshold = Some(2.5),
      aspectThreshold = None)
    val kept = out.select("timestamp").collect().map(_.getDouble(0)).sorted
    assert(kept.length == 30 && kept.forall(_ < 100.0))
    // replicate the reference's mask arithmetic on the driver
    val sizes = rows.map { case (_, s) => (s(0) + s(1)) / 2.0 }
    val med = sizes.sorted.apply(20 - 1) // n=40 → median = avg of 20th/21st
    val med2 = (med + sizes.sorted.apply(20)) / 2.0
    val mu = sizes.sum / sizes.length
    val sd = math.sqrt(sizes.map(v => (v - mu) * (v - mu)).sum / sizes.length)
    val floor = med2 - sd * 1.0
    assert(sizes.count(_ > floor) == 30) // full-set floor alone cuts the small mode
  }

  test("grouped bimodality equals the driver split per group (A6 scale form)") {
    // g1 bimodal (keeps the large mode), g2 unimodal (kept whole)
    val g1 = Seq.tabulate(30)(i => ("g1", 0.06 + 1e-4 * i)) ++
      Seq.tabulate(10)(i => ("g1", 0.01 + 1e-4 * i))
    val g2 = Seq.tabulate(20)(i => ("g2", 0.05 + 1e-4 * i))
    val df = (g1 ++ g2).toDF("g", "v")
    val grouped = graft.operators.ClusterOps
      .bimodalitySplitGrouped(df, Seq("g"), "v")
      .collect().map(r => (r.getString(0), r.getDouble(1))).sorted
    val expected = (
      graft.operators.ClusterOps.bimodalitySplit(g1.toDF("g", "v"), "v")
        .collect().map(r => (r.getString(0), r.getDouble(1))) ++
      graft.operators.ClusterOps.bimodalitySplit(g2.toDF("g", "v"), "v")
        .collect().map(r => (r.getString(0), r.getDouble(1)))).sorted
    assert(grouped.toSeq == expected.toSeq)
    assert(grouped.count(_._1 == "g1") == 30 && grouped.count(_._1 == "g2") == 20)
  }

  test("grouped bimodality gates NULL group keys (null-safe join-back)") {
    // the null-key group is bimodal: its small mode must drop, exactly
    // like a named group — a plain equi-join would never match the cut
    // row back and every null-key row would silently pass
    val rows = (Seq.tabulate(30)(i => (None: Option[String], 0.06 + 1e-4 * i)) ++
      Seq.tabulate(10)(i => (None: Option[String], 0.01 + 1e-4 * i)) ++
      Seq.tabulate(20)(i => (Some("g2"), 0.05 + 1e-4 * i)))
      .toDF("g", "v")
    val kept = graft.operators.ClusterOps
      .bimodalitySplitGrouped(rows, Seq("g"), "v")
      .collect().map(r => (Option(r.getString(0)), r.getDouble(1)))
    assert(kept.count(_._1.isEmpty) == 30) // null-key small mode dropped
    assert(kept.filter(_._1.isEmpty).forall(_._2 > 0.05))
    assert(kept.count(_._1.contains("g2")) == 20) // unimodal group intact
  }

  test("checkerboard session end-to-end: corner-ptp size feeds the full pipeline") {
    // markerCheckerboard rows: corner grid around each center, no `size`
    // column — the pipeline must derive it from the corner ptp with the
    // x extent scaled by the 4/3 image aspect (marker_parsing.py:148-156)
    val fps = 30.0
    def corners(cx: Double, cy: Double, hx: Double, hy: Double) =
      Seq(Seq(cx - hx, cy - hy), Seq(cx + hx, cy - hy),
        Seq(cx - hx, cy + hy), Seq(cx + hx, cy + hy))
    // square boards: x-ptp 0.045·(4/3) = 0.06, y-ptp 0.06 → aspect 1.0
    def epoch(t0: Double, xa: Double, xb: Double) = {
      val a = (0 until 600).map(i => (t0 + i / fps,
        Seq(xa, 0.4), corners(xa, 0.4, 0.0225, 0.03)))
      val b = (600 until 1200).map(i => (t0 + i / fps,
        Seq(xb, 0.6), corners(xb, 0.6, 0.0225, 0.03)))
      a ++ b
    }
    // oblique boards (x-ptp 0.045·4/3 = 0.06 vs y 0.03 → aspect 2.0 > 1.2;
    // mean size 0.045 — the SMALLER mode, so the bimodality gate agrees
    // with the aspect gate instead of fighting it) planted throughout
    // epoch 1: the masks must remove every one
    val oblique = (0 until 600).map(i => (0.013 + i / fps,
      Seq(0.5, 0.5), corners(0.5, 0.5, 0.0225, 0.015)))
    val markers = (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7) ++ oblique)
      .toDF("timestamp", "norm_pos", "norm_pos_full_checkerboard")
    val clock = ((0 until 5000).map(_ / fps) ++
      (0 until 600).map(0.013 + _ / fps)).toDF("timestamp")
    val out = MarkerParsing.filterAndClusterCheckerboard(markers, clock,
      clusterDuration = (1.0, 60.0))
    assert(out.count() > 0)
    // derived size/aspect columns carry the reference arithmetic
    val first = out.orderBy("timestamp").select("marker_size", "marker_aspect")
      .collect()(0)
    assert(math.abs(first.getDouble(0) - 0.06) < 1e-9)
    assert(math.abs(first.getDouble(1) - 1.0) < 1e-9)
    // obliques are gone; both epochs and their spatial clusters survive
    assert(out.filter(element_at(col("norm_pos"), 1) === 0.5).count() == 0)
    assert(out.select("epoch").distinct().count() == 2)
    out.groupBy("epoch").agg(countDistinct("marker_cluster_index").as("n"))
      .collect().foreach(r => assert(r.getAs[Long]("n") >= 2))
    // the corner arrays ride through to the clustered output
    assert(out.columns.contains("norm_pos_full_checkerboard"))
  }

  test("filterAndCluster end-to-end on a planted two-epoch session") {
    // two epochs 60 s apart, each with 2 spatial clusters at 30 Hz
    val fps = 30.0
    def epoch(t0: Double, xa: Double, xb: Double) = {
      val a = (0 until 600).map(i => (t0 + i / fps, Seq(xa, 0.4), Seq(0.05, 0.05)))
      val b = (600 until 1200).map(i => (t0 + i / fps, Seq(xb, 0.6), Seq(0.05, 0.05)))
      a ++ b
    }
    val markers = (epoch(0.0, 0.2, 0.8) ++ epoch(100.0, 0.3, 0.7))
      .toDF("timestamp", "norm_pos", "size")
    val clock = (0 until 5000).map(_ / fps).toDF("timestamp")
    val out = MarkerParsing.filterAndCluster(markers, clock,
      clusterDuration = (1.0, 60.0))
    assert(out.count() > 0)
    val epochs = out.select("epoch").distinct().count()
    assert(epochs == 2)
    // each epoch: 2 clusters (plus possible noise label filtered by gate)
    val clustersPerEpoch = out.groupBy("epoch")
      .agg(countDistinct("marker_cluster_index").as("n")).collect()
    clustersPerEpoch.foreach(r => assert(r.getAs[Long]("n") >= 2))
  }

  // ---- filterAndCluster kernel vs the component-operator composition ----

  /** The composition filterAndCluster ran as before its one-task kernel,
    * rebuilt from the component operators (default thresholds). */
  private def chained(markers: DataFrame, clock: DataFrame,
                      epochDuration: (Double, Double) = (30.0, 150.0),
                      clusterDuration: (Double, Double) = (0.2, 5.0),
                      minClusters: Int = 1): DataFrame = {
    val ts = "timestamp"
    val cleaned = MarkerParsing.removeSmallDetections(
      MarkerParsing.removeBriefDetections(markers, clock, ts, ts), "size")
    val epoched = TimeSeriesOps.sessionDurationFilter(
      TimeSeriesOps.sessionize(cleaned, ts, Nil, 15.0, "epoch"),
      ts, Nil, "epoch", epochDuration._1, epochDuration._2)
    val w = Window.partitionBy(col("epoch"))
    val t = col(ts).cast("double")
    val feat = epoched
      .withColumn("_ft", (t - min(t).over(w)) / 90.0 + 2.0)
      .withColumn("_fx", element_at(col("norm_pos"), 1) * (4.0 / 3.0))
      .withColumn("_fy", element_at(col("norm_pos"), 2))
    val clustered = ClusterOps.dbscan(feat, Seq("epoch"),
      Seq("_ft", "_fx", "_fy"), ts, 0.05, 5, "marker_cluster_index")
      .drop("_ft", "_fx", "_fy")
      .withColumn("marker_cluster_index",
        when(col("marker_cluster_index") === -1, -1L)
          .otherwise(col("epoch") * 100000 + col("marker_cluster_index")))
    ClusterOps.clusterGate(clustered, "marker_cluster_index", ts,
      clusterDuration._1, clusterDuration._2, minClusters = minClusters)
  }

  private val markerSchema = StructType(Seq(
    StructField("timestamp", DoubleType),
    StructField("norm_pos", ArrayType(DoubleType)),
    StructField("size", ArrayType(DoubleType))))

  private def frame(rows: Seq[Row]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), markerSchema)

  private def clockOf(ticks: Seq[Double]): DataFrame = ticks.toDF("timestamp")

  /** A value with doubles as their bit patterns (NaN canonical). */
  private def bits(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d).toHexString
    case r: Row => r.toSeq.map(bits).mkString("(", ",", ")")
    case xs: scala.collection.Seq[_] => xs.map(bits).mkString("[", ",", "]")
    case x => x.toString
  }

  /** filterAndCluster equals the chained composition on the full row set,
    * doubles bitwise; returns the row count. An empty composition result
    * carries its pre-join column order, so empty frames compare fields. */
  private def assertEquivalent(markers: DataFrame, clock: DataFrame,
                               epochDuration: (Double, Double) = (30.0, 150.0),
                               clusterDuration: (Double, Double) = (0.2, 5.0),
                               minClusters: Int = 1,
                               ansi: Boolean = true): Int = {
    val got = MarkerParsing.filterAndCluster(markers, clock,
      epochDuration = epochDuration, clusterDuration = clusterDuration,
      minClusters = minClusters)
    val key = "spark.sql.ansi.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, ansi.toString)
    val (want, wantRows) = try {
      val w = chained(markers, clock, epochDuration, clusterDuration, minClusters)
      (w, w.collect().map(bits).sorted.toSeq)
    } finally {
      spark.conf.set(key, prev)
      graft.CacheRegistry.releaseAll()
    }
    val gotRows = got.collect().map(bits).sorted.toSeq
    if (wantRows.nonEmpty) assert(got.schema == want.schema)
    else assert(got.schema.fields.toSet == want.schema.fields.toSet)
    assert(got.columns.head == "marker_cluster_index")
    assert(gotRows == wantRows)
    gotRows.length
  }

  private val hz = 32.0 // 1/32 s ticks: exact in binary

  /** A planted session on a 32 Hz clock: `epochs` epochs 100 s apart,
    * each with four 2.5-s fixations 10 s apart at random positions. */
  private def session(rng: Random, epochs: Int = 2): (Seq[Row], Seq[Double]) = {
    val ticks = (0 until (epochs * 100 * hz).toInt).map(_ / hz)
    val rows = for {
      e <- 0 until epochs; c <- 0 until 4
      x = 0.1 + 0.8 * rng.nextDouble(); y = 0.1 + 0.8 * rng.nextDouble()
      f <- 0 until (2.5 * hz).toInt
    } yield Row(ticks(((e * 100 + c * 10) * hz).toInt + f),
      Seq(x + rng.nextGaussian() * 5e-4, y + rng.nextGaussian() * 5e-4),
      Seq(0.05 + rng.nextGaussian() * 1e-4, 0.05 + rng.nextGaussian() * 1e-4))
    (rows, ticks)
  }

  private def withSize(r: Row, size: Seq[Any]): Row = Row(r.get(0), r.get(1), size)

  test("kernel == composition: empty markers, empty clock") {
    val (rows, ticks) = session(new Random(1))
    assert(assertEquivalent(frame(Nil), clockOf(ticks)) == 0)
    assert(assertEquivalent(frame(rows), clockOf(Nil)) == 0)
    assert(assertEquivalent(frame(Nil), clockOf(Nil)) == 0)
  }

  test("kernel == composition: all-duplicate timestamps") {
    val (rows, ticks) = session(new Random(2))
    assert(assertEquivalent(frame(rows ++ rows), clockOf(ticks)) == 0)
  }

  test("kernel == composition: two raw timestamps snapping onto one tick") {
    val (rows, ticks) = session(new Random(3))
    // every 7th row gets a drifted twin: both snap to the same tick
    val twins = rows.zipWithIndex.collect { case (r, i) if i % 7 == 0 =>
      Row(r.getDouble(0) + 4e-9, r.get(1), r.get(2)) }
    val n = assertEquivalent(frame(rows ++ twins), clockOf(ticks))
    assert(n == rows.length + twins.length)
  }

  test("kernel == composition: zero, NaN and null sizes") {
    val (rows, ticks) = session(new Random(4))
    val odd = rows.zipWithIndex.map { case (r, i) => i % 11 match {
      case 0 => withSize(r, Seq(0.05, 0.0))
      case 1 => withSize(r, Seq(Double.NaN, 0.05))
      case 2 => withSize(r, null)
      case 3 => withSize(r, Seq(0.05, null))
      case _ => r
    }}
    // the composition's x/0 is null only with ANSI off (it raises otherwise)
    val n = assertEquivalent(frame(odd), clockOf(ticks), ansi = false)
    assert(n > 0 && n <= rows.length - 4 * rows.length / 11)
  }

  test("kernel == composition: bimodal sizes keep the larger mode") {
    val (rows, ticks) = session(new Random(5))
    val small = rows.zipWithIndex.map { case (r, i) =>
      if (i % 3 == 0) withSize(r, Seq(0.02, 0.02)) else r }
    val n = assertEquivalent(frame(small), clockOf(ticks))
    assert(n > 0 && n < rows.length)
  }

  test("kernel == composition: epoch and cluster durations exactly on a bound") {
    val (rows, ticks) = session(new Random(6))
    // each epoch spans exactly 32.5 − 1/32 s, each fixation 79/32 s; the
    // bounds are strict, so a duration equal to either bound drops
    val epochSpan = 32.5 - 1 / hz
    val fixation = 79 / hz
    def n(epochDuration: (Double, Double) = (30.0, 150.0),
          clusterDuration: (Double, Double) = (0.2, 5.0)) =
      assertEquivalent(frame(rows), clockOf(ticks), epochDuration, clusterDuration)
    assert(n(epochDuration = (epochSpan - 1 / hz, 150.0)) == rows.length)
    assert(n(epochDuration = (epochSpan, 150.0)) == 0)
    assert(n(epochDuration = (0.0, epochSpan)) == 0)
    assert(n(clusterDuration = (fixation - 1 / hz, 5.0)) == rows.length)
    assert(n(clusterDuration = (fixation, 5.0)) == 0)
    assert(n(clusterDuration = (0.2, fixation)) == 0)
  }

  test("kernel == composition: unmet minClusters gives an empty frame") {
    val (rows, ticks) = session(new Random(7))
    val all = MarkerParsing.filterAndCluster(frame(rows), clockOf(ticks))
    assert(assertEquivalent(frame(rows), clockOf(ticks), minClusters = 9) == 0)
    val empty = MarkerParsing.filterAndCluster(frame(rows), clockOf(ticks),
      minClusters = 9)
    assert(empty.schema == all.schema && empty.count() == 0)
    assert(assertEquivalent(frame(rows), clockOf(ticks), minClusters = 8) == rows.length)
  }

  test("kernel == composition: randomized planted sessions with every noise mode") {
    for (seed <- 11 to 16) {
      val rng = new Random(seed)
      val (rows, ticks) = session(rng, epochs = 2 + seed % 2)
      val drifted = rows.map(r =>
        if (rng.nextDouble() < 0.05) Row(r.getDouble(0) + 4e-9, r.get(1), r.get(2)) else r)
      val dups = rng.shuffle(rows).take(20)
      val brief = (0 until 6).map { _ =>
        val t0 = ticks(rng.nextInt(ticks.length - 10))
        Row(t0, Seq(rng.nextDouble(), rng.nextDouble()), Seq(0.004, 0.004))
      }.filterNot(r => rows.exists(_.getDouble(0) == r.getDouble(0)))
      val oblique = (0 until hz.toInt).map(f =>
        Row(ticks(f + (50 * hz).toInt), Seq(0.9, 0.9), Seq(0.06, 0.0375)))
      val markers = rng.shuffle(drifted ++ dups ++ brief ++ oblique)
      val clock = rng.shuffle(ticks ++ ticks.take(40)) // unsorted, duplicated
      assert(assertEquivalent(frame(markers), clockOf(clock),
        clusterDuration = (0.5, 5.0)) > 0, s"seed $seed")
    }
  }

  test("filterAndCluster plan guard: at most 4 jobs, no keyless window") {
    val (rows, ticks) = session(new Random(8))
    // building the frame counts too: a plan-time count() or persist is a job
    val (out, jobs, _) = traced {
      val out = MarkerParsing.filterAndCluster(frame(rows), clockOf(ticks))
      assert(out.count() == rows.length)
      out
    }
    assert(jobs <= 4, s"filterAndCluster(...).count() ran $jobs Spark jobs")
    out.collect()
    val keyless = new AdaptiveSparkPlanHelper {}.collect(out.queryExecution.executedPlan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }
    assert(keyless.isEmpty, s"keyless window in:\n${out.queryExecution.executedPlan}")
  }
}
