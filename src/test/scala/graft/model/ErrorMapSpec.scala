package graft.model

import scala.util.{Failure, Random, Success, Try}

import graft.SparkSpec
import graft.operators.AsOfJoin
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class ErrorMapSpec extends SparkSpec {
  import spark.implicits._

  val rng = new scala.util.Random(11)

  // markers on a 4x4 grid; gaze = marker + constant pixel offset
  val offsetNorm = 0.01 // in normalized x units → 2048*0.01 ≈ 20.5 px
  lazy val (markers, gaze) = {
    val ms = scala.collection.mutable.ArrayBuffer[CalM]()
    val gs = scala.collection.mutable.ArrayBuffer[CalP]()
    var t = 0.0; var c = 0L
    for (i <- 0 until 4; j <- 0 until 4) {
      val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
      for (_ <- 0 until 10) {
        ms += CalM(t, mx, my, c)
        gs += CalP(t + 0.001, mx + offsetNorm, my, 0.95)
        t += 1.0 / 30.0
      }
      c += 1; t += 0.3
    }
    (ms.toSeq.toDF(), gs.toSeq.toDF())
  }

  test("constant-offset gaze yields the analytic angular error") {
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val res = ErrorMap.compute(markers, gaze, cfg)
    val ppd = ErrorMap.pixelsPerDegree(cfg)
    val expectedDeg = offsetNorm * 2048.0 / ppd
    val pts = res.points.select("err_deg").collect().map(_.getDouble(0))
    assert(pts.length == 16)
    pts.foreach(e => assert(math.abs(e - expectedDeg) < 1e-9,
      s"point err $e vs $expectedDeg"))
    val sm = res.summary.collect()(0)
    assert(math.abs(sm.getAs[Double]("gaze_err_weighted") - expectedDeg) < 0.05)
    assert(sm.getAs[Double]("gaze_fraction_excluded") >= 0.0)
    // grid has full resolution and nulls outside the marker hull
    assert(res.grid.count() == 60L * 80L)
    assert(res.grid.filter(col("err").isNull).count() > 0)
    val inside = res.grid.filter(col("x").between(0.2, 0.7) &&
      col("y").between(0.2, 0.7) && col("err").isNotNull)
    inside.select("err").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - expectedDeg) < 0.2)
    }
  }

  test("summaryBySession == compute().summary per session (distributed parity)") {
    // two sessions with DIFFERENT planted offsets: the cogrouped form
    // must reproduce the single-session driver form's summary for each,
    // to fp tolerance (anchor order inside the TPS solve is the only
    // difference between the two paths)
    val offs = Map("sA" -> 0.01, "sB" -> 0.02)
    val ms = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    for ((sess, off) <- offs) {
      var t = 0.0; var c = 0L
      for (i <- 0 until 4; j <- 0 until 4) {
        val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
        for (_ <- 0 until 5) {
          ms += ((sess, t, mx, my, c))
          gs += ((sess, t + 0.001, mx + off, my, 0.95))
          t += 1.0 / 30.0
        }
        c += 1; t += 0.3
      }
    }
    val mdf = ms.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val gdf = gs.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg = ErrorMap.Config(resolution = (60, 80))
    val bySession = ErrorMap.summaryBySession(mdf, gdf, "session", cfg)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(bySession.keySet == offs.keySet)
    for (sess <- offs.keys) {
      val single = ErrorMap.compute(
        mdf.filter(col("session") === sess),
        gdf.filter(col("session") === sess),
        cfg.copy(matchKeys = Seq("session"))).summary.collect()(0)
      val r = bySession(sess)
      assert(r.getAs[Long]("n_points") ==
        single.getAs[Int]("n_points").toLong ||
        r.getAs[Long]("n_points") == single.getAs[Number]("n_points").longValue,
        s"$sess n_points")
      for (c <- Seq("err_median", "err_mean", "gaze_err_weighted",
          "gaze_fraction_excluded")) {
        val a = r.getAs[Double](c); val b = single.getAs[Double](c)
        assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
          s"$sess $c: distributed $a vs single $b")
      }
      graft.CacheRegistry.releaseAll()
    }
    // the planted offsets actually differ between sessions — the
    // per-session isolation is load-bearing, not vacuous
    assert(math.abs(bySession("sB").getAs[Double]("err_median") -
      2 * bySession("sA").getAs[Double]("err_median")) < 1e-6)
  }

  test("summaryBySession honors clusterReduce=false, mci-less markers, zero-gaze sessions, and rejects matchKeys") {
    // one session, 4x4 anchor grid, 3 samples per anchor, constant offset
    val ms = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    var t = 0.0; var c = 0L
    for (i <- 0 until 4; j <- 0 until 4) {
      val mx = 0.15 + 0.2 * i; val my = 0.15 + 0.2 * j
      for (_ <- 0 until 3) {
        ms += (("s1", t, mx, my, c))
        gs += (("s1", t + 0.001, mx + 0.015, my, 0.95))
        t += 1.0 / 30.0
      }
      c += 1; t += 0.3
    }
    val mdf = ms.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val gdf = gs.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg = ErrorMap.Config(resolution = (60, 80))
    def parity(m: org.apache.spark.sql.DataFrame, cc: ErrorMap.Config): Unit = {
      val dist = ErrorMap.summaryBySession(m, gdf, "session", cc).collect()(0)
      val single = ErrorMap.compute(m, gdf, cc).summary.collect()(0)
      assert(dist.getAs[Long]("n_points") ==
        single.getAs[Number]("n_points").longValue)
      for (col <- Seq("err_median", "err_mean", "gaze_err_weighted",
          "gaze_fraction_excluded")) {
        val a = dist.getAs[Double](col); val b = single.getAs[Double](col)
        assert(math.abs(a - b) <= 1e-6 * math.max(1.0, math.abs(b)),
          s"$col: distributed $a vs single $b")
      }
      graft.CacheRegistry.releaseAll()
    }
    // 1. clusterReduce=false: every matched point its own anchor (48),
    // same numbers as compute for the same Config — previously the
    // config was silently ignored and the numbers were the reduced ones
    parity(mdf, cfg.copy(clusterReduce = false))
    // 2. markers WITHOUT marker_cluster_index: the compute() column-
    // presence fallback, not an AnalysisException
    parity(mdf.drop("marker_cluster_index"), cfg)
    // 3. zero in-frame gaze: the fit succeeded (>= 4 points), so the row
    // EXISTS with null weighted fields — absence stays reserved for the
    // too-few-points failure
    val gOut = gdf.withColumn("norm_x", col("norm_x") + 1.5)
    val zr = ErrorMap.summaryBySession(mdf, gOut, "session",
      cfg.copy(outlierStds = None)).collect()
    assert(zr.length == 1, "zero-gaze session lost its summary row")
    assert(zr(0).getAs[Long]("n_points") == 16L)
    assert(!zr(0).isNullAt(zr(0).fieldIndex("err_median")))
    assert(zr(0).isNullAt(zr(0).fieldIndex("gaze_err_weighted")) &&
      zr(0).isNullAt(zr(0).fieldIndex("gaze_fraction_excluded")),
      "weighted fields must be null when there is no gaze to weight")
    // 4. matchKeys would be silently ignored — reject loudly
    intercept[IllegalArgumentException] {
      ErrorMap.summaryBySession(mdf, gdf, "session",
        cfg.copy(matchKeys = Seq("session")))
    }
  }

  test("in-frame gaze entirely outside the hull: weighted error null (compute parity), excluded fraction 1.0") {
    // anchors confined to a corner patch so the hull covers almost
    // nothing; gaze lands IN frame but far outside it → total > 0,
    // inside == 0. The weighted mean is over an empty set: compute()'s
    // SQL sum over an empty when-set is null, and the distributed path
    // must match — 0.0/0.0 would be NaN and break null-aware downstream
    // gates (qc err_weighted_ok).
    val ms2 = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Long)]()
    val gs2 = scala.collection.mutable.ArrayBuffer[(String, Double, Double, Double, Double)]()
    var t2 = 0.0; var c2 = 0L
    for (i <- 0 until 3; j <- 0 until 3) {
      val mx = 0.10 + 0.06 * i; val my = 0.10 + 0.06 * j
      for (_ <- 0 until 3) {
        ms2 += (("s1", t2, mx, my, c2))
        gs2 += (("s1", t2 + 0.001, 0.85, 0.85, 0.95))
        t2 += 1.0 / 30.0
      }
      c2 += 1; t2 += 0.3
    }
    val m2 = ms2.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "marker_cluster_index")
    val g2 = gs2.toSeq.toDF("session", "timestamp", "norm_x", "norm_y",
      "confidence")
    val cfg2 = ErrorMap.Config(resolution = (60, 80), outlierStds = None)
    val r = ErrorMap.summaryBySession(m2, g2, "session", cfg2).collect()(0)
    assert(r.getAs[Long]("n_points") == 9L)
    assert(r.isNullAt(r.fieldIndex("gaze_err_weighted")),
      "empty-inside weighted error must be null, not NaN")
    assert(r.getAs[Double]("gaze_fraction_excluded") == 1.0)
    val s = ErrorMap.compute(m2, g2, cfg2).summary.collect()(0)
    assert(s.isNullAt(s.fieldIndex("gaze_err_weighted")),
      "compute() contract drifted: expected null for empty inside-set")
    graft.CacheRegistry.releaseAll()
  }

  test("convex hull is correct and masks outside points") {
    val square = Array(Array(0.0, 0.0), Array(1.0, 0.0), Array(1.0, 1.0),
      Array(0.0, 1.0), Array(0.5, 0.5))
    val hull = ErrorMap.convexHull(square)
    assert(hull.length == 4)
    val df = Seq((0.5, 0.5), (1.5, 0.5), (-0.1, 0.2)).toDF("x", "y")
      .withColumn("in", ErrorMap.hullPredicate(square, col("x"), col("y"), false))
    assert(df.collect().map(_.getBoolean(2)).toSeq == Seq(true, false, false))
  }

  // ---- the one-pass kernel vs the composition it replaced ----

  /** compute as it ran before its one-pass kernel: as-of join, groupBy
    * medians, driver-collected outlier cut and fit, Column grid, and the
    * gaze histogram joined onto the grid. Returns (points, grid, summary). */
  private def legacyCompute(markers: DataFrame, gaze: DataFrame,
                            cfg: ErrorMap.Config): (DataFrame, DataFrame, DataFrame) = {
    val ppd = ErrorMap.pixelsPerDegree(cfg)
    val matched = AsOfJoin.nearest(markers,
        gaze.select((cfg.matchKeys.map(col) :+ col("timestamp") :+
          col("norm_x").as("gx") :+ col("norm_y").as("gy") :+ col("confidence")): _*),
        "timestamp", "timestamp", cfg.matchKeys, rightPrefix = "g_")
      .filter(col("g_confidence") > cfg.minPupilConfidence)
      .withColumnRenamed("g_gx", "gx").withColumnRenamed("g_gy", "gy")
    val reduced =
      if (cfg.clusterReduce && matched.columns.contains("marker_cluster_index"))
        matched.groupBy((cfg.matchKeys.map(col) :+ col("marker_cluster_index")): _*).agg(
          expr("percentile(norm_x, 0.5)").as("mx"), expr("percentile(norm_y, 0.5)").as("my"),
          expr("percentile(gx, 0.5)").as("gx"), expr("percentile(gy, 0.5)").as("gy"))
      else matched.select(col("norm_x").as("mx"), col("norm_y").as("my"), col("gx"), col("gy"))
    val (iw, ih) = cfg.imageResolution
    val exPix = (col("gx") - col("mx")) * iw
    val eyPix = (col("gy") - col("my")) * ih
    val withErr = reduced
      .withColumn("err_deg", sqrt(exPix * exPix + eyPix * eyPix) / ppd)
      .withColumn("err_angle", atan2(exPix, eyPix)).persist()
    val errVals = withErr.select(col("err_deg")).collect().map(_.getDouble(0))
    val pts = cfg.outlierStds match {
      case Some(k) if errVals.nonEmpty =>
        val med = Stats.median(errVals); val sd = Stats.stdPop(errVals)
        withErr.filter(abs(col("err_deg") - med) <= k * sd)
      case _ => withErr
    }
    val ptArr = pts.select("mx", "my", "err_deg").collect()
      .map(r => (Array(r.getDouble(0), r.getDouble(1)), r.getDouble(2)))
    require(ptArr.length >= 4,
      s"Too few points to compute error across visual field (${ptArr.length})")
    val anchors = ptArr.map(_._1)
    val errs = ptArr.map(_._2)
    val (bestI, _) = Tps.looSelect(anchors, errs, cfg.lambdas,
      resid => math.sqrt(resid.map(r => r * r).sum / resid.length))
    val theta = Tps.fit(anchors, errs, cfg.lambdas(bestI))
    val (vres, hres) = cfg.resolution
    val grid = spark.range(vres).toDF("iy").crossJoin(spark.range(hres).toDF("ix"))
      .withColumn("x", col("ix").cast("double") / (hres - 1))
      .withColumn("y", col("iy").cast("double") / (vres - 1))
      .withColumn("err", when(ErrorMap.hullPredicate(anchors, col("x"), col("y"), cfg.extrapolate),
        greatest(TpsMapModel.tpsCol(col("x"), col("y"), anchors, theta), lit(errs.min)))
        .otherwise(lit(null).cast("double")))
    val hist = gaze
      .filter(col("norm_x").between(0, 1) && col("norm_y").between(0, 1))
      .withColumn("ix", least(floor(col("norm_x") * hres), lit(hres - 1)).cast("long"))
      .withColumn("iy", least(floor(col("norm_y") * vres), lit(vres - 1)).cast("long"))
      .groupBy("ix", "iy").agg(count(lit(1)).as("n_gaze"))
    val summary = grid.join(hist, Seq("ix", "iy"), "left")
      .withColumn("n_gaze", coalesce(col("n_gaze"), lit(0L)))
      .agg(sum(col("n_gaze")).as("_total"),
        sum(when(col("err").isNotNull, col("n_gaze")).otherwise(0L)).as("_in"),
        sum(when(col("err").isNotNull, col("n_gaze") * col("err"))).as("_werr"))
      .select(
        when(col("_in") > 0, col("_werr") / col("_total") / (col("_in") / col("_total")))
          .as("gaze_err_weighted"),
        when(col("_total") > 0, (col("_total") - col("_in")) / col("_total"))
          .as("gaze_fraction_excluded"),
        lit(ptArr.length).as("n_points"),
        lit(Stats.median(errs)).as("err_median"),
        lit(Stats.mean(errs)).as("err_mean"))
    (pts, grid, summary)
  }

  /** summaryBySession as it ran before the one-pass kernel: as-of join,
    * groupBy medians, a cells groupBy, and a cogroup of the two. */
  private def legacyBySession(markers: DataFrame, gaze: DataFrame, sessionCol: String,
                              cfg: ErrorMap.Config): DataFrame = {
    val ppd = ErrorMap.pixelsPerDegree(cfg)
    val (vres, hres) = cfg.resolution
    val (iw, ih) = cfg.imageResolution
    val lambdas = cfg.lambdas
    val outlierStds = cfg.outlierStds
    val extrapolate = cfg.extrapolate
    val doReduce = cfg.clusterReduce && markers.columns.contains("marker_cluster_index")
    val markerCols = Seq(col(sessionCol), col("timestamp"), col("norm_x"), col("norm_y")) ++
      (if (doReduce) Seq(col("marker_cluster_index")) else Nil)
    val matched = AsOfJoin.nearest(markers.select(markerCols: _*),
        gaze.select(col(sessionCol), col("timestamp"), col("norm_x").as("gx"),
          col("norm_y").as("gy"), col("confidence")),
        "timestamp", "timestamp", Seq(sessionCol), rightPrefix = "g_")
      .filter(col("g_confidence") > cfg.minPupilConfidence)
      .withColumnRenamed("g_gx", "gx").withColumnRenamed("g_gy", "gy")
    val reduced =
      if (doReduce) matched.groupBy(col(sessionCol), col("marker_cluster_index")).agg(
        expr("percentile(norm_x, 0.5)").as("mx"), expr("percentile(norm_y, 0.5)").as("my"),
        expr("percentile(gx, 0.5)").as("gx"), expr("percentile(gy, 0.5)").as("gy"))
      else matched.select(col(sessionCol), col("norm_x").as("mx"),
        col("norm_y").as("my"), col("gx"), col("gy"))
    val exPix = (col("gx") - col("mx")) * iw
    val eyPix = (col("gy") - col("my")) * ih
    val pts = reduced
      .select(col(sessionCol).cast("string"), col("mx"), col("my"),
        (sqrt(exPix * exPix + eyPix * eyPix) / ppd).as("err_deg"))
      .as[(String, Double, Double, Double)].groupByKey(_._1)
    val cells = gaze
      .filter(col("norm_x").between(0, 1) && col("norm_y").between(0, 1))
      .select(col(sessionCol).cast("string"),
        least(floor(col("norm_x") * hres), lit(hres - 1)).cast("long").as("ix"),
        least(floor(col("norm_y") * vres), lit(vres - 1)).cast("long").as("iy"))
      .groupBy(sessionCol, "ix", "iy").agg(count(lit(1)).as("n"))
      .as[(String, Long, Long, Long)].groupByKey(_._1)
    pts.cogroup(cells) { (session, ptIt, cellIt) =>
      val rows = ptIt.toArray.sortBy(r => (r._2, r._3, r._4))
      val all = rows.map(_._4)
      val kept = outlierStds match {
        case Some(k) if rows.nonEmpty =>
          val med = Stats.median(all); val sd = Stats.stdPop(all)
          rows.filter(r => math.abs(r._4 - med) <= k * sd)
        case _ => rows
      }
      if (kept.length < 4) Iterator.empty
      else {
        val anchors = kept.map(r => Array(r._2, r._3))
        val errs = kept.map(_._4)
        val (bestI, _) = Tps.looSelect(anchors, errs, lambdas,
          resid => math.sqrt(resid.map(r => r * r).sum / resid.length))
        val theta = Tps.fit(anchors, errs, lambdas(bestI))
        val hull = ErrorMap.convexHull(anchors)
        def inHull(x: Double, y: Double): Boolean = extrapolate || (
          hull.length >= 3 && hull.indices.forall { i =>
            val a = hull(i); val b = hull((i + 1) % hull.length)
            (b(0) - a(0)) * (y - a(1)) - (b(1) - a(1)) * (x - a(0)) >= 0
          })
        var total = 0L; var inside = 0L; var werr = 0.0
        cellIt.foreach { case (_, ix, iy, n) =>
          total += n
          val x = ix.toDouble / (hres - 1); val y = iy.toDouble / (vres - 1)
          if (inHull(x, y)) { inside += n; werr += n * math.max(Tps.z(x, y, anchors, theta), errs.min) }
        }
        Iterator((session, kept.length.toLong, Stats.median(errs), Stats.mean(errs),
          if (inside == 0) Option.empty[Double] else Some(werr / total / (inside.toDouble / total)),
          if (total == 0) Option.empty[Double] else Some((total - inside).toDouble / total)))
      }
    }.toDF(sessionCol, "n_points", "err_median", "err_mean",
      "gaze_err_weighted", "gaze_fraction_excluded")
  }

  private def bits(v: Any): String = v match {
    case null => "null"
    case d: Double => "d" + java.lang.Double.doubleToLongBits(d).toHexString
    case x => x.toString
  }

  /** Equal within 1e-12 relative (both null, or both doubles). */
  private def assertClose(a: Any, b: Any, what: String): Unit = (a, b) match {
    case (null, null) =>
    case (x: Double, y: Double) => assert(bits(x) == bits(y) ||
      math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y)), s"$what: $x vs $y")
    case _ => fail(s"$what: $a vs $b")
  }

  private def nameTypes(df: DataFrame) = df.schema.map(f => f.name -> f.dataType)

  /** The new compute against the composition: the same exception message,
    * or summary fields n_points, err_median, gaze_fraction_excluded and
    * every points field bitwise, err_mean, gaze_err_weighted and grid err
    * within 1e-12 relative. Returns the summary row (null on exception). */
  private def assertSameCompute(markers: DataFrame, gaze: DataFrame,
                                cfg: ErrorMap.Config = ErrorMap.Config(resolution = (60, 80))): Row = {
    val want = Try(legacyCompute(markers, gaze, cfg))
    val got = Try(ErrorMap.compute(markers, gaze, cfg))
    try (want, got) match {
      case (Failure(w: IllegalArgumentException), Failure(g: IllegalArgumentException)) =>
        assert(g.getMessage == w.getMessage); null
      case (Success((wPts, wGrid, wSum)), Success(res)) =>
        assert(nameTypes(res.summary) == nameTypes(wSum))
        val (s, ws) = (res.summary.collect().head, wSum.collect().head)
        for (c <- Seq("n_points", "err_median", "gaze_fraction_excluded"))
          assert(bits(s.getAs[Any](c)) == bits(ws.getAs[Any](c)), c)
        for (c <- Seq("err_mean", "gaze_err_weighted")) assertClose(s.getAs[Any](c), ws.getAs[Any](c), c)
        assert(nameTypes(res.points) == nameTypes(wPts))
        def rows(df: DataFrame) = df.collect().map(_.toSeq.map(bits)).sortBy(_.mkString(","))
        assert(rows(res.points).toSeq == rows(wPts).toSeq)
        assert(nameTypes(res.grid) == nameTypes(wGrid))
        def cells(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
        val (gc, wc) = (cells(res.grid), cells(wGrid))
        assert(gc.keySet == wc.keySet)
        for ((k, r) <- gc; w = wc(k)) {
          assert(bits(r.getAs[Any]("x")) == bits(w.getAs[Any]("x")))
          assertClose(r.getAs[Any]("err"), w.getAs[Any]("err"), s"grid $k")
        }
        s
      case other => fail(s"composition vs kernel: $other")
    } finally graft.CacheRegistry.releaseAll()
  }

  /** The new summaryBySession against the composition, row by row; returns
    * the session → row map. */
  private def assertSameBySession(markers: DataFrame, gaze: DataFrame,
                                  cfg: ErrorMap.Config = ErrorMap.Config(resolution = (60, 80))
                                 ): Map[String, Row] = {
    val want = legacyBySession(markers, gaze, "session", cfg)
    val got = ErrorMap.summaryBySession(markers, gaze, "session", cfg)
    assert(got.schema == want.schema)
    def byKey(df: DataFrame) = df.collect().map(r => r.getString(0) -> r).toMap
    val (g, w) = (byKey(got), byKey(want))
    assert(g.keySet == w.keySet)
    for ((k, r) <- g; c <- got.columns.drop(1)) {
      if (Seq("err_mean", "gaze_err_weighted").contains(c)) assertClose(r.getAs[Any](c), w(k).getAs[Any](c), s"$k $c")
      else assert(bits(r.getAs[Any](c)) == bits(w(k).getAs[Any](c)), s"$k $c")
    }
    g
  }

  private val mSchema = StructType(Seq(StructField("session", StringType),
    StructField("timestamp", DoubleType), StructField("norm_x", DoubleType),
    StructField("norm_y", DoubleType), StructField("marker_cluster_index", LongType)))
  private val gSchema = StructType(Seq(StructField("session", StringType),
    StructField("timestamp", DoubleType), StructField("norm_x", DoubleType),
    StructField("norm_y", DoubleType), StructField("confidence", DoubleType)))
  private def mdf(rows: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), mSchema)
  private def gdf(rows: Seq[Row]) = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), gSchema)

  /** A planted session: 16 marker clusters on a 4×4 grid, six detections
    * each at 32 Hz starting 1/256 s past a tick, so every marker sits
    * exactly halfway between two 128 Hz gaze samples (a prev/next tie).
    * Gaze = marker + `off` + noise inside each 0.25-s fixation, uniform
    * over [-0.1, 1.1]² between them; confidence uniform in [0.4, 1]. */
  private def planted(rng: Random, s: String, off: Double = 0.01): (Seq[Row], Seq[Row]) = {
    def pos(c: Int) = (0.15 + 0.2 * (c / 4), 0.15 + 0.2 * (c % 4))
    val ms = for (c <- 0 until 16; k <- 0 until 6) yield Row(s, c * 2.0 + k / 32.0 + 1 / 256.0,
      pos(c)._1 + rng.nextGaussian() * 1e-3, pos(c)._2 + rng.nextGaussian() * 1e-3, c.toLong)
    val gs = for (j <- 0 until 32 * 128) yield {
      val t = j / 128.0; val c = (t / 2.0).toInt
      val (x, y) =
        if (t - c * 2.0 < 0.25) (pos(c)._1 + off + rng.nextGaussian() * 2e-3,
          pos(c)._2 + rng.nextGaussian() * 2e-3)
        else (rng.nextDouble() * 1.2 - 0.1, rng.nextDouble() * 1.2 - 0.1)
      Row(s, t, x, y, 0.4 + 0.6 * rng.nextDouble())
    }
    (ms, gs)
  }

  private lazy val (pm, pg) = planted(new Random(21), "s1")

  test("kernel == composition: planted session, prev/next ties, both entry points") {
    val s = assertSameCompute(mdf(pm), gdf(pg))
    assert(s.getAs[Int]("n_points") >= 12)
    assertSameBySession(mdf(pm), gdf(pg))
    // gaze on the frame's edges bins into the last row/column of cells
    val edges = for (j <- 0 until 40) yield Row("s1", 40.0 + j / 128.0,
      if (j % 2 == 0) 1.0 else 0.0, if (j % 4 < 2) 1.0 else 0.5, 0.9)
    val wide = ErrorMap.Config(resolution = (60, 80), outlierStds = None, extrapolate = true)
    assertSameCompute(mdf(pm), gdf(pg ++ edges), wide)
    assertSameBySession(mdf(pm), gdf(pg ++ edges), wide)
  }

  test("kernel == composition: a constant error (zero std) keeps every point") {
    // dyadic positions and offset: every err_deg is the same double
    val ms = for (c <- 0 until 9; k <- 0 until 3) yield Row("s1", c + k / 32.0,
      0.25 + 0.125 * (c / 3), 0.25 + 0.125 * (c % 3), c.toLong)
    val gs = ms.map(m => Row("s1", m.getDouble(1), m.getDouble(2) + 1 / 64.0, m.getDouble(3), 0.9))
    val s = assertSameCompute(mdf(ms), gdf(gs))
    assert(s.getAs[Int]("n_points") == 9)
  }

  test("kernel: an exact prev/next tie takes the earlier gaze row") {
    // gaze x encodes its sample index; markers sit halfway between samples
    val gs = (0 until 128).map(j => Row("s1", j / 128.0, 0.3 + j * 1e-3, 0.5, 0.9))
    val ms = (0 until 8).flatMap(c => (0 until 2).map(k => Row("s1",
      c / 8.0 + k / 32.0 + 1 / 256.0, 0.1 + 0.1 * c, 0.2 + 0.1 * (c % 3), c.toLong)))
    val cfg = ErrorMap.Config(resolution = (60, 80), clusterReduce = false, outlierStds = None)
    assertSameCompute(mdf(ms), gdf(gs), cfg)
    val got = ErrorMap.compute(mdf(ms), gdf(gs), cfg).points.collect()
    val want = ms.map(m => 0.3 + math.floor(m.getDouble(1) * 128) * 1e-3).sorted
    assert(got.map(_.getAs[Double]("gx")).sorted.toSeq == want)
  }

  test("kernel == composition: empty gaze, too few points") {
    val noGaze = gdf(Nil)
    assert(assertSameCompute(mdf(pm), noGaze) == null)
    assert(assertSameBySession(mdf(pm), noGaze).isEmpty)
    val three = mdf(pm.filter(_.getLong(4) < 3))
    assert(assertSameCompute(three, gdf(pg)) == null)
    assert(assertSameBySession(three, gdf(pg)).isEmpty)
    val e = intercept[IllegalArgumentException](ErrorMap.compute(three, gdf(pg),
      ErrorMap.Config(resolution = (60, 80))))
    assert(e.getMessage.contains("Too few points to compute error across visual field (3)"))
  }

  test("kernel == composition: duplicate gaze timestamps") {
    // identical duplicates: any choice among them is the same row
    val dup = pg ++ pg.zipWithIndex.collect { case (r, i) if i % 3 == 0 => r }
    assertSameCompute(mdf(pm), gdf(dup))
    assertSameBySession(mdf(pm), gdf(dup))
    // differing duplicates: the highest-confidence row of a timestamp wins,
    // so low-confidence twins change no matched point
    val twins = pg.map(r => Row("s1", r.getDouble(1), 0.9, 0.9, r.getDouble(4) - 0.3))
    val cfg = ErrorMap.Config(resolution = (60, 80))
    def pts(g: Seq[Row]) = ErrorMap.compute(mdf(pm), gdf(g), cfg).points
      .collect().map(_.toSeq.map(bits).mkString(",")).sorted.toSeq
    assert(pts(pg ++ twins) == pts(pg))
  }

  test("kernel == composition: markers before the first and after the last gaze") {
    val inner = pg.filter(r => r.getDouble(1) >= 5.0 && r.getDouble(1) <= 25.0)
    assertSameCompute(mdf(pm), gdf(inner))
    assertSameBySession(mdf(pm), gdf(inner))
  }

  test("kernel == composition: confidence exactly at the gate") {
    val atGate = pg.zipWithIndex.map { case (r, i) =>
      if (i % 2 == 0) Row(r.get(0), r.get(1), r.get(2), r.get(3), 0.6) else r }
    assertSameCompute(mdf(pm), gdf(atGate))
    assertSameBySession(mdf(pm), gdf(atGate))
    val none = pg.map(r => Row(r.get(0), r.get(1), r.get(2), r.get(3), 0.6))
    assert(assertSameCompute(mdf(pm), gdf(none)) == null)
  }

  test("kernel == composition: null cluster, clusterReduce off, no cluster column") {
    val nulls = pm.map(r => if (Set(0L, 5L, 9L)(r.getLong(4)))
      Row(r.get(0), r.get(1), r.get(2), r.get(3), null) else r)
    val s = assertSameCompute(mdf(nulls), gdf(pg))
    assert(s.getAs[Int]("n_points") <= 14)
    assertSameBySession(mdf(nulls), gdf(pg))
    val off = ErrorMap.Config(resolution = (60, 80), clusterReduce = false)
    assertSameCompute(mdf(pm), gdf(pg), off)
    assertSameBySession(mdf(pm), gdf(pg), off)
    val bare = mdf(pm).drop("marker_cluster_index")
    assertSameCompute(bare, gdf(pg))
    assertSameBySession(bare, gdf(pg))
  }

  test("kernel == composition: no in-frame gaze, all gaze outside the hull") {
    val cfg = ErrorMap.Config(resolution = (60, 80), outlierStds = None)
    val outOfFrame = pg.map(r => Row(r.get(0), r.get(1), r.getDouble(2) + 1.5, r.get(3), r.get(4)))
    val s = assertSameCompute(mdf(pm), gdf(outOfFrame), cfg)
    assert(s.isNullAt(0) && s.isNullAt(1))
    assertSameBySession(mdf(pm), gdf(outOfFrame), cfg)
    // anchors in one corner patch, in-frame gaze far from it
    val corner = pm.map(r => Row(r.get(0), r.get(1), r.getDouble(2) * 0.2, r.getDouble(3) * 0.2, r.get(4)))
    val far = pg.map(r => Row(r.get(0), r.get(1), 0.9, 0.9, r.get(4)))
    val c = assertSameCompute(mdf(corner), gdf(far), cfg)
    assert(c.isNullAt(0) && c.getDouble(1) == 1.0)
    assertSameBySession(mdf(corner), gdf(far), cfg)
  }

  test("kernel == composition: two matchKeys values pooled into one fit") {
    val (m2, g2) = planted(new Random(22), "s2", off = 0.02)
    val cfg = ErrorMap.Config(resolution = (60, 80), matchKeys = Seq("session"))
    val s = assertSameCompute(mdf(pm ++ m2), gdf(pg ++ g2), cfg)
    assert(s.getAs[Int]("n_points") > 16)
  }

  test("kernel == composition: six randomized planted sessions") {
    val rng = new Random(23)
    val sessions = (1 to 6).map { i =>
      val (m, g) = planted(rng, s"r$i", off = 0.005 * i)
      // drop a few markers, duplicate a few gaze rows, shuffle
      (m.filter(_ => rng.nextDouble() > 0.1), rng.shuffle(g ++ g.take(20 * i)))
    }
    for ((m, g) <- sessions) assertSameCompute(mdf(m), gdf(g))
    val bySession = assertSameBySession(mdf(sessions.flatMap(_._1)), gdf(sessions.flatMap(_._2)))
    assert(bySession.size == 6)
  }

  test("compute plan guard: at most 2 jobs, no window; summaryBySession has no window") {
    val markers = mdf(pm).persist(); val gaze = gdf(pg).persist()
    markers.count(); gaze.count()
    val helper = new AdaptiveSparkPlanHelper {}
    def windows(p: org.apache.spark.sql.execution.SparkPlan) = helper.collect(p) { case w: WindowExec => w }
    try {
      val (_, jobs, plans) = traced {
        ErrorMap.compute(markers, gaze, ErrorMap.Config(resolution = (60, 80))).summary.collect()
      }
      assert(jobs <= 2, s"compute(...).summary.collect() ran $jobs Spark jobs")
      assert(plans.nonEmpty && plans.forall(windows(_).isEmpty), plans.mkString("\n"))
      val by = ErrorMap.summaryBySession(markers, gaze, "session", ErrorMap.Config(resolution = (60, 80)))
      by.collect()
      assert(windows(by.queryExecution.executedPlan).isEmpty, by.queryExecution.executedPlan)
    } finally { markers.unpersist(); gaze.unpersist() }
  }
}
