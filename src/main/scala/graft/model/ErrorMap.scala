package graft.model

import org.apache.spark.sql.{Column, DataFrame, Encoders, KeyValueGroupedDataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M11: spatially-interpolated gaze-error surface
  * (compute_error, vedb_gaze/error_computation.py:18-225).
  *
  * Both entry points tag markers and gaze into one frame, shuffle it once
  * on the key, and run one in-task kernel per key. Kernel steps, in order:
  *  1. match: gaze sorted by timestamp; for a marker at t, prev is the
  *     last gaze with ts ≤ t and next the first with ts > t (binary
  *     search), and prev wins ties (dPrev ≤ dNext) — the rule of
  *     [[graft.operators.AsOfJoin.nearest]]. Gaze rows sharing a
  *     timestamp first collapse to one: the highest confidence, then the
  *     largest norm_x, then norm_y. Rows with a null timestamp take no
  *     part in the match;
  *  2. gate: strict `confidence > minPupilConfidence`;
  *  3. reduce: per marker cluster (a null cluster is a group too), the
  *     median of norm_x, norm_y, gx, gy with Spark `percentile(·, 0.5)`
  *     arithmetic (nulls skipped, interpolation (h−p)·lo + (p−l)·hi);
  *  4. per-point `err_deg` and `err_angle`;
  *  5. histogram: the occupied vres×hres cells of the in-frame gaze.
  * Then [[surface]]: outlier cut → TPS LOO-CV + fit → convex hull (the
  * stand-in for scipy griddata's "no extrapolation" mask) → weighted
  * summary over the occupied cells only, since an empty cell carries no
  * gaze weight. Doubles compare and sort as in Spark SQL (NaN above every
  * value). A matched point with a null coordinate is an error.
  */
object ErrorMap {

  case class Config(
      minPupilConfidence: Double = 0.6,
      outlierStds: Option[Double] = Some(4.0),
      lambdas: Array[Double] = Calibrator.DefaultLambdas,
      resolution: (Int, Int) = (300, 400), // (vres, hres)
      imageResolution: (Double, Double) = (2048.0, 1536.0),
      degreesHoriz: Double = 101.0,
      degreesVert: Double = 75.75,
      clusterReduce: Boolean = true,
      extrapolate: Boolean = false,
      /** equality keys of the match and the cluster reduction: each key's
        * markers and gaze meet in one task. `compute` still pools every
        * key's reduced points into ONE outlier cut, fit, hull and summary
        * (per-session semantics, as in the reference), so the key should
        * be constant over the input; Nil is one constant key.
        * Multi-session error surfaces = [[summaryBySession]]. */
      matchKeys: Seq[String] = Nil)

  final class Result(
      /** one row per reduced point after the outlier cut: mx, my, gx, gy,
        * err_deg, err_angle — plus, when clusterReduce is on, the
        * matchKeys columns and marker_cluster_index the reduction grouped by */
      val points: DataFrame,
      gridOf: => DataFrame,
      /** single row: gaze_err_weighted, gaze_fraction_excluded, n_points,
        * err_median, err_mean */
      val summary: DataFrame) {
    /** long-form error surface: iy, ix, x, y, err (null = outside hull);
      * built on first use, evaluated distributed like any frame */
    lazy val grid: DataFrame = gridOf
  }

  def pixelsPerDegree(cfg: Config): Double = {
    val h = cfg.imageResolution._1 / cfg.degreesHoriz
    val v = cfg.imageResolution._2 / cfg.degreesVert
    (h + v) / 2.0
  }

  /** One reduced point; `tag` = the matchKeys values and cluster index
    * that lead its row in [[Result.points]] (empty without reduction). */
  private case class Point(tag: Seq[Any], mx: Double, my: Double, gx: Double,
                           gy: Double, err: Double, angle: Double)

  /** markers: timestamp, norm_x, norm_y [, marker_cluster_index];
    * gaze: timestamp, norm_x, norm_y, confidence. One Spark job: the
    * keyed kernel returns each key's points and occupied cells, and the
    * driver pools them into [[surface]]. Raises IllegalArgumentException
    * when fewer than 4 points survive the outlier cut. */
  def compute(markers: DataFrame, gaze: DataFrame, cfg: Config = Config()): Result = {
    val spark = markers.sparkSession
    val reduce = reduces(markers, cfg)
    val keys = cfg.matchKeys
    val kernel = Kernel(cfg, reduce)
    val perKey = grouped(markers, gaze, keys.map(col), reduce)
      .mapGroups { (key, rows) =>
        kernel(rows, if (reduce) key.toSeq.take(keys.length) else Nil)
      }(Encoders.javaSerialization[(Array[Point], Map[Long, Long])]).collect()

    val fitted = surface(perKey.flatMap(_._1),
      perKey.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _), cfg)
    require(fitted.isRight, "Too few points to compute error across visual field " +
      s"(${fitted.swap.getOrElse(0)})")
    val fit = fitted.toOption.get

    val pointSchema = StructType(
      (if (reduce) (keys :+ "marker_cluster_index").map(markers.schema(_)) else Nil) ++
        Seq("mx", "my", "gx", "gy", "err_deg", "err_angle").map(StructField(_, DoubleType)))
    val points = spark.createDataFrame(java.util.Arrays.asList(fit.kept.map(p =>
      Row.fromSeq(p.tag ++ Seq(p.mx, p.my, p.gx, p.gy, p.err, p.angle))): _*), pointSchema)
    val summary = spark.createDataFrame(java.util.Arrays.asList(Row(fit.weighted,
      fit.excluded, fit.kept.length, fit.median, fit.mean)), StructType.fromDDL(
      "gaze_err_weighted DOUBLE, gaze_fraction_excluded DOUBLE, n_points INT NOT NULL, " +
        "err_median DOUBLE NOT NULL, err_mean DOUBLE NOT NULL"))

    def grid: DataFrame = {
      val (vres, hres) = cfg.resolution
      val err = greatest(TpsMapModel.tpsCol(col("x"), col("y"), fit.anchors,
        fit.theta), lit(fit.minErr))
      spark.range(vres).toDF("iy").crossJoin(spark.range(hres).toDF("ix"))
        .withColumn("x", col("ix").cast("double") / (hres - 1))
        .withColumn("y", col("iy").cast("double") / (vres - 1))
        .withColumn("err", when(hullPredicate(fit.anchors, col("x"), col("y"),
          cfg.extrapolate), err).otherwise(lit(null).cast("double")))
    }
    new Result(points, grid, summary)
  }

  /** PER-SESSION weighted-error summaries, distributed — the QC-report
    * shape of [[compute]] (plot_session_qc's per-eye 'Err: med, wt'
    * panel, visualization.py:1134-1147, over a whole session corpus).
    *
    * Markers and gaze meet in one shuffle on the session key; each
    * session's task runs the [[compute]] kernel and then [[surface]]
    * (outlier cut → TPS LOO-CV fit → hull → weighted summary), so no
    * per-session work reaches the driver (the
    * [[SessionCalibrator.fitModels]] discipline). Per session the numbers
    * are [[compute]]'s summary: `session, n_points, err_median, err_mean,
    * gaze_err_weighted, gaze_fraction_excluded`. Sessions whose reduced
    * points number < 4 after the outlier cut (the reference's
    * too-few-points failure, error_computation.py:149) emit NO row — the
    * caller's left-join reads the absence as a failed error step, the
    * check_failed semantics of plot_session_qc. A session with a fit but
    * no in-frame gaze keeps its row, with null weighted fields. */
  def summaryBySession(markers: DataFrame, gaze: DataFrame,
                       sessionCol: String,
                       cfg: Config = Config()): DataFrame = {
    // sessionCol IS the match key of this form (the per-session analog
    // of compute's matchKeys); extra keys would silently change the
    // reduction grain, so reject them loudly rather than ignore them
    require(cfg.matchKeys.isEmpty,
      s"summaryBySession keys by '$sessionCol'; Config.matchKeys " +
        s"(${cfg.matchKeys.mkString(",")}) would be silently ignored — " +
        "fold them into the session column instead")
    val kernel = Kernel(cfg, reduces(markers, cfg))
    val session = Seq(col(sessionCol).cast("string").as(sessionCol))
    grouped(markers, gaze, session, kernel.reduce).flatMapGroups { (key, rows) =>
      val (pts, cells) = kernel(rows, Nil)
      surface(pts, cells, cfg).toOption.iterator.map(s => Row(key.get(0),
        s.kept.length.toLong, s.median, s.mean, s.weighted, s.excluded))
    }(Encoders.row(StructType.fromDDL(s"`$sessionCol` STRING, n_points BIGINT NOT NULL, " +
      "err_median DOUBLE NOT NULL, err_mean DOUBLE NOT NULL, gaze_err_weighted DOUBLE, " +
      "gaze_fraction_excluded DOUBLE")))
  }

  /** Reduce only when configured AND the markers carry the cluster column. */
  private def reduces(markers: DataFrame, cfg: Config): Boolean =
    cfg.clusterReduce && markers.columns.contains("marker_cluster_index")

  /** Name of the marker/gaze tag column of [[grouped]]'s tagged frame. */
  private[graft] val SideCol = "_errormap_marker"

  /** Markers and gaze as one tagged frame (tag, timestamp, x, y,
    * confidence, cluster, keys…) grouped by the key columns — a constant
    * key when there are none: one exchange, and each group holds one
    * key's rows of both sides. */
  private def grouped(markers: DataFrame, gaze: DataFrame, keys: Seq[Column],
                      reduce: Boolean): KeyValueGroupedDataset[Row, Row] = {
    def side(df: DataFrame, marker: Boolean, conf: Column, cluster: Column) =
      df.select(Seq(lit(marker).as(SideCol), col("timestamp").cast("double"),
        col("norm_x").cast("double"), col("norm_y").cast("double"),
        conf.cast("double").as("confidence"), cluster.as("marker_cluster_index")) ++
        (if (keys.isEmpty) Seq(lit(0).as("_key")) else keys): _*)
    val m = side(markers, marker = true, lit(null),
      if (reduce) col("marker_cluster_index") else lit(null).cast(LongType))
    val g = side(gaze, marker = false, col("confidence"), lit(null))
    // the gaze side takes the marker side's types, so equal keys group together
    val both = m.union(g.select(g.columns.zip(m.schema).map { case (c, f) =>
      g(c).cast(f.dataType) }: _*))
    val keySchema = StructType(both.schema.drop(6))
    both.groupBy(keySchema.fieldNames.toSeq.map(col): _*)
      .as[Row, Row](Encoders.row(keySchema), Encoders.row(both.schema))
  }

  /** Spark SQL's double ordering: NaN above every value and equal to
    * itself, -0.0 = 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Nullable field `i` of a tagged row, null ordered lowest. */
  private def cmpAt(a: Row, b: Row, i: Int): Int =
    if (a.isNullAt(i) || b.isNullAt(i)) java.lang.Boolean.compare(!a.isNullAt(i), !b.isNullAt(i))
    else cmp(a.getDouble(i), b.getDouble(i))

  /** Spark `percentile(·, 0.5)` over the non-null values; null if none. */
  private def median(vs: Array[Row], i: Int): java.lang.Double = {
    val s = vs.filterNot(_.isNullAt(i)).map(_.getDouble(i)).sortWith(cmp(_, _) < 0)
    if (s.isEmpty) return null
    val p = (s.length - 1) * 0.5
    val (lo, hi) = (p.floor.toLong, p.ceil.toLong)
    val (a, b) = (s(lo.toInt), s(hi.toInt))
    if (lo == hi || java.lang.Double.compare(a, b) == 0) a
    else (hi - p) * a + (p - lo) * b
  }

  /** The per-key kernel (steps 1–5 of the object doc) over [[grouped]]'s
    * tagged rows: the key's points and its occupied cells, n by iy·hres + ix. */
  private final case class Kernel(cfg: Config, reduce: Boolean) {
    private val ppd = pixelsPerDegree(cfg)

    def apply(rows: Iterator[Row], prefix: Seq[Any]): (Array[Point], Map[Long, Long]) = {
      val (ms, gs) = rows.toArray.partition(_.getBoolean(0))
      // 1. one gaze row per timestamp, then binary search per marker
      val sorted = gs.filterNot(_.isNullAt(1)).sortWith { (a, b) =>
        val c = cmp(a.getDouble(1), b.getDouble(1))
        (if (c != 0) c else Seq(4, 2, 3).map(cmpAt(b, a, _)).find(_ != 0).getOrElse(0)) < 0
      }
      val reps = sorted.indices.collect { case i if i == 0 ||
        cmp(sorted(i - 1).getDouble(1), sorted(i).getDouble(1)) != 0 => sorted(i) }
      val ts = reps.map(_.getDouble(1)).toArray
      def nearest(t: Double): Int = {
        var lo = 0; var hi = ts.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (cmp(ts(mid), t) <= 0) lo = mid + 1 else hi = mid
        }
        if (lo == ts.length || (lo > 0 && cmp(t - ts(lo - 1), ts(lo) - t) <= 0)) lo - 1 else lo
      }
      // 2. strict confidence gate; pairs (marker, gaze)
      val matched = ms.filterNot(_.isNullAt(1)).flatMap { m =>
        Some(nearest(m.getDouble(1))).filter(_ >= 0).map(reps).filter(g =>
          !g.isNullAt(4) && cmp(g.getDouble(4), cfg.minPupilConfidence) > 0).map(m -> _)
      }
      // 3.–4. cluster medians (or every match), per-point error
      val points =
        if (reduce) matched.groupBy { case (m, _) => m.get(5) match {
          case d: Double => d + 0.0 // Spark grouping: -0.0 = 0.0
          case f: Float => f + 0f
          case c => c
        }}.toArray.map { case (c, grp) =>
          val (mr, gr) = grp.unzip
          point(prefix :+ c, median(mr, 2), median(mr, 3), median(gr, 2), median(gr, 3))
        }
        else matched.map { case (m, g) => point(Nil, m.getAs[java.lang.Double](2),
          m.getAs[java.lang.Double](3), g.getAs[java.lang.Double](2), g.getAs[java.lang.Double](3)) }
      // 5. occupied histogram cells of the in-frame gaze
      val (vres, hres) = cfg.resolution
      def bin(v: Double, n: Int) = math.min(math.floor(v * n).toLong, n - 1L)
      (points, gs.filter(g => Seq(2, 3).forall(i => !g.isNullAt(i) &&
          g.getDouble(i) >= 0 && g.getDouble(i) <= 1))
        .groupMapReduce(g => bin(g.getDouble(3), vres) * hres + bin(g.getDouble(2), hres))(
          _ => 1L)(_ + _))
    }

    private def point(tag: Seq[Any], c: java.lang.Double*): Point = {
      require(!c.contains(null), s"matched error point ${tag.mkString(",")} has a null coordinate")
      val Seq(mx, my, gx, gy) = c.map(_.doubleValue)
      val ex = (gx - mx) * cfg.imageResolution._1
      val ey = (gy - my) * cfg.imageResolution._2
      // + 0.0 folds -0.0 like Spark's atan2
      Point(tag, mx, my, gx, gy, math.sqrt(ex * ex + ey * ey) / ppd, math.atan2(ex + 0.0, ey + 0.0))
    }
  }

  /** A fitted error surface over the kept points, with its summary. */
  private case class Surface(kept: Array[Point], anchors: Array[Array[Double]],
                             theta: Array[Double], minErr: Double, median: Double,
                             mean: Double, weighted: java.lang.Double,
                             excluded: java.lang.Double)

  /** Outlier cut (|err − median| ≤ k·std_pop) → TPS LOO-CV (RMS metric,
    * error_computation.py:183-193) + fit → hull → summary weighted by the
    * occupied cells (n by iy·hres + ix) — or Left(#points) when fewer than
    * 4 survive the cut. Points and cells enter in sorted order, so the
    * result does not depend on shuffle order. */
  private def surface(points: Array[Point], cells: Map[Long, Long],
                      cfg: Config): Either[Int, Surface] = {
    val pts = points.sortBy(p => (p.mx, p.my, p.err))
    val all = pts.map(_.err)
    val kept = cfg.outlierStds match {
      case Some(k) if all.nonEmpty =>
        val med = Stats.median(all); val lim = k * Stats.stdPop(all)
        pts.filter(p => cmp(math.abs(p.err - med), lim) <= 0)
      case _ => pts
    }
    if (kept.length < 4) return Left(kept.length)
    val anchors = kept.map(p => Array(p.mx, p.my))
    val errs = kept.map(_.err)
    val minErr = errs.min
    val (bestI, _) = Tps.looSelect(anchors, errs, cfg.lambdas,
      resid => math.sqrt(resid.map(r => r * r).sum / resid.length))
    val theta = Tps.fit(anchors, errs, cfg.lambdas(bestI))
    // hull membership: the CCW half-plane rule of [[hullPredicate]]
    val hull = convexHull(anchors)
    def inHull(x: Double, y: Double): Boolean = cfg.extrapolate || (
      hull.length >= 3 && hull.indices.forall { i =>
        val a = hull(i); val b = hull((i + 1) % hull.length)
        (b(0) - a(0)) * (y - a(1)) - (b(1) - a(1)) * (x - a(0)) >= 0
      })
    val (vres, hres) = cfg.resolution
    var total = 0L; var inside = 0L; var werr = 0.0
    for ((k, n) <- cells.toSeq.sortBy(_._1)) {
      val x = (k % hres).toDouble / (hres - 1); val y = (k / hres).toDouble / (vres - 1)
      total += n
      if (inHull(x, y)) {
        inside += n
        werr += n * math.max(Tps.z(x, y, anchors, theta), minErr)
      }
    }
    // null, not NaN, over an empty set: no in-frame gaze (both fields) or
    // none inside the hull (the weighted error) — a healthy fit that
    // downstream null-aware gates (err_weighted_ok) must not read as NaN
    Right(Surface(kept, anchors, theta, minErr, Stats.median(errs), Stats.mean(errs),
      if (inside > 0) Double.box(werr / total / (inside.toDouble / total)) else null,
      if (total > 0) Double.box((total - inside).toDouble / total) else null))
  }

  /** Convex hull of the anchor points (driver-side monotone chain) as a
    * conjunction of half-plane predicates — the declarative stand-in for
    * scipy griddata's convex-hull interpolation domain. */
  def hullPredicate(points: Array[Array[Double]], x: Column, y: Column,
                    extrapolate: Boolean): Column = {
    if (extrapolate) return lit(true)
    val hull = convexHull(points)
    if (hull.length < 3) return lit(false)
    // inside (CCW hull): cross((b-a), (p-a)) >= 0 for every edge
    hull.indices.map { i =>
      val a = hull(i); val b = hull((i + 1) % hull.length)
      ((lit(b(0) - a(0))) * (y - a(1)) - (lit(b(1) - a(1))) * (x - a(0))) >= 0
    }.reduce(_ && _)
  }

  /** Andrew's monotone chain, CCW order. */
  def convexHull(points: Array[Array[Double]]): Array[Array[Double]] = {
    val pts = points.map(p => (p(0), p(1))).distinct.sorted
    if (pts.length <= 2) return pts.map(p => Array(p._1, p._2))
    def cross(o: (Double, Double), a: (Double, Double), b: (Double, Double)) =
      (a._1 - o._1) * (b._2 - o._2) - (a._2 - o._2) * (b._1 - o._1)
    val lower = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts) {
      while (lower.length >= 2 && cross(lower(lower.length - 2), lower.last, p) <= 0)
        lower.remove(lower.length - 1)
      lower += p
    }
    val upper = scala.collection.mutable.ArrayBuffer[(Double, Double)]()
    for (p <- pts.reverse) {
      while (upper.length >= 2 && cross(upper(upper.length - 2), upper.last, p) <= 0)
        upper.remove(upper.length - 1)
      upper += p
    }
    (lower.dropRight(1) ++ upper.dropRight(1)).toArray.map(p => Array(p._1, p._2))
  }
}
