package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** Marker-parsing operators — the reference's detection-cleaning stage
  * (file:line relative to the reference's vedb_gaze/marker_parsing.py).
  *
  *  - snapTimestamps (J5): float-drift repair :83-102
  *  - removeBriefDetections (W3): dedup + presence-RLE + duration gate :53-111
  *  - sizeAspect (P5): marker size/aspect derivation :148-161
  *  - removeSmallDetections (P7): size/aspect/bimodality filter :114-184
  *  - filterAndCluster: the full A1→J5→W3→P7→W2→A7→A3 cleaning of one
  *    session (filter_and_cluster, :470-622 driver flow)
  *
  * The component operators are declarative DataFrame transforms that the
  * per-step driver queries compose. filterAndCluster does not chain them:
  * one session's marker table is a few thousand rows, where per-job
  * overhead dominates, so it runs the whole chain in one task of a
  * constant-key cogroup and reproduces their Spark semantics there (see
  * its scaladoc).
  */
object MarkerParsing {

  // the reference's fixed cleaning thresholds (marker_parsing.py:53-184)
  private val SnapTol = 1e-8
  private val BriefRunS = 0.6
  private val BimodalSigmas = 2.5
  private val MaxAspect = 1.2

  /** J5: timestamps within `tol` (1e-8 s) of a reference-clock timestamp
    * snap to it exactly. Bucketed range join on floor(ts/tol) (the
    * windowAgg de-thetafication), then coalesce. */
  def snapTimestamps(df: DataFrame, clock: DataFrame, tsCol: String,
                     clockTs: String, tol: Double = SnapTol): DataFrame = {
    val d = df.withColumn("_b", floor(col(tsCol).cast("double") / tol).cast("long"))
    val c = clock.select(col(clockTs).cast("double").as("_ct"))
      .withColumn("_cb", floor(col("_ct") / tol).cast("long"))
      .withColumn("_b", explode(array(col("_cb") - 1, col("_cb"), col("_cb") + 1)))
      .drop("_cb")
    d.join(c, Seq("_b"), "left")
      .withColumn("_match",
        when(abs(col("_ct") - col(tsCol).cast("double")) < tol, col("_ct")))
      .groupBy(df.columns.toIndexedSeq.map(col): _*)
      .agg(min(col("_match")).as("_snap"))
      .withColumn(tsCol, coalesce(col("_snap"), col(tsCol).cast("double")))
      .drop("_snap")
  }

  /** W3: drop duplicate-timestamp rows (all copies), snap float-drifted
    * timestamps onto the clock (the reference's 1e-8 in1d repair,
    * :83-102 — J5), then drop detection runs shorter than
    * `durationThreshold` seconds. A run = consecutive presence in the
    * reference clock (frame granularity): a marker row is kept iff its
    * RLE segment over the clock index lasts long enough. */
  def removeBriefDetections(markers: DataFrame, clock: DataFrame,
                            tsCol: String, clockTs: String,
                            durationThreshold: Double = BriefRunS,
                            keys: Seq[String] = Nil): DataFrame = {
    val deduped = snapTimestamps(
      TimeSeriesOps.dropDuplicateTimestamps(markers, tsCol, keys),
      clock, tsCol, clockTs)
    // mark clock rows by marker presence, RLE over the clock, gate, semi-join
    val present = deduped.select((keys.map(k => col(k).as(s"_p_$k")) :+
      col(tsCol).cast("double").as("_mt")): _*).distinct()
    val marked = clock.select((keys.map(col) :+
        col(clockTs).cast("double").as("_ct")): _*)
      .join(present,
        keys.foldLeft(col("_ct") === col("_mt")) { (c, k) =>
          c && col(k) === col(s"_p_$k")
        }, "left")
    val segs = TimeSeriesOps.rleSegments(
      marked, "_ct", col("_mt").isNotNull, keys)
      .filter(col("duration") > durationThreshold)
    val windows = segs.select((keys.map(k => col(k).as(s"_w_$k")) :+
      col("onset") :+ col("offset")): _*)
    val joinCond = keys.foldLeft(
      col(tsCol).cast("double") >= col("onset") &&
        col(tsCol).cast("double") <= col("offset")) { (c, k) =>
      c && col(k) === col(s"_w_$k")
    }
    deduped.join(broadcast(windows), joinCond, "left_semi")
  }

  /** P5: mean size + aspect ratio columns from a `size` array<double>[2]
    * (checkerboard variant takes the corner-extent ptp upstream). */
  def sizeAspect(df: DataFrame, sizeCol: String,
                 aspectType: String = "x/y"): DataFrame = {
    val sx = element_at(col(sizeCol), 1).cast("double")
    val sy = element_at(col(sizeCol), 2).cast("double")
    val aspect = aspectType match {
      case "x/y" => sx / sy
      case "max/min" => greatest(sx, sy) / least(sx, sy)
      case other => throw new IllegalArgumentException(other)
    }
    df.withColumn("marker_size", (sx + sy) / 2.0)
      .withColumn("marker_aspect", aspect)
  }

  /** P5 checkerboard variant: derive the `size` array from the
    * corner-extent ptp of the checkerboard corner grid, with the x extent
    * scaled by the image aspect ratio — norm_pos is 0-1 on both axes, so
    * marker aspect is wrong without the correction
    * (marker_parsing.py:150-156). Output feeds [[sizeAspect]] /
    * [[removeSmallDetections]] exactly like the circles path. */
  def checkerboardSize(df: DataFrame,
                       cornersCol: String = "norm_pos_full_checkerboard",
                       imageAspectRatio: Double = 4.0 / 3.0): DataFrame = {
    def axis(i: Int) = transform(col(cornersCol), c => element_at(c, i))
    def ptp(i: Int) = array_max(axis(i)) - array_min(axis(i))
    df.withColumn("size", array(ptp(1) * imageAspectRatio, ptp(2)))
  }

  /** P7: remove small/oblique detections — bimodality keep-larger-mode
    * (A6, driver-side 2-means on the collected size column), optional
    * median−k·std size floor, aspect-ratio gate (:114-184).
    *
    * All keep-masks are computed over the FULL marker set and intersected
    * (the reference ANDs the three masks, and median/std come from the
    * unfiltered sizes — marker_parsing.py:157-175), NOT applied
    * sequentially: with both thresholds set, a sequential composition
    * would compute the std floor over the already-bimodality-filtered
    * sizes and diverge.
    *
    * The bimodality mask is computed per `groupCols` group inside
    * `flatMapGroups` ([[ClusterOps.bimodalKeepFlag]]) — no driver collect;
    * `groupCols = Nil` is the reference's one-marker-table-per-session
    * case (one global group). */
  def removeSmallDetections(df: DataFrame, sizeCol: String,
                            sizeStdThreshold: Option[Double] = None,
                            bimodalStdThreshold: Option[Double] = Some(BimodalSigmas),
                            aspectThreshold: Option[Double] = Some(MaxAspect),
                            aspectType: String = "x/y",
                            keepLessThan: Boolean = true,
                            groupCols: Seq[String] = Nil): DataFrame = {
    // persisted (tracked): up to three consumers read this frame — the
    // bimodality cut fit, the join probe side, and the std-floor agg
    val withSz = graft.CacheRegistry.persistTracked(
      sizeAspect(df, sizeCol, aspectType))
    val sz = col("marker_size").cast("double")
    val (flagged, bimodalPred): (DataFrame, Option[Column]) =
      bimodalStdThreshold match {
        case Some(k) =>
          (ClusterOps.bimodalKeepFlag(withSz, groupCols, "marker_size", k),
            Some(col("_bimodal_keep")))
        case None => (withSz, None)
      }
    val stdPred: Option[Column] = sizeStdThreshold.map { k =>
      val r = withSz.agg(
        expr("percentile(marker_size, 0.5)"),
        // population std, numpy np.std semantics
        sqrt(avg(col("marker_size") * col("marker_size")) -
          avg(col("marker_size")) * avg(col("marker_size")))).first()
      sz > (r.getDouble(0) - r.getDouble(1) * k)
    }
    val aspectPred: Option[Column] = aspectThreshold.map { t =>
      if (keepLessThan) col("marker_aspect") < t else col("marker_aspect") > t
    }
    (bimodalPred.toSeq ++ stdPred ++ aspectPred).foldLeft(flagged)(_ filter _)
      .drop("_bimodal_keep")
  }

  /** The full marker-cleaning pass of one session (filter_and_cluster,
    * :470-622). Markers and clock meet in one constant-key `cogroup`, so
    * the whole chain runs in a single task over sorted arrays — the
    * reference's in-process shape — and nothing is collected to the
    * driver. In-task steps, in order:
    *  1. A1: drop every copy of a duplicated raw timestamp;
    *  2. J5: snap each timestamp to the smallest clock tick c with
    *     |c − t| < 1e-8 (binary search over the sorted clock);
    *  3. W3: presence runs over the clock, kept when longer than 0.6 s;
    *     a row survives inside any kept run, bounds inclusive;
    *  4. P5/P7: size and aspect, the bimodality cut
    *     ([[LocalDbscan.bimodalCut]]), then aspect < 1.2;
    *  5. W2: gap split (gap > `epochGap`), then the epoch-duration gate;
    *  6. A7: per-epoch [[LocalDbscan.fit]] over (ts_norm + 2, x·aspect, y)
    *     (:352-384), labelled epoch·100000 + label, −1 = noise;
    *  7. A3: cluster-duration gate, then `minClusters` (fewer surviving
    *     clusters → no rows).
    *
    * It reproduces the Spark semantics of the component composition
    * [[removeBriefDetections]] → [[removeSmallDetections]] →
    * `TimeSeriesOps.sessionize` → [[ClusterOps.dbscan]] →
    * [[ClusterOps.clusterGate]]:
    *  - a zero `size[1]` divides to null, so the row is dropped (the
    *    reference's inf aspect fails the gate the same way);
    *  - a NaN size survives the bimodality cut, a null size does not;
    *  - doubles order and compare as in Spark SQL: NaN sorts above every
    *    value and equals itself;
    *  - duplicates created by snapping are kept;
    *  - epoch and cluster duration bounds are strict.
    * Timestamps are deduplicated after their cast to double; rows sharing
    * a snapped timestamp enter DBSCAN in raw-timestamp order.
    *
    * Output: `marker_cluster_index`, the input columns (timestamp as
    * double), `marker_size`, `marker_aspect`, `epoch`. */
  def filterAndCluster(markers: DataFrame, clock: DataFrame,
                       tsCol: String = "timestamp",
                       clockTs: String = "timestamp",
                       sizeCol: String = "size",
                       imageAspect: Double = 4.0 / 3.0,
                       epochGap: Double = 15.0,
                       epochDuration: (Double, Double) = (30.0, 150.0),
                       dbscanEps: Double = 0.05,
                       dbscanMinPoints: Int = 5,
                       clusterDuration: (Double, Double) = (0.2, 5.0),
                       minClusters: Int = 1,
                       assumedEpochTime: Double = 90.0): DataFrame = {
    val m = markers.withColumn(tsCol, col(tsCol).cast("double"))
    val outSchema = StructType(
      (StructField("marker_cluster_index", LongType) +: m.schema.fields.toSeq) ++
        Seq(StructField("marker_size", DoubleType),
          StructField("marker_aspect", DoubleType), StructField("epoch", LongType)))
    val clean = SessionCleaner(m.schema.fieldIndex(tsCol),
      m.schema.fieldIndex(sizeCol), m.schema.fieldIndex("norm_pos"),
      imageAspect, epochGap, epochDuration, dbscanEps, dbscanMinPoints,
      clusterDuration, minClusters, assumedEpochTime)
    val sessionKey = Encoders.scalaInt
    m.groupByKey((_: Row) => 0)(sessionKey)
      .cogroup(clock.select(col(clockTs).cast("double"))
        .groupByKey((_: Row) => 0)(sessionKey))(
        (_, ms, cs) => clean(ms, cs))(Encoders.row(outSchema))
  }

  /** Spark SQL's double ordering: NaN above every value and equal to
    * itself, -0.0 = 0.0. */
  private def cmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** [[filterAndCluster]]'s in-task body over one session's marker rows
    * (timestamp already double) and clock ticks. */
  private final case class SessionCleaner(
      tsIdx: Int, sizeIdx: Int, posIdx: Int, imageAspect: Double,
      epochGap: Double, epochDuration: (Double, Double), eps: Double,
      minPoints: Int, clusterDuration: (Double, Double), minClusters: Int,
      assumedEpochTime: Double) {

    /** `arr[k]` of an array column as a double; null when absent. */
    private def elem(r: Row, idx: Int, k: Int): java.lang.Double =
      if (r.isNullAt(idx)) null
      else r.getSeq[Any](idx).lift(k) match {
        case Some(v: Number) => v.doubleValue
        case _ => null
      }

    /** Index ranges [from, until) of consecutive rows with equal keys. */
    private def segments[K](keys: Array[K])(same: (K, K) => Boolean): IndexedSeq[(Int, Int)] =
      keys.indices.filter(i => i == 0 || !same(keys(i - 1), keys(i)))
        .:+(keys.length).sliding(2).collect { case Seq(a, b) => (a, b) }.toIndexedSeq

    def apply(markers: Iterator[Row], clock: Iterator[Row]): Iterator[Row] = {
      // A1 (a null timestamp never passes W3's range test, so it goes too)
      val byRaw = markers.filterNot(_.isNullAt(tsIdx)).toArray
        .sortWith((a, b) => cmp(a.getDouble(tsIdx), b.getDouble(tsIdx)) < 0)
      val unique = segments(byRaw.map(_.getDouble(tsIdx)))(cmp(_, _) == 0)
        .collect { case (a, b) if b - a == 1 => byRaw(a) }.toArray

      // J5: the smallest tick within the tolerance
      val ticks = clock.filterNot(_.isNullAt(0)).map(_.getDouble(0)).toArray
      java.util.Arrays.sort(ticks)
      def snap(t: Double): Double = {
        var lo = 0; var hi = ticks.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (ticks(mid) < t - SnapTol) lo = mid + 1 else hi = mid
        }
        while (lo < ticks.length && ticks(lo) <= t + SnapTol) {
          if (math.abs(ticks(lo) - t) < SnapTol) return ticks(lo)
          lo += 1
        }
        t
      }
      // stable sort: rows sharing a snapped tick stay in raw order
      val snapped = unique.map(r => (snap(r.getDouble(tsIdx)), r))
        .sortWith((a, b) => cmp(a._1, b._1) < 0)

      // W3: a tick is present when a snapped timestamp equals it (Spark
      // join equality: -0.0 = 0.0, NaN = NaN)
      def norm(x: Double) = if (x == 0.0) 0.0 else x
      val present = snapped.map(p => norm(p._1))
      java.util.Arrays.sort(present)
      val on = ticks.map(c => java.util.Arrays.binarySearch(present, norm(c)) >= 0)
      val runs = segments(on)(_ == _).collect {
        case (a, b) if on(a) && cmp(ticks(b - 1) - ticks(a), BriefRunS) > 0 =>
          (ticks(a), ticks(b - 1))
      }
      var r = 0
      val brief = snapped.filter { case (t, _) =>
        while (r < runs.length && cmp(runs(r)._2, t) < 0) r += 1
        r < runs.length && cmp(runs(r)._1, t) <= 0
      }

      // P5/P7: size and aspect; the bimodality cut over every size
      val sized = brief.map { case (t, row) =>
        val sx = elem(row, sizeIdx, 0); val sy = elem(row, sizeIdx, 1)
        if (sx == null || sy == null) (t, row, null, null)
        else (t, row, Double.box((sx + sy) / 2.0),
          if (sy == 0.0) null else Double.box(sx / sy))
      }
      val cut = LocalDbscan.bimodalCut(sized.collect {
        case (_, _, s, _) if s != null && !s.isNaN => s.doubleValue
      }, BimodalSigmas)
      val kept = sized.filter { case (_, _, s, a) =>
        cut.forall(c => s != null && (s.isNaN || s >= c)) &&
          a != null && a < MaxAspect
      }

      // W2: gap split, strict epoch-duration gate
      val ts = kept.map(_._1)
      val epochOf = ts.indices.scanLeft(-1L) { (e, i) =>
        if (i == 0 || cmp(ts(i) - ts(i - 1), epochGap) > 0) e + 1 else e
      }.tail.toArray
      val epochs = segments(epochOf)(_ == _).filter { case (a, b) =>
        val d = ts(b - 1) - ts(a)
        cmp(d, epochDuration._1) > 0 && cmp(d, epochDuration._2) < 0
      }

      // A7: per-epoch DBSCAN, labels made unique across epochs
      val label = Array.fill(ts.length)(-1L)
      for ((a, b) <- epochs) {
        val feats = (a until b).map { i =>
          val row = kept(i)._2
          def pos(k: Int) = Option(elem(row, posIdx, k)).fold(Double.NaN)(_.doubleValue)
          Array((ts(i) - ts(a)) / assumedEpochTime + 2.0, pos(0) * imageAspect, pos(1))
        }.toArray
        LocalDbscan.fit(feats, eps, minPoints).zipWithIndex.foreach { case (l, j) =>
          if (l != -1) label(a + j) = epochOf(a) * 100000 + l
        }
      }

      // A3: strict cluster-duration gate, then minClusters
      val members = epochs.flatMap { case (a, b) => a until b }.filter(label(_) != -1)
      val clusters = members.groupBy(label(_)).filter { case (_, is) =>
        val d = ts(is.last) - ts(is.head)
        cmp(d, clusterDuration._1) > 0 && cmp(d, clusterDuration._2) < 0
      }.keySet
      if (clusters.size < minClusters) Iterator.empty
      else members.iterator.filter(i => clusters(label(i))).map { i =>
        val (t, row, s, a) = kept(i)
        Row.fromSeq((label(i) +: row.toSeq.updated(tsIdx, t)) ++ Seq(s, a, epochOf(i)))
      }
    }
  }

  /** [[filterAndCluster]] for CHECKERBOARD detections
    * (schemas.Schemas.markerCheckerboard): the reference derives the size
    * pair from the corner-grid ptp (x scaled by the image aspect) when
    * the marker table has `norm_pos_full_checkerboard` instead of `size`
    * (remove_small_detections, marker_parsing.py:148-156; detection rows
    * from find_checkerboard_frame, marker_detection.py:243-258). Every
    * downstream step — brief-removal, P7 masks, epoch split, DBSCAN,
    * cluster gates — is identical to the circles path; the corner arrays
    * ride along into the clustered output. */
  def filterAndClusterCheckerboard(markers: DataFrame, clock: DataFrame,
                                   tsCol: String = "timestamp",
                                   clockTs: String = "timestamp",
                                   cornersCol: String = "norm_pos_full_checkerboard",
                                   imageAspect: Double = 4.0 / 3.0,
                                   epochGap: Double = 15.0,
                                   epochDuration: (Double, Double) = (30.0, 150.0),
                                   dbscanEps: Double = 0.05,
                                   dbscanMinPoints: Int = 5,
                                   clusterDuration: (Double, Double) = (0.2, 5.0),
                                   minClusters: Int = 1): DataFrame =
    filterAndCluster(
      checkerboardSize(markers, cornersCol, imageAspect), clock,
      tsCol, clockTs, sizeCol = "size", imageAspect = imageAspect,
      epochGap = epochGap, epochDuration = epochDuration,
      dbscanEps = dbscanEps, dbscanMinPoints = dbscanMinPoints,
      clusterDuration = clusterDuration, minClusters = minClusters)
}
