package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._

import graft.model.{Poly, PolyBinocularModel}
import graft.streaming.BinocularMerge
import Main.{Iter, Workload}

/** Two-eye pupil chunks of several sessions through
  * readStream.format("pldata") → BinocularMerge.mergeStream →
  * applyModels (frozen models) → foreachBatch sink.
  *
  * Closed loop: drain the pre-written backlog with a fresh query.
  * Open loop: rename staged chunks into the live tree on a fixed
  * schedule of [[StreamIngest.OfferedChunksPerS]] and time each chunk
  * from its due time to the commit of the batch that read it. */
final class StreamIngest(spark: SparkSession, in: String, work: String,
                         small: Boolean) extends Workload {
  import spark.implicits._
  import StreamIngest._

  private val truth = Inputs.json(s"$in/truth.json")
  private val rowsPerChunk = truth.get("rows_per_chunk").asInt
  private val backlog = if (small) {
    // the set-up variant drains the first few backlog chunks only
    val d = s"$work/backlog"
    (0 until 8).foreach(i => copyTree(s"$in/backlog/c%05d".format(i), s"$d/c%05d".format(i)))
    d
  } else s"$in/backlog"
  private val backlogChunks = Files.list(Paths.get(backlog)).count().toInt

  // frozen models: fitted once, driver-side, on the planted affines
  private val (bino, eye0, eye1) = {
    val aff = truth.get("affines").asScala.map(_.asScala.map(_.asDouble).toSeq).toSeq
    val rng = new scala.util.Random(3)
    val g = for (i <- 0 until 7; j <- 0 until 7) yield (0.1 + 0.8 * i / 6, 0.1 + 0.8 * j / 6)
    def inv(a: Seq[Double], x: Double, y: Double) = {
      val det = a(0) * a(3) - a(1) * a(2)
      val (u, v) = (x - a(4), y - a(5))
      Array((a(3) * u - a(1) * v) / det + rng.nextGaussian() * 3e-4,
        (a(0) * v - a(2) * u) / det + rng.nextGaussian() * 3e-4)
    }
    val p0 = g.map { case (x, y) => inv(aff(0), x, y) }.toArray
    val p1 = g.map { case (x, y) => inv(aff(1), x, y) }.toArray
    val (gx, gy) = (g.map(_._1).toArray, g.map(_._2).toArray)
    val (cx, cy) = Poly.calibrateRaw(p0.zip(p1).map { case (a, b) => a ++ b }, gx, gy, 13).get
    (PolyBinocularModel(cx, cy, 13), Poly.calibrate(p0, gx, gy, 7).get,
      Poly.calibrate(p1, gx, gy, 7).get)
  }

  private val schema = StructType(Seq(StructField("session", StringType),
    StructField("id", LongType), StructField("norm_pos", ArrayType(DoubleType)),
    StructField("confidence", DoubleType), StructField("timestamp", DoubleType)))

  private def pupils(df: DataFrame): Dataset[BinocularMerge.Pupil] =
    df.select(col("session"), col("timestamp"), col("id").cast("int").as("id"),
      element_at(col("norm_pos"), 1).as("x"), element_at(col("norm_pos"), 2).as("y"),
      col("confidence")).as[BinocularMerge.Pupil]

  private def gaze(merged: Dataset[BinocularMerge.Gaze]): DataFrame =
    BinocularMerge.applyModels(merged.toDF(), bino, eye0, eye1)

  /** The batch twin over the same backlog rows: the reference output. */
  private lazy val expected: Map[String, Seq[Row]] =
    bySession(gaze(BinocularMerge.mergeBatch(pupils(read()))).collect().toSeq)

  private var runs = 0

  /** Set-up warm-up: a batch read of the backlog through the source. */
  def warmup(): Unit = read().count()

  private def read(): DataFrame = spark.read.format("pldata").option("topic", "pupil")
    .option("recursive", "true").schema(schema).load(backlog)

  /** Start the streaming query over `root`; every batch's rows are
    * collected into `out`. */
  private def start(root: String, out: mutable.ArrayBuffer[Row]) = {
    runs += 1
    // reorder = false: chunks of a session arrive in event-time order, so
    // rows feed the state machine in the batch that reads them
    gaze(BinocularMerge.mergeStream(pupils(spark.readStream.format("pldata")
        .option("topic", "pupil").option("recursive", "true").schema(schema)
        .load(root)), reorder = false))
      .writeStream.option("checkpointLocation", s"$work/checkpoint$runs")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rs = b.collect()
        out.synchronized { out ++= rs }
        ()
      }
      .start()
  }

  def iterate(t: Trace): Iter = {
    val out = mutable.ArrayBuffer[Row]()
    val t0 = System.nanoTime()
    val progress = t.span("streaming.drain", progressCounts) {
      val q = start(backlog, out)
      try { q.processAllAvailable(); q.recentProgress } finally q.stop()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val rows = progress.map(_.numInputRows).sum
    val failures = Seq.newBuilder[String]
    if (rows != backlogChunks.toLong * rowsPerChunk)
      failures += s"read $rows rows, expected ${backlogChunks * rowsPerChunk}"
    failures ++= lateRows(progress) ++ matchesBatch(bySession(out.toSeq))
    graft.CacheRegistry.releaseAll()
    Iter(wall, Map("stream_rows_per_s" -> rows / wall), failures.result())
  }

  /** Streamed rows must equal the batch twin's, bit for bit. */
  private def matchesBatch(got: Map[String, Seq[Row]]): Seq[String] =
    expected.keySet.union(got.keySet).toSeq.sorted.flatMap { s =>
      val (mine, want) = (got.getOrElse(s, Nil), expected.getOrElse(s, Nil))
      if (mine == want) Nil
      else Seq(s"session $s: ${mine.length} streamed gaze rows differ from ${want.length} batch rows")
    }

  override def measure(seconds: Double, t: Trace): Seq[Iter] = {
    val start = System.nanoTime()
    val drains = mutable.ArrayBuffer[Iter]()
    while (drains.length < 3 || (System.nanoTime() - start) / 1e9 < seconds / 2)
      drains += Main.safely(iterate(t))
    drains.toSeq :+ Main.safely(openLoop(seconds - (System.nanoTime() - start) / 1e9, t))
  }

  /** Open loop: rename staged chunks into a live tree at the offered
    * rate for `seconds`, then drain and time every chunk. */
  private def openLoop(seconds: Double, t: Trace): Iter = {
    val live = s"$work/live$runs"
    val n = math.min(truth.get("pool_chunks").asInt,
      math.max(80, (seconds * OfferedChunksPerS).toInt))
    (0 until n).foreach(i => copyTree(s"$in/pool/_c%05d".format(i), s"$live/_c%05d".format(i)))
    val due = new Array[Double](n)
    val renamed = new Array[Double](n)
    def stats(ps: Array[StreamingQueryProgress]) = chunkStats(ps, due, renamed)
    val progress = t.span("streaming.open_loop",
        (ps: Array[StreamingQueryProgress]) => progressCounts(ps) ++ stats(ps)._1) {
      val q = start(live, mutable.ArrayBuffer[Row]())
      try {
        val t0 = Trace.nowMs() + 200.0
        for (i <- 0 until n) {
          due(i) = t0 + i * 1000.0 / OfferedChunksPerS
          val sleep = due(i) - Trace.nowMs()
          if (sleep > 0) Thread.sleep(sleep.toLong, ((sleep % 1) * 1e6).toInt)
          Files.move(Paths.get(live, "_c%05d".format(i)), Paths.get(live, "c%05d".format(i)),
            StandardCopyOption.ATOMIC_MOVE)
          renamed(i) = Trace.nowMs()
        }
        q.processAllAvailable()
        q.recentProgress
      } finally q.stop()
    }
    val (named, failures) = stats(progress)
    Iter(Double.NaN, named, failures ++ lateRows(progress))
  }

  /** Per-chunk timing of an open-loop pass. A chunk is committed by the
    * first batch whose end offset lists its file; its lag runs from its
    * due time to that batch's end, its queue wait to that batch's start. */
  private def chunkStats(ps: Array[StreamingQueryProgress], due: Array[Double],
                         renamed: Array[Double]): (Map[String, Double], Seq[String]) = {
    val n = due.length
    val commit = Array.fill(n)(Double.NaN); val begun = Array.fill(n)(Double.NaN)
    for (p <- ps if p.numInputRows > 0; f <- filesOf(p);
         m <- "c(\\d{5})/pupil.pldata$".r.findFirstMatchIn(f);
         i = m.group(1).toInt if commit(i).isNaN) {
      begun(i) = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      commit(i) = begun(i) + p.batchDuration
    }
    val missing = commit.count(_.isNaN)
    val lag = commit.indices.map(i => (commit(i) - due(i)) / 1000.0).sorted
    val late = renamed.indices.map(i => (renamed(i) - due(i)) / 1000.0)
    val (tailQ, tail) = tailOf(lag)
    (Map("lag_p50_s" -> median(lag), "lag_tail_s" -> tail,
      "lag_tail_quantile" -> tailQ, "lag_samples" -> n.toDouble,
      "queue_wait_s_p50" -> median(begun.indices.map(i => (begun(i) - due(i)) / 1000.0)),
      "backlog_files_max" -> renamed.map(r =>
        renamed.indices.count(j => renamed(j) <= r && !(commit(j) <= r))).max.toDouble,
      "renamer_late_s_p50" -> median(late), "renamer_late_s_max" -> late.max,
      "offered_chunks_per_s" -> OfferedChunksPerS),
      if (missing > 0) Seq(s"$missing of $n chunks never committed") else Nil)
  }

  override def probes(t: Trace): Unit = {
    t.span("sources.read", (d: DataFrame) => Inputs.rows(t, d) +
        ("bytes" -> Inputs.treeBytes(backlog))) {
      t.drain(read())
    }
    t.releaseDrained()
    openLoop(4.0, t)
  }

  private def progressCounts(ps: Array[StreamingQueryProgress]): Map[String, Double] = {
    val withRows = ps.filter(_.numInputRows > 0)
    val state = ps.reverse.find(_.stateOperators.nonEmpty).map(_.stateOperators.head)
    Map("batches" -> withRows.length.toDouble,
      "rows" -> ps.map(_.numInputRows).sum.toDouble,
      "batch_s_p50" -> median(withRows.map(_.batchDuration / 1000.0).toSeq),
      "state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state_bytes" -> state.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "late_rows_dropped" -> ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum.toDouble)
  }

  private def lateRows(ps: Array[StreamingQueryProgress]): Seq[String] = {
    val late = ps.flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
    if (late > 0) Seq(s"$late rows dropped by the watermark") else Nil
  }
}

object StreamIngest {
  /** Offered open-loop rate, chunks (240 pupil rows each) per second:
    * about half the closed-loop drain capacity measured when the
    * benchmark was defined. Fixed; do not re-tune it to a new commit. */
  val OfferedChunksPerS = 16.0

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else { val s = xs.sorted; val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }

  /** The highest percentile with at least ten samples beyond it:
    * (quantile, value) over sorted `xs`. */
  def tailOf(xs: Seq[Double]): (Double, Double) = {
    val idx = math.max(0, xs.length - 11)
    (if (xs.isEmpty) Double.NaN else idx.toDouble / math.max(1, xs.length - 1),
      if (xs.isEmpty) Double.NaN else xs(idx))
  }

  def filesOf(p: StreamingQueryProgress): Seq[String] =
    "\"([^\"]+)\"".r.findAllMatchIn(p.sources.head.endOffset).map(_.group(1)).toSeq

  def bySession(rows: Seq[Row]): Map[String, Seq[Row]] =
    rows.groupBy(_.getAs[String]("session")).map { case (s, rs) =>
      s -> rs.sortBy(r => (r.getAs[Double]("timestamp"), r.getAs[String]("topic"),
        r.getAs[Boolean]("binocular")))
    }

  def copyTree(from: String, to: String): Unit = {
    Files.createDirectories(Paths.get(to))
    Files.list(Paths.get(from)).iterator().asScala.foreach(f =>
      Files.copy(f, Paths.get(to).resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
  }
}
