package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {
  import spark.implicits._
  import Pipeline._

  def stages(failMid: Boolean): Seq[Stage] = Seq(
    Stage("src", Nil, (s, _) => {
      import s.implicits._
      Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("id", "v")
    }),
    Stage("mid", Seq("src"), (_, in) =>
      if (failMid) in("src").filter(col("v") > 1e9) // empty → failure
      else in("src").withColumn("v2", col("v") * 2)),
    Stage("out", Seq("mid"), (_, in) => in("mid").agg(sum("v2").as("s"))))

  test("stages run, memoize on re-run, and record status") {
    val root = Files.createTempDirectory("pipe").toString
    val r1 = Pipeline.run(spark, root, stages(failMid = false))
    assert(r1("src").state == Computed && r1("out").state == Computed)
    assert(r1("out").rows == 1)
    val r2 = Pipeline.run(spark, root, stages(failMid = false))
    assert(r2.values.forall(_.state == Memoized))
    val st = Pipeline.statusTable(spark, r2).collect()
    assert(st.length == 3 && st.forall(_.getAs[String]("state") == "Memoized"))
  }

  test("failure sentinel short-circuits downstream (S7) and persists") {
    val root = Files.createTempDirectory("pipe").toString
    val r = Pipeline.run(spark, root, stages(failMid = true))
    assert(r("src").state == Computed)
    assert(r("mid").state == Failed)
    assert(r("out").state == SkippedUpstreamFailure)
    // re-run: the sentinel short-circuits without recompute
    val r2 = Pipeline.run(spark, root, stages(failMid = true))
    assert(r2("mid").state == Failed &&
      r2("mid").error.contains("failed sentinel"))
  }

  test("fatal stage errors propagate without a sentinel; non-fatal ones fail") {
    def throwing(e: Throwable) = Seq(Stage("boom", Nil, (_, _) => throw e))
    val root = Files.createTempDirectory("pipe").toString
    val failed = java.nio.file.Paths.get(
      s"$root/boom__${Pipeline.tagHash(Map.empty)}", "_FAILED")
    intercept[InterruptedException] {
      Pipeline.run(spark, root, throwing(new InterruptedException("stop")))
    }
    assert(!Files.exists(failed), "an interrupt must not leave a _FAILED sentinel")
    val r = Pipeline.run(spark, root, throwing(new RuntimeException("bad input")))
    assert(r("boom").state == Failed && r("boom").error.contains("bad input"))
    assert(Files.exists(failed))
  }

  test("different tags → different memoization namespaces") {
    val root = Files.createTempDirectory("pipe").toString
    val a = Pipeline.run(spark, root, stages(false), Map("conf" -> "a"))
    val b = Pipeline.run(spark, root, stages(false), Map("conf" -> "b"))
    assert(a("src").path != b("src").path)
    assert(b("src").state == Computed) // not memoized across tags
  }

  test("gaze pipeline end-to-end through the orchestrator (memoized stages)") {
    import graft.model.{Calibrator, GazeModelIO}
    val root = java.nio.file.Files.createTempDirectory("gazepipe").toString
    val rng = new scala.util.Random(5)
    // synthetic session tables (markers + pupils, known affine map)
    val mk = (0 until 5).flatMap { i => (0 until 5).flatMap { j =>
      val mx = 0.1 + 0.2 * i; val my = 0.1 + 0.2 * j
      (0 until 10).map { k =>
        ((i * 5 + j) * 10 + k, mx, my, (i * 5 + j).toLong) }
    }}.map { case (n, mx, my, c) => (n / 30.0 + c * 0.5, mx, my, c) }
    val stages = Seq(
      Stage("markers", Nil, (s, _) => {
        import s.implicits._
        mk.toDF("timestamp", "norm_x", "norm_y", "marker_cluster_index")
      }),
      Stage("pupils", Nil, (s, _) => {
        import s.implicits._
        mk.map { case (t, mx, my, _) =>
          (t + 0.002,
            (mx - 0.05 - 0.1 * (my - 0.03) / 0.9) / 0.8 + rng.nextGaussian() * 3e-4,
            (my - 0.03) / 0.9 + rng.nextGaussian() * 3e-4, 0.9)
        }.toDF("timestamp", "norm_x", "norm_y", "confidence")
      }),
      Stage("calibration", Seq("markers", "pupils"), (s, in) => {
        val model = Calibrator.fit(in("markers"), in("pupils")).get
        GazeModelIO.save(s, model, s"$root/model_artifact")
        s.read.parquet(s"$root/model_artifact")
      }),
      Stage("gaze", Seq("pupils"), (s, in) => {
        val model = GazeModelIO.load(s, s"$root/model_artifact")
        model.transform(in("pupils"))
      }))
    val r = Pipeline.run(spark, root, stages)
    assert(r.values.forall(x => x.state == Computed), r.toString)
    val gaze = spark.read.parquet(r("gaze").path)
    assert(gaze.count() == mk.length)
    // gaze maps back near the marker grid
    val g0 = gaze.orderBy("timestamp").collect()(0)
    assert(math.abs(g0.getAs[Double]("gaze_x") - 0.1) < 0.01)
    // re-run memoizes everything
    val r2 = Pipeline.run(spark, root, stages)
    assert(r2.values.forall(_.state == Memoized))
  }

  test("ExactMedian aggregator: nanmedian semantics") {
    import graft.functions.ExactMedian
    val df = Seq(("g", 1.0), ("g", 3.0), ("g", 2.0), ("g", Double.NaN),
      ("h", 5.0), ("h", 7.0)).toDF("k", "v")
    val out = df.groupBy("k").agg(ExactMedian.median(col("v")).as("m"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(out("g") == 2.0) // NaN ignored (nanmedian)
    assert(out("h") == 6.0) // even count interpolates
  }

  test("split_time parity: manual epochs from marker_times.yaml (S6/O4)") {
    import ManualEpochs._
    val f = Files.createTempFile("marker_times", ".yaml")
    Files.writeString(f,
      """calibration_frames:
        |  - [1200, 4400]
        |validation_frames:
        |  - [9000, 10000]
        |  - [30000, 31000]
        |degenerate_frames:
        |  - [5, 5]
        |""".stripMargin)
    assert(splitTime(f.toString, "calibration_frames") ==
      Seq(Epoch(0, 1200, 4400)))
    assert(splitTime(f.toString, "validation_frames") ==
      Seq(Epoch(0, 9000, 10000), Epoch(1, 30000, 31000)))
    // the reference's "not annotated" marker: one [x, x] epoch -> none
    assert(splitTime(f.toString, "degenerate_frames").isEmpty)
    assert(splitTime(f.toString, "missing_key").isEmpty)
    // tagging: start inclusive, end exclusive, rows outside ranges drop
    val df = Seq(8999L, 9000L, 9999L, 10000L, 30000L, 40000L).toDF("frame")
    val tagged = applyEpochs(df, "frame",
        splitTime(f.toString, "validation_frames"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(tagged == Map(9000L -> 0, 9999L -> 0, 30000L -> 1))
    // empty epochs -> empty tagged frame with the epoch column present
    val none = applyEpochs(df, "frame", Nil)
    assert(none.columns.contains("epoch") && none.count() == 0)
    // frame-indexed split over a timestamped table: the clock position IS
    // the frame number (J6 searchsorted), so time-stamped markers land in
    // their frame-range epochs
    val clock = (0 until 100).map(_ * 0.1).toDF("timestamp")
    val markers = Seq(0.95, 1.0, 2.0, 2.95, 5.0).toDF("ts")
    val split = splitByFrames(markers, clock, "ts", "timestamp",
        Seq(Epoch(0, 10, 20), Epoch(1, 29, 31)))
      .collect().map(r => r.getDouble(0) -> r.getInt(r.fieldIndex("epoch")))
      .toMap
    // 0.95 -> frame 10 (epoch 0, start-inclusive), 1.0 -> 10? no: clock
    // frame of t is count of clock entries < t: 1.0 -> 10, 2.0 -> 20
    // (end-exclusive, out), 2.95 -> 30 (epoch 1), 5.0 -> 50 (out)
    assert(split == Map(0.95 -> 0, 1.0 -> 0, 2.95 -> 1))
  }

  test("pipeline_vedb manual-epoch branch: marker_times.yaml drives cal/val stages") {
    import graft.operators.MarkerParsing
    val root = Files.createTempDirectory("vedbmanual").toString
    val fps = 30.0
    val rng = new scala.util.Random(7)
    // marker_times.yaml: one curated calibration range + one validation range
    val yamlF = Files.createTempFile("marker_times", ".yaml")
    // two curated calibration ranges: the fit must use ONLY the selected
    // calibrationEpoch (index 0), like the reference (pipelines.py:641-651)
    Files.writeString(yamlF,
      """calibration_frames:
        |  - [300, 800]
        |  - [4000, 4500]
        |validation_frames:
        |  - [2400, 2900]
        |""".stripMargin)
    val calEp = ManualEpochs.splitTime(yamlF.toString, "calibration_frames")
    val valEp = ManualEpochs.splitTime(yamlF.toString, "validation_frames")
    assert(calEp == Seq(ManualEpochs.Epoch(0, 300, 800),
      ManualEpochs.Epoch(1, 4000, 4500)))
    // 5 spatial clusters, 100 frames (3.3 s) each, inside EVERY range —
    // including the second calibration range, so a regression back to
    // merging all calibration ranges would change markers_cal and fail
    val grid = Seq((0.2, 0.3), (0.4, 0.5), (0.6, 0.3), (0.8, 0.6), (0.3, 0.7))
    def detections(startFrame: Int) = (0 until 500).map { i =>
      val (mx, my) = grid(i / 100)
      ((startFrame + i) / fps, Seq(mx, my), Seq(0.05, 0.05))
    }
    val markers = (detections(300) ++ detections(2400) ++ detections(4000))
      .toDF("timestamp", "norm_pos", "size")
    val clock = (0 until 5000).map(_ / fps).toDF("timestamp")
    // pupils: inverse affine of the marker position at each detection time
    val pupils = (detections(300) ++ detections(2400) ++ detections(4000))
      .map { case (t, np, _) =>
      val (mx, my) = (np(0), np(1))
      (t + 0.002,
        ((mx - 0.05) * 0.9 - (my - 0.03) * 0.1 / 0.9) / 0.8
          + rng.nextGaussian() * 3e-4,
        (my - 0.03) / 0.9 + rng.nextGaussian() * 3e-4, 0.95)
    }.toDF("timestamp", "norm_pos_x", "norm_pos_y", "confidence")
      .select(col("timestamp"),
        array(col("norm_pos_x"), col("norm_pos_y")).as("norm_pos"),
        col("confidence"))
      .select(col("timestamp"),
        element_at(col("norm_pos"), 1).as("norm_x"),
        element_at(col("norm_pos"), 2).as("norm_y"), col("confidence"))
    val r = Pipeline.run(spark, root,
      VedbPipeline.manualStages(markers, clock, pupils, calEp, valEp))
    assert(r.keySet == Set("markers_frames_manual", "markers_cal_manual_e0",
      "calibration_manual_e0", "gaze_manual_e0", "markers_val_manual_0",
      "error_manual_e0_0"), r.toString)
    assert(r.values.forall(_.state == Computed), r.toString)
    // the SELECTED calibration range bounds the fit stage: markers only
    // from frames 300-799 — detections exist in [4000, 4500) too, so a
    // regression to merging all calibration ranges fails here
    val cal = spark.read.parquet(r("markers_cal_manual_e0").path)
    val ts = cal.agg(min("timestamp"), max("timestamp")).collect()(0)
    assert(ts.getDouble(0) >= 300 / fps && ts.getDouble(1) < 800 / fps)
    assert(cal.select("marker_cluster_index").distinct().count() == 5)
    // planted affine -> sub-degree validation error
    val err = spark.read.parquet(r("error_manual_e0_0").path).collect()(0)
    assert(err.getAs[Double]("gaze_err_weighted") < 1.0, err.toString)
    // memoized re-run
    val r2 = Pipeline.run(spark, root,
      VedbPipeline.manualStages(markers, clock, pupils, calEp, valEp))
    assert(r2.values.forall(_.state == Memoized))
    // switching the selected calibration epoch must NOT reuse the other
    // epoch's memoized fit: e1 stages recompute on the same root, bounded
    // by the second range, while the epoch-independent slices memoize
    val r3 = Pipeline.run(spark, root, VedbPipeline.manualStages(
      markers, clock, pupils, calEp, valEp, calibrationEpoch = 1))
    assert(r3("markers_cal_manual_e1").state == Computed, r3.toString)
    assert(r3("calibration_manual_e1").state == Computed)
    assert(r3("markers_frames_manual").state == Memoized)
    assert(r3("markers_val_manual_0").state == Memoized)
    val cal1 = spark.read.parquet(r3("markers_cal_manual_e1").path)
    val ts1 = cal1.agg(min("timestamp"), max("timestamp")).collect()(0)
    assert(ts1.getDouble(0) >= 4000 / fps && ts1.getDouble(1) < 4500 / fps)
    // cross-branch collision: the AUTOMATIC branch on the SAME root must
    // compute its own artifacts, not serve the manual branch's
    val ra = Pipeline.run(spark, root, VedbPipeline.stages(markers, clock,
      pupils, epochDuration = (5.0, 150.0)))
    assert(ra("markers_filtered").state == Computed, ra.toString)
    assert(ra("calibration").state == Computed)
  }

  test("Ref/Stop consumption: Stop markers never reach clustering or fit") {
    val root = Files.createTempDirectory("vedbtyped").toString
    val fps = 30.0
    // two Ref epochs of 5 clusters each, separated by a run of Stop
    // delimiter markers (circle_detector.py:339-452 types); the Stop rows
    // sit between the epochs and must not appear in any filtered artifact
    val grid = Seq((0.2, 0.3), (0.4, 0.5), (0.6, 0.3), (0.8, 0.6), (0.3, 0.7))
    def refs(startFrame: Int) = (0 until 500).map { i =>
      val (mx, my) = grid(i / 100)
      ((startFrame + i) / fps, Seq(mx, my), Seq(0.05, 0.05), "Ref")
    }
    val stops = (0 until 60).map { i =>
      ((1000 + i) / fps, Seq(0.95, 0.95), Seq(0.05, 0.05), "Stop")
    }
    val markers = (refs(300) ++ stops ++ refs(2400))
      .toDF("timestamp", "norm_pos", "size", "marker_type")
    val clock = (0 until 5000).map(_ / fps).toDF("timestamp")
    val stage1 = VedbPipeline.stages(markers, clock,
      markers.select(col("timestamp"),
        element_at(col("norm_pos"), 1).as("norm_x"),
        element_at(col("norm_pos"), 2).as("norm_y"),
        lit(0.95).as("confidence")),
      epochDuration = (5.0, 150.0)).take(1)
    val r = Pipeline.run(spark, root, stage1)
    assert(r("markers_filtered").state == Computed, r.toString)
    val filtered = spark.read.parquet(r("markers_filtered").path)
    // no row at the Stop position or inside the Stop time span survives
    assert(filtered.filter(element_at(col("norm_pos"), 1) > 0.9).count() == 0)
    assert(filtered.filter(col("timestamp").between(1000 / fps, 1059 / fps))
      .count() == 0)
    // both Ref epochs survive with their 5 clusters each
    assert(filtered.select("epoch").distinct().count() == 2)
  }
}
