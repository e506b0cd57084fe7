package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver-side pipeline orchestrator — the Spark restatement of the
  * reference's file-materialized DAG (pipelines.py:557-819):
  *
  *  - every stage writes Parquet under `<root>/<name>__<tagHash>` (the
  *    reference encodes provenance tags in .npz filenames,
  *    pipelines.py:599-616; we hash them into the directory name);
  *  - **memoization (S8)**: a stage whose output directory already has a
  *    `_SUCCESS` marker is skipped and its output re-read
  *    (pipelines.py:84-92 etc.);
  *  - **failure short-circuit (S7)**: a failed stage writes an empty
  *    `_FAILED` sentinel; downstream stages depending on it are skipped
  *    and marked failed as well (pipelines.py:112-115 etc.);
  *  - a status table records (stage, state, rows, path) — replacing the
  *    reference's scattered sentinel files as queryable lineage.
  *
  * Stages declare dependencies by name; inputs arrive as a map of
  * DataFrames. Tags are (k, v) provenance pairs, blake-like hashed with
  * md5-10 (the reference uses blake2b-10, pipelines.py:879-889 — any
  * stable short digest serves).
  */
object Pipeline {

  case class Stage(name: String, deps: Seq[String] = Nil,
                   run: (SparkSession, Map[String, DataFrame]) => DataFrame)

  sealed trait State
  case object Computed extends State
  case object Memoized extends State
  case object Failed extends State
  case object SkippedUpstreamFailure extends State

  case class StageResult(name: String, state: State, path: String,
                         rows: Long, error: Option[String])

  private def rowsSidecar(path: String): Option[Long] = {
    val f = Paths.get(path, "_ROWS")
    if (Files.exists(f))
      scala.util.Try(new String(Files.readAllBytes(f), "UTF-8")
        .trim.toLong).toOption
    else None
  }

  def tagHash(tags: Map[String, String]): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(tags.toSeq.sorted.map { case (k, v) => s"$k=$v" }
        .mkString("&").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)

  def run(spark: SparkSession, root: String, stages: Seq[Stage],
          tags: Map[String, String] = Map.empty): Map[String, StageResult] = {
    val hash = tagHash(tags)
    val results = scala.collection.mutable.LinkedHashMap[String, StageResult]()

    def outPath(name: String) = s"$root/${name}__$hash"

    for (stage <- stages) {
      val path = outPath(stage.name)
      val success = Paths.get(path, "_SUCCESS")
      val failed = Paths.get(path, "_FAILED")
      val upstreamFailed = stage.deps.exists(d =>
        results.get(d).exists(r =>
          r.state == Failed || r.state == SkippedUpstreamFailure))

      val res =
        if (upstreamFailed)
          StageResult(stage.name, SkippedUpstreamFailure, path, 0,
            Some("upstream failure"))
        else if (Files.exists(failed))
          StageResult(stage.name, Failed, path, 0, Some("failed sentinel"))
        else if (Files.exists(success)) {
          // rows come from the _ROWS sidecar written at compute time —
          // the memoized branch must not re-scan (or even re-list) the
          // artifact just to report a count. Fallback count() only for
          // artifacts written before the sidecar existed.
          val rows = rowsSidecar(path).getOrElse(
            spark.read.parquet(path).count())
          StageResult(stage.name, Memoized, path, rows, None)
        } else {
          try {
            val inputs = stage.deps.map { d =>
              d -> spark.read.parquet(outPath(d))
            }.toMap
            val out = stage.run(spark, inputs)
            // row count observed on the write itself — no post-write scan
            val obs = org.apache.spark.sql.Observation()
            out.observe(obs,
                org.apache.spark.sql.functions.count(
                  org.apache.spark.sql.functions.lit(1)).as("rows"))
              .write.mode("overwrite").parquet(path)
            val n = obs.get("rows").asInstanceOf[Long]
            Files.write(Paths.get(path, "_ROWS"),
              n.toString.getBytes("UTF-8"))
            if (n == 0) { // reference: empty result == failed step
              Files.createDirectories(Paths.get(path))
              Files.deleteIfExists(success)
              Files.createFile(failed)
              StageResult(stage.name, Failed, path, 0, Some("empty result"))
            } else StageResult(stage.name, Computed, path, n, None)
          } catch {
            // fatal errors (OOM, interrupts) propagate: a _FAILED sentinel
            // is permanent, and a later run on this root must recompute
            case NonFatal(e) =>
              Files.createDirectories(Paths.get(path))
              if (!Files.exists(failed)) Files.createFile(failed)
              // getMessage can be null (bare RuntimeException, errors)
              StageResult(stage.name, Failed, path, 0,
                Some(Option(e.getMessage).getOrElse(e.getClass.getName).take(200)))
          }
        }
      results(stage.name) = res
      // operator-scoped caches die with their stage (each stage's output
      // is materialized to Parquet above, so nothing downstream re-reads
      // the cached lineage)
      graft.CacheRegistry.releaseAll()
    }
    results.toMap
  }

  /** The run log as a queryable DataFrame (lineage/status table). */
  def statusTable(spark: SparkSession,
                  results: Map[String, StageResult]): DataFrame = {
    import spark.implicits._
    results.values.toSeq
      .map(r => (r.name, r.state.toString, r.path, r.rows,
        r.error.getOrElse("")))
      .toDF("stage", "state", "path", "rows", "error")
  }
}
