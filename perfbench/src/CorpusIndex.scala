package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{AnnIndexIO, TextOps}
import graft.sources.PldataSource
import Main.{Iter, Workload}

/** Near-duplicate pairing and an ANN index lifecycle:
  * lshBandTable → minhashPairsFromBands (= TextOps.minhashLshPairs),
  * then AnnIndexIO.buildAuto → searchAuto → appendAuto → searchAuto. */
final class CorpusIndex(spark: SparkSession, in: String, work: String,
                        small: Boolean) extends Workload {
  import spark.implicits._

  private val truth = Inputs.json(s"$in/truth.json")
  private def ints(n: String) = truth.get(n).asScala.map(_.asInt).toSeq
  private def lists(n: String) = truth.get(n).asScala.map(_.asScala.map(_.asInt).toSeq).toSeq
  private val (numHashes, bands) = (32, 16)
  // the small variant indexes a tenth of the vectors and skips the
  // full-corpus recall check
  private val scale = if (small) 10 else 1

  private val docs = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(s"$in/docs.txt")).asScala
    Inputs.cached(lines.zipWithIndex
      .map { case (s, i) => (i.toLong, s) }.toSeq.toDF("id", "text"))
  }
  private val nDocs = docs.count()
  private val dupPairs = lists("dup_pairs").map(p => (p(0).toLong, p(1).toLong)).toSet

  private val dim = truth.get("dim").asInt
  private val all = truth.get("base").asInt
  private val nBase = truth.get("base").asInt / scale
  private val nAppend = truth.get("appended").asInt / scale
  private val (base, appended) = {
    val flat = PldataSource.readNpyDoubles(s"$in/vecs.npy")
    def frame(ids: Range) = Inputs.cached(ids.map(i =>
      (i.toLong, flat.slice(i * dim, (i + 1) * dim).toSeq)).toDF("id", "vec"))
    (frame(0 until nBase), frame(all until all + nAppend))
  }
  private val corpus = base.union(appended)
  private val (queries, want) = ints("queries").zip(lists("truth"))
    .filter(_._1 < nBase).unzip
  private val (appQueries, appWant) = ints("append_queries").zip(lists("append_truth"))
    .filter(_._1 < all + nAppend).unzip
  private var runs = 0

  /** Share of the planted top-10 found, over all queries. */
  private def recall(rows: Array[Row], qs: Seq[Int], truth: Seq[Seq[Int]]): Double = {
    val got = rows.groupBy(_.getAs[Long]("q_id").toInt)
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("n_id").toInt).toSet }
    qs.zip(truth).map { case (q, tr) =>
      tr.count(got.getOrElse(q, Set.empty[Int])).toDouble }.sum / (10.0 * qs.length)
  }

  /** Set-up warm-up: near-duplicate pairing over a tenth of the docs */
  override def warmup(): Unit =
    TextOps.minhashPairsFromBands(TextOps.lshBandTable(docs.limit(nDocs.toInt / 10),
      "id", "text", 3, numHashes, bands), numHashes).collect()

  def iterate(t: Trace): Iter = {
    runs += 1
    val path = s"$work/index$runs"
    val t0 = System.nanoTime()
    val banded = t.span("operators.text.minhash", (d: DataFrame) => Inputs.rows(t, d)) {
      t.drain(TextOps.lshBandTable(docs, "id", "text", 3, numHashes, bands))
    }
    val pairs = t.span("operators.text.lsh_pairs", (p: Set[(Long, Long)]) =>
        Map("candidate_pairs" -> p.size.toDouble,
          "true_pairs" -> dupPairs.count(d => p(d) || p(d.swap)).toDouble)) {
      TextOps.minhashPairsFromBands(banded, numHashes).select("doc_a", "doc_b")
        .as[(Long, Long)].collect().toSet
    }
    val t1 = System.nanoTime()
    t.span("operators.ann.build")(AnnIndexIO.buildAuto(base, "id", "vec", path))
    val t2 = System.nanoTime()
    val first = t.span("operators.ann.search") {
      AnnIndexIO.searchAuto(spark, path, base, "id", "vec",
        col("id").isin(queries: _*), 10).collect()
    }
    val t3 = System.nanoTime()
    t.span("operators.ann.append")(AnnIndexIO.appendAuto(spark, path,
      appended, "id", "vec"))
    val t4 = System.nanoTime()
    val second = t.span("operators.ann.search") {
      AnnIndexIO.searchAuto(spark, path, corpus, "id", "vec",
        col("id").isin(appQueries: _*), 10).collect()
    }
    val t5 = System.nanoTime()
    def s(a: Long, b: Long) = (b - a) / 1e9
    val searchS = s(t2, t3) + s(t4, t5)
    val r = recall(first ++ second, queries ++ appQueries, want ++ appWant)

    val failures = Seq.newBuilder[String]
    val missed = dupPairs.filterNot(p => pairs(p) || pairs(p.swap))
    if (missed.nonEmpty) failures += s"${missed.size} of ${dupPairs.size} planted dup pairs not found"
    val bound = truth.get("min_recall_at_10").asDouble
    if (!small && !(r >= bound)) failures += f"recall@10 $r%.3f below $bound"
    t.releaseDrained()
    graft.CacheRegistry.releaseAll()
    Iter(s(t0, t5), Map(
      "dedup_docs_per_s" -> nDocs / s(t0, t1),
      "index_write_s" -> (s(t1, t2) + s(t3, t4)),
      "search_qps" -> (queries.length + appQueries.length) / searchS,
      "recall_at_10" -> r), failures.result())
  }
}
