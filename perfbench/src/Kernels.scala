package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `functions` layer microbenchmark: each native kernel alone over a
  * cached generated frame, drained to the `noop` sink. Inputs come from
  * a fixed seed, so kernel rows/s compare across commits. */
object Kernels {
  val Rows = 200000

  def run(spark: SparkSession, t: Trace): Unit = {
    val rng = new scala.util.Random(7)
    val anchors = 25
    val ax = Array.fill(anchors)(rng.nextDouble())
    val ay = Array.fill(anchors)(rng.nextDouble())
    val theta = Array.fill(anchors + 3)(rng.nextGaussian())
    val books = Array.fill(8, 16, 4)(rng.nextGaussian())
    val words = (0 until 500).map(i => s"w$i")
    val base = Inputs.cached(spark.range(Rows).select(
      col("id"),
      rand(1).as("px"), rand(2).as("py"),
      typedLit(ax.toSeq).as("ax"), typedLit(ay.toSeq).as("ay"),
      typedLit(theta.toSeq).as("theta"),
      array((0 until 32).map(i => randn(10 + i)): _*).as("qv"),
      array((0 until 8).map(i => (rand(50 + i) * 16).cast("int")): _*).as("codes"),
      concat_ws(" ", array((0 until 40).map(i =>
        element_at(typedLit(words), (rand(100 + i) * words.length).cast("int") + 1)): _*))
        .as("text")))
    def kernel(name: String, c: Column): Unit =
      t.span(s"functions.$name", (_: Unit) => Map("rows" -> Rows.toDouble)) {
        base.select(c.as("out")).write.format("noop").mode("overwrite").save()
      }
    kernel("tps_eval", graft.functions.TpsEval.tps_eval(col("px"), col("py"),
      col("ax"), col("ay"), col("theta")))
    kernel("pq_asim", graft.functions.PqAsim.pq_asim(col("qv"), col("codes"), books))
    kernel("text_hash", expr("graft_minhash_sig(graft_shingle_hash60(text, 3), 32)"))
    base.unpersist()
  }
}
