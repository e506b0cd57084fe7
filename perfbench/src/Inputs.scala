package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.DataFrame

/** Small helpers shared by the workloads. */
object Inputs {
  def json(path: String): JsonNode = new ObjectMapper().readTree(new java.io.File(path))

  def sessionName(i: Int): String = f"s$i%04d"

  /** Persist and materialize an input frame, so loading stays out of
    * the measured iterations. */
  def cached(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }

  /** Row count of a drained (persisted) span output, as a span count. */
  def rows(t: Trace, df: DataFrame): Map[String, Double] =
    if (t.on) Map("rows" -> df.count().toDouble) else Map.empty

  def fileBytes(paths: String*): Double =
    paths.map(p => java.nio.file.Files.size(java.nio.file.Paths.get(p)).toDouble).sum

  /** Recursive size of a directory tree, in bytes. */
  def treeBytes(dir: String): Double = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum().toDouble
    finally s.close()
  }
}
