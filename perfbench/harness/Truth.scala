package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

/** Reading the generator's planted ground truth (`truth.json`). */
object Truth {
  def read(dir: String): JsonNode = new ObjectMapper().readTree(new java.io.File(s"$dir/truth.json"))

  /** A JSON number, or None for null/absent. */
  def opt(n: JsonNode): Option[Double] = Option(n).filterNot(_.isNull).map(_.asDouble)

  def longs(n: JsonNode): Seq[Long] = n.elements.asScala.map(_.asLong).toSeq

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields.asScala.map(e => e.getKey -> e.getValue).toSeq

  def nullable(r: Row, i: Int): Option[Double] = if (r.isNullAt(i)) None else Some(r.getDouble(i))
}
