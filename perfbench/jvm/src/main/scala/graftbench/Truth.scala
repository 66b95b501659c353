package graftbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

/** The generator's planted ground truth (truth.json next to the inputs). */
final class Truth(root: JsonNode) {
  def long(key: String): Long = root.get(key).asLong()
  def strings(key: String): Seq[String] =
    root.get(key).elements().asScala.map(_.asText()).toSeq
  def longs(key: String): Seq[Long] =
    root.get(key).elements().asScala.map(_.asLong()).toSeq
  def longLists(key: String): Seq[Seq[Long]] =
    root.get(key).elements().asScala
      .map(_.elements().asScala.map(_.asLong()).toSeq).toSeq
  /** A flat object, values as text. */
  def obj(key: String): Map[String, String] =
    root.get(key).fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
  /** A list of flat objects with integer values. */
  def dateMaps(key: String): Seq[Map[String, Long]] =
    root.get(key).elements().asScala.map(o =>
      o.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toMap).toSeq
}

object Truth {
  def load(dir: String): Truth =
    new Truth(new ObjectMapper().readTree(new java.io.File(s"$dir/truth.json")))
}
