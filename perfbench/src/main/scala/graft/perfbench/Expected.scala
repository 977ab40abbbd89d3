package graft.perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Row

import graft.operators.Report

/** The generator's expected 13-column report, compared with a collected
  * report order-independently: rows sorted on all columns, counts and
  * strings exact, percentages to 1e-9 relative.
  */
final class Expected(rows: Seq[IndexedSeq[Any]]) {
  private val sorted = Expected.sort(rows)

  /** None when `actual` equals the expected report, else why not. */
  def mismatch(actual: Array[Row]): Option[String] = {
    val got = Expected.sort(actual.toSeq.map(r => r.toSeq.toIndexedSeq))
    if (actual.headOption.exists(_.schema.fieldNames.toSeq != Report.outputColumns))
      Some(s"columns ${actual.head.schema.fieldNames.mkString(",")}")
    else if (got.size != sorted.size) Some(s"${got.size} rows, expected ${sorted.size}")
    else got.zip(sorted).collectFirst {
      case (g, e) if !Expected.same(g, e) =>
        s"row ${g.mkString("|")} expected ${e.mkString("|")}"
    }
  }
}

object Expected {
  private def rows(node: JsonNode): Seq[IndexedSeq[Any]] =
    node.elements().asScala.map(_.elements().asScala.map(value).toIndexedSeq).toSeq

  def load(path: String): Expected =
    new Expected(rows(new ObjectMapper().readTree(new File(path)).get("rows")))

  /** The expected report to date after each micro-batch. */
  def loadPrefixes(path: String): IndexedSeq[Expected] =
    new ObjectMapper().readTree(new File(path)).get("prefixes").elements().asScala
      .map(n => new Expected(rows(n))).toIndexedSeq

  private def value(n: JsonNode): Any =
    if (n.isNull) null
    else if (n.isTextual) n.asText
    else if (n.isIntegralNumber) n.asLong
    else n.asDouble

  private def key(r: IndexedSeq[Any]): String = r.map(String.valueOf).mkString("\u0001")

  private def sort(rows: Seq[IndexedSeq[Any]]): Seq[IndexedSeq[Any]] =
    rows.map(r => r.map {
      case i: Int => i.toLong
      case x => x
    }).sortBy(r => key(r.map {
      case d: Double => f"$d%.6f"
      case x => x
    }))

  private def same(a: IndexedSeq[Any], b: IndexedSeq[Any]): Boolean =
    a.size == b.size && a.zip(b).forall {
      case (x: Number, y: Number) if x.isInstanceOf[Double] || y.isInstanceOf[Double] =>
        val (u, v) = (x.doubleValue, y.doubleValue)
        math.abs(u - v) <= 1e-9 * math.max(1.0, math.abs(v))
      case (x: Number, y: Number) => x.longValue == y.longValue
      case (x, y) => x == y
    }
}
