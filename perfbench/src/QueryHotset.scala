package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.io.JsonValue
import graft.io.JsonValue._

/** Driver queries over fixed testdata: graph, the dedup pipeline,
  * streaming, and a relational control. Job-heavy and iterative, so per-job
  * driver overhead shows; nothing parses
  * StarTable text. The seed only rotates the query order. Every result is
  * compared with rows its DuckDB oracle SQL produced on the same files. */
final class QueryHotset(spark: SparkSession, seed: Long, dataDir: Path) extends Workload {
  private val order = {
    val k = java.lang.Math.floorMod(seed, QueryHotset.queries.size.toLong).toInt
    QueryHotset.queries.drop(k) ++ QueryHotset.queries.take(k)
  }
  private val tables = dataDir.resolve("hotset").toString
  private lazy val expected: Map[String, (Seq[String], Seq[Seq[Any]])] = {
    val txt = new String(Files.readAllBytes(dataDir.resolve("hotset_expected.json")), "UTF-8")
    JsonValue.parse(txt) match {
      case JsonObject(fields) => fields.map { case (q, JsonObject(f)) =>
        val cols = f("columns") match { case JsonArray(v) => v.collect { case JsonString(s) => s } }
        val rows = f("rows") match { case JsonArray(rs) => rs.map {
          case JsonArray(cells) => cells.map(QueryHotset.fromJson)
        } }
        q -> (cols.toSeq, rows.toSeq)
      }.toMap
    }
  }

  def prepare(dir: Path): Unit = require(expected.keySet == QueryHotset.queries.toSet,
    s"expected results cover ${expected.keySet}, not the hotset")

  def cycle(rec: Recorder): Unit = {
    val total = order.flatMap { q =>
      val rows = rec.op(q, "queries") {
        val df = SparkEntry.queries(q)(spark, tables)
        (df, df.collect().toSeq)
      }(r => Seq(r._1))
      rows.foreach { case (df, got) =>
        val (cols, want) = expected(q)
        rec.check(q, "result equals the DuckDB oracle's rows")(
          df.columns.toSeq == cols && QueryHotset.sameRows(got.map(_.toSeq), want))
      }
      rec.seconds(q).map { s => rec.count(s"queries.${q}_s", s); s }
    }
    if (total.size == order.size) rec.count("hotset_s", total.sum)
  }
}

object QueryHotset {
  /** ROADMAP hot spots that fit a run's time budget: graph link
    * prediction, the dedup pipeline (minhash candidates, text verification,
    * connected components: the near-dup stage of curation), streaming
    * sessions; and a cheap relational control. None builds an index; all
    * have an oracle. */
  val queries: Seq[String] = Seq("q_link_predict", "q_cluster_split", "q_stream_sessions",
    "q1_pricing_summary")

  /** One result cell in the form the expectation file stores: every
    * number as a double. */
  def norm(v: Any): Any = v match {
    case n: java.lang.Number => n.doubleValue
    case other => other
  }

  def fromJson(j: JsonValue): Any = j match {
    case JsonNull => null
    case JsonBool(b) => b
    case JsonNumber(d) => d
    case JsonString(s) => s
    case other => JsonValue.write(other)
  }

  private def key(row: Seq[Any]): String = row.map {
    case d: Double => f"$d%.6e"
    case other => String.valueOf(other)
  }.mkString("\u0001")

  private def close(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      x == y || (x.isNaN && y.isNaN) || math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x) max math.abs(y))
    case _ => a == b
  }

  /** Same multiset of rows, doubles equal to nine digits. */
  def sameRows(got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Boolean = {
    val g = got.map(_.map(norm)).sortBy(key)
    val w = want.sortBy(key)
    val ok = g.size == w.size && g.zip(w).forall { case (a, b) =>
      a.size == b.size && a.zip(b).forall { case (x, y) => close(x, y) } }
    if (!ok) System.err.println(s"[perfbench] rows differ: got ${g.take(5)} want ${w.take(5)}")
    ok
  }

  /** Write the hotset's oracle SQL as JSON, for regenerating the
    * expectation file with DuckDB. */
  def dumpOracle(out: Path): Unit = {
    val sql = SparkEntry.oracleSql
    val fields = queries.map(q => q -> (JsonString(sql(q)): JsonValue))
    Files.write(out, JsonValue.write(JsonObject(scala.collection.immutable.ListMap(fields: _*)))
      .getBytes("UTF-8"))
  }
}
