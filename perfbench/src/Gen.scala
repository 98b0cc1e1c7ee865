package perfbench

import java.sql.Timestamp
import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.util.hashing.MurmurHash3

/** Seeded input generators. They write plain text with their own code,
  * never through graft's writer, so a writer bug cannot hide a reader bug;
  * each returns the planted truth the benchmark checks graft's output
  * against. */
object Gen {

  /** splitmix64: a deterministic 64-bit stream per seed. */
  final class Rng(seed0: Long) {
    // the seed goes through the mixer first: raw nearby seeds would start
    // the same stream a few steps apart
    private var s = Rng.mix(seed0 + 0x632BE59BD9B4E019L)
    def next(): Long = { s += 0x9E3779B97F4A7C15L; Rng.mix(s) }
    def below(n: Int): Int = java.lang.Math.floorMod(next(), n.toLong).toInt
    def chance(perMille: Int): Boolean = below(1000) < perMille
  }

  object Rng {
    def mix(z0: Long): Long = {
      var z = z0
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")

  /** The canonical text of one parsed cell, shared by the planted truth
    * and the check on graft's output. */
  def canon(v: Any): String = v match {
    case null          => "∅"
    case d: Double     => java.lang.Double.toString(d)
    case b: Boolean    => b.toString
    case t: Timestamp  => t.toLocalDateTime.format(tsFmt)
    case s: String     => s
    case other         => other.toString
  }

  /** Order-independent hash of a table's rows: the sum of per-row
    * hashes, so it does not depend on partitioning or row order. */
  def rowHash(cells: Seq[Any]): Long =
    MurmurHash3.stringHash(cells.map(canon).mkString("\u0001")).toLong & 0xFFFFFFFFL

  private def word(r: Rng): String = {
    val n = 3 + r.below(6)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.below(26)).toChar); i += 1 }
    sb.toString
  }

  private def cents(r: Rng, max: Int): (String, Double) = {
    val c = r.below(max * 100)
    val s = s"${c / 100}.${"%02d".format(c % 100)}"
    (s, java.lang.Double.parseDouble(s))
  }

  private val epoch0 = LocalDateTime.of(2020, 1, 1, 0, 0, 0)

  private def stamp(r: Rng): (String, Timestamp, Long) = {
    val t = epoch0.plusSeconds(r.below(3 * 365 * 86400).toLong)
    (t.format(tsFmt), Timestamp.valueOf(t), t.toEpochSecond(ZoneOffset.UTC))
  }

  /** What graft must report for one generated table. */
  final case class TableTruth(name: String, destinations: Set[String],
                              columns: Seq[String], units: Seq[String],
                              rows: Int, hash: Long)

  final case class Bundle(text: String, tables: Seq[TableTruth], blocks: Int,
                          fixes: Int) {
    def bytes: Array[Byte] = text.getBytes("UTF-8")
  }

  /** A multi-block bundle: a metadata block, a directive, four row-major
    * tables (text, numeric-with-unit, onoff, datetime), `-`/`nan` missing
    * cells, a few cells the parse fixer must repair, and one transposed
    * table. `rows` sets the row count of each row-major table. */
  def bundle(seed: Long, rows: Int): Bundle = {
    val r = new Rng(seed)
    val sb = new java.lang.StringBuilder(rows * 160)
    val truths = Seq.newBuilder[TableTruth]
    var fixes = 0
    def line(cells: String*): Unit = { sb.append(cells.mkString(";")).append('\n') }

    line("author:", "perfbench")
    line("purpose:", s"seeded bundle $seed")
    line("")
    sb.append("***notes\n")
    line("generated input")
    line(s"rows per table: $rows")
    line("")

    def table(name: String, dests: Set[String], cols: Seq[String],
              units: Seq[String])(row: Int => (Seq[String], Seq[Any])): Unit = {
      sb.append(s"**$name;\n")
      line(dests.toSeq.sorted.mkString(" "))
      line(cols: _*)
      line(units: _*)
      var h = 0L
      var i = 0
      while (i < rows) {
        val (cells, values) = row(i)
        line(cells: _*)
        h += rowHash(values)
        i += 1
      }
      line("")
      truths += TableTruth(name, dests, cols, units, rows, h)
    }

    table("t_text", Set("all"), Seq("id", "name", "note"),
      Seq("-", "text", "text")) { i =>
      val name = word(r)
      val note = (0 until 2 + r.below(6)).map(_ => word(r)).mkString(" ")
      (Seq(i.toString, name, note), Seq(i.toDouble, name, note))
    }

    val groups = (0 until 8).map(g => s"g$g")
    table("t_measure", Set("calc", "report"),
      Seq("id", "grp", "length", "mass", "temp"),
      Seq("-", "text", "m", "kg", "C")) { i =>
      val grp = groups(r.below(groups.size))
      val (ls, lv) = cents(r, 1000)
      val (ms, mv) = cents(r, 500)
      val (ts, tv) = cents(r, 60)
      val (mCell, mVal): (String, Any) =
        if (r.chance(20)) (if (r.below(2) == 0) "-" else "nan", null)
        else if (r.chance(2)) { fixes += 1; ("n/a", null) }
        else (ms, mv)
      (Seq(i.toString, grp, ls, mCell, ts), Seq(i.toDouble, grp, lv, mVal, tv))
    }

    val onoffTrue = Array("1", "true", "TRUE")
    val onoffFalse = Array("0", "false", "FALSE")
    table("t_flags", Set("all"), Seq("id", "on", "hot"),
      Seq("-", "onoff", "onoff")) { i =>
      val on = r.below(2) == 0
      val onCell = if (on) onoffTrue(r.below(3)) else onoffFalse(r.below(3))
      val (hotCell, hot) =
        if (r.chance(2)) { fixes += 1; ("maybe", false) }
        else { val b = r.below(2) == 0; (if (b) "1" else "0", b) }
      (Seq(i.toString, onCell, hotCell), Seq(i.toDouble, on, hot))
    }

    table("t_times", Set("all"), Seq("id", "at", "label"),
      Seq("-", "datetime", "text")) { i =>
      val label = word(r)
      val (atCell, at): (String, Any) =
        if (r.chance(20)) ("-", null)
        else if (r.chance(2)) { fixes += 1; ("soon", null) }
        else { val (s, t, _) = stamp(r); (s, t) }
      (Seq(i.toString, atCell, label), Seq(i.toDouble, at, label))
    }

    // transposed: one line per column, values run along the line
    val tRows = math.max(8, rows / 50)
    val xs = (0 until tRows).map(_ => cents(r, 100))
    val ks = (0 until tRows).map(_ => word(r))
    sb.append("**t_trans*;\n")
    line("all")
    line(("id" +: "-" +: (0 until tRows).map(_.toString)): _*)
    line(("x" +: "m" +: xs.map(_._1)): _*)
    line(("key" +: "text" +: ks): _*)
    line("")
    truths += TableTruth("t_trans", Set("all"), Seq("id", "x", "key"),
      Seq("-", "m", "text"), tRows,
      (0 until tRows).map(i => rowHash(Seq(i.toDouble, xs(i)._2, ks(i)))).sum)

    Bundle(sb.toString, truths.result(), blocks = 7, fixes = fixes)
  }

  /** Aggregate fingerprint of the single-table file, computed once by the
    * generator and once by Spark over graft's scan. */
  final case class BigTruth(rows: Long, sumId: Long, sumCents: Long,
                            nullX: Long, flagsOn: Long, labelChars: Long,
                            sumEpoch: Long, nullAt: Long)

  val bigColumns = Seq("id", "grp", "x", "flag", "at", "label")
  val bigUnits = Seq("-", "text", "km", "onoff", "datetime", "text")

  /** One large row-major table, streamed to `out`, of about `bytes` bytes. */
  def bigTable(seed: Long, bytes: Long, out: java.io.Writer): BigTruth = {
    val r = new Rng(seed ^ 0x5DEECE66DL)
    out.write("**t_big;\nall\n")
    out.write(bigColumns.mkString(";") + "\n" + bigUnits.mkString(";") + "\n")
    var written = 0L
    var rows, sumId, sumCents, nullX, flagsOn, labelChars, sumEpoch, nullAt = 0L
    val sb = new java.lang.StringBuilder(256)
    while (written < bytes) {
      sb.setLength(0)
      val id = rows
      sb.append(id).append(';').append('g').append(r.below(16)).append(';')
      if (r.chance(15)) { sb.append('-'); nullX += 1 }
      else {
        val c = r.below(100000)
        sb.append(c / 100).append('.').append("%02d".format(c % 100))
        sumCents += c
      }
      sb.append(';')
      if (r.below(2) == 0) { sb.append('1'); flagsOn += 1 } else sb.append('0')
      sb.append(';')
      if (r.chance(15)) { sb.append("nan"); nullAt += 1 }
      else { val (s, _, e) = stamp(r); sb.append(s); sumEpoch += e }
      sb.append(';')
      val label = word(r) + " " + word(r)
      sb.append(label).append('\n')
      labelChars += label.length
      sumId += id
      rows += 1
      written += sb.length
      out.write(sb.toString)
    }
    out.write("\n")
    BigTruth(rows, sumId, sumCents, nullX, flagsOn, labelChars, sumEpoch, nullAt)
  }
}
