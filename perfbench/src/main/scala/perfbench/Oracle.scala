package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.sql.Timestamp

import scala.util.hashing.MurmurHash3

/** Order-independent digest of a multiset of rows: row count plus the
  * wrapping sum of a 64-bit hash of every column of every row. Two
  * results are taken as equal only if both parts match. */
final case class Digest(rows: Long, sum: Long) {
  def +(row: Seq[Any]): Digest = Digest(rows + 1, sum + Oracle.rowHash(row))
}

object Digest {
  val empty: Digest = Digest(0L, 0L)
  def of(rows: Iterable[Seq[Any]]): Digest = rows.foldLeft(empty)(_ + _)
}

/** The analytic state a stream of [[Gen]] events leaves behind: for each
  * key its last revision and offset, or absent if its chain ended in a
  * delete. Expected table rows are re-derived from the generator, never
  * read back from the engine. */
final class Oracle(gen: Gen, capacity: Int) {
  private val rev = Array.fill(capacity)(-1)
  private val off = new Array[Long](capacity)
  /** Bumped by every `apply`; keys the cached scan aggregate. */
  private var applied = 0L
  private var scanCache: (Long, Seq[Any]) = (-1L, Nil)

  /** Applies events [from, until) of `s`; returns each touched key's state
    * before the first of them, as (revision, offset), revision -1 = absent. */
  def apply(s: Stream, from: Int, until: Int): Map[Int, (Int, Long)] = {
    applied += 1
    val before = scala.collection.mutable.HashMap[Int, (Int, Long)]()
    var i = from
    while (i < until) {
      val k = s.keys(i)
      if (!before.contains(k)) before(k) = (rev(k), off(k))
      if (s.ops(i) == Gen.D) rev(k) = -1
      else { rev(k) = s.revs(i); off(k) = s.baseOffset + i }
      i += 1
    }
    before.toMap
  }

  /** A table row in schema order: conv_id, turn_idx, role, text, tool, ts,
    * _topic, _offset. The decoder truncates MicroTimestamp to millis. */
  def row(k: Int, r: Int, offset: Long): Seq[Any] = {
    val img = gen.image(k, r)
    Seq(gen.convId(k), gen.turnIdx(k), img.role, img.text, img.tool,
      new Timestamp(Math.floorDiv(img.tsMicros, 1000L)), Gen.Topic, offset)
  }

  def rowOf(k: Int): Option[Seq[Any]] =
    if (rev(k) < 0) None else Some(row(k, rev(k), off(k)))

  def table: Iterator[Seq[Any]] = Iterator.range(0, capacity).flatMap(rowOf)

  def digestOfKeys(keys: Iterable[Int]): Digest = Digest.of(keys.flatMap(rowOf))

  /** Live rows whose ts lies in the whole-key window [k0, k1). */
  def digestOfKeyRange(k0: Int, k1: Int): Digest = Digest.of((k0 until k1).flatMap(rowOf))

  /** Change feed over one commit, given the touched keys' prior states:
    * insert/update rows carry the new image, delete rows the old one. */
  def digestOfChanges(before: Map[Int, (Int, Long)]): Digest =
    before.foldLeft(Digest.empty) { case (d, (k, (r0, o0))) =>
      (r0 >= 0, rev(k) >= 0) match {
        case (false, true) => d + (row(k, rev(k), off(k)) :+ "insert")
        case (true, false) => d + (row(k, r0, o0) :+ "delete")
        case (true, true) if (r0, o0) != (rev(k), off(k)) => d + (row(k, rev(k), off(k)) :+ "update")
        case _ => d
      }
    }

  /** The [[Oracle.ScanAggregate]] over the live table. */
  def scanAggregate: Seq[Any] = {
    if (scanCache._1 != applied) scanCache = (applied, computeScanAggregate)
    scanCache._2
  }

  private def computeScanAggregate: Seq[Any] = {
    val acc = new Array[Long](10)
    table.foreach { r =>
      acc(0) += 1
      acc(1) += r(1).asInstanceOf[Int]
      acc(2) += r(7).asInstanceOf[Long]
      acc(3) += Oracle.crc(r(0).asInstanceOf[String])
      acc(4) += Oracle.crc(r(2).asInstanceOf[String])
      acc(5) += Oracle.crc(r(3).asInstanceOf[String])
      acc(6) += Oracle.crc(Option(r(4).asInstanceOf[String]).getOrElse("~"))
      if (r(4) != null) acc(7) += 1
      acc(8) += r(5).asInstanceOf[Timestamp].getTime
      acc(9) += Oracle.crc(r(6).asInstanceOf[String])
    }
    acc.toSeq
  }

  /** Bytes of the live rows as plain values (UTF-8 strings, 4-byte int,
    * 8-byte ts and offset): the denominator of table_mb_per_live_mb. */
  def liveBytes: Long = table.map { r =>
    Seq(0, 2, 3, 4, 6).map(i => Option(r(i)).map(_.asInstanceOf[String].getBytes(UTF_8).length.toLong)
      .getOrElse(0L)).sum + 4 + 8 + 8
  }.sum
}

object Oracle {
  /** Spark SQL for the scan read's aggregate; it touches every column. */
  val ScanAggregate: Seq[String] = Seq(
    "count(1)", "sum(turn_idx)", "sum(_offset)",
    "sum(crc32(cast(conv_id as binary)))", "sum(crc32(cast(role as binary)))",
    "sum(crc32(cast(text as binary)))", "sum(crc32(cast(coalesce(tool, '~') as binary)))",
    "count(tool)", "sum(unix_millis(ts))", "sum(crc32(cast(_topic as binary)))")

  def crc(s: String): Long = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    c.getValue
  }

  private def canon(v: Any): String = v match {
    case null => "\u0000null"
    case t: Timestamp => s"ts:${t.getTime}:${t.getNanos}"
    case n: java.lang.Number => s"n:${n.longValue}:${n.doubleValue}"
    case other => other.toString
  }

  def rowHash(row: Seq[Any]): Long = {
    val vals = row.map(canon)
    val hi = MurmurHash3.orderedHash(vals, 0x3c074a61)
    val lo = MurmurHash3.orderedHash(vals, 0x5bd1e995)
    (hi.toLong << 32) | (lo.toLong & 0xffffffffL)
  }
}
