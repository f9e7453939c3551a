package perfbench

import java.util.SplittableRandom

/** One row image of a transcripts key at a given revision. */
final case class Img(role: String, text: String, tool: String, tsMicros: Long)

/** A change stream in offset order, stored column-wise: event `i` has
  * offset `baseOffset + i` and moves key `keys(i)` to revision `revs(i)`
  * with operation `ops(i)` ('c', 'u' or 'd'). A 'u' or 'd' at revision r
  * carries the revision r-1 image as its before-image, so every chain is
  * strict-valid whatever contiguous batches the stream is cut into. */
final class Stream(val keys: Array[Int], val revs: Array[Int], val ops: Array[Byte],
    val baseOffset: Long) extends Serializable {
  def size: Int = keys.length
}

/** Seeded generator of Debezium MySQL envelopes for the transcripts table
  * (`CdcSchema.transcripts`). Every value is a pure function of
  * (seed, key, revision), so any process re-derives the same envelopes,
  * and the expected table state follows from the stream alone.
  *
  * Keys are numbered; key k is (conv_id = conv-⌊k/20⌋, turn_idx = k mod 20).
  * Skew follows BenchGen: one key in `hotEvery` gets `hotFactor`× the mean
  * number of events. Unlike BenchGen, each key's chain is spread over the
  * whole offset range, so chains cross every batch boundary. */
final class Gen(val seed: Long) extends Serializable {
  import Gen._

  private def mix(a: Long, b: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def convId(k: Int): String = f"conv-${k / TurnsPerConv}%08d"
  def turnIdx(k: Int): Int = k % TurnsPerConv

  /** ts of key k at any revision lies in [tsOfKey(k), tsOfKey(k + 1)). */
  def tsOfKey(k: Int): Long = TsBase + k.toLong * 1000000L

  def image(k: Int, rev: Int): Img = {
    val h = mix(k, rev)
    val role = Roles(((h >>> 8) & 0x3fffffff).toInt % 3)
    val nWords = 6 + ((h >>> 40) & 15).toInt
    val sb = new StringBuilder(nWords * 8 + 48)
    sb.append("turn ").append(turnIdx(k)).append(" of ").append(convId(k))
      .append(" rev ").append(rev)
    var w = 0
    var r = h
    while (w < nWords) {
      r = r * 6364136223846793005L + 1442695040888963407L
      sb.append(' ').append(Words(((r >>> 33) % Words.length).toInt))
      w += 1
    }
    val tool = if (role == "tool") s"tool-${((k + rev) & 7)}" else null
    // sub-millisecond digits exercise the decoder's micros → millis truncation
    Img(role, sb.toString, tool, tsOfKey(k) + rev * 1000L + (h & 0x3ff) % 1000)
  }

  private def rowJson(k: Int, img: Img): String = {
    val tool = if (img.tool == null) "null" else "\"" + img.tool + "\""
    s"""{"conv_id":"${convId(k)}","turn_idx":${turnIdx(k)},"role":"${img.role}",""" +
      s""""text":"${img.text}","tool":$tool,"ts":${img.tsMicros}}"""
  }

  def keyJson(k: Int): String =
    s"""{"payload":{"conv_id":"${convId(k)}","turn_idx":${turnIdx(k)}}}"""

  /** The envelope value of event (k, rev, op). */
  def valueJson(k: Int, rev: Int, op: Byte): String = {
    val before = if (op == C) "null" else rowJson(k, image(k, rev - 1))
    val after = if (op == D) "null" else rowJson(k, image(k, rev))
    s"""{"schema":$SchemaHeader,"payload":{"before":$before,"after":$after,""" +
      s""""source":{"connector":"mysql","ts_ms":0},"op":"${op.toChar}","ts_ms":0}}"""
  }

  /** Events per key for a chain: mean `mean`, hot keys `HotFactor`× that. */
  private def chainLength(k: Int, mean: Int, rnd: SplittableRandom): Int =
    if (k % HotEvery == 0) mean * HotFactor else 1 + rnd.nextInt(2 * mean - 1)

  /** A stream of chains for keys [from, until). Keys below `existing` are
    * already in the table at revision 0, so their chains continue with
    * updates; the others start with a create. One key in `DeleteEvery`
    * ends its chain with a delete. Event positions are uniform over the
    * stream, so each chain is spread across the whole offset range. */
  def stream(from: Int, until: Int, existing: Int, baseOffset: Long, salt: Long,
      meanEvents: Int = MeanEvents): Stream = {
    val rnd = new SplittableRandom(mix(salt, 0x5EED))
    val posB = Array.newBuilder[Double]
    val keyB = Array.newBuilder[Int]
    val revB = Array.newBuilder[Int]
    val opB = Array.newBuilder[Byte]
    var k = from
    while (k < until) {
      val n = chainLength(k, meanEvents, rnd)
      val pos = Array.fill(n)(rnd.nextDouble())
      java.util.Arrays.sort(pos)
      val continues = k < existing
      val deletes = rnd.nextInt(DeleteEvery) == 0 && (n > 1 || continues)
      var i = 0
      while (i < n) {
        val rev = if (continues) i + 1 else i
        posB += pos(i); keyB += k; revB += rev
        opB += (if (i == n - 1 && deletes) D else if (rev == 0) C else U)
        i += 1
      }
      k += 1
    }
    val pos = posB.result()
    val order = pos.indices.toArray.sortBy(pos(_))
    val ks = keyB.result(); val rs = revB.result(); val os = opB.result()
    new Stream(order.map(ks), order.map(rs), order.map(os), baseOffset)
  }

  /** Creates of keys [0, n) at revision 0: the preloaded image. */
  def preload(n: Int, baseOffset: Long): Stream =
    new Stream(Array.range(0, n), Array.fill(n)(0), Array.fill(n)(C), baseOffset)
}

object Gen {
  val C: Byte = 'c'
  val U: Byte = 'u'
  val D: Byte = 'd'
  val TurnsPerConv = 20
  val MeanEvents = 4
  val HotEvery = 1000
  val HotFactor = 50
  val DeleteEvery = 11
  val TsBase = 1700000000000000L
  val Topic = "cdc.transcripts"
  private val Roles = Array("user", "assistant", "tool")
  private val Words = Array("plan", "act", "observe", "result", "state", "check",
    "retry", "tool", "call", "answer", "ask", "reason", "draft", "final", "note", "step")

  /** Debezium per-message schema section (as BenchGen and the reference
    * fixtures carry it; the decoder slices it without parsing). */
  val SchemaHeader: String = {
    val cols =
      """{"field":"conv_id","type":"string","optional":false},""" +
      """{"field":"turn_idx","type":"int32","optional":false},""" +
      """{"field":"role","type":"string","optional":false},""" +
      """{"field":"text","type":"string","optional":false},""" +
      """{"field":"tool","type":"string","optional":true},""" +
      """{"field":"ts","type":"int64","optional":false,"name":"io.debezium.time.MicroTimestamp"}"""
    s"""{"type":"struct","fields":[{"field":"before","type":"struct","optional":true,"fields":[$cols]},""" +
      s"""{"field":"after","type":"struct","optional":true,"fields":[$cols]},""" +
      """{"field":"source","type":"struct"},{"field":"op","type":"string"},{"field":"ts_ms","type":"int64"}]}"""
  }
}
