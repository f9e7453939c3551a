package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own parts: generator, oracle and tail statistic. */
class BenchPartsSpec extends AnyFunSuite {

  private def envelopes(g: Gen, s: Stream) =
    (0 until s.size).map(i => (g.keyJson(s.keys(i)), g.valueJson(s.keys(i), s.revs(i), s.ops(i))))

  test("generator: same seed gives the same envelopes, another seed different ones") {
    val a = new Gen(7).stream(0, 3000, existing = 0, baseOffset = 0L, salt = 1L)
    val b = new Gen(7).stream(0, 3000, existing = 0, baseOffset = 0L, salt = 1L)
    val c = new Gen(8).stream(0, 3000, existing = 0, baseOffset = 0L, salt = 1L)
    assert(envelopes(new Gen(7), a) == envelopes(new Gen(7), b))
    assert(envelopes(new Gen(7), a) != envelopes(new Gen(8), c))
  }

  test("generator: chains are ordered, chained and spread across batch boundaries") {
    val g = new Gen(3)
    val s = g.stream(0, 4000, existing = 1000, baseOffset = 100L, salt = 2L)
    val batches = 4
    val batchOf = (i: Int) => i.toLong * batches / s.size
    val byKey = (0 until s.size).groupBy(s.keys(_))
    byKey.foreach { case (k, idx) =>
      val revs = idx.map(s.revs(_))
      val first = if (k < 1000) 1 else 0
      assert(revs == (first until first + idx.size), s"key $k revisions $revs")
      assert(idx.init.forall(i => s.ops(i) != Gen.D), s"key $k deletes mid-chain")
      assert(s.ops(idx.head) == (if (k < 1000) Gen.U else Gen.C) || s.ops(idx.head) == Gen.D)
      // each before-image is the previous after-image
      idx.filter(i => s.ops(i) != Gen.C).foreach { i =>
        val before = g.valueJson(k, s.revs(i), s.ops(i)).split("\"after\":")(0)
        val img = g.image(k, s.revs(i) - 1)
        assert(before.contains(img.text) && before.contains(s"\"ts\":${img.tsMicros}"))
      }
    }
    val multi = byKey.values.filter(_.size > 1)
    val crossing = multi.count(idx => idx.map(batchOf).distinct.size > 1)
    assert(crossing > multi.size / 2, s"$crossing of ${multi.size} multi-event chains cross a batch")
    val hot = byKey(0)
    assert(hot.map(batchOf).distinct.size == batches, "the hot key's chain spans every batch")
  }

  test("oracle: digest is order-independent and rejects one corrupted cell") {
    val g = new Gen(11)
    val s = g.stream(0, 500, existing = 0, baseOffset = 0L, salt = 1L)
    val o = new Oracle(g, 500)
    o.apply(s, 0, s.size)
    val rows = o.table.toIndexedSeq
    assert(rows.size > 400 && rows.size < 500, "some, not most, chains end in a delete")
    val want = Digest.of(rows)
    assert(Digest.of(scala.util.Random.shuffle(rows)) == want)
    for (col <- rows.head.indices) {
      val bad = rows.updated(17, rows(17).updated(col, rows(17)(col) match {
        case t: java.sql.Timestamp => new java.sql.Timestamp(t.getTime + 1)
        case n: Int => n + 1
        case n: Long => n + 1
        case null => "x"
        case str: String => str + "x"
      }))
      assert(Digest.of(bad) != want, s"corrupting column $col went unnoticed")
    }
    assert(Digest.of(rows.tail) != want)
    assert(Digest.of(rows :+ rows.head) != want)
  }

  test("oracle: change feed of one commit labels insert, update and delete") {
    val g = new Gen(5)
    val pre = g.preload(100, 0L)
    val o = new Oracle(g, 120)
    o.apply(pre, 0, pre.size)
    val s = new Stream(Array(1, 2, 110, 111), Array(1, 1, 0, 0), Array(Gen.U, Gen.D, Gen.C, Gen.C), 100L)
    val before = o.apply(s, 0, s.size)
    val want = Digest.of(Seq(
      o.row(1, 1, 100L) :+ "update", o.row(2, 0, 2L) :+ "delete",
      o.row(110, 0, 102L) :+ "insert", o.row(111, 0, 103L) :+ "insert"))
    assert(o.digestOfChanges(before) == want)
  }

  test("catch-up batch boundaries match the backlog's batch column") {
    for (n <- Seq(1, 7, 60000, 60001, 60002, 60003)) {
      val b = Workloads.CatchupBatches
      val batchOf = (i: Int) => (i.toLong * b / n).toInt
      for (k <- 0 until b) {
        val idx = (0 until n).filter(batchOf(_) == k)
        if (idx.nonEmpty) assert(idx.head == Workloads.batchStart(k, n), s"n=$n batch $k")
      }
      assert(Workloads.batchStart(b, n) == n)
    }
  }

  test("tail: the sample with exactly ten above it, its percentile and count") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.tail(xs) == Tail(90.0, 90.0, 100))
    assert(Stats.tail((1 to 25).map(_.toDouble)) == Tail(15.0, 60.0, 25))
    assert(Stats.tail((1 to 21).map(_.toDouble)) == Tail(11.0, 100.0 * 11 / 21, 21))
    // up to 20 samples that rank would sit at or below the median: p90
    assert(Stats.tail((1 to 20).map(_.toDouble)) == Tail(18.0, 90.0, 20))
    assert(Stats.tail((1 to 10).map(_.toDouble).reverse) == Tail(9.0, 90.0, 10))
    assert(Stats.tail(Seq(3.0, 9.0, 1.0)) == Tail(9.0, 100.0, 3))
    assert(Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5)
  }
}
