package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.apply.CdcApply
import graft.decode.{DecodeOptions, EnvelopeDecoder}
import graft.lake.LakeTable
import graft.model.CdcSchema
import graft.streaming.CdcPipeline

/** The CDC benchmark: one workload, one seed, one JVM.
  *
  *   Main --workload catchup|live --seed N --seconds S --trace 0|1
  *        --work DIR --trace-dir DIR --launched-ms EPOCH_MS
  *
  * Prints one JSON line: end-to-end metrics (`--trace 0`) or per-layer
  * metrics (`--trace 1`). Exits 1 when an output check fails. The engine
  * is driven only through its public calls and receives only the
  * generated raw envelopes. See perfbench/README.md for the workloads. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = a.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    require(Workloads.names.contains(workload),
      s"unknown workload '$workload' (${Workloads.names.mkString(" | ")})")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = arg("work")
    val traceDir = arg("trace-dir")
    // set-up is timed from the launcher's exec of java, so JVM start and
    // heap pre-touch count
    val startMs = arg("launched-ms").toLong

    val spark = session(work, trace)
    val b = new Bench(spark, workload, seed, seconds, trace, work, traceDir, startMs)
    val result = b.run()
    println(result)
    spark.stop()
    System.err.println(f"[perfbench] stopped at ${(System.currentTimeMillis() - startMs) / 1000.0}%.1f s")
    sys.exit(if (b.correct) 0 else 1)
  }

  def session(work: String, trace: Boolean): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val conf = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.sql.GraftLakeExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    if (trace) conf.config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    val spark = conf.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}

/** Sizes and settings of the two workloads. */
object Workloads {
  val names = Seq("catchup", "live")
  val Buckets = 4
  val AutoCompact = 8 // the CdcPipeline default
  /** catchup: backlog events, batches per pass, timed passes. */
  val CatchupEvents = 80000
  val CatchupBatches = 4
  val CatchupPasses = 3
  /** First event of catch-up batch `b` of `n` events: batch b holds the
    * events i with ⌊i·CatchupBatches/n⌋ = b. */
  def batchStart(b: Int, n: Int): Int =
    ((b.toLong * n + CatchupBatches - 1) / CatchupBatches).toInt
  /** live: preloaded keys, keys the stream covers. */
  val PreloadKeys = 4000
  val StreamKeys = PreloadKeys + PreloadKeys / 10
  /** live: mean events per key chain, long enough to outlast a run. */
  val StreamMeanEvents = 8
  /** live: open-loop arrival rate, events per second; micro-batches of
    * the stream phase (one auto-compaction); events per serve commit. */
  val LiveRate = 100.0
  val StreamCommits = AutoCompact
  val ServeBatch = 100
  /** read mix: keys per lookup; keys per ts range. */
  val LookupKeys = 5
  val RangeKeys = 200
  /** Fewest timed read rounds of catchup, whatever `--seconds` says. */
  val MinSamples = 8
  /** Untimed passes and read rounds (catchup) and serve cycles (live) in
    * set-up. */
  val WarmupPasses = 2
  val WarmupReadRounds = 1
  val WarmupCycles = 1
  /** Traced runs, fixed work per phase: catchup one pass and these read
    * rounds; live these stream commits and serve cycles (with the priming
    * batch 8 commits, one auto-compaction, so both phases compact alike). */
  val TracedReadRounds = 3
  val TracedStreamCommits = 5
  val TracedCycles = 2
}

final class Bench(spark: SparkSession, workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, traceDir: String, startMs: Long) {
  import Workloads._

  private val schema = CdcSchema.transcripts
  private val gen = new Gen(seed)
  private val rnd = new java.util.SplittableRandom(seed ^ 0x5E4D1L)
  private val runId = s"$workload-$seed-${java.util.UUID.randomUUID().toString.take(8)}"
  private val tracer = new Tracer(spark.sparkContext, trace)
  private val recorder = new Recorder
  private val strict = workload != "catchup"
  private val opts =
    if (strict) DecodeOptions() else DecodeOptions(strict = false, validate = false)

  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private def sample(k: String, v: Double): Unit = samples.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer[String]()
  def correct: Boolean = failed == 0

  /** Runs one operation: counts it, records a failure if it throws or its
    * output check fails. */
  private def op(name: String)(body: => Boolean): Unit = {
    attempted += 1
    val error = try { if (body) None else Some("output mismatch") } catch {
      case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    error.foreach { e => failed += 1; if (failures.size < 20) failures += s"$name: $e" }
  }

  private def nanos = System.nanoTime()
  /** Progress on standard error, in seconds since the launch. */
  private def mark(what: String): Unit =
    System.err.println(f"[perfbench] $what at ${(System.currentTimeMillis() - startMs) / 1000.0}%.1f s")
  private def ms(t0: Long, t1: Long) = (t1 - t0) / 1e6

  // ------------------------------------------------------------ tables

  private var tableSeq = 0
  private def freshTable(): LakeTable = {
    tableSeq += 1
    val t = new LakeTable(spark, s"$work/tables/t$tableSeq")
    t.create(schema.structType, schema.keyNames, nBuckets = Buckets)
    t
  }
  private def pipeline(t: LakeTable) =
    new CdcPipeline(spark, schema, t, opts, s"bench-$workload", mergeOnRead = true,
      autoCompact = AutoCompact)

  private def dropTable(t: LakeTable): Unit = {
    val p = Paths.get(t.root)
    if (Files.exists(p)) Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }

  private val rawSchema = StructType(Seq(
    StructField("key", BinaryType), StructField("value", BinaryType),
    StructField("topic", StringType), StructField("partition", IntegerType),
    StructField("offset", LongType), StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  private def rawRow(s: Stream, i: Int): Row = {
    val k = s.keys(i)
    val off = s.baseOffset + i
    Row(gen.keyJson(k).getBytes(UTF_8), gen.valueJson(k, s.revs(i), s.ops(i)).getBytes(UTF_8),
      Gen.Topic, k % 4, off, new Timestamp(1700000000000L + off), 0)
  }

  /** Events [from, until) of `s` as a raw envelope DataFrame, and its bytes. */
  private def rawBatch(s: Stream, from: Int, until: Int): (DataFrame, Long) = {
    val rows = (from until until).map(rawRow(s, _))
    val bytes = rows.iterator.map(r => r.getAs[Array[Byte]](0).length + r.getAs[Array[Byte]](1).length).sum
    (spark.createDataFrame(rows.asJava, rawSchema), bytes.toLong)
  }

  // ------------------------------------------------------------ one batch

  /** Commits one raw batch. Untraced, this is `CdcPipeline.processBatch`.
    * Traced, the same calls run one layer at a time, each layer's output
    * persisted and counted before the next layer takes it, so each span
    * times its own layer's work (decode and apply are lazy otherwise). */
  private def commit(t: LakeTable, p: CdcPipeline, raw: DataFrame, batchId: Long,
      events: Int, rawBytes: Long): Unit =
    if (!trace) p.processBatch(raw, batchId)
    else tracer.span("batch") {
      tracer.attr("events", events); tracer.attr("raw_bytes", rawBytes.toDouble)
      val decoded = tracer.span("decode") {
        val d = EnvelopeDecoder.decodeRelational(raw, schema, opts).persist()
        tracer.attr("rows", d.count().toDouble); d
      }
      val deltas = tracer.span("apply") {
        val d = (if (strict) CdcApply.strictDeltas(decoded, schema)
          else EnvelopeDecoder.toDeltas(decoded, schema)).persist()
        tracer.attr("keys_out", d.count().toDouble); d
      }
      tracer.span("lake.merge") {
        val before = t.currentVersion.get
        val snap = t.mergeDeltas(deltas, s"bench-$workload", batchId,
          strictValidate = strict, autoCompact = AutoCompact)
        tracer.attr("version", before + 1)
        tracer.attr("auto_compacted", if (snap.version > before + 1) 1 else 0)
      }
      deltas.unpersist(); decoded.unpersist()
    }

  // ------------------------------------------------------------ reads

  private val cols = schema.structType.fieldNames.toSeq

  /** The fixed read mix against `t`, checked against `oracle`; `lastCommit`
    * is (version before, version after, touched keys' prior state) of the
    * newest data commit, the interval the change-feed read covers. */
  private def readRound(t: LakeTable, oracle: Oracle, keyCap: Int,
      lastCommit: (Int, Int, Map[Int, (Int, Long)])): Unit = {
    val keys = Seq.fill(LookupKeys)(rnd.nextInt(keyCap)).distinct
    op("lookup") {
      val t0 = nanos
      val rows = tracer.span("lake.readKeys") {
        val r = t.readKeys(keys.map(k => Seq(gen.convId(k), gen.turnIdx(k))))
          .select(cols.map(col): _*).collect()
        tracer.attr("rows_out", r.length); r
      }
      sample("lookup", ms(t0, nanos))
      Digest.of(rows.map(_.toSeq)) == oracle.digestOfKeys(keys)
    }
    val k0 = rnd.nextInt(keyCap - RangeKeys)
    op("range_sql") {
      val t0 = nanos
      val rows = tracer.span("sql.range") {
        spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW bench_v USING `graft-lake` " +
          s"OPTIONS (path '${t.root}', view 'realtime')")
        val r = spark.sql(s"SELECT ${cols.mkString(", ")} FROM bench_v " +
          s"WHERE ts >= timestamp_micros(${gen.tsOfKey(k0)}L) " +
          s"AND ts < timestamp_micros(${gen.tsOfKey(k0 + RangeKeys)}L)").collect()
        tracer.attr("rows_out", r.length); r
      }
      sample("range_sql", ms(t0, nanos))
      Digest.of(rows.map(_.toSeq)) == oracle.digestOfKeyRange(k0, k0 + RangeKeys)
    }
    op("scan") {
      val t0 = nanos
      val agg = tracer.span("lake.read") {
        val r = t.read().selectExpr(Oracle.ScanAggregate: _*).collect().head.toSeq
        tracer.attr("rows_out", r.head.asInstanceOf[Long].toDouble); r
      }
      sample("scan", ms(t0, nanos))
      Digest.of(Seq(agg)) == Digest.of(Seq(oracle.scanAggregate))
    }
    val (vFrom, vTo, before) = lastCommit
    op("cdf") {
      val t0 = nanos
      val rows = tracer.span("lake.changes") {
        val r = t.changes(vFrom, Some(vTo)).select((cols :+ "_change_type").map(col): _*).collect()
        tracer.attr("rows_out", r.length); r
      }
      sample("cdf", ms(t0, nanos))
      Digest.of(rows.map(_.toSeq)) == oracle.digestOfChanges(before)
    }
  }

  /** Read rounds until `forSec` have passed and `MinSamples` rounds ran
    * (or exactly `rounds` rounds when given). */
  private def readPhase(t: LakeTable, oracle: Oracle, keyCap: Int,
      lastCommit: (Int, Int, Map[Int, (Int, Long)]), forSec: Double, rounds: Option[Int]): Unit = {
    val t0 = nanos
    var n = 0
    def more = rounds.map(n < _).getOrElse(n < MinSamples || ms(t0, nanos) < forSec * 1000)
    while (more) { readRound(t, oracle, keyCap, lastCommit); n += 1 }
  }

  /** Full-table output check: every column of every row. */
  private def checkTable(t: LakeTable, oracle: Oracle): Unit = op("final_table") {
    val got = Digest.of(t.read().select(cols.map(col): _*).collect().map(_.toSeq))
    got == Digest.of(oracle.table.toSeq)
  }

  // ------------------------------------------------------------ run

  private val setupParts = mutable.LinkedHashMap[String, Double]()
  private var setupSec = 0.0
  /** Counters of the traced phase for per-layer metrics. */
  private val phaseBatchEvents = mutable.ArrayBuffer[Double]()
  private var phaseFirstSpan = 0
  private var finalTable: LakeTable = _
  private var finalOracle: Oracle = _

  def run(): String = {
    val tSession = System.currentTimeMillis()
    setupParts("session_s") = (tSession - startMs) / 1000.0
    val (e2e, layers, overhead) = workload match {
      case "catchup" => catchup()
      case "live" => live()
    }
    mark("timed work done")
    if (finalTable != null) checkTable(finalTable, finalOracle)
    mark("output checked")
    val metrics: Seq[(String, Double, String)] =
      if (trace) layers else e2e
    if (trace) writeTrace(layers, overhead)
    System.err.println(s"[perfbench] $workload seed=$seed setup=${setupParts.map { case (k, v) => f"$k=$v%.3f" }.mkString(" ")}")
    samples.foreach { case (k, v) =>
      val tl = Stats.tail(v.toSeq)
      System.err.println(f"[perfbench] $k%-10s n=${v.size}%3d p50=${Stats.median(v.toSeq)}%9.2f ms " +
        f"tail=p${tl.percentile}%.0f ${tl.value}%9.2f ms [${v.map(x => f"$x%.0f").mkString(" ")}]")
    }
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    val m = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${m.mkString(", ")}}}"""
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString

  /** Times one named part of set-up, for standard error. */
  private def part[T](name: String)(body: => T): T = {
    val t0 = nanos
    val r = body
    setupParts(name) = ms(t0, nanos) / 1000
    r
  }

  /** Ends set-up: `setup_s` is the wall from the launch of `java` to here,
    * just before the first timed operation. */
  private def setupDone(): Unit = {
    setupSec = (System.currentTimeMillis() - startMs) / 1000.0
    samples.clear()
    mark("set-up done")
  }

  /** Every end-to-end metric, from the samples taken so far. Reads report
    * no tail: on live their slowest samples all come from the one serve
    * cycle before an auto-compaction, so a run's read tail is one cycle's
    * wall and moves with any stall of the host in it. Standard error still
    * prints every tail. */
  private def endToEnd(eventsPerSec: Double): Seq[(String, Double, String)] = {
    def p50(k: String) = Stats.median(samples(k).toSeq)
    def tail(k: String) = Stats.tail(samples(k).toSeq).value
    Seq(("setup_s", setupSec, "s"), ("events_per_s", eventsPerSec, "1/s")) ++
      Seq("freshness", "commit").flatMap { k =>
        Seq((s"${k}_p50_ms", p50(k), "ms"), (s"${k}_tail_ms", tail(k), "ms"))
      } ++ Seq("lookup", "range_sql", "scan", "cdf").map(k => (s"${k}_p50_ms", p50(k), "ms")) :+
      (("ok_share", (attempted - failed).toDouble / math.max(1, attempted), "share"))
  }

  /** Warm-up check: if the first timed sample of `key` lies above every
    * later one (leaving out the indices in `unlike`, samples of a costlier
    * kind), it still carried warm-up cost, and its excess over the later
    * median counts as set-up. With `drop` the sample goes, and the first
    * `per` samples of each `within` key it contains; without, the excess
    * comes off it and off the first sample of each `within` key, so every
    * run keeps the same samples. */
  private def warmupCheck(key: String, within: Seq[String] = Nil, per: Int = 0,
      unlike: Set[Int] = Set.empty, drop: Boolean = true): Unit =
    samples.get(key).foreach { v =>
      if (v.size > 2) {
        val rest = v.indices.tail.filterNot(unlike).map(v(_))
        val excess = v.head - Stats.median(rest)
        System.err.println(f"[perfbench] warm-up check $key: first=${v.head}%.1f ms, later " +
          f"p50=${Stats.median(rest)}%.1f max=${rest.max}%.1f")
        if (v.head > rest.max) {
          if (drop) {
            v.remove(0)
            within.foreach(k => samples(k).remove(0, per))
          } else {
            v(0) -= excess
            within.foreach(k => samples(k)(0) -= excess)
          }
          setupParts("warmup_excess_s") = excess / 1000
          setupSec += excess / 1000
        }
      }
    }

  // ------------------------------------------------------------ catchup

  /** Closed loop, one driver: the whole backlog in `CatchupBatches` large
    * non-strict batches into a fresh table, then `compact()`; passes
    * repeat. Then the read mix on the last pass's table. */
  private def catchup() = {
    val nKeys = (CatchupEvents / (Gen.MeanEvents * (1.0 + (Gen.HotFactor - 1.0) / Gen.HotEvery))).toInt
    var stream: Stream = null
    val batchBytes = new Array[Long](CatchupBatches)
    val g = gen
    val oracle = new Oracle(gen, nKeys)
    part("generate_s") {
      stream = gen.stream(0, nKeys, existing = 0, baseOffset = 0L, salt = 1L)
      oracle.apply(stream, 0, stream.size)
    }
    val backlogDir = part("backlog_s") {
      val s = stream
      val n = s.size
      val batchOf = (i: Int) => (i.toLong * CatchupBatches / n).toInt
      val dir = s"$work/backlog"
      val rdd = spark.sparkContext.parallelize(0 until n, 8).map { i =>
        val k = s.keys(i)
        Row(g.keyJson(k).getBytes(UTF_8), g.valueJson(k, s.revs(i), s.ops(i)).getBytes(UTF_8),
          Gen.Topic, k % 4, i.toLong, new Timestamp(1700000000000L + i), 0, batchOf(i))
      }
      spark.createDataFrame(rdd, rawSchema.add("batch", IntegerType))
        .write.partitionBy("batch").parquet(dir)
      dir
    }
    part("warmup_s") {
      // byte counts for decode.mb_in, then untimed passes and read rounds
      // (one pass leaves the next still well above the later ones); a pass
      // comes last, right before the timed passes
      spark.read.parquet(backlogDir).groupBy("batch")
        .agg(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.expr("octet_length(key) + octet_length(value)")))
        .collect().foreach(r => batchBytes(r.getInt(0)) = r.getLong(1))
      val t = pass(backlogDir, batchBytes, stream.size)
      readPhase(t, oracle, nKeys, lastDataCommit(t, stream, stream.size), 0, Some(WarmupReadRounds))
      dropTable(t)
      for (_ <- 1 until WarmupPasses) dropTable(pass(backlogDir, batchBytes, stream.size))
    }
    setupDone()
    val n = stream.size
    val rawBytes = batchBytes

    var last: LakeTable = null
    finalOracle = oracle
    if (!trace) {
      // CatchupPasses passes, then the read mix for the rest of the run
      val t0 = nanos
      for (_ <- 1 to CatchupPasses) {
        if (last != null) dropTable(last)
        val p0 = nanos
        last = pass(backlogDir, rawBytes, n)
        sample("pass", ms(p0, nanos))
      }
      mark("passes done")
      warmupCheck("pass", Seq("commit", "freshness"), CatchupBatches)
      val rate = Stats.median(samples("pass").map(w => n / (w / 1000)).toSeq)
      // the first read round on a freshly ingested table runs well above
      // the later ones even with the read path warm; it is left untimed
      val lastCommit = lastDataCommit(last, stream, n)
      readPhase(last, oracle, nKeys, lastCommit, 0, Some(1))
      samples --= Seq("lookup", "range_sql", "scan", "cdf")
      readPhase(last, oracle, nKeys, lastCommit, seconds - ms(t0, nanos) / 1000, None)
      finalTable = last
      (endToEnd(rate), Nil, Nil)
    } else {
      // fixed work per phase: one pass and TracedReadRounds read rounds,
      // first untraced then traced; the difference is the tracing overhead
      val phase = (on: Boolean) => {
        samples.clear()
        if (last != null) dropTable(last)
        if (on) startPhase()
        val p0 = nanos
        last = pass(backlogDir, rawBytes, n)
        val rate = n / (ms(p0, nanos) / 1000)
        readPhase(last, oracle, nKeys, lastDataCommit(last, stream, n), 0, Some(TracedReadRounds))
        endToEnd(rate)
      }
      val plain = phase(false)
      val traced = phase(true)
      finalTable = last
      (Nil, perLayer(last, oracle), overheadOf(plain, traced))
    }
  }

  /** One catch-up pass into a fresh table; records per-batch commit and
    * freshness (the backlog is all there when the pass starts). */
  private def pass(dir: String, batchBytes: Array[Long], n: Int): LakeTable = {
    val t = freshTable()
    val p = pipeline(t)
    val t0 = nanos
    for (b <- 0 until CatchupBatches) {
      val raw = spark.read.schema(rawSchema).parquet(s"$dir/batch=$b")
      val c0 = nanos
      val evs = batchStart(b + 1, n) - batchStart(b, n)
      op("commit") { commit(t, p, raw, b, evs, batchBytes(b)); true }
      if (trace) phaseBatchEvents += evs
      sample("commit", ms(c0, nanos))
      sample("freshness", ms(t0, nanos))
    }
    op("compact") {
      tracer.span("compact") { tracer.span("lake.compact") { tracer.attr("version", t.compact().version) } }
      true
    }
    t
  }

  /** (version before, version after, touched keys' prior state) of the last
    * batch of a catch-up pass. */
  private def lastDataCommit(t: LakeTable, stream: Stream, n: Int) = {
    val lastMerge = t.history().filter(_._2.exists(l => l.has("operation") &&
      l.get("operation").asText() == "mergeDeltas")).last._1
    val from = batchStart(CatchupBatches - 1, n)
    val o = new Oracle(gen, stream.keys.max + 1)
    o.apply(stream, 0, from)
    (lastMerge - 1, lastMerge, o.apply(stream, from, n))
  }

  // ------------------------------------------------------------ live

  /** One strict, auto-compacting merge-on-read table, preloaded in set-up,
    * in two phases. Stream: events arrive on a fixed schedule at
    * `LiveRate` (open loop) and micro-batches run back to back, each
    * taking everything that has arrived, with no reads; this gives
    * freshness and commit. Serve: one small commit of `ServeBatch` events
    * alternates with the read mix, so reads see the delta files the writes
    * leave; this gives the reads and the small-commit rate. */
  private def live() = {
    var stream: Stream = null
    val oracle = new Oracle(gen, StreamKeys)
    var next = 0
    var batchId = 0L
    var lastCommit: (Int, Int, Map[Int, (Int, Long)]) = null

    var autoCompacted = false // whether the last commit auto-compacted
    /** Commits events [next, until); returns its wall and end time. */
    def commitUpTo(t: LakeTable, p: CdcPipeline, until: Int): (Double, Long) = {
      require(until <= stream.size, "live: stream exhausted; raise StreamMeanEvents")
      val (raw, bytes) = rawBatch(stream, next, until)
      val v0 = t.currentVersion.get
      batchId += 1
      val c0 = nanos
      op("commit") { commit(t, p, raw, batchId, until - next, bytes); true }
      val c1 = nanos
      lastCommit = (v0, t.currentVersion.get, oracle.apply(stream, next, until))
      autoCompacted = lastCommit._2 > v0 + 1 // a compact commit followed the merge
      next = until
      (ms(c0, c1), c1)
    }

    // the feed: event i arrives at feedT0 + (i - feedFrom) / LiveRate
    var feedFrom = 0
    var feedT0 = 0L
    def arrival(i: Int) = feedT0 + ((i - feedFrom) / LiveRate * 1e9).toLong
    /** Starts the feed with one untimed batch of a second's events; the
      * events after it arrive from that batch's start on, so the first
      * timed batch is as large as the later ones. */
    def startFeed(t: LakeTable, p: CdcPipeline): Unit = {
      feedFrom = next + LiveRate.toInt
      feedT0 = nanos
      commitUpTo(t, p, feedFrom)
    }

    val compacting = mutable.Set[Int]() // stream commits that auto-compacted
    /** Stream phase: `commits` back-to-back micro-batches; a batch's
      * freshness runs from its oldest event's arrival to its commit's
      * return. Notes which of its commits auto-compacted. */
    def streamPhase(t: LakeTable, p: CdcPipeline, commits: Int): Unit = {
      var n = 0
      while (n < commits) {
        val now = nanos
        val avail = feedFrom + ((now - feedT0) / 1e9 * LiveRate).toInt + 1
        if (avail <= next) Thread.sleep(math.max(1L, (arrival(next) - now) / 1000000))
        else {
          val (events, oldest) = (avail - next, arrival(next))
          val (wall, end) = commitUpTo(t, p, avail)
          sample("commit", wall); sample("freshness", ms(oldest, end))
          if (autoCompacted) compacting += n
          if (trace) phaseBatchEvents += events
          n += 1
        }
      }
    }

    /** Serve phase: small commit, read mix; exactly `cycles`, or whole
      * auto-compaction periods until `forSec` passed, so every run's reads
      * meet each delta-file count equally often. */
    def servePhase(t: LakeTable, p: CdcPipeline, forSec: Double, cycles: Option[Int]): Unit = {
      val t0 = nanos
      var n = 0
      def more = cycles.map(n < _).getOrElse(n == 0 || n % AutoCompact != 0 || ms(t0, nanos) < forSec * 1000)
      while (more) {
        sample("serve_commit", commitUpTo(t, p, next + ServeBatch)._1)
        readRound(t, oracle, StreamKeys, lastCommit)
        n += 1
      }
    }
    def serveRate = ServeBatch / (Stats.median(samples("serve_commit").toSeq) / 1000)

    part("generate_s") {
      stream = gen.stream(0, StreamKeys, existing = PreloadKeys, baseOffset = PreloadKeys.toLong,
        salt = 2L, meanEvents = StreamMeanEvents)
    }
    val (t, p) = part("preload_s") {
      val t = freshTable(); val p = pipeline(t)
      val pre = gen.preload(PreloadKeys, 0L)
      p.processBatch(rawBatch(pre, 0, pre.size)._1, 0L)
      oracle.apply(pre, 0, pre.size)
      (t, p)
    }
    part("warmup_s") {
      // untimed serve cycles and a compaction, then the feed starts: the
      // first stream commit meets the fewest delta files of any
      for (_ <- 1 to WarmupCycles) {
        commitUpTo(t, p, next + ServeBatch)
        readRound(t, oracle, StreamKeys, lastCommit)
      }
      t.compact()
      startFeed(t, p)
    }
    setupDone()

    finalTable = t; finalOracle = oracle
    if (!trace) {
      val t0 = nanos
      streamPhase(t, p, StreamCommits)
      mark("stream phase done")
      warmupCheck("commit", Seq("freshness"), unlike = compacting.toSet, drop = false)
      servePhase(t, p, seconds - ms(t0, nanos) / 1000, None)
      (endToEnd(serveRate), Nil, Nil)
    } else {
      val phase = (on: Boolean) => {
        samples.clear()
        if (on) startPhase()
        startFeed(t, p)
        streamPhase(t, p, TracedStreamCommits)
        servePhase(t, p, 0, Some(TracedCycles))
        endToEnd(serveRate)
      }
      val plain = phase(false)
      val traced = phase(true)
      (Nil, perLayer(t, oracle), overheadOf(plain, traced))
    }
  }

  // ------------------------------------------------------------ traced phase

  private var gcAtPhase = 0L
  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Starts the traced phase: from here spans are kept for per-layer metrics. */
  private def startPhase(): Int = {
    spark.sparkContext.addSparkListener(recorder)
    phaseFirstSpan = tracer.spans.size
    phaseBatchEvents.clear()
    CountingFs.opened.clear()
    gcAtPhase = gcMs
    phaseFirstSpan
  }

  private def overheadOf(plain: Seq[(String, Double, String)],
      traced: Seq[(String, Double, String)]): Seq[(String, Double, Double)] =
    plain.zip(traced).collect { case ((k, a, _), (_, b, _)) if k != "setup_s" && k != "ok_share" =>
      (k, a, b)
    }

  /** driver.gap_s split by the name of the top-level span it falls in. */
  private var gapByTopSpan = Map.empty[String, Double]

  private val ReadSpans = Set("lake.readKeys", "sql.range", "lake.read", "lake.changes")

  private def perLayer(t: LakeTable, oracle: Oracle): Seq[(String, Double, String)] = {
    val gcSec = (gcMs - gcAtPhase) / 1000.0
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(recorder)
    val spans = tracer.spans.drop(phaseFirstSpan).toSeq
    def named(n: String) = spans.filter(_.name == n)
    def ids(ss: Seq[Span]) = ss.map(_.id).toSet
    def sumDur(n: String) = named(n).map(_.durMs).sum / 1000
    def attrSum(n: String, a: String) = named(n).flatMap(_.attrs.get(a)).sum
    val lineage = t.history().toMap
    def lin(v: Int, k: String): Double =
      lineage.get(v).flatten.flatMap(l => Option(l.get(k))).map(_.asDouble).getOrElse(0.0)

    val eventsIn = attrSum("batch", "events")
    val keysOut = attrSum("apply", "keys_out")
    val merges = named("lake.merge")
    val mergeVer = (m: Span) => m.attrs("version").toInt
    val auto = (m: Span) => m.attrs("auto_compacted") == 1
    val publishMs = {
      val plain = merges.filterNot(auto).map(m => m.durMs - lin(mergeVer(m), "durationMs"))
      if (plain.isEmpty) 0.0 else Stats.median(plain)
    }
    val explicitCompacts = named("lake.compact")
    val compactSec = explicitCompacts.map(_.durMs).sum / 1000 + merges.filter(auto)
      .map(m => m.durMs - lin(mergeVer(m), "durationMs") - publishMs).sum / 1000
    val compactions = explicitCompacts.size + merges.count(auto)
    val filesAdded = merges.map { m =>
      lin(mergeVer(m), "newDeltaFiles") + (if (auto(m)) lin(mergeVer(m) + 1, "newFiles") else 0)
    }.sum + explicitCompacts.map(c => lin(c.attrs("version").toInt, "newFiles")).sum
    // a merge's own files are written before it publishes; an automatic
    // compaction inside the same call writes after
    val (written, rewritten) = merges.foldLeft((0L, 0L)) { case ((w, r), m) =>
      val pub = t.snapshot(mergeVer(m)).committedAtMs
      val ts = recorder.tasksOf(Set(m.id))
      (w + ts.filter(_.finishMs < pub).map(_.outputBytes).sum,
        r + ts.filter(_.finishMs >= pub).map(_.outputBytes).sum)
    }
    val rewrittenAll = rewritten + recorder.tasksOf(ids(explicitCompacts)).map(_.outputBytes).sum

    val top = spans.filter(_.parent < 0)
    val jobs = recorder.jobsOf(ids(spans))
    val gaps = top.map { s =>
      val iv = jobs.map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L; var end = s.startMs
      iv.foreach { case (a, b) => if (b > end) { covered += b - math.max(a, end); end = b } }
      s.name -> (s.endMs - s.startMs - covered) / 1000.0
    }
    gapByTopSpan = gaps.groupMapReduce(_._1)(_._2)(_ + _)
    val gapSec = gaps.map(_._2).sum

    val reads = spans.filter(s => ReadSpans(s.name))
    val readTasks = recorder.tasksOf(ids(reads))
    val rowsOut = reads.flatMap(_.attrs.get("rows_out")).sum
    val planMs = named("sql.range").flatMap { s =>
      val js = jobs.filter(_.span == s.id)
      if (js.isEmpty) None else Some((js.map(_.startMs).min - s.startMs).toDouble)
    }
    val snap = t.currentSnapshot.get
    val tableBytes = snap.files.map(f => Files.size(Paths.get(t.root, f.path))).sum
    val mb = 1e6
    Seq(
      ("decode.busy_s", sumDur("decode"), "s"),
      ("decode.events_in", eventsIn, "count"),
      ("decode.mb_in", attrSum("batch", "raw_bytes") / mb, "MB"),
      ("apply.busy_s", sumDur("apply"), "s"),
      ("apply.keys_out", keysOut, "count"),
      ("apply.keys_per_event", keysOut / math.max(1.0, eventsIn), "ratio"),
      ("apply.shuffle_mb", recorder.tasksOf(ids(named("apply"))).map(_.shuffleWriteBytes).sum / mb, "MB"),
      ("lake.write_s", merges.map(m => lin(mergeVer(m), "durationMs")).sum / 1000, "s"),
      ("lake.files_added", filesAdded, "count"),
      ("lake.mb_written", written / mb, "MB"),
      ("driver.gap_s", gapSec, "s"),
      ("driver.jobs", jobs.size.toDouble, "count"),
      ("lake.publish_ms", publishMs, "ms"),
      ("lake.compact_s", compactSec, "s"),
      ("lake.compactions", compactions.toDouble, "count"),
      ("lake.mb_rewritten", rewrittenAll / mb, "MB"),
      ("lake.files_read", reads.map(s => CountingFs.filesOf(s.id)).sum.toDouble / math.max(1, reads.size), "count"),
      ("lake.read_mb", readTasks.map(_.inputBytes).sum / mb / math.max(1, reads.size), "MB"),
      ("lake.rows_read_per_row_out", readTasks.map(_.inputRecords).sum / math.max(1.0, rowsOut), "ratio"),
      ("lake.delta_files_end", snap.files.count(_.delta).toDouble, "count"),
      ("lake.table_mb_per_live_mb", tableBytes.toDouble / math.max(1L, oracle.liveBytes), "ratio"),
      ("sql.plan_ms", if (planMs.isEmpty) 0.0 else Stats.median(planMs), "ms"),
      ("streaming.batch_events_p50", if (phaseBatchEvents.isEmpty) 0.0 else Stats.median(phaseBatchEvents.toSeq), "count"),
      ("streaming.backlog_max_events", if (phaseBatchEvents.isEmpty) 0.0 else phaseBatchEvents.max, "count"),
      ("spark.tasks", recorder.tasks.asScala.count(tk => tk.span >= phaseFirstSpan).toDouble, "count"),
      ("jvm.gc_s", gcSec, "s"))
  }

  /** Writes every span of the traced phase, per-layer self times, the
    * per-layer metrics and the tracing overhead as one JSON file. */
  private def writeTrace(layers: Seq[(String, Double, String)],
      overhead: Seq[(String, Double, Double)]): Unit = {
    val spans = tracer.spans.drop(phaseFirstSpan)
    def q(s: String) = "\"" + s + "\""
    val spanJson = spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}: ${num(v)}" }.mkString(", ")
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${q(s.name)}, "start_ms": ${s.startMs}, """ +
        s""""dur_ms": ${num(s.durMs)}, "self_ms": ${num(tracer.selfMs(s))}, "attrs": {$attrs}}"""
    }
    val self = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""${q(n)}: {"count": ${ss.size}, "total_ms": ${num(ss.map(_.durMs).sum)}, """ +
        s""""self_ms": ${num(ss.map(tracer.selfMs).sum)}}"""
    }
    val oh = overhead.map { case (k, a, b) =>
      s"""${q(k)}: {"untraced": ${num(a)}, "traced": ${num(b)}, "overhead_pct": ${num(100 * (b - a) / a)}}"""
    }
    val gaps = gapByTopSpan.toSeq.sorted.map { case (k, v) => s"${q(k)}: ${num(v)}" }
    val lj = layers.map { case (k, v, u) => s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }
    val dir = Paths.get(traceDir)
    Files.createDirectories(dir)
    val f = dir.resolve(s"$workload-seed$seed-$runId.json")
    Files.write(f, (s"""{"run_id": ${q(runId)}, "workload": ${q(workload)}, "seed": $seed,\n""" +
      s""""self_time_by_layer": {${self.mkString(",\n  ")}},\n""" +
      s""""per_layer": {${lj.mkString(",\n  ")}},\n""" +
      s""""driver_gap_s_by_top_span": {${gaps.mkString(", ")}},\n""" +
      s""""tracing_overhead": {${oh.mkString(",\n  ")}},\n""" +
      s""""spans": [\n${spanJson.mkString(",\n")}\n]}\n""").getBytes(UTF_8))
    System.err.println(s"[perfbench] trace written to $f")
    val selfSec = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      f"$n=${ss.map(tracer.selfMs).sum / 1000}%.2f" }
    System.err.println(s"[perfbench] self seconds by span: ${selfSec.mkString(" ")}")
    System.err.println(s"[perfbench] driver gap seconds by top span: " +
      gapByTopSpan.toSeq.sorted.map { case (k, v) => f"$k=$v%.2f" }.mkString(" "))
    overhead.foreach { case (k, a, b) =>
      System.err.println(f"[perfbench] tracing overhead $k%-18s untraced=$a%10.2f traced=$b%10.2f (${100 * (b - a) / a}%+.1f%%)")
    }
  }
}
