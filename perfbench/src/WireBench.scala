package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeUnit}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.connector.{GraftDoc, GraftDocLog}
import graft.formats.Decoders
import graft.sources.StreamSource
import graft.sources.kafka.{KafkaWireClient, KafkaWireProtocol, MiniKafkaBroker}
import Gen.Rec

/** One run of a wire workload: produce → broker → Fetch → decode →
  * graft-doc upsert commit → snapshot verify → one point lookup, wave
  * after wave in a closed loop. Every layer is timed from outside,
  * through its public functions and Spark's public listeners; no engine
  * code is changed or instrumented.
  *
  * Usage: WireBench --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --cores <n> --work <dir> --out <result.json>
  *   [--waves <n>] [--setup-reps <n>]
  *
  * The loop runs at least the workload's wave floor (or `--waves`) and
  * goes on until `--seconds` have passed. With `--trace 1` the waves run
  * three times on fresh tables: the first half of them untraced as
  * warm-up, then all of them traced, and all of them again untraced as the
  * reference for `trace.overhead_pct`.
  *
  * Writes one JSON object to `--out`: `correct`, `attempted`, `failed`,
  * `metrics` (name → value, unit) and `context`. With `--trace 1` it also
  * writes the span file beside it and prints the per-layer table. */
object WireBench {

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cores: Int, work: String, out: String,
      waves: Option[Int], setupReps: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()),
      m("work"), m("out"), m.get("waves").map(_.toInt),
      m.get("setup-reps").map(_.toInt).getOrElse(3))
  }

  val Topic = "purchases"
  val AutoCompactCommits = 8

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workload(a.workload, a.seed)
    val t0 = System.nanoTime()
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[${a.cores}]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = new Run(spark, w, a)
    try {
      run.context("session_s") = sessionS
      run.execute()
    } catch {
      case e: Throwable =>
        run.attempted += 1
        run.failed += 1
        run.correct = false
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
    } finally {
      Files.writeString(Paths.get(a.out), run.resultJson)
      if (a.trace) Files.writeString(Paths.get(a.out.stripSuffix(".json") + ".spans.json"),
        run.spans.json)
      run.close()
      spark.stop()
    }
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def vmHwmMb: Double = {
    val f = scala.io.Source.fromFile("/proc/self/status")
    try f.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)
    finally f.close()
  }

  /** CPU time the hypervisor gave to other guests (/proc/stat `steal`,
    * all CPUs): a run that lost much of it ran on a contended box. */
  def stealS: Double = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally f.close()
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  def dirStats(path: String): (Long, Long) = {
    val files = Files.walk(Paths.get(path)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    (files.size.toLong, files.map(Files.size).sum)
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}

/** The state of one run: broker, generator, table and the samples. */
final class Run(spark: SparkSession, w: Workload, a: WireBench.Args) {
  import WireBench._

  // tracing is switched on only for the traced loop (see execute)
  var spans = new Spans(false)
  var stats: Option[SparkStats] = None
  val metrics = LinkedHashMap.empty[String, (Double, String)]
  val context = LinkedHashMap.empty[String, Any]
  var attempted, failed = 0L
  var correct = true

  private var broker: MiniKafkaBroker = _
  private var client: KafkaWireClient = _
  private val generator = Executors.newSingleThreadExecutor(r => {
    val t = new Thread(r, "perfbench-generator"); t.setDaemon(true); t
  })
  private var rep = 0
  private def table = s"${a.work}/table_$rep"
  private def checkpoint = s"${a.work}/checkpoint_$rep"

  /** The samples of one timed loop. */
  private final class Samples {
    val commitMs, snapshotMs, produceMs, lookupMs = ArrayBuffer.empty[Double]
    var drainS = 0.0
    val batchDurations = ArrayBuffer.empty[Map[String, Double]]
    var recordsCommitted, bytesCommitted = 0L
    var compactions = 0
    var tableBytesPerUserByte = 0.0
  }
  private var samples = new Samples
  private var lastWave = Seq.empty[Rec]

  private def cfg = StreamSource.StreamConfig(
    referenceName = "perfbench", brokers = broker.bootstrapServers,
    topics = Seq(Topic), initialOffset = "beginning", format = Some(w.format),
    avroSchemaJson = w.schemaJson)

  /** Start a fresh broker, generator connection, table and checkpoint,
    * and run the warm-up wave through them. */
  private def setUp(): Unit = {
    broker = new MiniKafkaBroker().start()
    broker.createTopic(Topic, Workload.Partitions)
    client = new KafkaWireClient("127.0.0.1", broker.port, "perfbench-generator")
    w.reset()
    wave(0)
  }

  private def tearDown(): Unit = {
    if (client != null) client.close()
    if (broker != null) broker.close()
    deleteTree(new File(table)); deleteTree(new File(checkpoint))
  }

  def close(): Unit = { tearDown(); generator.shutdownNow(); generator.awaitTermination(10, TimeUnit.SECONDS) }

  private def check(ok: Boolean, what: String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1; correct = false
      System.err.println(s"[perfbench] verification failed: $what")
    }
  }

  /** One closed-loop wave, ending in a point lookup so that lookups sample
    * the whole run rather than its last seconds. Wave 0 is set-up's
    * warm-up and records no samples. */
  private def wave(n: Int): Unit = spans("wave", n) {
    val recs = w.wave(n)
    lastWave = recs
    val produced = generator.submit(() => {
      val s = System.nanoTime(); w.produce(client, Topic, recs); (s, System.nanoTime())
    }).get()
    val ack = produced._2
    spans.child("produce", n, produced._1, produced._2)
    val (drainStart, q) = spans("drain", n) {
      val s = System.nanoTime()
      val q = GraftDoc.writeStream(w.project(StreamSource.read(spark, cfg)), w.keyField,
        table, checkpoint, autoCompactCommits = Some(AutoCompactCommits))
      q.awaitTermination()
      batchSpans(n, q.recentProgress)
      (s, q)
    }
    val done = System.nanoTime()
    w.commit()
    val snapStart = System.nanoTime()
    val ok = spans("snapshot_verify", n)(w.verifySnapshot(GraftDoc.snapshot(spark, table)))
    val snapEnd = System.nanoTime()
    check(ok, s"wave $n snapshot")
    val lookupTook = lookup(n)
    if (n > 0) {
      samples.lookupMs += lookupTook
      samples.commitMs += (done - ack) / 1e6
      samples.snapshotMs += (snapEnd - snapStart) / 1e6
      samples.produceMs += (produced._2 - produced._1) / 1e6
      samples.drainS += (done - drainStart) / 1e9
      samples.recordsCommitted += recs.size
      samples.bytesCommitted += recs.map(_.bytes).sum
      samples.batchDurations ++= q.recentProgress.map(p =>
        p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap)
    }
  }

  /** Micro-batch spans rebuilt from progress reports: the trigger and its
    * phases laid end to end in Spark's order of execution. `latestOffset`
    * and `getBatch` read 0 or 1 ms against a local broker, so they stay in
    * the micro-batch's self time. */
  private val PhaseOrder = Seq("walCommit" -> "wal_commit",
    "queryPlanning" -> "planning", "addBatch" -> "add_batch",
    "commitOffsets" -> "commit")
  private def batchSpans(n: Int, progress: Array[org.apache.spark.sql.streaming.StreamingQueryProgress]): Unit =
    if (spans.enabled) {
      val nsPerMs = 1000000L
      val clockOffset = System.nanoTime() - System.currentTimeMillis() * nsPerMs
      progress.foreach { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli * nsPerMs + clockOffset
        val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
        val id = spans.child("microbatch", n, start, start + d.getOrElse("triggerExecution", 0L) * nsPerMs)
        var at = start + d.getOrElse("latestOffset", 0L) * nsPerMs
        PhaseOrder.foreach { case (k, name) =>
          d.get(k).foreach { ms =>
            spans.child(s"mb.$name", n, at, at + ms * nsPerMs, id); at += ms * nsPerMs
          }
        }
      }
    }

  /** Returns the lookup's time in ms. */
  private def lookup(i: Int): Double = spans("lookup", i) {
    val key = w.lookupKey(i)
    spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, "lookup")
    val s = System.nanoTime()
    val rows = GraftDoc.snapshot(spark, table).filter(col("_id") === key).collect()
    val ms = (System.nanoTime() - s) / 1e6
    spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, null)
    check(w.verifyLookup(key, rows), s"lookup $key")
    ms
  }

  /** Bench's calibration sentinel, a `spark.range` sum (cf. Bench.speedIndex):
    * the best of three, so a lone scheduler hiccup does not register. */
  private def calibrate(): Double = {
    def once(): Double = {
      val s = System.nanoTime()
      spark.range(50000000L).selectExpr("sum(id * 3 + 1)").collect()
      (System.nanoTime() - s) / 1e9
    }
    Seq.fill(3)(once()).min
  }

  def execute(): Unit = {
    val setupS = (0 until a.setupReps).map { r =>
      if (r > 0) tearDown()
      rep = r
      val t = System.nanoTime()
      setUp()
      (System.nanoTime() - t) / 1e9
    }
    metrics("setup_s") = (median(setupS), "s")
    context("setup_reps_s") = setupS
    val probes = ArrayBuffer(calibrate())
    val minWaves = a.waves.getOrElse(w.minWaves)

    // The first waves after set-up still run JIT-cold (their commits read
    // about 100 ms slower), so the traced mode warms up with half as many
    // waves, untraced, on a table of their own before it switches tracing
    // on. Half keeps the traced mode well inside a run's time limit.
    if (a.trace) {
      context("warmup_wall_ms") = timedLoop(math.max(1, minWaves / 2))._1
      freshTable()
      spans = new Spans(true)
      stats = Some(SparkStats.install(spark))
    }

    val steal0 = stealS
    val (wallMs, t0Ms, t1Ms, gcDeltaMs) = timedLoop(minWaves)
    context("steal_s") = stealS - steal0
    probes += calibrate()

    // throughput over the summed drains, so the drains that compact count
    metrics("ingest_rps") = (samples.recordsCommitted / samples.drainS, "rec/s")
    metrics("ingest_mbps") = (samples.bytesCommitted / 1e6 / samples.drainS, "MB/s")
    metrics("commit_p50_ms") = (median(samples.commitMs.toSeq), "ms")
    metrics("snapshot_p50_ms") = (median(samples.snapshotMs.toSeq), "ms")
    metrics("lookup_p50_ms") = (median(samples.lookupMs.toSeq), "ms")
    metrics("table_bytes_per_user_byte") = (samples.tableBytesPerUserByte, "ratio")

    context("waves") = samples.commitMs.size
    context("records_committed") = samples.recordsCommitted
    context("bytes_committed") = samples.bytesCommitted
    context("calibration_probes_s") = probes.toSeq
    context("speed_index") = median(probes.toSeq)
    context("measured_wall_ms") = wallMs
    context("cores") = a.cores

    if (a.trace) {
      layers(wallMs, t0Ms, t1Ms, gcDeltaMs)
      // the reference: the same waves again, untraced, on a fresh table
      stats.foreach { st =>
        spark.sparkContext.removeSparkListener(st)
        spark.listenerManager.unregister(st)
      }
      stats = None
      val traced = spans
      spans = new Spans(false)
      freshTable()
      val untracedMs = timedLoop(minWaves)._1
      spans = traced
      context("untraced_wall_ms") = untracedMs
      metrics("trace.overhead_pct") = (100.0 * (wallMs / untracedMs - 1), "%")
    }
  }

  private def freshTable(): Unit = {
    tearDown()
    rep += 1
    setUp()
    samples = new Samples
  }

  /** Waves 1.. on the current table: at least `minWaves`, then on until
    * `--seconds` have passed. Returns the wall time in ms, the loop's
    * bounds in epoch ms and the JVM's GC time over it. */
  private def timedLoop(minWaves: Int): (Double, Long, Long, Long) = {
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    stats.foreach(_.fromMs = t0Ms)
    val deadline = t0 + (a.seconds * 1e9).toLong
    spans("workload", 0) {
      var n = 1
      var commits = GraftDocLog.liveCommitCount(table)
      while (n <= minWaves || (System.nanoTime() < deadline && n <= 4 * minWaves)) {
        wave(n)
        val c = GraftDocLog.liveCommitCount(table)
        if (c < commits) samples.compactions += 1
        commits = c
        if (n == minWaves) samples.tableBytesPerUserByte = dirStats(table)._2.toDouble / w.liveBytes
        n += 1
      }
    }
    val wallMs = (System.nanoTime() - t0) / 1e6
    val t1Ms = System.currentTimeMillis()
    stats.foreach(_.untilMs = t1Ms)
    (wallMs, t0Ms, t1Ms, gcMs - gc0)
  }

  // ------------------------------------------------------------ traced run

  /** Per-layer numbers, measured after the timed loop so they cannot
    * disturb it. Isolation probes replay the last wave's captured bytes. */
  private def layers(wallMs: Double, t0Ms: Long, t1Ms: Long, gcDeltaMs: Long): Unit = {
    def m(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
    val st = stats.get

    // sources.kafka: one Fetch loop to the log end on a fresh connection
    locally {
      val c = new KafkaWireClient("127.0.0.1", broker.port, "perfbench-fetch")
      var calls = 0L
      var bytes = 0L
      val s = System.nanoTime()
      try (0 until Workload.Partitions).foreach { p =>
        val end = c.latest(Topic, p)
        var off = 0L
        var maxBytes = 1 << 20
        while (off < end) {
          val (_, msgs) = c.fetch(Topic, p, off, maxBytes)
          calls += 1
          if (msgs.isEmpty) maxBytes *= 2
          else {
            bytes += msgs.map(x => x.key.length.toLong + x.value.length).sum
            off = msgs.last.offset + 1
          }
        }
      } finally c.close()
      m("kafka.fetch_calls", calls.toDouble, "count")
      m("kafka.fetch_mbps", bytes / 1e6 / ((System.nanoTime() - s) / 1e9), "MB/s")
    }
    locally {
      import KafkaWireProtocol._
      val msgs = lastWave.map(_.msg)
      val userBytes = lastWave.map(_.bytes).sum.toDouble
      Seq[(String, Seq[WireMessage] => Array[Byte])](
        "none" -> (g => encodeMessageSet(g)), "gzip" -> (g => gzipWrap(g)),
        "snappy" -> (g => snappyWrap(g)), "lz4" -> (g => lz4Wrap(g))
      ).foreach { case (codec, wrap) =>
        val set = msgs.grouped(100).map(wrap).toArray.flatten
        m(s"kafka.msgset_decode_mbps.$codec", userBytes / 1e6 / timePerCall(() => {
          require(decodeMessageSet(set).size == msgs.size); ()
        }), "MB/s")
      }
    }
    m("kafka.produce_ms", median(samples.produceMs.toSeq), "ms")

    // streaming: per micro-batch means from the progress reports (whole
    // milliseconds each, so a median would mostly repeat one integer)
    def phase(k: String): Double = samples.batchDurations.map(_.getOrElse(k, 0.0)).sum / samples.batchDurations.size
    m("stream.batches", samples.batchDurations.size.toDouble, "count")
    m("stream.trigger_ms", phase("triggerExecution"), "ms")
    m("stream.latest_offset_ms", phase("latestOffset"), "ms")
    m("stream.planning_ms", phase("queryPlanning"), "ms")
    m("stream.add_batch_ms", phase("addBatch"), "ms")
    m("stream.wal_commit_ms", phase("walCommit"), "ms")
    m("stream.commit_ms", phase("commitOffsets"), "ms")

    // formats + connector: the last wave as a static wire-shaped frame
    locally {
      val ts = new java.sql.Timestamp(System.currentTimeMillis())
      val frame = spark.createDataFrame(
        lastWave.zipWithIndex.map { case (r, i) =>
          Row(r.key, r.value, Topic, r.partition, i.toLong, ts, 0)
        }.asJava, StreamSource.wireSchema).cache()
      frame.count()
      val rows = lastWave.size.toDouble
      val decodeS = timePerCall(() => Decoders.decode(frame.drop("topic", "timestampType"),
        format = Some(w.format), avroSchema = w.schemaJson)
        .write.format("noop").mode("overwrite").save())
      m("formats.decode_rps", rows / decodeS, "rec/s")
      val docs = w.project(Decoders.decode(frame.drop("topic", "timestampType"),
        format = Some(w.format), avroSchema = w.schemaJson)).cache()
      docs.count()
      val scratch = s"${a.work}/write_probe"
      val writeS = timePerCall(() =>
        GraftDoc.write(docs, w.keyField, scratch, overwrite = true))
      m("connector.write_rps", rows / writeS, "rec/s")
      m("connector.write_mbps", lastWave.map(_.bytes).sum / 1e6 / writeS, "MB/s")
      docs.unpersist(); frame.unpersist()
      deleteTree(new File(scratch))
    }
    val (files, bytes) = dirStats(table)
    m("connector.commits", GraftDocLog.liveCommitCount(table).toDouble, "count")
    m("connector.files", files.toDouble, "count")
    m("connector.table_bytes", bytes.toDouble, "bytes")
    m("connector.compactions", samples.compactions.toDouble, "count")
    st.drain(spark)
    val lk = Option(st.byPhase.get("lookup"))
    m("connector.lookup_records_read", lk.map(_.recordsRead).getOrElse(0L).toDouble / samples.lookupMs.size, "rows")
    m("connector.lookup_bytes_read", lk.map(_.bytesRead).getOrElse(0L).toDouble / samples.lookupMs.size, "bytes")
    locally {
      val s = System.nanoTime()
      GraftDoc.compact(spark, table)
      m("connector.compact_ms", (System.nanoTime() - s) / 1e6, "ms")
    }

    // spark: scheduler and planning counters over the whole run
    val t = st.total
    val jobMs = st.jobUnionMs(t0Ms, t1Ms).toDouble
    m("spark.jobs", t.jobs.toDouble, "count")
    m("spark.stages", t.stages.toDouble, "count")
    m("spark.tasks", t.tasks.toDouble, "count")
    m("spark.job_ms", jobMs, "ms")
    m("spark.driver_gap_ms", wallMs - jobMs, "ms")
    m("spark.planning_ms", st.planningMs.toDouble, "ms")
    m("spark.executor_run_ms", t.runMs.toDouble, "ms")
    m("spark.executor_cpu_ms", t.cpuNs / 1e6, "ms")
    m("spark.gc_ms", t.gcMs.toDouble, "ms")
    m("spark.shuffle_read_bytes", t.shuffleRead.toDouble, "bytes")
    m("spark.shuffle_write_bytes", t.shuffleWrite.toDouble, "bytes")

    // jvm: VmHWM swings with G1's heap sizing between identical runs,
    // too far to gate on, so it is a layer number here
    m("jvm.peak_rss_mb", vmHwmMb, "MB")
    m("jvm.gc_ms", gcDeltaMs.toDouble, "ms")
    m("jvm.heap_used_peak_mb", ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0, "MB")

    // self time per span name, printed as the per-layer table
    val selfs = spans.selfTimes
    selfs.foreach { case (name, _, _, self) => m(s"self.${name}_ms", self, "ms") }
    println(f"${"span"}%-20s ${"count"}%7s ${"total_ms"}%12s ${"self_ms"}%12s ${"self_%"}%7s")
    selfs.foreach { case (name, n, total, self) =>
      println(f"$name%-20s $n%7d $total%12.1f $self%12.1f ${100 * self / wallMs}%7.1f")
    }
    println(f"self times sum to ${selfs.map(_._4).sum}%.1f ms of the ${wallMs}%.1f ms measured")
  }

  /** Seconds per call of `f`, the median of calls repeated for ~0.5 s. */
  private def timePerCall(f: () => Unit): Double = {
    f()
    val xs = ArrayBuffer.empty[Double]
    val until = System.nanoTime() + 500000000L
    while (xs.size < 3 || (System.nanoTime() < until && xs.size < 50)) {
      val s = System.nanoTime(); f(); xs += (System.nanoTime() - s) / 1e9
    }
    median(xs.toSeq)
  }

  def resultJson: String = {
    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def value(v: Any): String = v match {
      case d: Double => num(d)
      case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
      case x => x.toString
    }
    val ms = metrics.map { case (k, (v, u)) => s""""$k":{"value":${num(v)},"unit":"$u"}""" }
    val cx = context.map { case (k, v) => s""""$k":${value(v)}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}},"context":{${cx.mkString(",")}}}"""
  }
}
