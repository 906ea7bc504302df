package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.sources.kafka.KafkaWireClient
import Gen._

/** What differs between the wire workloads: the records a wave carries,
  * how they are produced, decoded and keyed, and the model each snapshot
  * and point lookup is checked against. The wave loop itself is shared
  * ([[WireBench]]). */
sealed trait Workload {
  def name: String
  def format: String
  def schemaJson: Option[String]
  def keyField: String
  def minWaves: Int

  /** Decoded wire frame → document columns. */
  def project(decoded: DataFrame): DataFrame

  /** The records of wave `w`; wave 0 is the warm-up wave of set-up. */
  def wave(w: Int): Seq[Rec]

  /** Produce one wave over one connection. */
  def produce(c: KafkaWireClient, topic: String, recs: Seq[Rec]): Unit

  /** Fold the last generated wave into the model once it is committed. */
  def commit(): Unit

  /** Live user bytes (key + value of each live key's latest record). */
  def liveBytes: Long

  /** Check an upsert-resolved snapshot against the model. */
  def verifySnapshot(snapshot: DataFrame): Boolean

  /** The key of point lookup `i`: a never-written key when
    * [[Workload.isMiss]], else a live one. */
  def lookupKey(i: Int): String

  /** Check a lookup's rows against the model. */
  def verifyLookup(key: String, rows: Array[Row]): Boolean

  def reset(): Unit
}

object Workload {
  val Partitions = 4

  def apply(name: String, seed: Long): Workload = name match {
    case "wire_upsert_csv" => new UpsertCsv(seed)
    case "wire_bulk_lookup" => new BulkLookup(seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Every tenth lookup asks for a key never written. On `wire_upsert_csv`
    * a miss reads about 200 ms where a hit reads 400 to 700 ms, so the share
    * of misses is fixed rather than drawn: a drawn 10% gave one to five
    * misses in 20 lookups and moved the run's median. */
  def isMiss(lookup: Int): Boolean = lookup % 10 == 0

  def byPartition(recs: Seq[Rec]): Seq[(Int, Seq[Rec])] =
    recs.groupBy(_.partition).toSeq.sortBy(_._1)
}

/** The reference's own topology: small CSV `purchase` upserts over a
  * Zipf-skewed key space, so keys repeat across waves and every commit is
  * merged on read. Per-record and per-micro-batch cost dominate. */
final class UpsertCsv(seed: Long) extends Workload {
  val name = "wire_upsert_csv"
  val format = "csv"
  val schemaJson = Some("""{"type":"record","name":"purchase","fields":[
    {"name":"user","type":"string"},{"name":"item","type":"string"},
    {"name":"count","type":"int"},{"name":"price","type":"double"}]}""")
  val keyField = "user"
  val minWaves = 16
  val Keys = 250000
  val WaveRecords = 5000
  val ProduceBatch = 500

  private lazy val zipf = new Zipf(Keys, 0.99)
  private lazy val perm = permutation(Keys, rng(seed, -2L))
  private val latest = new Array[Purchase](Keys)
  private var live, sumCount, sumCents, bytes = 0L

  def reset(): Unit = {
    java.util.Arrays.fill(latest.asInstanceOf[Array[AnyRef]], null)
    live = 0; sumCount = 0; sumCents = 0; bytes = 0
  }

  private var current = Array.empty[Purchase]

  def wave(w: Int): Seq[Rec] = {
    current = purchases(seed, w, WaveRecords, Keys, zipf, perm)
    current.toSeq.map(purchaseRec(_, Workload.Partitions))
  }

  def produce(c: KafkaWireClient, topic: String, recs: Seq[Rec]): Unit =
    Workload.byPartition(recs).foreach { case (p, rs) =>
      rs.grouped(ProduceBatch).foreach(g => c.produce(topic, p, g.map(_.msg)))
    }

  def commit(): Unit = current.foreach { p =>
    val old = latest(p.key)
    if (old == null) live += 1
    else {
      sumCount -= old.count; sumCents -= old.cents
      bytes -= purchaseRec(old, Workload.Partitions).bytes
    }
    latest(p.key) = p
    sumCount += p.count; sumCents += p.cents
    bytes += purchaseRec(p, Workload.Partitions).bytes
  }

  def liveBytes: Long = bytes

  def project(decoded: DataFrame): DataFrame =
    decoded.select(col("user"), col("item"), col("count"), col("price"),
      unix_millis(col("timestamp")).as("readTime"), col("key"))

  def verifySnapshot(snapshot: DataFrame): Boolean = {
    val r = snapshot.agg(count(lit(1)), sum(col("count")),
      sum(floor(col("price") * 100 + 0.5).cast("long"))).head()
    r.getLong(0) == live && r.getLong(1) == sumCount && r.getLong(2) == sumCents
  }

  def lookupKey(i: Int): String = {
    val r = rng(seed, 1000000L + i)
    if (Workload.isMiss(i)) userKey(Keys + r.nextInt(Keys))
    else {
      var k = perm(zipf.sample(r))
      while (latest(k) == null) k = perm(zipf.sample(r))
      userKey(k)
    }
  }

  def verifyLookup(key: String, rows: Array[Row]): Boolean = {
    val k = key.stripPrefix("user").toInt
    if (k >= Keys) rows.isEmpty
    else rows.length == 1 && {
      val p = latest(k)
      val row = rows(0)
      row.getAs[String]("item") == p.item && row.getAs[Int]("count") == p.count &&
        math.floor(row.getAs[Double]("price") * 100 + 0.5).toLong == p.cents
    }
  }
}

/** The byte-heavy, read-heavy counterpart: insert-only text documents of
  * lognormal size, one codec per partition (none, gzip, snappy, lz4),
  * produced as 100-record wrapper batches and decoded as `text`. */
final class BulkLookup(seed: Long) extends Workload {
  val name = "wire_bulk_lookup"
  val format = "text"
  val schemaJson = None
  val keyField = "id"
  val minWaves = 16
  val WaveDocs = 800
  val ProduceBatch = 100
  val MedianBytes = 2048
  val Sigma = 0.8
  val CapBytes = 65536

  private lazy val words = vocabulary(seed, 5000)
  private lazy val zipf = new Zipf(words.length, 1.1)
  private val texts = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
  private var written = 0
  private var sumLen, sumCrc, bytes = 0L

  def reset(): Unit = { texts.clear(); written = 0; sumLen = 0; sumCrc = 0; bytes = 0 }

  private var current = Seq.empty[Rec]

  def wave(w: Int): Seq[Rec] = {
    val r = rng(seed, w)
    val base = w * WaveDocs
    current = (0 until WaveDocs).map { i =>
      val k = base + i
      Rec(k % Workload.Partitions, docKey(k).getBytes(UTF_8),
        document(r, words, zipf, MedianBytes, Sigma, CapBytes).getBytes(UTF_8))
    }
    current
  }

  def produce(c: KafkaWireClient, topic: String, recs: Seq[Rec]): Unit =
    Workload.byPartition(recs).foreach { case (p, rs) =>
      rs.grouped(ProduceBatch).foreach { g =>
        val msgs = g.map(_.msg)
        p match {
          case 0 => c.produce(topic, p, msgs)
          case 1 => c.produceGzip(topic, p, msgs)
          case 2 => c.produceSnappy(topic, p, msgs)
          case _ => c.produceLz4(topic, p, msgs)
        }
      }
    }

  def commit(): Unit = current.foreach { r =>
    val k = new String(r.key, UTF_8).stripPrefix("doc").toInt
    while (texts.size <= k) texts += null
    texts(k) = r.value
    written = math.max(written, k + 1)
    val crc = new java.util.zip.CRC32
    crc.update(r.value)
    sumLen += r.value.length; sumCrc += crc.getValue; bytes += r.bytes
  }

  def liveBytes: Long = bytes

  def project(decoded: DataFrame): DataFrame =
    decoded.select(col("key").cast("string").as("id"), col("message").as("text"))

  def verifySnapshot(snapshot: DataFrame): Boolean = {
    val t = col("text").cast("binary")
    val r = snapshot.agg(count(lit(1)), sum(length(t)), sum(crc32(t))).head()
    r.getLong(0) == written && r.getLong(1) == sumLen && r.getLong(2) == sumCrc
  }

  def lookupKey(i: Int): String = {
    val r = rng(seed, 1000000L + i)
    if (Workload.isMiss(i)) docKey(written + r.nextInt(written))
    else docKey(r.nextInt(written))
  }

  def verifyLookup(key: String, rows: Array[Row]): Boolean = {
    val k = key.stripPrefix("doc").toInt
    if (k >= written) rows.isEmpty
    else rows.length == 1 &&
      java.util.Arrays.equals(rows(0).getAs[String]("text").getBytes(UTF_8), texts(k))
  }
}
