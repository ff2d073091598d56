package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, key or doc id), so generation runs in parallel on the
  * executors and the same seed always yields the same tables, whatever
  * the partitioning. */
object Gen {

  /** splitmix64: a tiny, well-mixed counter-based RNG. */
  final class Rng(seed: Long) extends Serializable {
    private var s = seed
    def nextLong(): Long = {
      s += 0x9E3779B97F4A7C15L
      var z = s
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      z ^ (z >>> 31)
    }
    def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / (1L << 53))
    def nextInt(n: Int): Int = ((nextLong() >>> 33) % n).toInt
  }

  def rng(seed: Long, stream: Long, id: Long): Rng =
    new Rng(new Rng(seed * 0x632BE59BD9B4E019L + stream).nextLong() ^ (id * 0x9E3779B97F4A7C15L))

  // ---------------------------------------------------------------- events

  /** Shape of a generated change log.
    * @param keys       primary keys (user_id 1..keys), sharded over
    *                   `sbtest<user_id % 10>` by the changelog view
    * @param events     expected event count
    * @param zipfS      key popularity skew (0 = uniform)
    * @param deleteFrac chance that an event on a present key deletes it */
  final case class EventsShape(keys: Int, events: Long, zipfS: Double,
      deleteFrac: Double = 0.05)

  /** Bits of a key's random log slots: event_id = slot * (keys + 1) +
    * user_id, so ids are unique and event_id order interleaves keys by
    * slot (log order). */
  private val slotBits = 30

  /** Write `events.parquet` under `dir` in the schema the events sources
    * declare (event_id, ts, user_id, event_type, value, props). Per key
    * the op sequence is legal: insert when absent, update or delete when
    * present, insert again only after a delete — so last-event-wins is
    * the exact expected store state. Returns the row count. */
  def events(spark: SparkSession, shape: EventsShape, seed: Long,
      dir: String, parts: Int): Long = {
    val k = shape.keys
    val weights = (1 to k).map(r => math.pow(r.toDouble, -shape.zipfS))
    val perKey = shape.events.toDouble / weights.sum
    val s = shape.zipfS
    val del = shape.deleteFrac
    val span = k.toLong + 1
    val updTypes = Array("view", "click", "purchase")
    val rows = spark.sparkContext.parallelize(0 until parts, parts).flatMap { p =>
      Iterator.range(1 + p, k + 1, parts).flatMap { key =>
        val r = rng(seed, 1, key)
        val expect = perKey * math.pow(key.toDouble, -s)
        val n = expect.toInt + (if (r.nextDouble() < expect - expect.toInt) 1 else 0)
        val slots = Array.fill(n)(r.nextLong() >>> (64 - slotBits)).sorted.distinct
        var present = false
        slots.iterator.map { slot =>
          val typ =
            if (!present) { present = true; "signup" }
            else if (r.nextDouble() < del) { present = false; "error" }
            else updTypes(r.nextInt(updTypes.length))
          Row(slot * span + key, 1600000000000000L + slot * 1000L, key.toLong, typ,
            r.nextInt(1000000) / 100.0, s"""{"k":${r.nextInt(1000)}}""")
        }
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("event_id", LongType), StructField("ts_us", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("value", DoubleType), StructField("props", StringType))))
      .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    spark.read.parquet(s"$dir/events.parquet").count()
  }

  // ------------------------------------------------------------- documents

  /** Shape of a generated corpus: `docs` documents, each an original, an
    * exact copy or a near copy (about 5% of tokens replaced) of an
    * earlier original. */
  final case class DocsShape(docs: Int, exactFrac: Double = 0.05,
      nearFrac: Double = 0.20, vocab: Int = 20000, minTokens: Int = 30,
      maxTokens: Int = 90, editFrac: Double = 0.05)

  /** 0 = original, 1 = exact copy, 2 = near copy; doc 0 is an original. */
  private def kind(seed: Long, shape: DocsShape, id: Long): Int =
    if (id == 0) 0 else {
      val u = rng(seed, 2, id).nextDouble()
      if (u < shape.exactFrac) 1 else if (u < shape.exactFrac + shape.nearFrac) 2 else 0
    }

  /** (kind, source original) of doc `id`: a copy's source is an earlier
    * original, rejection-sampled; a copy that finds none stays original. */
  private def provenance(seed: Long, shape: DocsShape, id: Long): (Int, Long) = {
    val k = kind(seed, shape, id)
    val r = rng(seed, 4, id)
    var src = -1L
    var tries = 0
    while (k != 0 && src < 0 && tries < 64) {
      val j = (r.nextLong() >>> 1) % id
      if (kind(seed, shape, j) == 0) src = j
      tries += 1
    }
    if (src < 0) (0, -1L) else (k, src)
  }

  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  /** Zipf(1) word draw by inverse CDF over `cdf`. */
  private def draw(r: Rng, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, cdf.length - 1)
  }

  private def originalTokens(seed: Long, shape: DocsShape, cdf: Array[Double],
      id: Long): Array[String] = {
    val r = rng(seed, 3, id)
    val n = shape.minTokens + r.nextInt(shape.maxTokens - shape.minTokens + 1)
    Array.fill(n)(word(draw(r, cdf)))
  }

  /** Write `documents.parquet` under `dir` in the schema the documents
    * sources declare (doc_id, text, lang, source, n_chars). */
  def documents(spark: SparkSession, shape: DocsShape, seed: Long,
      dir: String, parts: Int): Long = {
    val w = (1 to shape.vocab).map(r => 1.0 / r)
    val tot = w.sum
    val cdf = w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    val sh = shape
    val rows = ids(spark, shape, parts).map { id =>
      val (k, src) = provenance(seed, sh, id)
      val toks = k match {
        case 0 => originalTokens(seed, sh, cdf, id)
        case 1 => originalTokens(seed, sh, cdf, src)
        case _ =>
          val t = originalTokens(seed, sh, cdf, src)
          val e = rng(seed, 5, id)
          var edited = false
          for (i <- t.indices) if (e.nextDouble() < sh.editFrac) {
            t(i) = word(sh.vocab + e.nextInt(sh.vocab)); edited = true
          }
          if (!edited) t(e.nextInt(t.length)) = word(sh.vocab + e.nextInt(sh.vocab))
          t
      }
      val text = toks.mkString(" ")
      Row(id, text, "en", "gen", text.length.toLong)
    }
    spark.createDataFrame(rows, StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    spark.read.parquet(s"$dir/documents.parquet").count()
  }

  private def ids(spark: SparkSession, shape: DocsShape, parts: Int) =
    spark.sparkContext.parallelize(0 until parts, parts).flatMap(p =>
      Iterator.range(p, shape.docs, parts).map(_.toLong))

  /** Ground truth of a generated corpus, recomputed from the seed:
    * (doc_id, kind, src). Cheap (no text), so the checks never need a
    * second copy of the corpus on disk. */
  def docTruth(spark: SparkSession, shape: DocsShape, seed: Long,
      parts: Int): DataFrame = {
    val sh = shape
    spark.createDataFrame(ids(spark, shape, parts).map { id =>
      val (k, src) = provenance(seed, sh, id)
      Row(id, k, src)
    }, StructType(Seq(StructField("doc_id", LongType), StructField("kind", IntegerType),
      StructField("src", LongType))))
  }
}
