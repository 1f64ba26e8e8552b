package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every input the benchmark feeds graft, generated from the workload
  * seed: the same seed gives the same rows on every run.
  */
object Gen {

  /** Mix two longs into a well-spread 64-bit seed (splitmix64 finaliser). */
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ── mount_io: high-entropy rows of about 1 KB ──────────────────────

  val PayloadBytes = 1000

  /** Rows (id, payload) for ids [from, until): each payload is
    * PayloadBytes random bytes drawn from (seed, id), so parquet cannot
    * compress the batch below its raw size.
    */
  def payloadRows(spark: SparkSession, seed: Long, from: Long, until: Long,
                  parts: Int): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType, false),
      StructField("payload", BinaryType, false)))
    val rdd = spark.sparkContext.range(from, until, 1, parts).map { id =>
      val b = new Array[Byte](PayloadBytes)
      new java.util.SplittableRandom(mix(seed, id)).nextBytes(b)
      Row(id, b)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Order-independent content checksum of (id, payload) rows:
    * (row count, Σ xxhash64 as an exact decimal).
    */
  def checksum(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.agg(count(lit(1)),
      sum(xxhash64(col("id"), col("payload")).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), Option(r.getDecimal(1))
      .getOrElse(java.math.BigDecimal.ZERO))
  }

  // ── curation_funnel: a documents table in the repo's test shape ────

  private val vocab = Array("batch", "part", "spark", "line", "column",
    "order", "small", "sort", "fast", "value", "scan", "hash", "slow",
    "group", "agg", "filter", "query", "big", "key", "window", "row",
    "table", "stream", "merge", "data", "vector", "join", "customer",
    "index", "shard", "block", "token", "model", "train", "cache", "node")
  private val stop = Map(
    "en" -> Array("the", "and", "of", "to", "a", "in", "is", "it"),
    "es" -> Array("el", "los", "que", "y", "es"),
    "de" -> Array("der", "die", "und", "das", "ist"),
    "fr" -> Array("le", "les", "et", "des", "une"),
    "zh" -> Array.empty[String])
  private val langs = Array("en", "en", "en", "en", "es", "de", "fr", "zh")

  val Sources = 20

  /** `n` base documents (doc_id, text, lang, source, n_chars): bag-of-words
    * text over a small vocabulary with language stopwords, a share of
    * HTML wrappers, and near-duplicates of earlier documents (a few words
    * changed) for MinHash to find.
    */
  def baseDocs(seed: Long, n: Int): Seq[(Long, String, String, String)] = {
    val rnd = new java.util.SplittableRandom(mix(seed, 0x5eedL))
    val out = new Array[(Long, String, String, String)](n)
    var i = 0
    while (i < n) {
      val dupOf = if (i > 20 && rnd.nextInt(10) == 0) rnd.nextInt(i) else -1
      val (text, lang) =
        if (dupOf >= 0) {
          val (_, t, l, _) = out(dupOf)
          val ws = t.split(" ")
          (0 until 2).foreach { _ =>
            ws(rnd.nextInt(ws.length)) = vocab(rnd.nextInt(vocab.length))
          }
          (ws.mkString(" "), l)
        } else {
          val lang = langs(rnd.nextInt(langs.length))
          val sw = stop(lang)
          val words = 8 + rnd.nextInt(60)
          val ws = Array.fill(words) {
            if (sw.nonEmpty && rnd.nextInt(5) == 0) sw(rnd.nextInt(sw.length))
            else vocab(rnd.nextInt(vocab.length))
          }
          (ws.mkString(" "), lang)
        }
      val html = rnd.nextInt(4) match {
        case 0 => s"<p>$text</p>"
        case 1 => s"<div><script>var x = 1;</script>$text<!-- nav --></div>"
        case _ => text
      }
      out(i) = (i.toLong, html, lang, s"src${i % Sources}")
      i += 1
    }
    out.toSeq
  }

  /** The ScalingSpec replica recipe: replica k of every base document
    * rides its own vowel permutation (disjoint shingle space across
    * replicas, so near-dup structure scales linearly instead of forming
    * cross-replica cliques). Replica 0 is the identity.
    */
  val VowelMaps = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
    "aeuio", "eiaou", "ioeau", "oueia", "uoiea")
  val ReplicaStride = 10000000L

  def corpus(spark: SparkSession, seed: Long, base: Int,
             replicas: Int): DataFrame = {
    require(replicas <= VowelMaps.length)
    import spark.implicits._
    val b = baseDocs(seed, base).toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    (0 until replicas).map { k =>
      b.select((col("doc_id") + lit(k * ReplicaStride)).as("doc_id"),
        translate(col("text"), "aeiou", VowelMaps(k)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ unionByName _)
  }

  // ── ann_index: clustered 64-dim vectors ────────────────────────────

  val Dim = 64

  /** `n` base vectors around `clusters` seeded centres (label = centre). */
  def baseVectors(seed: Long, n: Int,
                  clusters: Int): Seq[(Long, Array[Float], Int)] = {
    val rnd = new java.util.Random(mix(seed, 0xa22L))
    val centres = Array.fill(clusters, Dim)(rnd.nextGaussian().toFloat)
    (0 until n).map { i =>
      val c = rnd.nextInt(clusters)
      val v = Array.tabulate(Dim)(d =>
        centres(c)(d) + 0.35f * rnd.nextGaussian().toFloat)
      (i.toLong, v, c)
    }
  }

  /** The IvfScaleSpec replica recipe: replica k scales and shifts every
    * base vector deterministically, so replicas do not collapse onto
    * each other.
    */
  def vectors(spark: SparkSession, seed: Long, base: Int, clusters: Int,
              replicas: Range): DataFrame = {
    import spark.implicits._
    val b = baseVectors(seed, base, clusters)
      .map { case (id, v, l) => (id, v.toSeq, l) }
      .toDF("vec_id", "embedding", "label")
    replicas.map { k =>
      b.select((col("vec_id") + lit(k * 1000000L)).as("vec_id"),
        transform(col("embedding"),
          x => x * lit(1.0f + (k % 7) * 0.011f) + lit((k % 5) * 0.004f))
          .as("embedding"),
        col("label"))
    }.reduce(_ unionByName _)
  }

  /** Query ids sit above every corpus id (the exact scorer skips a
    * neighbour whose id equals the query's).
    */
  val QueryIdBase = 900000000L

  /** Query vectors: seeded perturbations of seeded corpus rows. */
  def queries(spark: SparkSession, seed: Long, corpus: DataFrame,
              n: Int): DataFrame = {
    val rows = corpus.orderBy(xxhash64(col("vec_id"), lit(seed)))
      .limit(n).select(col("embedding")).collect()
    val rnd = new java.util.Random(mix(seed, 0x9eL))
    val qs = rows.zipWithIndex.map { case (r, i) =>
      val v = r.getSeq[Float](0).map(x => x + 0.05f *
        rnd.nextGaussian().toFloat)
      Row(QueryIdBase + i, v)
    }
    spark.createDataFrame(java.util.Arrays.asList(qs: _*), StructType(Seq(
      StructField("vec_id", LongType, false),
      StructField("embedding", ArrayType(FloatType, false), false))))
  }
}
