package perfbench

import java.time.Instant

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Seeded input generators. Every value is a pure function of
  * (seed, row index), so the same seed writes the same parquet bytes
  * whatever the core count, and a checker can recompute any input row in
  * plain Scala without reading it back. Shapes follow the sf0.1 testdata
  * footers (FIXTURES.md §2): events are exponential-valued (mean 50,
  * 2 dp, hence ~2% rows with `duration = 0` under the segments mapping),
  * 30 days from 2024-01-01, 1500 users, five event types; documents are
  * 10–100-word soup over a 31-word vocabulary with 5% "copy + dup"
  * near-duplicates; embeddings are 64-d unit float vectors with 10 labels.
  */
object Gen {
  /** Fixed file count: identical bytes on any machine, and enough splits
    * that a 4-core scan is not serialized on one task.
    */
  val Files = 8

  /** SplitMix64 finalizer — a bijective 64-bit mixer. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def bits(seed: Long, i: Long, tag: Int): Long = mix(mix(mix(seed) ^ i) + tag)

  /** Uniform in (0, 1]. */
  def u01(seed: Long, i: Long, tag: Int): Double =
    ((bits(seed, i, tag) >>> 11) + 1L).toDouble / (1L << 53).toDouble

  def below(seed: Long, i: Long, tag: Int, n: Int): Int =
    java.lang.Long.remainderUnsigned(bits(seed, i, tag), n.toLong).toInt

  // ---- events (etl) --------------------------------------------------------

  final case class Ev(event_id: Long, ts: Instant, user_id: Long,
      event_type: String, value: Double, props: String)

  val EventTypes: Array[String] = Array("signup", "click", "error", "view", "purchase")
  private val Start   = Instant.parse("2024-01-01T00:00:00Z")
  private val SpanUs  = 30L * 86400L * 1000000L

  /** Seed-derived id shift: a different key range per seed, same shapes. */
  def idShift(seed: Long): Long = (mix(seed ^ 0x5EEDL) >>> 1) % 1000000L * 100L

  /** Input row `i` of an `n`-row events table. */
  def event(seed: Long, n: Long, i: Long): Ev = {
    val step  = SpanUs / n
    val tsUs  = i * step + (u01(seed, i, 1) * step).toLong
    val value = math.round(-50.0 * math.log(u01(seed, i, 2)) * 100.0) / 100.0
    Ev(i + idShift(seed), Start.plusNanos(tsUs * 1000L), below(seed, i, 3, 1500).toLong,
      EventTypes(below(seed, i, 4, EventTypes.length)), value,
      s"""{"k": ${below(seed, i, 5, 100)}}""")
  }

  /** Rows the pipeline keeps: `duration = floor(value) % 600` non-zero. */
  def keeps(e: Ev): Boolean = math.floor(e.value).toLong % 600 != 0

  def writeEvents(spark: SparkSession, dir: String, n: Long, seed: Long): Unit = {
    import spark.implicits._
    spark.range(0, n, 1, Files).as[Long].map(i => event(seed, n, i))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
  }

  // ---- documents + embeddings (corpus) ------------------------------------

  final case class Doc(doc_id: Long, text: String, lang: String, source: String,
      n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float], label: Int)

  val Vocab: Array[String] = ("a agg batch big column customer data fast filter group " +
    "hash join key line merge order part query row scan slow small sort spark " +
    "stream table the value vector window").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")
  /** Content is fixed; only ids depend on the seed. */
  private val ContentSeed = 42L
  val Dim = 64

  private def soup(i: Long): String = {
    val words = 10 + below(ContentSeed, i, 10, 91)
    (0 until words).map(w => Vocab(below(ContentSeed, i * 128 + w, 11, Vocab.length)))
      .mkString(" ")
  }

  /** Text of document `i` (before id permutation): 5% are an earlier
    * document's text plus " dup".
    */
  def text(i: Long): String =
    if (i > 0 && below(ContentSeed, i, 12, 20) == 0)
      soup(below(ContentSeed, i, 13, i.toInt).toLong) + " dup"
    else soup(i)

  /** Seeded permutation of [0, n) that also maps [0, m) onto itself, so a
    * doc_id = vec_id pairing over the first `m` ids survives it.
    */
  def permute(seed: Long, n: Long, m: Long)(id: Long): Long = {
    def affine(x: Long, size: Long, tag: Int): Long = {
      var a = 1L + (mix(seed + tag) >>> 1) % (size - 1)
      while (BigInt(a).gcd(BigInt(size)) != 1) a += 1
      val b = (mix(seed + tag + 1) >>> 1) % size
      (BigInt(a) * x + b).mod(size).toLong
    }
    if (id < m) affine(id, m, 100) else m + affine(id - m, n - m, 200)
  }

  def doc(seed: Long, n: Long, m: Long, i: Long): Doc = {
    val t = text(i)
    Doc(permute(seed, n, m)(i), t, Langs(below(ContentSeed, i, 14, Langs.length)),
      s"src${i % 20}", t.length.toLong)
  }

  def emb(seed: Long, n: Long, m: Long, i: Long): Emb = {
    val v = Array.tabulate(Dim) { d =>
      // Box–Muller: Gaussian coordinates → uniform direction once normalized
      val r = math.sqrt(-2.0 * math.log(u01(ContentSeed, i * Dim + d, 20)))
      r * math.cos(2 * math.Pi * u01(ContentSeed, i * Dim + d, 21))
    }
    val norm = math.sqrt(v.map(x => x * x).sum)
    Emb(permute(seed, n, m)(i), v.map(x => (x / norm).toFloat),
      below(ContentSeed, i, 22, 10))
  }

  /** Embedding rows per document count, the sf0.1 ratio (2000 : 5000). */
  def embeddingsFor(docs: Long): Long = docs * 2 / 5

  def writeCorpus(spark: SparkSession, dir: String, docs: Long, embs: Long,
      seed: Long): Unit = {
    import spark.implicits._
    spark.range(0, docs, 1, Files).as[Long].map(i => doc(seed, docs, embs, i))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    spark.range(0, embs, 1, Files).as[Long].map(i => emb(seed, docs, embs, i))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
  }

  /** `java perfbench.Gen <dir> <seed> <events> <documents>` — writes both
    * workloads' inputs under `dir` (the determinism test drives this).
    */
  def main(args: Array[String]): Unit = {
    val Array(dir, seed, events, docs) = args
    val spark = Main.session(1, s"$dir/.work")
    try {
      writeEvents(spark, dir, events.toLong, seed.toLong)
      writeCorpus(spark, dir, docs.toLong, embeddingsFor(docs.toLong), seed.toLong)
    } finally spark.stop()
  }
}
