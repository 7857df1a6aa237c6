package graft.perfbench

import org.apache.spark.sql.SparkSession

/** Seeded corpus generators. Every token of every document is a pure
  * function of (seed, doc_id, position), so a corpus is identical for a
  * given seed regardless of partitioning, host or parallelism.
  *
  * Two shapes:
  *  - `replica`: sf-shaped word salad (10-99 tokens from a 30-word
  *    vocabulary, the shape of the sf test corpora's documents.parquet), replicated
  *    `copies` times. Each copy rewrites two seeded vocabulary words into
  *    copy-specific surface variants (`<w1><copy>`, `<w2><copy/2>` with a
  *    plural `s` on even copies), so the alias dictionary grows only with the
  *    copy count and stays tiny.
  *  - `zipf`: about half the tokens are vocabulary words, one of which (the
  *    hot word) carries extra weight; the other half get a log-uniform
  *    numeric suffix over `suffixIds` ids, half of those plural, so the alias
  *    dictionary is large and `KgPipeline.stem` yields many CC edges.
  */
object Gen {

  val vocab: IndexedSeq[String] = IndexedSeq(
    "spark", "window", "merge", "table", "column", "vector", "stream", "value",
    "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg",
    "key", "query", "a", "scan", "batch")

  /** SplitMix64 finalizer: a well-mixed 64-bit hash of `z`. */
  def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Deterministic per-document random stream. */
  final class Rng(seed: Long, docId: Long) {
    private var s = mix(mix(seed) ^ (docId * 0x2545F4914F6CDD1DL))
    def next(): Long = { s = mix(s); s }
    def below(n: Int): Int = java.lang.Long.remainderUnsigned(next(), n.toLong).toInt
    def unit(): Double = (next() >>> 11) * (1.0 / (1L << 53))
  }

  sealed trait Shape { def docs: Long }

  /** `base` sf-shaped documents, each replicated `copies` times. */
  final case class Replica(base: Int, copies: Int) extends Shape {
    def docs: Long = base.toLong * copies
  }

  /** `n` documents over the Zipf vocabulary. `hotWeight` is the probability
    * that a vocabulary token is the hot word, a noun (so a mention surface):
    * 0.25 makes it about a fifth of the mentions in the canonical triples.
    */
  final case class Zipf(n: Int, suffixIds: Int = 100000, hotWeight: Double = 0.25,
                        hotWord: String = "data") extends Shape {
    def docs: Long = n.toLong
  }

  private def docLen(r: Rng): Int = 10 + r.below(90)

  /** The two vocabulary words a seed turns into per-copy variants. */
  def variantWords(seed: Long): (String, String) = {
    val r = new Rng(seed, -1L)
    val a = r.below(vocab.length)
    val b = (a + 1 + r.below(vocab.length - 1)) % vocab.length
    (vocab(a), vocab(b))
  }

  def replicaText(seed: Long, shape: Replica, docId: Long): String = {
    val base = docId / shape.copies
    val copy = (docId % shape.copies).toInt
    val (wa, wb) = variantWords(seed)
    val r = new Rng(seed, base)
    val n = docLen(r)
    val sb = new java.lang.StringBuilder(n * 7)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      val w = vocab(r.below(vocab.length))
      sb.append(w)
      if (w == wa) sb.append(copy)
      else if (w == wb) { sb.append(copy / 2); if (copy % 2 == 0) sb.append('s') }
      i += 1
    }
    sb.toString
  }

  def zipfText(seed: Long, shape: Zipf, docId: Long): String = {
    val r = new Rng(seed, docId)
    val n = docLen(r)
    val others = vocab.filter(_ != shape.hotWord)
    val logIds = math.log(shape.suffixIds.toDouble)
    val sb = new java.lang.StringBuilder(n * 10)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      if (r.unit() < 0.5) {
        sb.append(if (r.unit() < shape.hotWeight) shape.hotWord else others(r.below(others.length)))
      } else {
        sb.append(others(r.below(others.length)))
        sb.append(math.exp(r.unit() * logIds).toLong)
        if (r.unit() < 0.5) sb.append('s')
      }
      i += 1
    }
    sb.toString
  }

  def text(seed: Long, shape: Shape, docId: Long): String = shape match {
    case s: Replica => replicaText(seed, s, docId)
    case s: Zipf => zipfText(seed, s, docId)
  }

  /** Fixed file count, so the corpus layout does not depend on the host. */
  val files = 16

  /** Write `documents.parquet` as (doc_id: long, text: string) under `dir`. */
  def write(spark: SparkSession, seed: Long, shape: Shape, dir: String): Unit = {
    import spark.implicits._
    spark.range(0L, shape.docs, 1L, files).as[Long]
      .map(id => (id, text(seed, shape, id)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }
}
