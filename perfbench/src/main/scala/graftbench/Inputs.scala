package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Seeded input generators. Every value is a pure function of (seed, id),
 * so the same seed gives the same corpus, queries, appends and documents
 * whatever order they are drawn in.
 *
 * The mixture itself (its component centers) is fixed; the seed draws
 * the points. So every seed samples the same distribution, and run-to-run
 * differences measure the program rather than a different list layout.
 */
final class Mixture(seed: Long, val dim: Int, comps: Int, sigma: Double)
    extends Serializable {

  private val centers: Array[Array[Float]] = {
    val r = new java.util.Random(Mixture.CenterSeed)
    Array.fill(comps)(Array.fill(dim)(r.nextGaussian().toFloat))
  }

  private def rng(id: Long): java.util.Random =
    new java.util.Random(seed * 0x9E3779B97F4A7C15L ^ (id + 1) * 0xBF58476D1CE4E5B9L)

  /** One mixture draw: a random component's center plus N(0, sigma^2). */
  def vector(id: Long): Array[Float] = {
    val r = rng(id)
    val c = centers(r.nextInt(comps))
    Array.tabulate(dim)(d => (c(d) + sigma * r.nextGaussian()).toFloat)
  }

  /** A near copy of `vector(id)`: every component moved by N(0, eps^2). */
  def nearCopy(id: Long, salt: Long, eps: Double): Array[Float] = {
    val r = rng(id ^ (salt << 40))
    vector(id).map(x => (x + eps * r.nextGaussian()).toFloat)
  }

  /** (id, vec) rows for ids [from, from + n), generated on the executors. */
  def frame(spark: SparkSession, from: Long, n: Long): DataFrame = {
    import spark.implicits._
    val self = this
    spark.range(from, from + n).as[Long]
      .map(id => (id, self.vector(id))).toDF("id", "vec")
  }

  def batch(from: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n)(i => (from + i, vector(from + i)))
}

object Mixture {
  val CenterSeed = 20240917L
}

/**
 * Synthetic curation corpus: documents of 30-60 words drawn from a fixed
 * 20k-word vocabulary (so every original passes the quality and repetition
 * gates), plus planted exact copies and near copies (one word replaced).
 * As with [[Mixture]], the seed draws the documents, not the vocabulary.
 */
final class DocGen(seed: Long) extends Serializable {
  private val vocab: Array[String] = {
    val r = new java.util.Random(Mixture.CenterSeed)
    Array.fill(20000)(Array.fill(4 + r.nextInt(5))(('a' + r.nextInt(26)).toChar).mkString)
  }

  def text(id: Long): String = {
    val r = new java.util.Random(seed * 31 + id)
    Array.fill(30 + r.nextInt(31))(vocab(r.nextInt(vocab.length))).mkString(" ")
  }

  private def nearText(id: Long): String = {
    val words = text(id).split(' ')
    val r = new java.util.Random(seed * 17 + id)
    words(r.nextInt(words.length)) = vocab(r.nextInt(vocab.length))
    words.mkString(" ")
  }

  /**
   * `n` docs with ids [base, base + n): the first `exact` ids past the
   * originals are byte copies of originals, the next `near` are one-word
   * edits. Returns (docs, eval docs, planted exact copies).
   */
  def corpus(spark: SparkSession, base: Long, n: Int, exact: Int, near: Int)
      : (DataFrame, DataFrame, Int) = {
    import spark.implicits._
    val originals = n - exact - near
    val rows = (0 until n).map { i =>
      val id = base + i
      val t =
        if (i < originals) text(id)
        else if (i < originals + exact) text(base + (i - originals))
        else nearText(base + (i - originals - exact))
      (id, t)
    }
    val docs = rows.toDF("doc_id", "text").repartition(spark.sparkContext.defaultParallelism)
    val eval = (0 until 20).map(i => (-1L - i, text(base + i * 7))).toDF("doc_id", "text")
    (docs, eval, exact)
  }
}
