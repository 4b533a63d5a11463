package graftbench

import graft.functions.ShingleHashes
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Seeded inputs for every workload. Each value is a pure function of
  * (seed, id), so the same seed gives identical inputs in any order or
  * batch split, and a different seed moves every value.
  */
object Gen {

  /** splitmix64 finalizer over a chain of longs. */
  def hash(seed: Long, xs: Long*): Long = {
    var h = seed ^ 0x9e3779b97f4a7c15L
    xs.foreach { x =>
      h += x * 0xbf58476d1ce4e5b9L + 0x94d049bb133111ebL
      h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
      h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
      h ^= h >>> 31
    }
    h
  }

  /** Non-negative hash reduced mod m. */
  def pmod(seed: Long, m: Long, xs: Long*): Long = java.lang.Math.floorMod(hash(seed, xs: _*), m)

  val Dim = 64

  /** Clusters for an n-vector corpus: 20 vectors per cluster, the
    * density `ProbeUtil.clusteredEmbedding` gives its 10⁴-row corpora
    * (500 centers), kept at any n.
    */
  def centersFor(n: Int): Int = math.max(1, n / 20)

  /** Vector `id` in the `ProbeUtil.clusteredEmbedding` shape: a
    * hash-derived center in [-1, 1) on a 0.001 grid per dimension plus
    * ±0.05 jitter, with the seed mixed into both hashes.
    */
  def vector(seed: Long, centers: Int, id: Long): Array[Float] = {
    val c = java.lang.Math.floorMod(id, centers.toLong)
    Array.tabulate(Dim) { i =>
      ((pmod(seed, 2000L, 1L, c, i) / 1000.0 - 1.0) +
        (pmod(seed, 100L, 2L, id, i) / 1000.0 - 0.05)).toFloat
    }
  }

  /** Vectors for ids [from, from + n). */
  def vectors(seed: Long, centers: Int, from: Long, n: Int): Array[(Long, Array[Float])] =
    Array.tabulate(n)(j => (from + j, vector(seed, centers, from + j)))

  val WordsPerDoc = 120
  val Vocab = 5000
  /** Share of documents planted as near-duplicates. */
  val DupShare = 0.1

  /** Word `i` of base document `doc`, in `CorpusScaleProbe`'s shape: a
    * per-position hash spread (±70) around a position-dependent anchor,
    * so low word ids repeat across documents but word triples rarely do.
    */
  private def word(seed: Long, doc: Long, i: Int): String =
    "w" + java.lang.Math.floorMod(pmod(seed, 141L, 3L, doc, i) - 70 + i.toLong * i % 997, Vocab.toLong)

  /** Documents and their planted near-duplicate pairs.
    *
    * A seeded `DupShare` of the ids are copies of an earlier base
    * document with 1 to 6 words replaced, which puts the planted pairs'
    * word-3-gram Jaccard on both sides of the 0.8 dedup threshold.
    * Returns (doc_id, text) rows and the (base, copy) pairs.
    */
  def documents(seed: Long, n: Int): (Array[(Long, String)], Array[(Long, Long)]) = {
    val texts = new Array[String](n)
    val planted = Array.newBuilder[(Long, Long)]
    var d = 0
    while (d < n) {
      val isCopy = d > 0 && pmod(seed, 1000000L, 4L, d) < (DupShare * 1000000).toLong
      texts(d) =
        if (!isCopy) Array.tabulate(WordsPerDoc)(i => word(seed, d, i)).mkString(" ")
        else {
          val base = pmod(seed, d.toLong, 5L, d).toInt
          val ws = texts(base).split(" ")
          val edits = 1 + pmod(seed, 6L, 6L, d).toInt
          (0 until edits).foreach { e =>
            ws(pmod(seed, WordsPerDoc.toLong, 7L, d, e).toInt) =
              "x" + pmod(seed, Vocab.toLong, 8L, d, e)
          }
          planted += ((base.toLong, d.toLong))
          ws.mkString(" ")
        }
      d += 1
    }
    (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, planted.result())
  }

  /** The distinct word-3-gram hash set graft's dedup operators compare,
    * computed by the same kernel.
    */
  def shingleSet(text: String): Array[Long] = {
    val ws = text.split(" ").map(w => UTF8String.fromString(w): Any)
    ShingleHashes.compute(new GenericArrayData(ws), 3).toLongArray()
  }

  /** Jaccard of two sorted distinct hash sets, with graft's arithmetic:
    * |A∩B| / (|A| + |B| - |A∩B|) in double.
    */
  def jaccard(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
      else if (a(i) < b(j)) i += 1
      else j += 1
    }
    inter.toDouble / (a.length + b.length - inter)
  }
}
