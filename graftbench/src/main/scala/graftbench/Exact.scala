package graftbench

/** Plain-JVM brute-force top-k with the arithmetic of graft's
  * `VectorDistance` (every element promoted to double; cosine is
  * 1 - a·b/(√|a|²·√|b|²) with zero norms pinned to 1.0) and its tie rule
  * (equal distances ordered by id).
  */
object Exact {
  type Distance = (Array[Float], Array[Float]) => Double

  private def sq(v: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < v.length) { val x = v(i).toDouble; s += x * x; i += 1 }
    s
  }

  /** Cosine distance of corpus vector `c` to query `q`. */
  val Cosine: Distance = (c, q) => {
    var acc = 0.0; var i = 0
    while (i < c.length) { acc += c(i).toDouble * q(i).toDouble; i += 1 }
    val norms = math.sqrt(sq(c)) * math.sqrt(sq(q))
    if (norms == 0.0) 1.0 else 1.0 - acc / norms
  }

  val L2: Distance = (c, q) => {
    var acc = 0.0; var i = 0
    while (i < c.length) { val d = c(i).toDouble - q(i).toDouble; acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** For each query, the ids of its k nearest corpus vectors. With
    * `excludeSelf`, a corpus vector never answers a query of its own id.
    */
  def topK(corpus: Array[(Long, Array[Float])], queries: Array[(Long, Array[Float])],
           k: Int, dist: Distance, excludeSelf: Boolean): Array[Array[Long]] =
    queries.map { case (qid, q) =>
      val dists = Array.fill(k)(Double.PositiveInfinity)
      val ids = Array.fill(k)(Long.MaxValue)
      var j = 0
      while (j < corpus.length) {
        val (cid, c) = corpus(j)
        if (!excludeSelf || cid != qid) {
          val d = dist(c, q)
          // insertion into the sorted k best by (dist, id)
          var p = k - 1
          if (d < dists(p) || (d == dists(p) && cid < ids(p))) {
            while (p > 0 && (d < dists(p - 1) || (d == dists(p - 1) && cid < ids(p - 1)))) {
              dists(p) = dists(p - 1); ids(p) = ids(p - 1); p -= 1
            }
            dists(p) = d; ids(p) = cid
          }
        }
        j += 1
      }
      ids.filter(_ != Long.MaxValue)
    }
}
