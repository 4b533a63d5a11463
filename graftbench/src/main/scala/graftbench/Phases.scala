package graftbench

import graft.Tables
import graft.functions.VectorMetric
import graft.operators.{Dedup, GraphIndex, IndexLifecycle, Ivf, Knn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What every phase shares: the session, the seed, the tracer and the
  * call accounting.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  var attempted = 0L
  var failed = 0L
  /** Wall seconds of the calls made since the last reset; checks excluded. */
  var callS = 0.0
  /** Warm-up calls are checked but neither timed nor traced. */
  var warming = false
  /** The timed round in progress, from 0. */
  var round = 0
  /** (round, call kind, recall) of each timed approximate answer
    * against the exact one.
    */
  val recalls = mutable.ArrayBuffer.empty[(Int, String, Double)]

  def recall(kind: String, r: Double): Unit = if (!warming) recalls += ((round, kind, r))

  /** One timed call: `f` runs inside a span named `name` (its wall time
    * is the call's latency); `check` then runs in a `check` span and
    * returns an error message when the output is wrong. A throw or a
    * failed check counts the call as failed.
    */
  def call[T](name: String)(f: => T)(check: T => Option[String]): Unit = {
    attempted += 1
    val err =
      try {
        if (warming) check(f)
        else {
          val r = tracer.span(name)(f)
          callS += tracer.walls(name).last
          tracer.span("check")(check(r))
        }
      } catch { case e: Exception => Some(e.toString.linesIterator.take(1).mkString) }
    err.foreach { msg =>
      failed += 1
      System.err.println(s"[graftbench] FAILED $name: $msg")
    }
  }

  def vectorFrame(rows: Seq[(Long, Array[Float])], idCol: String, vecCol: String): DataFrame =
    spark.createDataFrame(
      rows.map { case (id, v) => Row(id, v.toSeq) }.asJava,
      StructType(Seq(StructField(idCol, LongType, nullable = false),
        StructField(vecCol, ArrayType(FloatType, containsNull = false), nullable = false))))

  /** An embeddings table in the layout `Tables.embeddings` reads. */
  def writeEmbeddings(rows: Seq[(Long, Array[Float])], dir: String): Unit =
    vectorFrame(rows, "vec_id", "embedding")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
}

/** One kind of work a workload drives. A round is one pass over its
  * calls.
  */
trait Phase {
  def setup(dir: String): Unit
  def round(): Unit
}

object Phase {
  val K = 10

  def recall(got: Array[Array[Long]], truth: Array[Array[Long]]): Double = {
    val hits = got.zip(truth).map { case (g, t) => g.toSet.intersect(t.toSet).size }.sum
    hits.toDouble / truth.map(_.length).sum
  }

  /** (query_id, neighbor_id, rank) rows as per-query id lists in rank order. */
  def byQuery(rows: Array[Row], queryIds: Array[Long]): Array[Array[Long]] = {
    val m = rows.groupBy(_.getLong(0)).map { case (q, rs) =>
      q -> rs.sortBy(_.getInt(2)).map(_.getLong(1)) }
    queryIds.map(q => m.getOrElse(q, Array.emptyLongArray))
  }
}

/** Bulk search, read only: batch IVF over every corpus vector, exact
  * k-NN and graph beam search over a held-out batch.
  */
final class AnnPhase(ctx: Ctx, n: Int, q: Int, nprobe: Int) extends Phase {
  import ctx.spark
  private var dir = ""
  private var graphPath = ""
  private var corpusIds: Array[Long] = _
  private var heldIds: Array[Long] = _
  private var truthSelf: Array[Array[Long]] = _
  private var truthHeld: Array[Array[Long]] = _
  private var knnQueries: DataFrame = _
  private var graphQueries: DataFrame = _

  def setup(d: String): Unit = {
    dir = d; graphPath = s"$d/graph"
    val centers = Gen.centersFor(n)
    val corpus = Gen.vectors(ctx.seed, centers, 0L, n)
    val held = Gen.vectors(ctx.seed, centers, n.toLong, q)
    corpusIds = corpus.map(_._1); heldIds = held.map(_._1)
    ctx.writeEmbeddings(corpus.toSeq, dir)
    Ivf.warmIndex(spark, dir)
    GraphIndex.build(spark, dir, graphPath)
    // the tree is persisted; its session build memos are not served
    GraphIndex.invalidate(dir); Dedup.invalidate(dir)
    truthSelf = Exact.topK(corpus, corpus, Phase.K, Exact.Cosine, excludeSelf = true)
    truthHeld = Exact.topK(corpus, held, Phase.K, Exact.Cosine, excludeSelf = false)
    knnQueries = ctx.vectorFrame(held.toSeq, "query_id", "qvec")
    graphQueries = ctx.vectorFrame(held.toSeq, "id", "vec")
  }

  private def corpusFrame: DataFrame =
    Tables.rebalanced(Tables.embeddings(spark, dir)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("vec")))

  private def annBatch(): Array[Row] =
    Ivf.annBatch(spark, dir, Phase.K, VectorMetric.Cosine, Some(nprobe))
      .select("query_id", "neighbor_id", "rank").collect()

  private def knn(): Array[Row] =
    Knn.knn(knnQueries, corpusFrame, Phase.K, VectorMetric.Cosine)
      .select("query_id", "neighbor_id", "rank").collect()

  private def graph(): Array[Row] = {
    val out = GraphIndex.queryGraphBatch(spark, graphPath, graphQueries, Phase.K)
    try out.select("query_id", "neighbor_id", "rank").collect() finally out.unpersist()
  }

  def round(): Unit = {
    ctx.call("Ivf.annBatch")(annBatch()) { rows =>
      val got = Phase.byQuery(rows, corpusIds)
      ctx.recall("Ivf.annBatch", Phase.recall(got, truthSelf))
      if (got.exists(_.length > Phase.K)) Some("more than k neighbors for a query")
      else if (rows.exists(r => r.getLong(0) == r.getLong(1))) Some("a query answered itself")
      else None
    }
    ctx.call("Knn.knn")(knn()) { rows =>
      val got = Phase.byQuery(rows, heldIds)
      val bad = got.indices.filterNot(i => got(i).sameElements(truthHeld(i)))
      if (bad.isEmpty) None
      else Some(s"${bad.length} queries differ from brute force, first ${heldIds(bad.head)}")
    }
    ctx.call("GraphIndex.queryGraphBatch")(graph()) { rows =>
      val got = Phase.byQuery(rows, heldIds)
      ctx.recall("GraphIndex.queryGraphBatch", Phase.recall(got, truthHeld))
      if (got.exists(_.length != Phase.K)) Some("a query got other than k neighbors") else None
    }
  }
}

/** Writes beside reads on a persisted IVF index: appends, deletes, point
  * queries, and the dirty-ratio rebuild they trigger.
  */
final class ChurnPhase(ctx: Ctx, n: Int, batch: Int, points: Int, nprobe: Int)
    extends Phase {
  import ctx.spark
  private val centers = Gen.centersFor(n)
  private var ivfPath = ""
  /** Version of the last build the client saw. */
  private var version = 0
  private var nextId = 0L
  // point queries come from ids no corpus version ever holds
  private var nextQuery = 1L << 40
  private val live = mutable.LinkedHashMap.empty[Long, Array[Float]]
  private val rng = new scala.util.Random(Gen.hash(ctx.seed, 9L))

  def setup(d: String): Unit = {
    ivfPath = s"$d/ivf"
    // the index starts on the first 80% of the corpus; appends draw
    // fresh ids after it
    val built = n * 4 / 5
    val corpus = Gen.vectors(ctx.seed, centers, 0L, built)
    corpus.foreach { case (id, v) => live(id) = v }
    nextId = built.toLong
    version = IndexLifecycle.build(ctx.vectorFrame(corpus.toSeq, "id", "vec"), ivfPath).version
  }

  /** Bytes of the index directory per byte of live vectors. */
  def spaceAmp: Double = {
    val s = java.nio.file.Files.walk(java.nio.file.Paths.get(ivfPath))
    val bytes = try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(java.nio.file.Files.size).sum finally s.close()
    bytes.toDouble / (live.size.toDouble * Gen.Dim * 4)
  }

  private def liveFrame: DataFrame = ctx.vectorFrame(live.toSeq, "id", "vec")

  private def rowsOnDisk: Long = spark.read.parquet(ivfPath).count()

  /** Read-back after a mutation: the rows on disk, the state's size and
    * the client's own live set must agree.
    */
  private def agree(what: String, size: Long): Option[String] = {
    val r = rowsOnDisk
    if (r == size && size == live.size) None
    else Some(s"$what: read back $r rows, state size $size, expected ${live.size}")
  }

  private def nextAppend(): Seq[(Long, Array[Float])] = {
    val a = Gen.vectors(ctx.seed, centers, nextId, batch).toSeq
    nextId += batch
    a
  }

  private def idFrame(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.toDF("id")
  }

  private def nextDelete(): Seq[Long] = rng.shuffle(live.keys.toVector).take(batch)

  private def queryVec(): Array[Float] = {
    nextQuery += 1
    Gen.vector(ctx.seed, centers, nextQuery)
  }

  private def query(v: Array[Float]): Array[Long] =
    IndexLifecycle.query(spark, ivfPath, v, Phase.K, nprobe).collect().map(_.getLong(0))

  def round(): Unit = {
    val a = nextAppend()
    ctx.call("IndexLifecycle.append")(IndexLifecycle.append(ctx.vectorFrame(a, "id", "vec"), ivfPath)) { s =>
      a.foreach { case (id, v) => live(id) = v }
      agree("append", s.size)
    }
    val d = nextDelete()
    ctx.call("IndexLifecycle.delete")(IndexLifecycle.delete(idFrame(d), ivfPath)) { s =>
      d.foreach(live.remove)
      agree("delete", s.size)
    }
    (0 until points).foreach { _ =>
      val v = queryVec()
      ctx.call("IndexLifecycle.query")(query(v)) { ids =>
        val truth = Exact.topK(live.toArray, Array((-1L, v)), Phase.K, Exact.L2, excludeSelf = false)
        ctx.recall("IndexLifecycle.query", Phase.recall(Array(ids), truth))
        if (ids.length != Phase.K) Some(s"point query returned ${ids.length} rows")
        else ids.find(id => !live.contains(id)).map(id => s"point query returned dead id $id")
      }
    }
    // the round's append and delete dirty exactly the policy's share of
    // the index, so the call must rebuild: a new version, clean
    ctx.call("IndexLifecycle.buildIfNeeded")(IndexLifecycle.buildIfNeeded(liveFrame, ivfPath)) { s =>
      val built = s.version > version
      version = s.version
      if (!built) Some(s"no rebuild: version ${s.version}, dirty ${s.dirtyCount} of ${s.totalVectors}")
      else if (s.isDirty || s.dirtyCount != 0) Some("rebuild left the index dirty")
      else agree("rebuild", s.size)
    }
  }
}

/** The corpus side: MinHash-LSH and exact prefix-filtered Jaccard dedup
  * over documents with planted near-duplicates.
  */
final class DedupPhase(ctx: Ctx, n: Int) extends Phase {
  import ctx.spark
  private var path = ""
  private var mustFind: Set[(Long, Long)] = Set.empty
  private var lastMinhash: Array[(Long, Long)] = Array.empty

  def setup(d: String): Unit = {
    path = s"$d/documents.parquet"
    val (docs, planted) = Gen.documents(ctx.seed, n)
    val sets = docs.map { case (_, t) => Gen.shingleSet(t) }
    mustFind = planted.filter { case (a, b) =>
      Gen.jaccard(sets(a.toInt), sets(b.toInt)) >= Dedup.JaccardThreshold }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    import spark.implicits._
    docs.toSeq.toDF("doc_id", "text")
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)
  }

  private def docs: DataFrame = spark.read.parquet(path)

  private def pairs(df: DataFrame): Array[(Long, Long)] =
    df.select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))

  def round(): Unit = {
    ctx.call("Dedup.dedupMinhashLshOn")(pairs(Dedup.dedupMinhashLshOn(docs))) { p =>
      lastMinhash = p
      None
    }
    ctx.call("Dedup.jaccardPairsOn")(pairs(Dedup.jaccardPairsOn(docs))) { p =>
      val exact = p.toSet
      ctx.recall("Dedup.dedupMinhashLshOn", lastMinhash.count(exact).toDouble / math.max(1, exact.size))
      val missed = mustFind.diff(exact)
      val extra = lastMinhash.filterNot(exact)
      if (missed.nonEmpty) Some(s"${missed.size} planted pairs missing, e.g. ${missed.head}")
      else if (extra.nonEmpty) Some(s"minhash pair ${extra.head} is not a Jaccard pair")
      else None
    }
  }
}
