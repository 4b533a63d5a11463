package graftbench

import graft.GraftSession

import scala.collection.mutable

/** graft's benchmark driver: one Spark session at local[cores] with as
  * many shuffle partitions, one closed-loop client.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --build <dir>
  *
  * A run generates its inputs from the seed, sets up the workload's
  * phases (indexes, exact answers, one warm-up call of each kind), then
  * runs whole rounds of calls until `--seconds` have passed, at least
  * the workload's `minRounds`. Every call's output is checked inside the loop. The
  * last stdout line is the JSON result: the end-to-end metrics, or with
  * `--trace 1` the per-layer ones; the exit code is non-zero when any
  * check failed.
  */
object Main {

  // Sizes: a run's set-up, warm-up and timed rounds fit the benchmark's
  // per-run time budget on a 4-core host; at these sizes every call is
  // dominated by Spark's per-job fixed cost, not by its data.
  val AnnN = 1000
  val AnnQueries = 100
  val AnnNprobe = 4
  val DedupDocs = 1000
  val ChurnN = 1000
  /** Append and delete batch: together 10% of the 800 indexed vectors,
    * so the 0.1 dirty-ratio policy fires the rebuild every round.
    */
  val ChurnBatch = 40
  val ChurnPoints = 3
  val ChurnNprobe = 4

  /** A workload: its phases (a round runs one round of each) and its
    * fewest timed rounds. The churn calls are small, so four of their
    * rounds fit where two read rounds do, and their median shrugs off
    * one disturbed round.
    */
  final case class Workload(minRounds: Int, phases: Ctx => Seq[Phase])

  val Workloads: Map[String, Workload] = Map(
    "read_batch" -> Workload(2, ctx => Seq(new AnnPhase(ctx, AnnN, AnnQueries, AnnNprobe),
      new DedupPhase(ctx, DedupDocs))),
    "index_churn" -> Workload(4, ctx =>
      Seq(new ChurnPhase(ctx, ChurnN, ChurnBatch, ChurnPoints, ChurnNprobe))))

  /** Spans the per-layer metrics report, one per public call. */
  val LayerSpans: Seq[String] = Seq(
    "Ivf.annBatch", "Knn.knn", "GraphIndex.queryGraphBatch",
    "Dedup.dedupMinhashLshOn", "Dedup.jaccardPairsOn",
    "IndexLifecycle.append", "IndexLifecycle.delete", "IndexLifecycle.query",
    "IndexLifecycle.buildIfNeeded")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "success_rate" -> "ratio", "round_s" -> "s",
    "call_geomean_s" -> "s", "recall" -> "ratio")

  /** Per-call counters of a span; a layer metric is their median. */
  val CounterMetrics: Seq[(String, String, Span => Double)] = Seq(
    ("wall_s", "s", _.wallS),
    ("jobs", "count", _.counters.jobs.toDouble),
    ("tasks", "count", _.counters.tasks.toDouble),
    ("task_cpu_s", "s", _.counters.taskCpuNs / 1e9),
    ("serial_s", "s", s => Trace.serialS(s.counters)),
    ("driver_s", "s", Trace.driverS),
    ("shuffle_write_bytes", "bytes", _.counters.shuffleWriteBytes.toDouble),
    ("spill_bytes", "bytes", _.counters.spillBytes.toDouble),
    ("output_bytes", "bytes", _.counters.outputBytes.toDouble))

  /** What the derived layer metrics are computed from: the median of a
    * counter over a span's calls (0 for a call the workload does not
    * make) and figures read at the end of the run.
    */
  final case class RunFacts(med: (String, Span => Double) => Double, spaceAmp: Double,
                            cachedRdds: Double, storageMemBytes: Double, drainS: Double)

  val DerivedMetrics: Seq[(String, String, RunFacts => Double)] = Seq(
    ("Ivf.annBatch.pairs", "count", _ => AnnPairs),
    ("Ivf.annBatch.ns_per_pair", "ns", _.med("Ivf.annBatch", _.counters.taskCpuNs.toDouble) / AnnPairs),
    ("Knn.knn.pairs", "count", _ => KnnPairs),
    ("Knn.knn.ns_per_pair", "ns", _.med("Knn.knn", _.counters.taskCpuNs.toDouble) / KnnPairs),
    ("IndexLifecycle.append.write_amp", "ratio",
      _.med("IndexLifecycle.append", _.counters.outputBytes.toDouble) / (ChurnBatch * Gen.Dim * 4.0)),
    ("IndexLifecycle.delete.rows_rewritten_per_row", "ratio",
      _.med("IndexLifecycle.delete", _.counters.outputRecords.toDouble) / ChurnBatch),
    ("index.space_amp", "ratio", _.spaceAmp),
    ("session.cached_rdds", "count", _.cachedRdds),
    ("session.storage_mem_bytes", "bytes", _.storageMemBytes),
    ("trace.drain_s", "s", _.drainS))

  /** Every per-layer metric and its unit, in report order. */
  val PerLayer: Seq[(String, String)] =
    LayerSpans.flatMap(n => CounterMetrics.map { case (c, u, _) => s"$n.$c" -> u }) ++
      DerivedMetrics.map { case (n, u, _) => n -> u }

  /** Pairs each scoring call generates, from the input sizes and the
    * index layout: every corpus vector probes `nprobe` of `defaultK(n)`
    * lists holding n / defaultK(n) vectors on average; the exact scan
    * pairs every held-out query with every corpus vector.
    */
  val AnnPairs: Double = AnnN.toDouble * AnnNprobe * AnnN / graft.operators.Ivf.defaultK(AnnN)
  val KnnPairs: Double = AnnQueries.toDouble * AnnN

  private val born = System.nanoTime()

  /** Progress on stderr, with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - born) / 1e9}%7.1f s] $msg")

  def parseArgs(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0 && args.grouped(2).forall(_(0).startsWith("--")),
      s"usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> --build <dir>")
    args.grouped(2).map(a => a(0).drop(2) -> a(1)).toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args)
    val workload = opts("workload")
    val spec = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.keys.mkString(", ")}"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val build = java.nio.file.Paths.get(opts("build")).toAbsolutePath
    // run.py removes this directory when the process has ended
    val work = build.resolve(s"work-${ProcessHandle.current().pid()}")
    sys.exit(if (run(workload, spec, seed, seconds, traced, build, work.toString)) 0 else 1)
  }

  def run(workload: String, spec: Workload, seed: Long, seconds: Double,
          traced: Boolean, build: java.nio.file.Path, work: String): Boolean = {
    val cores = Runtime.getRuntime.availableProcessors.toString
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(cores, cores)
      .config("spark.local.dir", build.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", build.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(if (traced) Some(spark.sparkContext) else None)
    val ctx = new Ctx(spark, seed, tracer)
    try {
      val phases = spec.phases(ctx)
      phases.zipWithIndex.foreach { case (p, i) => p.setup(s"$work/$i") }
      // one untimed, checked round: the first call of each kind runs 1.5-2x slower
      ctx.warming = true
      phases.foreach(_.round())
      ctx.warming = false
      val setupS = (System.nanoTime() - t0) / 1e9
      log(f"set-up done in $setupS%.1f s")

      // closed loop, one client: whole rounds until the time is up; a
      // round's time is its calls' time, without the output checks
      val start = System.nanoTime()
      val roundS = mutable.ArrayBuffer.empty[Double]
      while (roundS.size < spec.minRounds || (System.nanoTime() - start) / 1e9 < seconds) {
        ctx.callS = 0.0
        ctx.round = roundS.size
        tracer.span("round")(phases.foreach(_.round()))
        roundS += ctx.callS
        log(f"round ${roundS.size}: calls ${ctx.callS}%.2f s")
      }

      val walls: String => Seq[Double] = n => tracer.walls.get(n).map(_.toSeq).getOrElse(Nil)
      val called = LayerSpans.filter(n => walls(n).nonEmpty)
      // each approximate call kind's mean recall over the rounds every run
      // makes, so a seed's figure repeats exactly; the worst kind is
      // reported, so one layer's loss is not averaged away
      val recall = ctx.recalls.filter(_._1 < spec.minRounds).groupBy(_._2).values
        .map(rs => rs.map(_._3).sum / rs.size).min
      val e2e = Map(
        "setup_s" -> setupS,
        "success_rate" -> (ctx.attempted - ctx.failed).toDouble / ctx.attempted,
        "round_s" -> Stats.median(roundS.toSeq),
        "call_geomean_s" -> math.exp(called.map(n => math.log(Stats.median(walls(n)))).sum / called.size),
        "recall" -> recall)
      val layers = if (traced) {
        val churn = phases.collectFirst { case c: ChurnPhase => c }
        writeSpans(tracer, build.resolve("traces").resolve(s"$workload-seed$seed.jsonl"))
        layerMetrics(tracer, spark, churn.map(_.spaceAmp).getOrElse(0.0))
      } else Map.empty[String, Double]

      report(EndToEnd, e2e)
      if (traced) report(PerLayer, layers)
      reportLatencies(walls)
      val reported = if (traced) PerLayer.map { case (n, u) => (n, layers(n), u) }
        else EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      println(resultJson(ctx.failed == 0, ctx.attempted, ctx.failed, reported))
      ctx.failed == 0
    } finally {
      tracer.close()
      spark.stop()
    }
  }

  /** Per-call medians of each span's counters (0 for a call the
    * workload does not make), then the derived ratios.
    */
  def layerMetrics(tracer: Tracer, spark: org.apache.spark.sql.SparkSession,
                   spaceAmp: Double): Map[String, Double] = {
    val byName = tracer.spans.groupBy(_.name)
    def med(name: String, f: Span => Double): Double =
      byName.get(name).map(ss => Stats.median(ss.toSeq.map(f))).getOrElse(0.0)
    val storage = spark.sparkContext.getRDDStorageInfo
    val facts = RunFacts(med, spaceAmp, storage.length.toDouble,
      storage.map(_.memSize).sum.toDouble, tracer.drainNs / 1e9)
    (LayerSpans.flatMap(n => CounterMetrics.map { case (c, _, f) => s"$n.$c" -> med(n, f) }) ++
      DerivedMetrics.map { case (n, _, f) => n -> f(facts) }).toMap
  }

  /** Human-readable lines: every metric with its unit. */
  def report(names: Seq[(String, String)], values: Map[String, Double]): Unit =
    names.foreach { case (n, u) => println(f"$n%-52s ${values(n)}%.6g $u") }

  /** Each call's sample count, median and the highest percentile the
    * count supports.
    */
  def reportLatencies(walls: String => Seq[Double]): Unit = {
    println("call latency, s:")
    LayerSpans.foreach { n =>
      val xs = walls(n)
      if (xs.nonEmpty) {
        val tail = Stats.tailPercentile(xs.length)
          .map(p => f" p$p%s=${Stats.percentile(xs, p)}%.4f").getOrElse("")
        println(f"  $n%-36s n=${xs.length}%-4d median=${Stats.median(xs)}%.4f$tail")
      }
    }
  }

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 ms: Seq[(String, Double, String)]): String = {
    val body = ms.map { case (n, v, u) => s""""$n":{"value":${jsonNum(v)},"unit":"$u"}""" }
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{${body.mkString(",")}}}"""
  }

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def writeSpans(tracer: Tracer, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, tracer.spanLines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
