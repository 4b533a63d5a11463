package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class TraceSpec extends AnyFunSuite {

  private def span(id: Int, parent: Int, start: Long, end: Long): Span = {
    val s = Span(id, s"s$id", parent, 1L, start, 0L)
    s.endNs = end
    s
  }

  test("covered is the length of the union of intervals inside the window") {
    assert(Trace.covered(Nil, 0, 10) == 0)
    assert(Trace.covered(Seq((1L, 3L), (2L, 5L), (7L, 8L)), 0, 10) == 5)
    assert(Trace.covered(Seq((-5L, 2L), (9L, 20L)), 0, 10) == 3)
    assert(Trace.covered(Seq((1L, 9L), (2L, 3L)), 0, 10) == 8)
  }

  test("self time is span time minus the time its child spans cover") {
    val root = span(0, -1, 0, 100)
    val spans = Seq(root,
      span(1, 0, 10, 30), span(2, 0, 20, 40), // overlapping children cover 30
      span(3, 1, 12, 18), // a grandchild does not count against the root
      span(4, 0, 90, 120)) // a child running past the parent is clipped
    assert(Trace.selfNs(root, spans) == 100 - 30 - 10)
    assert(Trace.selfNs(spans(1), spans) == 20 - 6)
    assert(Trace.selfNs(spans(3), spans) == 6)
  }

  test("Spark work lands on the span whose call window holds it, whichever thread runs it") {
    val spark = SparkSession.builder().master("local[2]").appName("trace-spec")
      .config("spark.ui.enabled", "false").getOrCreate()
    try {
      val tracer = new Tracer(Some(spark.sparkContext))
      tracer.span("outer") {
        tracer.span("a")(spark.range(0, 1000, 1, 4).count())
        tracer.span("b") {
          // a job submitted on another thread inside the window
          val t = new Thread(() => spark.range(0, 1000, 1, 3).count())
          t.start(); t.join()
        }
      }
      val byName = tracer.spans.map(s => s.name -> s).toMap
      def jobs = tracer.spans.map(_.counters.jobs).sum
      val before = jobs
      spark.range(0, 10, 1, 2).count() // outside every span
      org.apache.spark.BenchBus.drain(spark.sparkContext)
      tracer.close()
      assert(jobs == before)
      assert(byName("a").counters.jobs >= 1 && byName("b").counters.jobs >= 1)
      // at least one task per input partition
      assert(byName("a").counters.tasks >= 4 && byName("b").counters.tasks >= 3)
      assert(byName("outer").counters.jobs == 0)
      assert(byName("a").counters.stages.nonEmpty)
      assert(byName("a").parent == byName("outer").id)
      assert(tracer.spans.map(_.callId).distinct.size == 1)
      assert(tracer.walls("a").size == 1)
    } finally spark.stop()
  }
}
