package graft.perfbench

import graft.core.DDFManager

/** The benchmark's JVM-side tests, run by `python3 perfbench/selftest.py`.
  * args: scratch dir. Exits 1 when a test failed.
  */
object SelfTest {
  private var failed = 0

  private def expect(what: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $what${if (ok) "" else s": $detail"}")
    if (!ok) failed += 1
  }

  def selfTimeOnNestedSpans(): Unit = {
    // root [0,100] holds overlapping children [10,30] and [20,50] and a
    // disjoint [60,70]; [10,30] holds a grandchild [15,20]
    val spans = Seq(
      Span(0, 1, "s", "root", -1, 0, 100),
      Span(1, 1, "s", "a", 0, 10, 30),
      Span(2, 1, "s", "b", 0, 20, 50),
      Span(3, 1, "s", "c", 0, 60, 70),
      Span(4, 1, "s", "a1", 1, 15, 20))
    val self = Tracer.selfNs(spans)
    expect("self time: overlapping children count once", self(0) == 100 - 40 - 10, s"root ${self(0)}")
    expect("self time: grandchild charged to its parent only", self(1) == 20 - 5, s"a ${self(1)}")
    expect("self time: leaves keep their duration", self(2) == 30 && self(3) == 10 && self(4) == 5,
      s"b ${self(2)} c ${self(3)} a1 ${self(4)}")
    val clipped = Tracer.selfNs(Seq(Span(0, 1, "s", "p", -1, 0, 10), Span(1, 1, "s", "k", 0, 5, 20)))
    expect("self time: a child outliving its parent is clipped", clipped(0) == 5, s"p ${clipped(0)}")
  }

  def throwingOpIsCounted(work: String): Unit = {
    val spark = DDFManager.localSession(2)
    try {
      import spark.implicits._
      def ok(name: String) = Step(name, c => Seq(name -> c.t.op("operators.Views")(Seq(1L, 2L).toDF("x"))))
      val boom = Step("boom", c => Seq("boom" -> c.t.op("operators.Joins") {
        throw new IllegalStateException("injected")
      }))
      val glue = Step("glue", _ => throw new IllegalStateException("outside any op"))
      val w = Workload("injected", Seq(ok("before"), boom, glue, ok("after")), Map.empty, _ => Nil)
      for (traced <- Seq(false, true)) {
        val t = new Tracer(if (traced) Some(spark.sparkContext) else None)
        val c = new Ctx(spark, s"$work/none", s"$work/scratch", t)
        val before = Seq(1L, 2L).toDF("x")
        val digests = Main.runRep(w, c)
        val mode = if (traced) "traced" else "untraced"
        // ops: before + its sink, boom, glue, after + its sink
        expect(s"$mode: a throwing op is attempted and failed", t.attempted == 6 && t.failed == 2,
          s"attempted ${t.attempted} failed ${t.failed} (${t.failures.mkString("; ")})")
        expect(s"$mode: the steps around it still report",
          digests.keySet == Set("before", "after") && digests("before") == Main.digest(before),
          s"digests $digests")
        if (traced) {
          expect("traced: the failed op's span is recorded", t.spans.exists(_.name == "operators.Joins"))
          expect("traced: no job group leaks past the span",
            spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
            spark.sparkContext.getLocalProperty("spark.jobGroup.id"))
        }
      }
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val Array(work) = args
    selfTimeOnNestedSpans()
    throwingOpIsCounted(work)
    if (failed > 0) { println(s"$failed self-test(s) failed"); sys.exit(1) }
    println("all self-tests passed")
  }
}
