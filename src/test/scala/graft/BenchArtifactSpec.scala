package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench artifact's contract with its readers: the key sets of
  * `bench_result.json` and of the compact stdout line, the compact line's
  * length, and the anchor reader. Pure functions over synthetic tiers, no
  * SparkSession.
  */
class BenchArtifactSpec extends AnyFunSuite {
  private val om = new ObjectMapper()
  private val floor = 0.025
  private val memFloor = 0.015
  // the scale factor dir the committed anchors were measured at
  private val sf01 = om.readTree(new java.io.File("BENCH_anchor_r17.json")).get("sf").asText

  private def quiet(w: Double, gcMs: Long = 0L) = Bench.Sample(w, 0.5, floor, gcMs, memFloor, 2L)
  private def starved(w: Double) = Bench.Sample(w, 0.1, floor * 3, 0L, memFloor, 0L)

  /** Row i of a tier lands in flag class i % 4: converged, contended,
    * every sample GC-thrashed, unconverged (still descending).
    */
  private def rows(names: Seq[String], base: Double): Seq[Bench.Row] =
    names.zipWithIndex.map { case (n, i) =>
      val w = base + i * 0.37
      val ss = i % 4 match {
        case 0 => Seq(quiet(w), quiet(w * 1.02), quiet(w * 1.01))
        case 1 => Seq(starved(w), starved(w * 1.1))
        case 2 => Seq(quiet(w, (w * 600).toLong + 600), quiet(w * 1.05, (w * 700).toLong + 600))
        case _ => Seq(quiet(w * 1.3), quiet(w * 1.15), quiet(w))
      }
      Bench.Row(n, ss, if (i % 4 == 2) 2500L else 100L)
    }

  /** Anchors at 0.9×, 2.5× and 1.4× below each row's first sample, in turn. */
  private def anchors(rs: Seq[Bench.Row]): Map[String, Double] =
    rs.zipWithIndex.map { case (r, i) => r.name -> r.samples.head.wall / Seq(0.9, 2.5, 1.4)(i % 3) }.toMap

  /** A full synthetic run with the real query names: (artifact, compact line). */
  private def run(): (JsonNode, String) = {
    val retry = (sus: Seq[String]) => sus.map(n => (n, 1.0, 1.1))
    val headRows = rows(Bench.headline, 1.0)
    val head = Bench.summarize(headRows, floor, memFloor, anchors(headRows), anchors(headRows), retry)
    val sf1Rows = rows(Bench.sf1Set, 0.2)
    val sf1 = Bench.summarize(sf1Rows, floor, memFloor, anchors(sf1Rows), anchors(sf1Rows), retry)
    val (f, c) = Bench.sf1Nodes(sf1, Bench.shortOf, 4321L, forked = true)
    val fork = Bench.obj(Seq("full" -> f, "compact" -> c,
      "x10" -> Bench.x10Node(rows(Bench.x10Set, 2.0), floor, memFloor)))
    val (full, compact) = Bench.render(head, fork, sf01, 5, floor, memFloor, 1234L,
      "bench_result.json")
    (om.readTree(Bench.write(full)), Bench.write(compact))
  }

  private def keys(n: JsonNode): Set[String] = n.fieldNames.asScala.toSet
  private def texts(n: JsonNode): Seq[String] = n.asScala.map(_.asText).toSeq

  test("artifact and compact line keep the key sets their readers parse") {
    val (full, compactLine) = run()
    val committed = om.readTree(new java.io.File("bench_result.json"))
    // the committed artifact predates the per-sample codegen counts
    assert(keys(full) == keys(committed) ++ Set("codegen_compiles", "codegen_compiles_sf1"))
    assert(keys(full.get("x10")) == keys(committed.get("x10")) + "codegen_compiles_x10")
    val parsed = om.readTree(new java.io.File("BENCH_r18.json")).get("parsed")
    val compact = om.readTree(compactLine)
    assert(keys(compact) == keys(parsed))
    // every flag class is present in the synthetic run
    Seq("contended", "gc_thrash", "unconverged", "suspect", "contended_sf1", "gc_thrash_sf1",
      "unconverged_sf1", "suspect_sf1").foreach(k => assert(compact.get(k).size > 0, k))
    assert(compact.get("retry").size > 0 && compact.get("retry_sf1").size > 0)
    assert(compact.get("gc_hot").size > 0)
    assert(full.get("queries").size == Bench.headline.size + Bench.x10Set.size)
    // no longer than the 2,791 chars the renderer before the tier record
    // (commit dc112ba) printed for these rows
    assert(compactLine.length <= 2791, s"compact line is ${compactLine.length} chars")
  }

  test("an x10 row whose every sample GC-thrashed is named in the compact gc_thrash list") {
    // g02's samples each spent 3 s of their ~3 s in GC; the other rows are clean
    val x10 = Bench.x10Set.map(n => Bench.Row(n,
      if (n == "g02_triangle_count") Seq(quiet(3.0, 3000L), quiet(3.1, 3100L))
      else Seq(quiet(1.0), quiet(1.01)), 0L))
    val fork = Bench.obj(Seq("x10" -> Bench.x10Node(x10, floor, memFloor)))
    val head = Bench.summarize(rows(Seq("q80_tpch_q9"), 1.0), floor, memFloor)
    val (full, compactNode) = Bench.render(head, fork, sf01, 5, floor, memFloor, 0L,
      "bench_result.json")
    val compact = om.readTree(Bench.write(compactNode))
    assert(texts(full.get("x10").get("gc_thrash_x10")) == Seq("x10_g02_triangle_count"))
    assert(texts(compact.get("gc_thrash")) == Seq("x10_g02"))
    assert(compact.get("queries").get("x10_g02_triangle_count").asDouble == 3.0)
    assert(texts(compact.get("unconverged")).isEmpty && texts(compact.get("contended")).isEmpty)
  }

  test("anchorMap: missing file or another sf reads empty; the r17 anchor reads whole") {
    assert(Bench.anchorMap("no_such_anchor.json", "queries", sf01).isEmpty)
    assert(Bench.anchorMap("BENCH_anchor_r17.json", "queries", sf01.replace("sf0.1", "sf0.01")).isEmpty)
    val q = Bench.anchorMap("BENCH_anchor_r17.json", "queries", sf01)
    assert(q.keySet == Bench.headline.toSet)
    assert(q("p05_curation_corpus_build") == 7.837 && q("g02_triangle_count") == 2.56)
    val q1 = Bench.anchorMap("BENCH_anchor_r17.json", "queries_sf1", sf01)
    assert(q1.size == 33 && q1.keySet == Bench.sf1Set.toSet)
    assert(q1("q10_tpch_q1") == 0.803)
  }
}
