package graft

import java.io.File

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The parent↔child bench protocol: both sides live in Bench.scala, so a
  * drifting line format silently drops child results (the parent then
  * records "no result line from child"). These tests pin the grammar,
  * including the budget-skip report and the per-name repeat/warmup tiers
  * the children resolve themselves, replay the flag adjudicator over
  * recorded captures, and round-trip the artifacts. No SparkSession. */
class BenchProtocolSpec extends AnyFunSuite {

  test("parses a normal child report with runs vector") {
    val Some((name, r)) = Bench2Protocol.parse(
      "SCENARIO_RESULT parity_pack_large 1.196928179 2048 0.41 23.8,8.7,1.2")
    assert(name == "parity_pack_large")
    assert(r.sec == 1.196928179 && r.rssMb == 2048L && r.floor == 0.41)
    assert(r.runs == Seq(23.8, 8.7, 1.2) && r.err.isEmpty)
  }

  test("parses an error report (message preserved, runs kept)") {
    val Some((name, r)) = Bench2Protocol.parse(
      "SCENARIO_RESULT scale_kmeans -1.0 -1 -1.0 2.1 ERR IllegalStateException: boom")
    assert(name == "scale_kmeans")
    assert(r.sec == -1.0 && r.runs == Seq(2.1))
    assert(r.err.contains("IllegalStateException: boom"))
  }

  test("parses a budget-skip report (round 12: '-' runs placeholder)") {
    val Some((name, r)) = Bench2Protocol.parse(
      "SCENARIO_RESULT parity_pack_very_large -1.0 -1 -1.0 - ERR budget-skipped (need ~29 s, 4 s left)")
    assert(name == "parity_pack_very_large")
    assert(r.sec == -1.0 && r.runs.isEmpty)
    assert(r.err.exists(_.startsWith("budget-skipped")))
  }

  test("rejects malformed lines instead of mis-parsing") {
    assert(Bench2Protocol.parse("SCENARIO_RESULT onlyname 1.0").isEmpty)
    assert(Bench2Protocol.parse("LOG something else entirely").isEmpty)
    assert(Bench2Protocol.parse("SCENARIO_RESULT n notanumber x y z").isEmpty)
  }

  test("repeat tiers: giants best-of-3, GC-band best-of-2, default base") {
    assert(Bench.repeatFor("parity_pack_parent_dominant_2k", 1) == 3)
    assert(Bench.repeatFor("parity_pack_streaming_32", 1) == 2)
    assert(Bench.repeatFor("q_drop_repeated_spans", 1) == 3)
    assert(Bench.repeatFor("q_pivot", 1) == 1)
    // the full profile's base 3 is never reduced by a tier
    assert(Bench.repeatFor("parity_pack_streaming_32", 3) == 3)
  }

  test("warmup tiers: JIT q_ entries get two, giants keep base (round 12: " +
    "dropping their warmup measured JVM ramp, 135 s for a 10 s preset)") {
    assert(Bench.warmupsFor("q_drop_repeated_spans", 1) == 2)
    assert(Bench.warmupsFor("parity_pack_parent_dominant_2k", 1) == 1)
    assert(Bench.warmupsFor("parity_pack_large", 1) == 1)
    assert(Bench.warmupsFor("parity_pack_parent_dominant_2k", 2) == 2)
  }

  test("the giants' phase names registered entries only") {
    // a renamed giant would otherwise silently run in the parity phase
    val known = Bench.parityScenarios.map(_._1).toSet ++ Bench.scaleScenarioNames
    assert(Bench.giantNames.nonEmpty && Bench.giantNames.subsetOf(known))
  }

  test("adjudicator replays the recorded r16 and r16b flagged and floor_excused sets") {
    val ref = Bench.readReference(new File("BENCH_REFERENCE.json"))
    assert(ref.times.nonEmpty && ref.floorSec > 0)
    def replay(path: String): (Bench.Verdict, Seq[String], Seq[String], Set[String]) = {
      val cap = Bench.json.readTree(new File(path))
      def names(key: String) = cap.get(key).elements().asScala.map(_.asText).toSeq
      val inprocess = Bench.numbers(cap.get("inprocess")).toMap
      val values = Bench.numbers(cap.get("queries"))
        .map { case (n, t) => n -> inprocess.getOrElse(n, t) }
      val adjacent = Bench.numbers(cap.get("floors")).toMap
      val floorSec = cap.get("floor_sec").asDouble
      val floors = values.map { case (n, _) => n -> adjacent.getOrElse(n, floorSec) }.toMap
      (Bench.adjudicate(values, floors, ref), names("flagged"), names("floor_excused"),
        Bench.numbers(cap.get("isolated_rerun")).map(_._1).toSet)
    }
    val (r16, r16Flagged, r16Excused, r16Iso) =
      replay("bench_history/BENCH_LOCAL_r16_full.json")
    assert(r16.flagged == Seq("parity_pack_parent_heavy", "parity_pack_very_large"))
    assert(r16.flagged == r16Flagged && r16.floorExcused == r16Excused)
    assert(r16.floorExcused.isEmpty && r16Iso == r16.flagged.toSet)
    val (r16b, r16bFlagged, r16bExcused, r16bIso) =
      replay("bench_history/BENCH_LOCAL_r16b_full_hotbox.json")
    assert(r16b.flagged == Seq("q_sorted_export", "q_knn_sq8_filtered", "scale_semdedup",
      "scale_triangle_hub_plain", "parity_pack_large", "parity_pack_streaming_64"))
    assert(r16b.floorExcused == Seq("q_dedup_minhash", "auto_pack_lineitem_sized"))
    assert(r16b.flagged == r16bFlagged && r16b.floorExcused == r16bExcused)
    assert(r16bIso == r16b.flagged.toSet)
  }

  test("artifacts round-trip an SF path holding a quote and a backslash") {
    val dir = java.nio.file.Files.createTempDirectory("bench_artifacts").toFile
    val sf = "/data/s\"f\\0.1"
    val cap = new Bench.Capture(sf, new File(dir, "BENCH_FULL.json"), 1, 1320.0,
      Bench.Reference(Map("q_a" -> 1.0), 0.2), "ref\"erence.json")
    cap.record("q_a", BenchScenario.ForkResult(3.5, -1L, 0.3, Seq(3.5), None))
    cap.record("q_b", BenchScenario.ForkResult(-1.0, 512L, 0.3, Seq(-1.0),
      Some("IllegalStateException: \"bad\" \\ input")))
    cap.record("q_c", BenchScenario.ForkResult(-1.0, -1L, -1.0, Nil,
      Some("budget-skipped (need ~40 s, 12 s left)")))
    cap.floorSec = 0.25
    cap.finish()
    val full = new File(dir, "BENCH_FULL.json")
    val doc = Bench.json.readTree(full)
    assert(doc.get("sf").asText == sf)
    assert(doc.get("reference").asText == "ref\"erence.json")
    assert(doc.get("errors").get("q_b").asText == "IllegalStateException: \"bad\" \\ input")
    assert(doc.get("skipped").elements().asScala.map(_.asText).toSeq == Seq("q_c"))
    assert(Bench.readReference(full).times == Map("q_a" -> 3.5))
    assert(Bench.readReference(new File(dir, "BENCH_SUMMARY.json")).times == Map("q_a" -> 3.5))
    val line = Bench.json.readTree(cap.compact)
    assert(line.get("sf").asText == sf && line.get("n_errors").asInt == 1 &&
      line.get("n_skipped").asInt == 1 && line.get("n_queries").asInt == 1)
  }

  test("the compact line stays within 2,000 characters with every entry") {
    val dir = java.nio.file.Files.createTempDirectory("bench_compact").toFile
    val cap = new Bench.Capture("/data/sf0.1", new File(dir, "BENCH_FULL.json"),
      1, 0.0, Bench.Reference(Map.empty, -1.0), "BENCH_REFERENCE.json")
    val names = SparkEntry.queries.keys.toSeq ++ Bench.parityScenarios.map(_._1) ++
      Bench.scaleScenarioNames
    names.zipWithIndex.foreach { case (n, i) =>
      cap.record(n, BenchScenario.ForkResult(1.0 + i / 7.0, -1L, 0.3, Seq(1.0), None)) }
    val text = cap.compact
    val line = Bench.json.readTree(text)
    assert(text.length <= 2000)
    assert(line.get("n_queries").asInt == names.size)
    assert(line.get("queries").size + line.get("queries_omitted").asInt == names.size)
    // parity entries are shown first
    assert(line.get("queries").fieldNames().asScala.take(15).forall(_.startsWith("parity_")))
  }
}

/** Alias kept tiny so the spec reads clean. */
private object Bench2Protocol {
  def parse(line: String): Option[(String, BenchScenario.ForkResult)] =
    BenchScenario.parseScenarioLine(line)
}
