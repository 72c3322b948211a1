package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class BenchLineSpec extends AnyFunSuite {
  private val sfDir = "data/sf0.1"
  private val queries = (1 to 196).map { i =>
    f"x$i%03d_a_fairly_long_probe_name_for_width" -> (0.123456789 * i + 1e-4)
  }.toMap
  private val pass = Bench.TimedPass(queries, 0.412345, 0.912345,
    contended = Seq("x001_a_fairly_long_probe_name_for_width"), regressed = Nil,
    calibSpikes = Seq("x002_a_fairly_long_probe_name_for_width"),
    failed = Seq("x197_failed_probe", "x198_failed_probe"))
  private def lineWith(notes: String): String =
    Bench.line(pass, Seq(25.51, 24.98), "inter", sfDir, notes, 1.5, 2.25, 3L)
  private def parse(line: String) = new ObjectMapper().readTree(line)

  test("the line parses and keeps the key order, with failed in the telemetry block") {
    val keys = parse(lineWith("n")).fieldNames().asScala.toSeq
    assert(keys === Seq("queries", "warm", "notes", "volume_notes",
      "load_avg_start", "load_avg_end", "other_jvms", "calib_base",
      "calib_worst", "contended", "regressed", "calib_spikes", "failed",
      "pass_totals", "pass_spread_pct", "metric", "value", "unit",
      "n_queries", "sf"))
    val j = parse(lineWith("n"))
    assert(j.get("failed").elements().asScala.map(_.asText).toSeq ===
      Seq("x197_failed_probe", "x198_failed_probe"))
    assert(j.get("n_queries").asInt === 196)
    assert(j.get("value").asDouble === queries.values.sum)
    assert(j.get("volume_notes").asText === "see BENCH_NOTES.md")
  }

  test("metric, value and sf sit in the last 2,000 characters with 196 queries") {
    val line = lineWith("some notes " * 50)
    assert(line.length > 2000)
    val metric = line.indexOf("\"metric\":\"total\",\"value\":")
    assert(metric >= line.length - 2000)
    assert(line.indexOf("\"sf\":\"" + sfDir + "\"") > metric)
  }

  test("notes with quote, backslash, newline, tab and non-ASCII round-trip in an ASCII line") {
    val notes = "a \"quoted\" C:\\path\nnext line\tafter tab \u2014 dash"
    assert(lineWith(notes).forall(c => c >= ' ' && c <= '~'))
    assert(parse(lineWith(notes)).get("notes").asText === notes)
  }

  test("parseHistory on the written file returns the queries map exactly") {
    val f = Files.createTempFile("bench-line", ".json")
    try {
      Files.writeString(f, lineWith("n") + "\n")
      assert(Bench.parseHistory(f.toString, sfDir) === queries)
      assert(Bench.parseHistory(f.toString, "/other/sf") === Map.empty)
    } finally Files.delete(f)
  }
}
