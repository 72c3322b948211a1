package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import graft.tools.Profile

class ProfileSpec extends SparkTestBase {
  private val probe = "q04_hash_agg"

  private def output(args: String*): Seq[String] = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(Profile.run(spark, args))
    buf.toString("UTF-8").linesIterator.toSeq
  }

  test("plan writes the probe's final adaptive plan") {
    val dir = Files.createTempDirectory("profile-plan")
    val file = dir.resolve(s"$probe.txt")
    try {
      output("plan", sfDir, dir.toString, probe)
      val txt = Files.readString(file)
      assert(txt.contains("isFinalPlan=true"), txt.take(500))
    } finally { Files.deleteIfExists(file); Files.delete(dir) }
  }

  test("time prints one wall line per rep and the stage lines") {
    val lines = output("time", sfDir, "1", probe)
    assert(lines.count(_.startsWith(s"[profile] run 1 $probe wall=")) === 1,
      lines.mkString("\n"))
    assert(lines.exists(_.trim.startsWith("stage ")), lines.mkString("\n"))
  }
}
