package graft

import java.io.ByteArrayOutputStream
import java.util.zip.GZIPOutputStream

import org.apache.spark.sql.functions._

import graft.Bench.timed
import graft.operators.{Robots, TextOps}
import graft.sources.Warc

/** Crawl-ingestion-at-scale benchmark: synthesize N pages as
  * CONCATENATED PER-RECORD GZIP WARC streams (the Common Crawl
  * at-rest layout, ~50 pages per stream), then run the whole
  * ingestion DAG — WARC parse (gunzip + framing) → robots decisions
  * against a 1000-host policy table → HTTP body → stripHtml → C4
  * rules → corpus-wide line dedup (a boilerplate footer planted on
  * EVERY page must vanish) — with per-stage wall timings. Prints one
  * JSON line.
  */
object BenchCrawl {
  def main(args: Array[String]): Unit = {
    val nPages = args.headOption.map(_.toInt).getOrElse(200000)
    val perFile = 50
    val spark = Engine.local(Engine.envCores)
    import spark.implicits._

    def gzip(b: Array[Byte]): Array[Byte] = {
      val bos = new ByteArrayOutputStream(b.length / 2 + 64)
      val g = new GZIPOutputStream(bos)
      g.write(b); g.close()
      bos.toByteArray
    }

    // deterministic page: 3 salad sentences + a universal boilerplate
    // footer line; every 11th page carries lorem ipsum (page drop),
    // every 7th a javascript line (line drop); hosts cycle over 1000
    // policies, paths over the allowed/denied variants
    def pageHtml(p: Long): String = {
      def sent(j: Int): String =
        (0 until 9).map(w => "w" + ((p * 31 + j * 7 + w * 13) % 10000))
          .mkString(" ") + "."
      "<html><body>" +
        s"<p>${sent(0)}</p><p>${sent(1)}</p><p>${sent(2)}</p>" +
        (if (p % 11 == 0) "<p>lorem ipsum dolor sit amet today.</p>" else "") +
        (if (p % 7 == 0) "<p>please enable javascript to comment now.</p>" else "") +
        "<p>subscribe to our newsletter footer line.</p>" +
        "<script>var x = 1;</script></body></html>"
    }
    def pagePath(p: Long): String = (p % 5) match {
      case 0 => "/"
      case 1 => s"/articles/${p % 977}"
      case 2 => "/private/page"
      case 3 => "/tmp/cache"
      case _ => s"/posts/${p % 463}"
    }

    val nFiles = (nPages + perFile - 1) / perFile
    val files = spark.range(nFiles).as[Long].map { f =>
      val bos = new ByteArrayOutputStream(64 * 1024)
      (0 until perFile).foreach { i =>
        val p = f * perFile + i
        if (p < nPages) {
          val html = pageHtml(p)
          val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" +
            html).getBytes("UTF-8")
          bos.write(gzip(Warc.buildRecord("response", s"<urn:uuid:$p>",
            s"http://h${p % 1000}.test${pagePath(p)}",
            "2026-01-01T00:00:00Z",
            "application/http; msgtype=response", http)))
        }
      }
      (f, bos.toByteArray)
    }.toDF("file_id", "content").cache()
    val totalBytes = files.agg(sum(length(col("content")))).head.getLong(0)

    val allRecs = Warc.records(files).cache()
    val (nRecords, tParse) = timed {
      allRecs.where(col("parse_ok")).count()
    }

    val robotsTxt = spark.range(1000).as[Long].map { k =>
      (s"h$k.test",
        "User-agent: *\nDisallow: /private*\n" +
          (if (k % 2 == 1) "Allow: /tmp/cache\n" else "") +
          "Disallow: /tmp/\n")
    }.toDF("host", "robots_txt")
    val rules = Robots.rulesTable(robotsTxt, "graftbot").cache()
    rules.count()

    val recs = allRecs
      .where(col("warc_type") === "response" && col("parse_ok"))
    val (nAllowed, tRobots) = timed {
      Robots.robotsFilter(
        recs.select(col("file_id") * perFile + col("rec_idx"),
          col("target_uri").as("url")).toDF("doc_id", "url"), rules)
        .where(col("allowed")).count()
    }

    val pstr = decode(col("payload"), "UTF-8")
    val pages = recs.select(
      (col("file_id") * perFile + col("rec_idx")).as("doc_id"),
      col("target_uri").as("url"),
      TextOps.stripHtml(
        substring(pstr, instr(pstr, "\r\n\r\n") + 4, lit(1 << 20))).as("text"))
    val allowedPages = pages.join(
      Robots.robotsFilter(pages.select("doc_id", "url"), rules)
        .where(col("allowed")).select("doc_id"), Seq("doc_id"))
    val (nClean, tClean) = timed {
      TextOps.c4Filter(allowedPages.select("doc_id", "text"),
        minSentences = 2).count()
    }

    val cleaned = TextOps.c4Filter(allowedPages.select("doc_id", "text"),
      minSentences = 2).cache()
    cleaned.count()
    val (boilerLeft, tLineDedup) = timed {
      val deduped = TextOps.lineDedup(cleaned)
      deduped.where(col("clean_text")
        .contains("subscribe to our newsletter footer line")).count()
    }

    println(s"""{"bench":"crawl","pages":$nPages,"files":$nFiles,""" +
      s""""gzip_bytes":$totalBytes,"records_ok":$nRecords,""" +
      s""""parse_s":${f"$tParse%.1f"},"allowed":$nAllowed,""" +
      s""""robots_s":${f"$tRobots%.1f"},"clean_pages":$nClean,""" +
      s""""clean_s":${f"$tClean%.1f"},"boiler_keepers":$boilerLeft,""" +
      s""""linededup_s":${f"$tLineDedup%.1f"}}""")
    spark.stop()
  }
}
