package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

/** Writes one workload's inputs for one seed into a directory:
  *
  *   perfbench.Generate --workload <name> --seed <n> --out <dir>
  *
  * A forecast workload gets the encoded track message (`tracks.bufr`),
  * the GRIB2 rain cube (`rain/`), the municipality polygons, static
  * indicators and the booster file. The daily batch gets a corpus, the
  * day's documents, an evaluation set and the damage model's training
  * table. A `DONE` file is written last. */
object Generate {

  def main(args: Array[String]): Unit = {
    val opts = Args.parse(args)
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val out = Paths.get(opts("out"))
    Files.createDirectories(out)
    val w = Inputs.workload(workload)
    w.forecast.foreach(writeForecast(_, seed, out))
    if (w.curation) writeCuration(seed, out)
    if (w.trainRows > 0) writeTraining(seed, w.trainRows, out)
    write(out.resolve("DONE"), s"$workload $seed\n")
  }

  private def write(p: Path, s: String): Unit = Files.write(p, s.getBytes(UTF_8))

  private def lines(p: Path, header: String, rows: Iterator[String]): Unit = {
    val w = Files.newBufferedWriter(p, UTF_8)
    try {
      w.write(header); w.write('\n')
      rows.foreach { r => w.write(r); w.write('\n') }
    } finally w.close()
  }

  private def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  def writeForecast(spec: Inputs.ForecastSpec, seed: Long, out: Path): Unit = {
    Files.write(out.resolve("tracks.bufr"), Inputs.bufr(spec, seed))
    val rainDir = Files.createDirectories(out.resolve("rain"))
    for ((accum, leads) <- Inputs.RainWindows; lead <- leads) {
      val msgs = (1 to Inputs.RainMembers).map { m =>
        Grib2Writer.message(Inputs.RainGrid, Inputs.RefTime, m, Inputs.RainMembers,
          lead, accum, Inputs.rainField(spec, seed, m, lead, accum))
      }
      Files.write(rainDir.resolve(f"geprcp.t00z.pgrb2a.0p50.bc_${accum}%02dh.f$lead%03d.grib2"),
        msgs.flatten.toArray)
    }
    lines(out.resolve("municipalities.tsv"), "admin_code\twkt",
      Inputs.municipalities.iterator.map(m => s"${m.code}\t${m.wkt}"))
    lines(out.resolve("indicators.csv"), ("Mun_Code" +: Inputs.StaticCols).mkString(","),
      Inputs.indicators.iterator.map { case (c, vs) => (c +: vs.map(num)).mkString(",") })
    graft.impact.XgbBooster.save(Inputs.booster(seed), out.resolve("booster.json").toString)
  }

  def writeTraining(seed: Long, rows: Int, out: Path): Unit = {
    val (train, eval) = Inputs.training(seed, rows)
    val header = (graft.impact.ImpactModel.FeatureCols :+ "DAM_perc_dmg").mkString(",")
    lines(out.resolve("training.csv"), header, train.iterator.map(_.map(num).mkString(",")))
    lines(out.resolve("training_eval.csv"), header, eval.iterator.map(_.map(num).mkString(",")))
  }

  def writeCuration(seed: Long, out: Path): Unit = {
    val c = Inputs.corpus(seed)
    def tsv(name: String, rows: Seq[(Long, String)]): Unit =
      lines(out.resolve(name), "doc_id\ttext", rows.iterator.map { case (i, t) => s"$i\t$t" })
    tsv("corpus.tsv", c.corpus)
    tsv("batch.tsv", c.batch)
    tsv("eval.tsv", c.eval)
  }
}

/** `--key value` command-line pairs. */
object Args {
  def parse(args: Array[String]): Map[String, String] = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    args.grouped(2).map { case Array(k, v) =>
      require(k.startsWith("--"), s"bad option $k")
      k.drop(2) -> v
    }.toMap
  }
}
