package perfbench

import java.io.ByteArrayOutputStream

/** Writers for the two binary formats the forecast cycle decodes. They
  * follow the public WMO specifications (FM-94 BUFR edition 4, FM-92
  * GRIB edition 2) and share no code with the engine's decoders, so a
  * decode that returns the generated values is a real round trip. */
final class ByteOut {
  val out = new ByteArrayOutputStream()
  def u8(v: Int): ByteOut = { out.write(v & 0xFF); this }
  def u16(v: Int): ByteOut = { u8(v >> 8); u8(v) }
  def u24(v: Int): ByteOut = { u8(v >> 16); u16(v) }
  def u32(v: Long): ByteOut = { u16((v >> 16).toInt); u16(v.toInt) }
  def u64(v: Long): ByteOut = { u32(v >> 32); u32(v) }
  def f32(v: Float): ByteOut = u32(java.lang.Float.floatToIntBits(v).toLong & 0xFFFFFFFFL)
  def bytes(b: Array[Byte]): ByteOut = { out.write(b, 0, b.length); this }
  def ascii(s: String): ByteOut = bytes(s.getBytes("US-ASCII"))
  def result: Array[Byte] = out.toByteArray
}

/** MSB-first bit packer. */
final class BitOut {
  private val out = new ByteArrayOutputStream()
  private var acc = 0
  private var nbits = 0
  def write(v: Long, width: Int): Unit = {
    var i = width - 1
    while (i >= 0) {
      acc = (acc << 1) | ((v >> i) & 1L).toInt
      nbits += 1
      if (nbits == 8) { out.write(acc); acc = 0; nbits = 0 }
      i -= 1
    }
  }
  def writeAscii(s: String, nBytes: Int): Unit =
    s.padTo(nBytes, ' ').take(nBytes).foreach(c => write(c.toLong, 8))
  def align(): Unit = while (nbits != 0) write(0, 1)
  def result: Array[Byte] = { align(); out.toByteArray }
}

/** BUFR edition 4 with the compression scheme, for the ECMWF tropical
  * cyclone ensemble track template (one subset per member). */
object BufrWriter {

  /** WMO Table B entries the template uses: (scale, reference, width). */
  final case class Elem(scale: Int, ref: Long, width: Int, isString: Boolean = false)
  val Table: Map[Int, Elem] = Map(
    1025 -> Elem(0, 0, 24, isString = true), 1027 -> Elem(0, 0, 80, isString = true),
    1033 -> Elem(0, 0, 8), 1034 -> Elem(0, 0, 8), 1090 -> Elem(0, 0, 8),
    1091 -> Elem(0, 0, 10), 1092 -> Elem(0, 0, 8),
    4001 -> Elem(0, 0, 12), 4002 -> Elem(0, 0, 4), 4003 -> Elem(0, 0, 6),
    4004 -> Elem(0, 0, 5), 4005 -> Elem(0, 0, 6), 4024 -> Elem(0, -2048, 12),
    5002 -> Elem(2, -9000, 15), 5021 -> Elem(2, 0, 16), 6002 -> Elem(2, -18000, 16),
    8005 -> Elem(0, 0, 4), 10051 -> Elem(-1, 0, 14), 11012 -> Elem(1, 0, 12),
    19003 -> Elem(0, 0, 8), 19004 -> Elem(-3, 0, 12), 31001 -> Elem(0, 0, 8))

  /** A value in the expanded descriptor stream of one subset. */
  sealed trait V { def code: Int }
  final case class Num(code: Int, value: Option[Double]) extends V
  final case class Str(code: Int, value: String) extends V

  /** Raw integer of a numeric value: round(v·10^scale) − reference. */
  def raw(e: Elem, v: Double): Long = math.round(v * math.pow(10, e.scale)) - e.ref

  /** Descriptor list of section 3 (F X Y packed as 2+6+8 bits). The
    * delayed replication covers the forecast steps; inside each step a
    * fixed replication covers the three wind thresholds, each with four
    * quadrants of (bearing start, bearing end, radius). */
  val Descriptors: Seq[(Int, Int, Int)] = Seq(
    (0, 1, 33), (0, 1, 34), (0, 1, 25), (0, 1, 27),
    (3, 1, 11), (3, 1, 12), (0, 1, 90), (0, 1, 92), (0, 1, 91),
    (0, 8, 5), (3, 1, 23), (0, 10, 51), (0, 8, 5), (3, 1, 23), (0, 11, 12),
    (1, 13, 0), (0, 31, 1),
    (0, 4, 24), (0, 8, 5), (3, 1, 23), (0, 10, 51), (0, 8, 5), (3, 1, 23), (0, 11, 12),
    (1, 5, 3), (0, 19, 3), (1, 3, 4), (0, 5, 21), (0, 5, 21), (0, 19, 4))

  /** One member's track as the message carries it. Positions in
    * degrees, pressure in Pa, wind in m/s, radii in metres (NaN =
    * missing); `radii(threshold)(quadrant)`. */
  final case class Step(hour: Int, lat: Double, lon: Double, pressurePa: Double,
                        latMax: Double, lonMax: Double, windMs: Double,
                        radii: Array[Array[Double]])
  final case class Member(number: Int, ensType: Int, steps: Seq[Step])

  private def opt(v: Double): Option[Double] = if (v.isNaN) None else Some(v)

  /** The expanded value stream of one subset, in descriptor order. */
  def subsetValues(stormId: String, name: String, date: java.time.LocalDateTime,
                   m: Member, analysis: Step): Seq[V] = {
    val head = Seq[V](
      Num(1033, Some(98)), Num(1034, Some(0)), Str(1025, stormId), Str(1027, name),
      Num(4001, Some(date.getYear)), Num(4002, Some(date.getMonthValue)),
      Num(4003, Some(date.getDayOfMonth)), Num(4004, Some(date.getHour)),
      Num(4005, Some(date.getMinute)), Num(1090, Some(1)),
      Num(1092, Some(m.ensType)), Num(1091, Some(m.number)),
      Num(8005, Some(1)), Num(5002, opt(analysis.lat)), Num(6002, opt(analysis.lon)),
      Num(10051, opt(analysis.pressurePa)),
      Num(8005, Some(3)), Num(5002, opt(analysis.latMax)), Num(6002, opt(analysis.lonMax)),
      Num(11012, opt(analysis.windMs)),
      Num(31001, Some(m.steps.size)))
    val thresholds = Seq(18.0, 26.0, 33.0)
    val steps = m.steps.flatMap { s =>
      Seq[V](Num(4024, Some(s.hour)), Num(8005, Some(1)),
        Num(5002, opt(s.lat)), Num(6002, opt(s.lon)), Num(10051, opt(s.pressurePa)),
        Num(8005, Some(3)), Num(5002, opt(s.latMax)), Num(6002, opt(s.lonMax)),
        Num(11012, opt(s.windMs))) ++
        thresholds.indices.flatMap { t =>
          Num(19003, Some(thresholds(t))) +: (0 until 4).flatMap { q =>
            Seq(Num(5021, Some(q * 90.0)), Num(5021, Some(q * 90.0 + 90.0)),
              Num(19004, opt(s.radii(t)(q))))
          }
        }
    }
    head ++ steps
  }

  /** A compressed multi-subset message: per element, a base value, a
    * 6-bit increment width and one increment per subset (all-ones
    * increment = missing). */
  def message(subsets: Seq[Seq[V]], date: java.time.LocalDateTime): Array[Byte] = {
    val n = subsets.size
    require(subsets.map(_.size).distinct.size == 1,
      "compressed BUFR needs the same expansion in every subset")
    val bits = new BitOut
    subsets.head.indices.foreach { i =>
      val column = subsets.map(_(i))
      column.head match {
        case Str(code, _) =>
          val e = Table(code)
          val nBytes = e.width / 8
          val strs = column.map { case Str(_, s) => s.padTo(nBytes, ' ').take(nBytes); case _ => "" }
          if (strs.distinct.size == 1) { bits.writeAscii(strs.head, nBytes); bits.write(0, 6) }
          else {
            bits.write(0, e.width); bits.write(nBytes.toLong, 6)
            strs.foreach(bits.writeAscii(_, nBytes))
          }
        case Num(code, _) =>
          val e = Table(code)
          val raws = column.map { case Num(_, v) => v.map(raw(e, _)); case _ => None }
          raws.flatten.foreach(r => require(r >= 0 && r < (1L << e.width) - 1,
            s"value out of range for descriptor $code: $r"))
          val present = raws.flatten
          if (present.isEmpty) { bits.write((1L << e.width) - 1, e.width); bits.write(0, 6) }
          else {
            val base = present.min
            val maxInc = present.max - base
            if (maxInc == 0 && present.size == n) { bits.write(base, e.width); bits.write(0, 6) }
            else {
              var w = 1
              while ((1L << w) - 1 <= maxInc) w += 1
              bits.write(base, e.width); bits.write(w.toLong, 6)
              raws.foreach {
                case Some(r) => bits.write(r - base, w)
                case None => bits.write((1L << w) - 1, w)
              }
            }
          }
      }
    }
    val payload = bits.result
    val sec1 = new ByteOut().u24(22).u8(0).u16(98).u16(0).u8(0).u8(0)
      .u8(7).u8(0).u8(255).u8(32).u8(0)
      .u16(date.getYear).u8(date.getMonthValue).u8(date.getDayOfMonth)
      .u8(date.getHour).u8(date.getMinute).u8(0).result
    val sec3body = new ByteOut()
    Descriptors.foreach { case (f, x, y) => sec3body.u16((f << 14) | (x << 8) | y) }
    val descBytes = sec3body.result
    val sec3 = new ByteOut().u24(7 + descBytes.length).u8(0).u16(n).u8(0xC0)
      .bytes(descBytes).result
    val sec4 = new ByteOut().u24(4 + payload.length).u8(0).bytes(payload).result
    val total = 8 + sec1.length + sec3.length + sec4.length + 4
    new ByteOut().ascii("BUFR").u24(total).u8(4)
      .bytes(sec1).bytes(sec3).bytes(sec4).ascii("7777").result
  }
}

/** GRIB2 messages shaped like GEFS `pgrb2a` precipitation: regular
  * lat/lon grid (template 3.0), one member per message (template 4.11,
  * accumulation interval), simple packing (template 5.0). */
object Grib2Writer {

  final case class Grid(ni: Int, nj: Int, lat1: Double, lon1: Double, res: Double) {
    def points: Int = ni * nj
    /** Scan mode 0: +i west→east, −j north→south. */
    def latLon(idx: Int): (Double, Double) = (lat1 - (idx / ni) * res, lon1 + (idx % ni) * res)
  }

  private def section(num: Int, body: ByteOut => Unit): Array[Byte] = {
    val b = new ByteOut
    body(b)
    val content = b.result
    new ByteOut().u32(content.length + 5L).u8(num).bytes(content).result
  }

  private def micro(d: Double): Long = math.round(d * 1e6)

  /** One APCP field for ensemble `member` of `nMembers`, accumulated
    * over the `accumHours` ending at `leadHours`, values in tenths of a
    * millimetre (decimal scale factor 1). */
  def message(grid: Grid, ref: java.time.LocalDateTime, member: Int, nMembers: Int,
              leadHours: Int, accumHours: Int, tenthsMm: Array[Int]): Array[Byte] = {
    require(tenthsMm.length == grid.points)
    val s1 = section(1, b => b.u16(7).u16(2).u8(2).u8(1).u8(1)
      .u16(ref.getYear).u8(ref.getMonthValue).u8(ref.getDayOfMonth)
      .u8(ref.getHour).u8(0).u8(0).u8(0).u8(4))
    val s3 = section(3, b => b.u8(0).u32(grid.points).u8(0).u8(0).u16(0)
      .u8(6).u8(0).u32(0).u8(0).u32(0).u8(0).u32(0)
      .u32(grid.ni).u32(grid.nj).u32(0).u32(0xFFFFFFFFL)
      .u32(micro(grid.lat1)).u32(micro(grid.lon1)).u8(0x30)
      .u32(micro(grid.lat1 - (grid.nj - 1) * grid.res))
      .u32(micro(grid.lon1 + (grid.ni - 1) * grid.res))
      .u32(micro(grid.res)).u32(micro(grid.res)).u8(0))
    val start = leadHours - accumHours
    val end = ref.plusHours(leadHours.toLong)
    val s4 = section(4, b => b.u16(0).u16(11)
      .u8(1).u8(8).u8(4).u8(0).u8(70).u16(0).u8(0)
      .u8(1).u32(start.toLong)
      .u8(1).u8(0).u32(0).u8(255).u8(0).u32(0)
      .u8(3).u8(member).u8(nMembers)
      .u16(end.getYear).u8(end.getMonthValue).u8(end.getDayOfMonth)
      .u8(end.getHour).u8(0).u8(0)
      .u8(1).u32(0)
      .u8(1).u8(2).u8(1).u32(accumHours.toLong).u8(255).u32(0))
    val maxV = if (tenthsMm.isEmpty) 0 else tenthsMm.max
    var nbits = 0
    while ((1L << nbits) <= maxV) nbits += 1
    val s5 = section(5, b => b.u32(grid.points).u16(0)
      .f32(0f).u16(0).u16(1).u8(nbits).u8(0))
    val s6 = section(6, b => b.u8(255))
    val bits = new BitOut
    if (nbits > 0) tenthsMm.foreach(v => bits.write(v.toLong, nbits))
    val data = bits.result
    val s7 = section(7, b => b.bytes(data))
    val body = Array(s1, s3, s4, s5, s6, s7).flatten
    new ByteOut().ascii("GRIB").u16(0).u8(0).u8(2).u64(16L + body.length + 4)
      .bytes(body).ascii("7777").result
  }
}
