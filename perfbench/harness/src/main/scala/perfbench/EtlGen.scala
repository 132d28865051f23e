package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.nio.file.{Files, Path}
import java.time.LocalDate
import scala.collection.mutable

/** Seeded generator of the three CSV sources of the Xetra/Eurex job, in
  * the shapes of the reference sample data: quoted `SecurityDesc` values
  * with embedded commas, an OPT/FUT/MLEG mix near 2207/1275/64 with FUT
  * rows carrying a null strike and a null underlying, a 2,728-row product
  * dimension that misses some traded segments, and a planted share of
  * malformed lines. It returns the counts the pipeline's outputs must
  * show, so the outputs can be checked without a second engine run.
  */
object EtlGen {

  final case class Expected(
      xetraRows: Long, xetraCorrupt: Long,
      eurexRows: Long, eurexCorrupt: Long,
      missingIsinPairs: Long, missingUnderlyingPairs: Long,
      xetraDates: Seq[String], eurexDates: Seq[String],
      inputBytes: Long)

  /** Input globs: one file per venue and trading hour, as the exchange
    * publishes them, plus the product dimension.
    */
  final case class Inputs(xetra: String, eurex: String, dimension: String)

  val XetraRows = 120000
  val EurexRows = 30000
  val DimensionRows = 2728
  val UnmatchedSegments = 72
  val TradingDays = 2
  val Hours: Seq[Int] = 8 to 16
  /** One line in this many is planted malformed. */
  val CorruptEvery = 250

  def inputs(dir: Path): Inputs =
    Inputs(dir.resolve("xetra/*.csv").toString, dir.resolve("eurex/*.csv").toString,
      dir.resolve("dimension.csv").toString)

  def write(seed: Long, dir: Path): Expected = {
    Files.createDirectories(dir.resolve("xetra"))
    Files.createDirectories(dir.resolve("eurex"))
    val rnd = new scala.util.Random(seed)
    val days = {
      val start = LocalDate.of(2020, 11, 2).plusDays(rnd.nextInt(20).toLong)
      Iterator.iterate(start)(_.plusDays(1))
        .filter(d => d.getDayOfWeek.getValue <= 5).take(TradingDays).map(_.toString).toVector
    }
    val letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
    def code(n: Int): String = (0 until n).map(_ => letters(rnd.nextInt(26))).mkString
    def isin(cc: String): String = cc + (0 until 9).map(_ => "0123456789ABCDEFGHJKLMNPQRSTUVWXYZ"(rnd.nextInt(34))).mkString + rnd.nextInt(10)
    def two(i: Int): String = (if (i < 10) "0" else "") + i
    val slots = for (d <- days; h <- Hours) yield (d, h)
    def price(base: Double): (Double, Double, Double, Double) = {
      val s = base * (0.99 + rnd.nextDouble() * 0.02)
      val e = base * (0.99 + rnd.nextDouble() * 0.02)
      (r2(s), r2(math.max(s, e) * 1.002), r2(math.min(s, e) * 0.998), r2(e))
    }
    def r2(x: Double): Double = math.rint(x * 100) / 100
    // Trading concentrates on few instruments: index i is drawn with
    // probability close to 1/(i+1), normalised.
    def skewed(n: Int): Int = math.min(n - 1, (math.exp(rnd.nextDouble() * math.log(n + 1.0)) - 1).toInt)

    // Xetra cash-market bars.
    val secTypes = Vector("Common stock", "Common stock", "Common stock", "ETF", "ETC", "ETN")
    val securities = Vector.fill(1500) {
      val desc = code(4 + rnd.nextInt(8)) + " " + code(3 + rnd.nextInt(6)) +
        (if (rnd.nextInt(4) == 0) s".EO-,${rnd.nextInt(90) + 10}" else "")
      (isin(if (rnd.nextBoolean()) "DE" else "AT"), code(3), desc, secTypes(rnd.nextInt(secTypes.size)),
        if (rnd.nextInt(10) == 0) "USD" else "EUR", (2500000 + rnd.nextInt(100000)).toString,
        5 + rnd.nextDouble() * 200)
    }
    var xCorrupt = 0L
    val xDates = mutable.SortedSet.empty[String]
    val xetraFiles = hourly(dir.resolve("xetra"), "XETR", slots,
      "ISIN,Mnemonic,SecurityDesc,SecurityType,Currency,SecurityID,Date,Time," +
        "StartPrice,MaxPrice,MinPrice,EndPrice,TradedVolume,NumberOfTrades\n")
    try {
      for (i <- 0 until XetraRows) {
        val slot = i % slots.size
        val (day, hour) = slots(slot)
        val w = xetraFiles(slot)
        def minute(): String = two(hour) + ":" + two(rnd.nextInt(60))
        val (is, mn, desc, st, cur, id, base) = securities(skewed(securities.size))
        val (p0, p1, p2, p3) = price(base)
        val trades = 1 + rnd.nextInt(40)
        if (i % CorruptEvery == CorruptEvery - 1) {
          xCorrupt += 1
          if (rnd.nextBoolean()) w.write(s"$is,$mn,TRUNCATED LINE\n")
          else w.write(s"$is,$mn,${quote(desc)},$st,$cur,$id,$day,${minute()},$p0,$p1,$p2,$p3,${trades * 100},n/a\n")
        } else {
          xDates += day
          w.write(s"$is,$mn,${quote(desc)},$st,$cur,$id,$day,${minute()},$p0,$p1,$p2,$p3,${trades * 137},$trades\n")
        }
      }
    } finally xetraFiles.foreach(_.close())

    // Product dimension and the traded segments (some absent from it).
    final case class Product(segment: String, future: Boolean, underlying: String, underlyingIsin: String)
    val segments = mutable.LinkedHashSet.empty[String]
    while (segments.size < DimensionRows + UnmatchedSegments) segments += code(4)
    val products = segments.toVector.map { s =>
      Product(s, rnd.nextInt(10) == 0, code(3 + rnd.nextInt(3)), isin("DE"))
    }
    val listed = products.take(DimensionRows)
    withWriter(dir.resolve("dimension.csv")) { w =>
      w.write("Product,Name,Product ISIN,Product Line,Product Type,Product Type Symbol," +
        "Liquidity Class,Trading Environment,Partition,Currency,US Approval Type," +
        "Settlement Type,Contract Size,Tick Size,Tick Value,Max Order Qty TSL," +
        "Max TES Qty TSL,Max Future Spread Qty TSL,Max Market Order Qty,Position Limit," +
        "Pre-Trade Limits,Underlying,Underlying ISIN,Underlying Name,Underlying Category\n")
      listed.foreach { p =>
        val kind = if (p.future) "FUT" else "OPT"
        val name = quote(s"${p.underlying} Index ${if (p.future) "Futures" else "Options"}, Series ${rnd.nextInt(9) + 1}")
        val liq = if (rnd.nextInt(6) == 0) "" else s"${rnd.nextInt(3) + 1}"
        val limit = if (rnd.nextInt(3) == 0) 999999999L else (1000 + rnd.nextInt(50000)).toLong
        val category = Vector("Index", "Equity", "Interest Rate", "Commodity")(rnd.nextInt(4))
        w.write(s"${p.segment},$name,${isin("DE")},Equity Derivatives,$kind,${kind.head}," +
          s"$liq,T7,${rnd.nextInt(4) + 1},EUR,,Cash,${Vector(1, 10, 25, 100)(rnd.nextInt(4))}," +
          s"0.5,5.0,${rnd.nextInt(5000) + 100},${rnd.nextInt(5000) + 100},${rnd.nextInt(5000) + 100}," +
          s"${rnd.nextInt(500) + 10},$limit,Y,${p.underlying},${p.underlyingIsin}," +
          s"${quote(p.underlying + " Index")},$category\n")
      }
    }

    // Eurex derivative bars: OPT/FUT/MLEG near the sample's 2207/1275/64.
    val futures = products.filter(_.future)
    val options = products.filterNot(_.future)
    var eCorrupt = 0L
    val eDates = mutable.SortedSet.empty[String]
    val missingIsin = mutable.HashSet.empty[(String, String)]
    val missingUnderlying = mutable.HashSet.empty[(String, String)]
    val eurexFiles = hourly(dir.resolve("eurex"), "XEUR", slots,
      "ISIN,MarketSegment,UnderlyingSymbol,UnderlyingISIN,Currency,SecurityType," +
        "MaturityDate,StrikePrice,PutOrCall,MLEG,ContractGenerationNumber,SecurityID,Date,Time," +
        "StartPrice,MaxPrice,MinPrice,EndPrice,NumberOfContracts,NumberOfTrades\n")
    try {
      for (i <- 0 until EurexRows) {
        val slot = i % slots.size
        val (day, hour) = slots(slot)
        val w = eurexFiles(slot)
        def minute(): String = two(hour) + ":" + two(rnd.nextInt(60))
        val draw = rnd.nextInt(3546)
        val kind = if (draw < 2207) "OPT" else if (draw < 2207 + 1275) "FUT" else "MLEG"
        val p = kind match {
          case "FUT" => futures(skewed(futures.size))
          case "OPT" => options(skewed(options.size))
          case _ => products(skewed(products.size))
        }
        val maturity = LocalDate.parse(day).plusMonths(1L + rnd.nextInt(36)).withDayOfMonth(15)
          .toString.replace("-", "")
        val strike = if (kind == "FUT") "" else ((50 + rnd.nextInt(400)) * 25.0).toString
        val pc = if (kind == "FUT") "" else if (rnd.nextBoolean()) "Put" else "Call"
        val gen = if (kind == "FUT") "" else (rnd.nextInt(3) + 1).toString
        val (under, underIsin) = if (kind == "FUT") ("", "") else (p.underlying, p.underlyingIsin)
        val mleg = s"${p.segment} SI $maturity ${if (kind == "MLEG") "CS" else kind.take(1)}"
        val is = if (rnd.nextInt(400) == 0) "" else isin("DE")
        val (p0, p1, p2, p3) = price(10 + rnd.nextInt(500))
        val contracts = 1 + rnd.nextInt(200)
        val line = s"$is,${p.segment},$under,$underIsin,EUR,$kind,$maturity,$strike,$pc,$mleg,$gen," +
          s"${3000000 + rnd.nextInt(900000)},$day,${minute()},$p0,$p1,$p2,$p3,$contracts,"
        if (i % CorruptEvery == CorruptEvery - 1) {
          eCorrupt += 1
          if (rnd.nextBoolean()) w.write(s"$is,${p.segment},TRUNCATED\n")
          else w.write(line + "many\n")
        } else {
          eDates += day
          if (is.isEmpty) missingIsin += ((p.segment, mleg))
          if (under.isEmpty) missingUnderlying += ((p.segment, mleg))
          w.write(line + (1 + rnd.nextInt(contracts)) + "\n")
        }
      }
    } finally eurexFiles.foreach(_.close())
    Expected(XetraRows - xCorrupt, xCorrupt, EurexRows - eCorrupt, eCorrupt,
      missingIsin.size.toLong, missingUnderlying.size.toLong, xDates.toSeq, eDates.toSeq,
      treeBytes(dir))
  }

  /** One writer per trading hour, named like the exchange's files. */
  private def hourly(dir: Path, venue: String, slots: Seq[(String, Int)], header: String): Vector[BufferedWriter] =
    slots.map { case (day, hour) =>
      val w = new BufferedWriter(new FileWriter(dir.resolve(f"${day}_BINS_$venue$hour%02d.csv").toFile), 1 << 16)
      w.write(header)
      w
    }.toVector

  private def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size).sum() finally s.close()
  }

  private def quote(s: String): String =
    if (s.contains(",")) "\"" + s.replace("\"", "\"\"") + "\"" else s

  private def withWriter(p: Path)(body: BufferedWriter => Unit): Unit = {
    val w = new BufferedWriter(new FileWriter(p.toFile), 1 << 16)
    try body(w) finally w.close()
  }
}
