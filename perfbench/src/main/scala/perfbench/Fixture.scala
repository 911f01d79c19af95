package perfbench

import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded POS input generator and the expected outputs of ingesting it.
  *
  * Records are lineitem-shaped sales lines packed as 520-character
  * fixed-width records, in the layout `graft.etl.FixedWidth.LineitemLayout`
  * declares. They are formatted here, by hand, and never through
  * `FixedWidth.formatRecord`: a bug shared by the program's formatter and
  * its parser then cannot make the output check pass.
  */
object Fixture {

  val RecordWidth = 520

  final case class Rec(orderkey: Long, line: Int, sku: Long, supp: Long,
                       qtyCents: Long, priceCents: Long, discountBp: Int,
                       taxBp: Int, returnflag: Char, linestatus: Char,
                       shipdate: LocalDate) {
    def key: (Long, Int) = (orderkey, line)
  }

  /** One daily drop file: its reference-style name and its records, in
    * file order. */
  final case class DropFile(businessDate: LocalDate, recs: IndexedSeq[Rec]) {
    def name: String = fileName(businessDate)
  }

  /** `R520.YYYYMMDD_HHMMSS.YYYYMMDDHHMMSS.zip`: business date and cut-off
    * time, then the time the file was produced (the next morning). */
  def fileName(d: LocalDate): String = {
    val ymd = d.toString.replace("-", "")
    val next = d.plusDays(1).toString.replace("-", "")
    s"R520.${ymd}_235959.${next}031500.zip"
  }

  private def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (stream + 0x632BE59BD9B4E019L))

  /** The sales lines shipped on `day`: `orders` orders, 1 to 7 lines each.
    * Order keys are unique per day, so natural keys never collide across
    * days. */
  def dayRecords(seed: Long, day: LocalDate, orders: Int): IndexedSeq[Rec] = {
    val r = rng(seed, day.toEpochDay)
    val out = IndexedSeq.newBuilder[Rec]
    var o = 0
    while (o < orders) {
      val orderkey = day.toEpochDay * 100000L + o
      val lines = 1 + r.nextInt(7)
      var l = 1
      while (l <= lines) {
        val qty = 1L + r.nextInt(50)
        out += Rec(orderkey, l,
          sku = 1L + r.nextInt(20000), supp = 1L + r.nextInt(1000),
          qtyCents = qty * 100, priceCents = qty * (90000L + r.nextInt(120000)),
          discountBp = r.nextInt(11) * 100, taxBp = r.nextInt(9) * 100,
          returnflag = "RAN".charAt(r.nextInt(3)),
          linestatus = "OF".charAt(r.nextInt(2)),
          shipdate = day)
        l += 1
      }
      o += 1
    }
    out.result()
  }

  private def shuffled[A](xs: IndexedSeq[A], r: SplittableRandom): IndexedSeq[A] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq.asInstanceOf[IndexedSeq[A]]
  }

  /** First ship date of a seeded window inside 1993-01-01 .. 1998-12-31. */
  def startDay(seed: Long): LocalDate =
    LocalDate.of(1993, 1, 1).plusDays(rng(seed, -1L).nextInt(6 * 365 - 120).toLong)

  /** Backfill: every line shipped in `days` consecutive days, `ordersPerDay`
    * orders a day, in one file delivered the day after the last ship date.
    * The seed picks the window, the lines and their order in the file. */
  def backfill(seed: Long, days: Int, ordersPerDay: Int): DropFile = {
    val first = startDay(seed)
    val all = (0 until days).flatMap(i => dayRecords(seed, first.plusDays(i.toLong), ordersPerDay))
    DropFile(first.plusDays(days.toLong), shuffled(all, rng(seed, -2L)))
  }

  /** Daily run `i` (0-based). Run 0 catches up: one file with the lines
    * shipped in the window's first `catchUpDays` days, so the table starts
    * at its retention steady state. Each later run: the lines shipped on
    * the next day, plus a seeded 10% of the day before's lines delivered a
    * second time. The business date is the file's latest ship date. */
  def daily(seed: Long, i: Int, ordersPerDay: Int, catchUpDays: Int): DropFile = {
    val first = startDay(seed)
    val r = rng(seed, 1000000L + i)
    if (i == 0) {
      val recs = (0 until catchUpDays).flatMap(k =>
        dayRecords(seed, first.plusDays(k.toLong), ordersPerDay))
      DropFile(first.plusDays(catchUpDays - 1L), shuffled(recs, r))
    } else {
      val day = first.plusDays(catchUpDays - 1L + i)
      val again = dayRecords(seed, day.minusDays(1), ordersPerDay).filter(_ => r.nextDouble() < 0.10)
      DropFile(day, shuffled(dayRecords(seed, day, ordersPerDay) ++ again, r))
    }
  }

  private def lpad(sb: java.lang.StringBuilder, v: Long, len: Int): Unit = {
    val s = v.toString
    require(v >= 0 && s.length <= len, s"$v does not fit $len digits")
    var k = len - s.length
    while (k > 0) { sb.append('0'); k -= 1 }
    sb.append(s)
  }

  /** One 520-char record: the `FixedWidth.LineitemLayout` positions, money in
    * cents, rates in basis points, the date as yyyyMMdd, space padded. */
  def format(r: Rec): String = {
    val sb = new java.lang.StringBuilder(RecordWidth)
    lpad(sb, r.orderkey, 12)
    lpad(sb, r.line.toLong, 4)
    lpad(sb, r.sku, 12)
    lpad(sb, r.supp, 12)
    lpad(sb, r.qtyCents, 12)
    lpad(sb, r.priceCents, 14)
    lpad(sb, r.discountBp.toLong, 6)
    lpad(sb, r.taxBp.toLong, 6)
    sb.append(r.returnflag).append(r.linestatus)
    sb.append(r.shipdate.toString.replace("-", ""))
    while (sb.length < RecordWidth) sb.append(' ')
    sb.toString
  }

  /** The zip the reference receives: one entry, records back to back with
    * no separator. The entry time is fixed so bytes depend on the seed
    * only. */
  def zipBytes(f: DropFile): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val zos = new java.util.zip.ZipOutputStream(bos)
    val e = new java.util.zip.ZipEntry(f.name.stripSuffix(".zip") + ".txt")
    e.setTime(946684800000L)
    zos.putNextEntry(e)
    val w = new java.io.OutputStreamWriter(zos, java.nio.charset.StandardCharsets.UTF_8)
    f.recs.foreach(r => w.write(format(r)))
    w.flush()
    zos.closeEntry()
    zos.close()
    bos.toByteArray
  }

  def decodedBytes(f: DropFile): Long = f.recs.size.toLong * RecordWidth

  /** Order-insensitive digest of a set of rows given as canonical strings:
    * row count plus the wrapping sum of a 64-bit hash per row. */
  final case class Digest(rows: Long, hash: Long) {
    def add(row: String): Digest = Digest(rows + 1, hash + Digest.hash64(row))
  }
  object Digest {
    val empty: Digest = Digest(0L, 0L)
    def hash64(s: String): Long = {
      val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x5bd1e995)
      val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x1b873593)
      (h1.toLong << 32) | (h2.toLong & 0xffffffffL)
    }
    def of(rows: Iterator[String]): Digest = rows.foldLeft(empty)(_ add _)
  }

  /** What the program must leave behind after one daily run. */
  final case class Expected(finalT: Digest, skuAgg: Digest, salesAgg: Digest,
                            newRows: Long, promotedRows: Long,
                            rowsByDate: Map[LocalDate, Long])

  /** The daily run's contract, computed directly from the records:
    * promote adds the landed lines whose natural key the table lacks; the
    * rollups cover the promoted table; retention then drops ship dates
    * before max(ship date) - `retentionDays`. */
  final class Model(retentionDays: Int = 4) {
    private val table = mutable.LinkedHashMap.empty[(Long, Int), (Rec, LocalDate)]

    def ingest(f: DropFile): Expected = {
      val before = table.size
      if (table.isEmpty) f.recs.foreach(r => table.put(r.key, (r, f.businessDate)))
      else f.recs.foreach(r => if (!table.contains(r.key)) table.put(r.key, (r, f.businessDate)))
      val promoted = table.values.toIndexedSeq
      val sku = promoted.groupBy { case (r, _) => (r.sku, r.shipdate) }.iterator.map {
        case ((s, d), g) =>
          s"$s|$d|${g.map(_._1.qtyCents).sum}|${g.map(_._1.priceCents).sum}|${g.size}"
      }
      val sales = promoted.groupBy(_._1.shipdate).iterator.map { case (d, g) =>
        s"$d|${g.map(_._1.priceCents).sum}|${g.map(_._1.orderkey).distinct.size}"
      }
      val byDate = promoted.groupBy(_._1.shipdate).view.mapValues(_.size.toLong).toMap
      val cutoff = promoted.map(_._1.shipdate).max.minusDays(retentionDays.toLong)
      table.filterInPlace { case (_, (r, _)) => !r.shipdate.isBefore(cutoff) }
      Expected(
        finalT = Digest.of(table.valuesIterator.map { case (r, b) => finalRow(r, b) }),
        skuAgg = Digest.of(sku), salesAgg = Digest.of(sales),
        newRows = (promoted.size - before).toLong, promotedRows = promoted.size.toLong,
        rowsByDate = byDate)
    }
  }

  /** Final-table columns in check order, and one row's canonical string. */
  val FinalCols: Seq[String] = Seq("business_date", "f_orderkey", "f_linenumber", "f_sku",
    "f_suppkey", "f_qty_cents", "f_price_cents", "f_discount_bp", "f_tax_bp",
    "f_returnflag", "f_linestatus", "f_shipdate")
  val SkuCols: Seq[String] = Seq("sku", "business_date", "qty_cents", "price_cents", "n_lines")
  val SalesCols: Seq[String] = Seq("business_date", "price_cents", "n_orders")

  def finalRow(r: Rec, business: LocalDate): String =
    s"$business|${r.orderkey}|${r.line}|${r.sku}|${r.supp}|${r.qtyCents}|${r.priceCents}|" +
      s"${r.discountBp}|${r.taxBp}|${r.returnflag}|${r.linestatus}|${r.shipdate}"
}
