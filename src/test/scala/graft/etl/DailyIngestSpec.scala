package graft.etl

import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.ops.Ingestion

/** End-to-end spec for the complete daily run (SURVEY.md §3.1): a
  * reference-shaped zip of 520-char lineitem records flows through find →
  * unzip → explode → parse → promote → aggregate → retention → archive →
  * notify, and every stage's output is checked against the fixture.
  */
class DailyIngestSpec extends SparkSpec {

  /** Pack `recs` into the reference-shaped zip for business day `day`. */
  private def writeZip(inputDir: String, day: LocalDate, recs: Seq[String]): String = {
    val ymd = day.toString.replace("-", "")
    val f = new java.io.File(inputDir, s"R520.${ymd}_000000.${ymd}000000.zip")
    val zos = new ZipOutputStream(new java.io.FileOutputStream(f))
    zos.putNextEntry(new ZipEntry("pos.txt"))
    zos.write(recs.mkString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    zos.closeEntry(); zos.close()
    f.getAbsolutePath
  }

  private def stageLineitemZip(inputDir: String): String =
    writeZip(inputDir, LocalDate.of(2024, 1, 15), Ingestion.lineitemRecords(spark, sf0001)
      .orderBy("f_orderkey", "f_linenumber")
      .select("record").collect().map(_.getString(0)).toSeq)

  test("full daily run produces promoted, aggregated, retained, archived output + success notify") {
    val in = Files.createTempDirectory("daily_in").toFile.getAbsolutePath
    val work = Files.createTempDirectory("daily_work").toFile.getAbsolutePath
    stageLineitemZip(in)
    val li = Tables.lineitem(spark, sf0001)
    val nLineitem = li.count()

    var posted: Option[Map[String, String]] = None
    val m = DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work,
      poster = p => { posted = Some(p); true })

    // metrics: every record counted, 520 bytes each (ASCII layout)
    assert(m.totalRows == nLineitem)
    assert(m.totalBytes == nLineitem * 520)
    assert(!m.isFileFailed && posted.exists(_("Subject").contains("succeeded")))

    // final table: retention keeps shipdate >= max - 4d (exclusive delete)
    val asOf = li.agg(max(to_date(col("l_shipdate")))).head().getDate(0)
    val kept = li.filter(to_date(col("l_shipdate")) >= date_sub(lit(asOf), 4))
    val expectKept = kept.count()
    val finalT = spark.read.parquet(s"$work/final")
    assert(finalT.count() == expectKept)

    // where the rows went: all promoted into an empty table, one partition
    // per ship date, and retention dropped every day but the last five
    val nDays = li.select("l_shipdate").distinct().count()
    assert(m.rowsPromoted == nLineitem && m.rowsSkippedDup == 0)
    assert(m.partitionsAppended == nDays)
    assert(m.retentionRows == nLineitem - expectKept)
    assert(m.retentionPartitions == nDays - kept.select("l_shipdate").distinct().count())
    assert(m.phaseSeconds.map(_._1) == Seq("land", "promote", "aggregate", "retention", "archive"))

    // aggregates reconcile with the PROMOTED table: rollups run before the
    // retention cleanup, like the reference (procs at ingest 21:45,
    // retention at 00:30 — function_app.py:11,52)
    val sku = spark.read.parquet(s"$work/agg/sku_daily")
    assert(sku.agg(sum("n_lines")).head().getLong(0) == nLineitem)
    val sales = spark.read.parquet(s"$work/agg/sales_daily")
    assert(sales.count() > 0)

    // input archived into Daily/YYYY/YYYYMMDD and removed from the drop dir
    assert(new java.io.File(s"$work/archive/Daily/2024/20240115").listFiles().nonEmpty)
    assert(new java.io.File(in).listFiles().forall(!_.getName.startsWith("R520.")))

    // second run: file gone -> failure notification, error rethrown
    var failPosted: Option[Map[String, String]] = None
    intercept[IllegalStateException] {
      DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work,
        poster = p => { failPosted = Some(p); true })
    }
    assert(failPosted.exists(_("Subject").contains("FAILED")))

    // idempotent promotion: re-staging the same file and re-running leaves
    // the final table unchanged (anti-join upsert + retention fixed point)
    stageLineitemZip(in)
    val again = DailyIngest.run(spark, in, java.time.LocalDate.of(2024, 1, 15), work)
    assert(spark.read.parquet(s"$work/final").count() == expectKept)
    // lines whose key the kept days hold are skipped; the expired days'
    // lines come back and are dropped again
    val keys = Seq("l_orderkey", "l_linenumber")
    val skipped = li.join(kept.select(keys.map(col): _*).distinct(), keys, "left_semi").count()
    assert(again.rowsSkippedDup == skipped)
    assert(again.rowsPromoted == nLineitem - skipped)
  }

  // --- append-promote crash convergence -----------------------------------

  private val Day1 = LocalDate.of(2024, 1, 15)
  private val Day2 = LocalDate.of(2024, 1, 16)

  /** (orderkey, linenumber, sku, shipdate) lines of a small two-day feed.
    * Day 2 re-delivers three day-1 keys (one with another ship date, which
    * promote must still skip), adds lines to existing partitions
    * (2024-01-14, two in 2024-01-15) and opens 2024-01-16 with two lines;
    * its retention then drops 2024-01-11. */
  private val Day1Lines = Seq((1L, 1L, 11L, "2024-01-11"), (1L, 2L, 12L, "2024-01-12"),
    (2L, 1L, 11L, "2024-01-13"), (3L, 1L, 13L, "2024-01-14"), (3L, 2L, 12L, "2024-01-15"),
    (4L, 1L, 11L, "2024-01-15"))
  private val Day2New = Seq((5L, 1L, 14L, "2024-01-15"), (7L, 1L, 15L, "2024-01-15"),
    (5L, 2L, 11L, "2024-01-16"), (6L, 1L, 12L, "2024-01-16"), (6L, 2L, 13L, "2024-01-14"))
  private val Day2Lines = Seq((2L, 1L, 11L, "2024-01-13"), (4L, 1L, 11L, "2024-01-15"),
    (3L, 1L, 13L, "2024-01-16")) ++ Day2New

  private def records(lines: Seq[(Long, Long, Long, String)]): DataFrame = {
    import spark.implicits._
    lines.toDF("f_orderkey", "f_linenumber", "f_sku", "f_shipdate")
      .withColumn("f_suppkey", col("f_sku") + 100)
      .withColumn("f_qty_cents", col("f_orderkey") * 100 + col("f_linenumber"))
      .withColumn("f_price_cents", col("f_sku") * 1000 + col("f_orderkey"))
      .withColumn("f_discount_bp", lit(5L))
      .withColumn("f_tax_bp", lit(8L))
      .withColumn("f_returnflag", lit("N"))
      .withColumn("f_linestatus", lit("O"))
      .withColumn("f_shipdate", to_date(col("f_shipdate")))
      .select(FixedWidth.formatRecord(FixedWidth.LineitemLayout).as("record"))
  }

  private def zipDay(day: LocalDate, lines: Seq[(Long, Long, Long, String)]): String = {
    val in = Files.createTempDirectory("crash_in").toFile.getAbsolutePath
    writeZip(in, day, records(lines).collect().map(_.getString(0)).toSeq)
    in
  }

  private def copyTree(src: Path, dst: Path): Unit = {
    val walk = Files.walk(src)
    try walk.forEach(p => Files.copy(p, dst.resolve(src.relativize(p).toString)))
    finally walk.close()
  }

  /** Every row of the three outputs a run leaves, order-insensitive. */
  private def outputs(work: String): Map[String, Seq[String]] =
    Seq("final", "agg/sku_daily", "agg/sales_daily").map { d =>
      val df = spark.read.parquet(s"$work/$d")
      d -> df.select(concat_ws("|", df.columns.sorted.map(c => col(c).cast("string")): _*))
        .collect().map(_.getString(0)).toSeq.sorted
    }.toMap

  test("append promote converges after a crash mid-move: stale staging, part-moved partition, renamed-in partition") {
    val day1Work = Files.createTempDirectory("crash_day1").resolve("w")
    DailyIngest.run(spark, zipDay(Day1, Day1Lines), Day1, day1Work.toString)

    val clean = Files.createTempDirectory("crash_clean").resolve("w")
    copyTree(day1Work, clean)
    val m = DailyIngest.run(spark, zipDay(Day2, Day2Lines), Day2, clean.toString)
    assert(m.rowsPromoted == Day2New.size && m.rowsSkippedDup == 3)
    assert(m.partitionsAppended == 3 && m.retentionRows == 1 && m.retentionPartitions == 1)
    val expected = outputs(clean.toString)
    assert(expected("final").size == Day1Lines.size - 1 + Day2New.size)

    // day 2's new lines staged as the crashed run left them, with two
    // files in 2024-01-15 and 2024-01-16 (one per write)
    def staged(work: Path): Path = {
      val typed = FixedWidth.parseRecord(
        records(Day2New).withColumn("business_date", lit(Day2.toString).cast("date")),
        "record", FixedWidth.LineitemLayout, keep = Seq("business_date"))
      val dir = work.resolve("final_staged")
      typed.filter(col("f_orderkey") <= 5).coalesce(1)
        .write.mode("overwrite").partitionBy("f_shipdate").parquet(dir.toString)
      typed.filter(col("f_orderkey") > 5).coalesce(1)
        .write.mode("append").partitionBy("f_shipdate").parquet(dir.toString)
      dir
    }

    val crashes: Seq[(String, Path => Unit)] = Seq(
      "stale final_staged" -> (w => staged(w)),
      "partition part-moved" -> { w =>
        val files = staged(w).resolve("f_shipdate=2024-01-15").toFile.listFiles()
          .filter(_.getName.startsWith("part-"))
        assert(files.length == 2)
        Files.move(files.head.toPath, w.resolve("final/f_shipdate=2024-01-15").resolve(files.head.getName))
      },
      "new partition renamed in" -> { w =>
        Files.move(staged(w).resolve("f_shipdate=2024-01-16"), w.resolve("final/f_shipdate=2024-01-16"))
      })
    crashes.foreach { case (state, crash) =>
      val work = Files.createTempDirectory("crash_state").resolve("w")
      copyTree(day1Work, work)
      crash(work)
      DailyIngest.run(spark, zipDay(Day2, Day2Lines), Day2, work.toString)
      assert(outputs(work.toString) == expected, s"after crash state: $state")
      assert(!Files.exists(work.resolve("final_staged")), s"staging left behind: $state")
    }
  }
}
