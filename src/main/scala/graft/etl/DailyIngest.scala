package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.FixedWidth._
import graft.util.Retry

/** The complete daily run — the reference's flagship entry point
  * (/root/reference/main.py:425-636, SURVEY.md §3.1) re-expressed as one
  * Spark job. A user of the reference points this at the same daily drop
  * directory and gets the same outputs:
  *
  *  1. S1  find today's `R520.<yyyyMMdd>*` file (take-first)
  *  2. S2-S5  binary read → first zip entry → strict UTF-8 decode
  *  3. T1  fixed-width explode (custom Generator; short tail kept)
  *  4. parse  positional field-spec → typed rows (SP_…_Temp reconstruction)
  *  5. land  typed rows → parquet "temp" landing zone
  *     (stand-in for the raw JDBC table; `Sinks.jdbcWriter` is the
  *     batchsize-150 JDBC path when a database is configured)
  *  6. promote  append to final the landed rows whose natural key the
  *     table lacks — idempotent like the per-batch proc loop (§2.11). The
  *     anti-join reads only the table's key columns; the survivors are
  *     written to `final_staged`, partitioned by `f_shipdate`, and moved
  *     in by renames ([[Sinks.appendPartitions]]), so a run writes the new
  *     rows, never the table. A partition gains at most one file per run
  *     that adds rows to it; [[Sinks.compactDatePartitions]] merges them,
  *     but the run does not call it.
  *  7. aggregate  daily SKU / sales rollups from the final table
  *     (SP_Process_Daily_Sales_Data reconstruction)
  *  8. K5  retention: drop final-table days older than `retentionDays`
  *     before the table's newest day, which comes from promote's listing
  *     of the partition directories ([[Sinks.latestDate]]); the drop counts
  *     its rows from parquet footers, so retention reads no table data
  *  9. K3  archive the input into `Daily/YYYY/YYYYMMDD/`
  * 10. K4  metrics (rows/bytes via observe, rows promoted and skipped,
  *     partitions appended, retention drops, seconds per phase) →
  *     notification, never throws
  *
  * Every read of `temp/` and `final/` takes the parsed schema, so no
  * parquet schema inference runs and `f_shipdate` stays a date.
  *
  * Failure at any stage produces a failure notification and rethrows
  * (main.py:624-636 semantics, minus the silent swallow).
  *
  * File I/O: a `workDir` or `inputDir` on a local file system (a plain
  * path or `file:`) is moved onto `niocrc://`
  * ([[graft.util.NioLocalFileSystem.forkFree]]), so the lock, every phase's
  * reads and writes, the archive and the source delete go through the
  * fork-free checksummed local file system: the same files and `.crc`
  * siblings as `file://`, without a `chmod` subprocess per file and
  * directory. Any other file system is used as given.
  */
object DailyIngest {

  final case class Layout(dirs: String) {
    val temp    = s"$dirs/temp"
    val finalT  = s"$dirs/final"
    val skuAgg  = s"$dirs/agg/sku_daily"
    val salesAgg = s"$dirs/agg/sales_daily"
    val archive = s"$dirs/archive"
  }

  val NaturalKey = Seq("f_orderkey", "f_linenumber")

  /** The reference's run SLA (functionTimeout 02:30:00, host.json:15) in
    * seconds — notifications flag runs that exceed it (G3).
    */
  val SlaSeconds: Double = 150.0 * 60

  /** [[run]] under the cross-process single-flight lock (C2 — the
    * distributed upgrade of the reference's in-process `etl_lock`,
    * main.py:17-18, 433): None when another run holds the lock for this
    * workDir; the skipped run sends no notification (parity with the
    * reference, where the lock just blocks).
    */
  def runLocked(spark: SparkSession, inputDir: String, date: java.time.LocalDate,
                workDir: String, retentionDays: Int = 4,
                poster: Map[String, String] => Boolean = _ => true): Option[Notify.RunMetrics] = {
    val work = forkFree(spark, workDir)
    graft.util.SingleFlight.tryLocked(spark, s"$work/.graft_ingest.lock") {
      run(spark, inputDir, date, work, retentionDays, poster)
    }
  }

  /** Run the full pipeline for `date`. Returns the success metrics (and has
    * notified via `poster`). */
  def run(spark: SparkSession, inputDir: String, date: java.time.LocalDate,
          workDir: String, retentionDays: Int = 4,
          poster: Map[String, String] => Boolean = _ => true): Notify.RunMetrics = {
    val lay = Layout(forkFree(spark, workDir))
    val t0 = System.nanoTime()
    val fileName = Sources.dailyFile(spark, forkFree(spark, inputDir), date)
    try {
      val file = fileName.getOrElse(
        throw new IllegalStateException(s"no daily file for $date under $inputDir"))

      // 2-4: read → explode → parse (observe rows/bytes on the record stream)
      val obs = org.apache.spark.sql.Observation("daily_ingest_" + System.nanoTime())
      val txt = Sources.readZipText(spark, file)
        .withColumn("business_date", Sources.filenameDate(col("path")))
      val records = explodeFixedWidth(txt, "text")
        .observe(obs, count(lit(1)).as("n_rows"),
                 sum(octet_length(col("record"))).as("n_bytes"))
      val typed = parseRecord(records, "record", LineitemLayout,
                              keep = Seq("business_date"))
      def read(dir: String): DataFrame = spark.read.schema(typed.schema).parquet(dir)

      // 5: land temp (JDBC raw landing would be Sinks.jdbcWriter(packed,
      //    url, table) — see SinksSpec Derby test)
      Retry.withBackoff() {
        typed.write.mode(SaveMode.Overwrite).parquet(lay.temp)
      }
      val tLanded = System.nanoTime()

      // 6: promote — append the rows whose key final lacks (the first run
      //    promotes temp as-is); the anti-join stays global, since a
      //    re-delivered key may carry another ship date
      val temp = read(lay.temp)
      val fresh =
        if (exists(spark, lay.finalT))
          temp.join(read(lay.finalT).select(NaturalKey.map(col): _*), NaturalKey, "left_anti")
        else temp
      val promoteObs = org.apache.spark.sql.Observation("daily_promote_" + System.nanoTime())
      val staged = s"${lay.finalT}_staged"
      fresh.observe(promoteObs, count(lit(1)).as("n_rows"))
        .repartition(col("f_shipdate"))
        .write.mode(SaveMode.Overwrite).partitionBy("f_shipdate").parquet(staged)
      val appended = Sinks.appendPartitions(spark, staged, lay.finalT)
      val tPromoted = System.nanoTime()

      // 7: rollups from the promoted table
      val finalT = read(lay.finalT)
      finalT.groupBy(col("f_sku").as("sku"), col("f_shipdate").as("business_date"))
        .agg(sum("f_qty_cents").as("qty_cents"),
             sum("f_price_cents").as("price_cents"),
             count(lit(1)).as("n_lines"))
        .write.mode(SaveMode.Overwrite).parquet(lay.skuAgg)
      finalT.groupBy(col("f_shipdate").as("business_date"))
        .agg(sum("f_price_cents").as("price_cents"),
             countDistinct("f_orderkey").as("n_orders"))
        .write.mode(SaveMode.Overwrite).parquet(lay.salesAgg)
      val tAggregated = System.nanoTime()

      // 8: retention on the final table (exclusive < asOf - days) — a pure
      //    partition drop on the date layout: kept days are never touched
      val (droppedRows, droppedParts) =
        Sinks.latestDate(spark, appended, "f_shipdate").fold((0L, 0L)) { asOf =>
          Sinks.retentionDropPartitions(spark, lay.finalT, "f_shipdate",
                                        java.sql.Date.valueOf(asOf), retentionDays)
        }
      val tRetained = System.nanoTime()

      // 9: archive the input
      Sinks.archiveFile(spark, file, lay.archive)
      val tArchived = System.nanoTime()

      // 10: notify success with observed metrics
      val row = obs.get
      val nRows = row("n_rows").asInstanceOf[Long]
      val nPromoted = promoteObs.get("n_rows").asInstanceOf[Long]
      def secs(a: Long, b: Long) = (b - a) / 1e9
      val m = Notify.RunMetrics(file.split("/").last, isFileFailed = false, "",
        nRows, row("n_bytes").asInstanceOf[Long], secs(t0, tArchived),
        slaSeconds = SlaSeconds,
        rowsPromoted = nPromoted,
        rowsSkippedDup = nRows - nPromoted,
        partitionsAppended = appended.filled.size.toLong,
        retentionRows = droppedRows,
        retentionPartitions = droppedParts,
        phaseSeconds = Seq(
          "land" -> secs(t0, tLanded), "promote" -> secs(tLanded, tPromoted),
          "aggregate" -> secs(tPromoted, tAggregated),
          "retention" -> secs(tAggregated, tRetained),
          "archive" -> secs(tRetained, tArchived)))
      Notify.notify(m, "graft@local", "ops@local")(poster)
      m
    } catch {
      case scala.util.control.NonFatal(e) =>
        val m = Notify.RunMetrics(fileName.getOrElse("<none>").split("/").last,
          isFileFailed = true, String.valueOf(e.getMessage), 0L, 0L,
          (System.nanoTime() - t0) / 1e9, slaSeconds = SlaSeconds)
        Notify.notify(m, "graft@local", "ops@local")(poster)
        throw e
    }
  }

  private def forkFree(spark: SparkSession, dir: String): String =
    graft.util.NioLocalFileSystem.forkFree(dir, spark.sparkContext.hadoopConfiguration)

  private def exists(spark: SparkSession, dir: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }
}
