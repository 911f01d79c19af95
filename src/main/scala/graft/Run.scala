package graft

import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the daily ingest pipeline — the operational
  * twin of the reference's timer trigger (function_app.py:10-49): an
  * external scheduler (cron/Airflow) invokes this once per day.
  *
  * Usage:
  *   spark-submit --class graft.Run <jar> <inputDir> <workDir> [yyyy-MM-dd]
  *
  * Date defaults to the +05:30 business date of "now" (main.py:444), passed
  * explicitly in tests/backfills so runs stay deterministic.
  */
object Run {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.Run <inputDir> <workDir> [yyyy-MM-dd]")
    val Array(inputDir, workDir) = args.take(2)
    val date = args.lift(2).map(java.time.LocalDate.parse).getOrElse(
      java.time.OffsetDateTime.now(java.time.ZoneOffset.UTC)
        .plusMinutes(graft.util.Clock.BusinessOffsetMinutes).toLocalDate)
    val spark = SparkSession.builder()
      .appName("graft-daily-ingest")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      // single-flight (C2): a concurrent/overlapping scheduler invocation
      // finds the lock held and exits without side effects
      etl.DailyIngest.runLocked(spark, inputDir, date, workDir) match {
        case Some(m) =>
          val phases = m.phaseSeconds.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
          println(s"""{"file":"${m.fileName}","rows":${m.totalRows},"bytes":${m.totalBytes},""" +
            s""""seconds":${m.totalTimeSeconds},"rows_promoted":${m.rowsPromoted},""" +
            s""""rows_skipped_dup":${m.rowsSkippedDup},"partitions_appended":${m.partitionsAppended},""" +
            s""""retention_rows":${m.retentionRows},"retention_partitions":${m.retentionPartitions},""" +
            s""""phase_seconds":$phases}""")
        case None =>
          println(s"""{"skipped":"lock held","workDir":"$workDir"}""")
      }
    } finally spark.stop()
  }
}
