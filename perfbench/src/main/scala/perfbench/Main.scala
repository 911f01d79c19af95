package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.SparkInternals

import graft.etl.{DailyIngest, FixedWidth, Sources}

/** One benchmark run inside one JVM: set up, run daily-ingest operations in
  * a closed loop (one client, the next run starts when the previous one
  * returns) for the requested seconds, check every operation's outputs
  * untimed, and write a raw JSON report for `run.py` to summarise.
  *
  *   --workload ingest_backfill|ingest_daily --seed N --seconds S
  *   --trace 0|1 --root DIR --out FILE --cores N
  *   --mode setup ...same...    (set-up only: writes {"setup_s": x} to --out)
  *   --mode gen --workload W --seed N --ops K --root DIR   (inputs only)
  *   [--orders-per-day N] [--backfill-days N]              (smaller shapes)
  */
object Main {

  final case class Opts(workload: String, shape: Shape, seed: Long, seconds: Double,
                        trace: Boolean, root: Path, out: Path, cores: Int, setupOnly: Boolean)

  /** Per-workload shape. `fixedOps` operations always run and their total
    * time is `wall_s`; the loop then continues until `seconds` of
    * operations have been timed. */
  final case class Shape(ordersPerDay: Int, backfillDays: Int, fixedOps: Int)

  val Shapes: Map[String, Shape] = Map(
    // 30 ship dates x ~1,000 lines: one 16 MB decoded file per operation
    "ingest_backfill" -> Shape(ordersPerDay = 250, backfillDays = 30, fixedOps = 5),
    // ~240 lines a day, the sf0.1 lineitem density, one file per day after a
    // first file that fills the retention window
    "ingest_daily" -> Shape(ordersPerDay = 60, backfillDays = 0, fixedOps = 7))

  val RetentionDays = 4

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = kv("workload")
    require(Shapes.contains(workload), s"unknown workload $workload")
    val root = Paths.get(kv("root")).toAbsolutePath
    // smaller shapes are for the benchmark's own tests
    val shape = Shapes(workload).copy(
      ordersPerDay = kv.get("orders-per-day").fold(Shapes(workload).ordersPerDay)(_.toInt),
      backfillDays = kv.get("backfill-days").fold(Shapes(workload).backfillDays)(_.toInt))
    if (kv.get("mode").contains("gen")) gen(workload, shape, kv("seed").toLong, kv("ops").toInt, root)
    else run(Opts(workload, shape, kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
                  root, Paths.get(kv("out")).toAbsolutePath, kv("cores").toInt,
                  setupOnly = kv.get("mode").contains("setup")))
  }

  /** Input files of `ops` operations, as they would be dropped. */
  def dropFiles(workload: String, s: Shape, seed: Long, ops: Int): Iterator[Fixture.DropFile] =
    if (workload == "ingest_backfill") {
      val f = Fixture.backfill(seed, s.backfillDays, s.ordersPerDay)
      Iterator.fill(ops)(f)
    } else Iterator.range(0, ops).map(i => Fixture.daily(seed, i, s.ordersPerDay, RetentionDays + 1))

  private def gen(workload: String, shape: Shape, seed: Long, ops: Int, root: Path): Unit = {
    Files.createDirectories(root)
    dropFiles(workload, shape, seed, ops).zipWithIndex.foreach { case (f, i) =>
      val bytes = Fixture.zipBytes(f)
      Files.write(root.resolve(s"$i-${f.name}"), bytes)
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(bytes)
        .map("%02x".format(_)).mkString
      println(s"$i ${f.name} ${f.recs.size} $sha")
    }
  }

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[${o.cores}]")
      // as graft.Run builds it
      .appName("graft-daily-ingest")
      .config("spark.sql.session.timeZone", "UTC")
      // kept inside the run directory, off the network
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.warehouse.dir", o.root.resolve("warehouse").toString)
      .config("spark.local.dir", o.root.resolve("spark-local").toString)
    if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[TracingFileSystem].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** Bytes written and read through Hadoop file systems so far. */
  private def fsBytes(): (Long, Long) = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    (st.map(_.getBytesWritten).sum, st.map(_.getBytesRead).sum)
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  private def digest(spark: SparkSession, dir: String, cols: Seq[String]): Fixture.Digest = {
    val row = concat_ws("|", cols.map(c => coalesce(col(c).cast("string"), lit("\\N"))): _*)
    Fixture.Digest.of(spark.read.parquet(dir).select(row).collect().iterator.map(_.getString(0)))
  }

  /** The untimed output check of one operation; None when it passed. */
  private def check(spark: SparkSession, work: String, drop: Path, f: Fixture.DropFile,
                    exp: Fixture.Expected): Option[String] = {
    val lay = DailyIngest.Layout(work)
    val ymd = f.businessDate.toString.replace("-", "")
    val archived = Paths.get(lay.archive, "Daily", ymd.take(4), ymd, f.name)
    val problems = Seq(
      "final" -> (digest(spark, lay.finalT, Fixture.FinalCols) == exp.finalT),
      "agg/sku_daily" -> (digest(spark, lay.skuAgg, Fixture.SkuCols) == exp.skuAgg),
      "agg/sales_daily" -> (digest(spark, lay.salesAgg, Fixture.SalesCols) == exp.salesAgg),
      "archive" -> Files.isRegularFile(archived),
      "drop dir empty" -> (Files.list(drop).count() == 0L)
    ).collect { case (what, false) => what }
    if (problems.isEmpty) None else Some("mismatch: " + problems.mkString(", "))
  }

  /** Janino compiles so far, from Spark's codegen metrics; the histogram
    * keeps a sample of durations, so time is estimated from its mean. */
  private object Compiles {
    private def h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    def count: Long = h.getCount
    def meanMs: Double = h.getSnapshot.getMean
  }

  private def noopSeconds(df: DataFrame): Double = {
    val t = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t) / 1e9
  }

  /** Sources and FixedWidth time, split out of the fused land job: the same
    * file read into the noop sink, then also exploded, then also parsed;
    * each layer's time is the difference between consecutive steps. */
  private def sourceSteps(spark: SparkSession, file: String): Map[String, Double] = {
    val text = () => Sources.readZipText(spark, file)
      .withColumn("business_date", Sources.filenameDate(col("path")))
    val exploded = () => FixedWidth.explodeFixedWidth(text(), "text")
    val read = noopSeconds(text())
    val explode = noopSeconds(exploded())
    val parse = noopSeconds(FixedWidth.parseRecord(exploded(), "record",
      FixedWidth.LineitemLayout, keep = Seq("business_date")))
    val chars = Sources.readZipText(spark, file).agg(sum(length(col("text")))).head().getLong(0)
    Map("sources.busy_s" -> read, "sources.chars_out" -> chars.toDouble,
        "fixedwidth.explode_s" -> (explode - read), "fixedwidth.parse_s" -> (parse - explode),
        "fixedwidth.busy_s" -> (parse - read))
  }

  /** Set-up, timed from JVM start: a ready session and the first
    * operation's input generated. */
  private def setup(o: Opts): (SparkSession, (Fixture.DropFile, Array[Byte]), Double) = {
    deleteTree(o.root)
    Files.createDirectories(o.root)
    val spark = session(o)
    val f = dropFiles(o.workload, o.shape, o.seed, 1).next()
    val bytes = Fixture.zipBytes(f)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    (spark, (f, bytes), (System.currentTimeMillis() - jvmStart) / 1e3)
  }

  def run(o: Opts): Unit = {
    val shape = o.shape

    val (spark, first, setupS) = setup(o)
    if (o.setupOnly) {
      Files.write(o.out, Json.obj("setup_s" -> setupS).s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // nothing was written outside the run directory, which run.py removes
      Runtime.getRuntime.halt(0)
    }
    val inputs = Iterator.single(first._1) ++ dropFiles(o.workload, shape, o.seed, Int.MaxValue).drop(1)
    var bytes = first._2
    var lastFile = first._1

    val tracer = new Tracer
    if (o.trace) spark.sparkContext.addSparkListener(tracer)
    val model = new Fixture.Model(RetentionDays)
    val backfill = o.workload == "ingest_backfill"
    val ops = Vector.newBuilder[Json.Raw]
    val layers = Vector.newBuilder[Map[String, Double]]
    var timed = 0.0
    val spans = Vector.newBuilder[Json.Raw]
    var i = 0

    val minOps = if (o.trace) math.max(shape.fixedOps, 4) else shape.fixedOps
    // a traced run ends on an untraced operation, the traced one's neighbour
    while (i < minOps || timed < o.seconds || (o.trace && i >= 3 && i % 2 == 1)) {
      // untimed: the operation's input and, for a backfill, an empty table
      val f = inputs.next()
      if (f != lastFile) { bytes = Fixture.zipBytes(f); lastFile = f }
      val work = o.root.resolve(if (backfill) s"work-$i" else "work").toString
      val drop = o.root.resolve(if (backfill) s"drop-$i" else "drop")
      Files.createDirectories(drop)
      Files.write(drop.resolve(f.name), bytes)
      val exp = (if (backfill) new Fixture.Model(RetentionDays) else model).ingest(f)
      // traced runs alternate from the second operation on: the first
      // (cold) one and odd ones untraced, even ones traced
      val traced = o.trace && i > 0 && i % 2 == 0
      val stepFile = o.root.resolve("steps").resolve(f.name)
      if (traced) { Files.createDirectories(stepFile.getParent); Files.write(stepFile, bytes) }

      val (w0, r0) = fsBytes()
      val gc0 = gcMs()
      val cg0 = Compiles.count
      TracingFileSystem.recording = traced
      val t0ms = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val result = scala.util.Try(DailyIngest.runLocked(spark, drop.toString, f.businessDate, work,
                                                         RetentionDays))
      val secs = (System.nanoTime() - t0) / 1e9
      val t1ms = System.currentTimeMillis()
      TracingFileSystem.recording = false
      val (w1, r1) = fsBytes()
      timed += secs

      val error = result match {
        case scala.util.Failure(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case scala.util.Success(None) => Some("lock held")
        case scala.util.Success(Some(_)) =>
          scala.util.Try(check(spark, work, drop, f, exp)).fold(e => Some(s"check threw $e"), identity)
      }
      if (traced) {
        SparkInternals.drainListenerBus(spark.sparkContext)
        val compiles = Compiles.count - cg0
        val s = Summary.op(tracer, TracingFileSystem.drain(), work, drop.toString, t0ms, t1ms, i,
          exp, gcMs() - gc0, compiles, compiles * Compiles.meanMs)
        spans ++= s.spans
        val records = result.toOption.flatten.map(_.totalRows.toDouble).getOrElse(0.0)
        layers += (s.metrics ++ sourceSteps(spark, stepFile.toString) ++ Map(
          "sources.bytes_in" -> bytes.length.toDouble, "fixedwidth.records" -> records,
          "fs.bytes_written" -> (w1 - w0).toDouble, "fs.bytes_read" -> (r1 - r0).toDouble))
        tracer.clear()
        Files.deleteIfExists(stepFile)
      }
      ops += Json.obj("i" -> i, "latency_s" -> secs, "ok" -> error.isEmpty,
        "error" -> error.orNull,
        "traced" -> traced, "bytes_written" -> (w1 - w0), "decoded_bytes" -> Fixture.decodedBytes(f),
        "records" -> f.recs.size)
      if (backfill) { deleteTree(Paths.get(work)); deleteTree(drop) }
      // each operation starts on a collected heap, so GC debt of the
      // untimed check is not billed to the next operation
      System.gc()
      i += 1
    }

    val conf = spark.sparkContext.getConf.getAll.sortBy(_._1)
      .filterNot { case (k, _) => Set("spark.app.id", "spark.app.startTime", "spark.driver.port",
        "spark.executor.id", "spark.app.submitTime").contains(k) }
    val report = Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "seconds" -> o.seconds, "trace" -> o.trace,
      "config" -> Json.obj(
        "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> (v: Any) }: _*),
        "cores" -> o.cores,
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jvm_args" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
        "java_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version,
        "shape" -> Json.obj("orders_per_day" -> shape.ordersPerDay,
          "backfill_days" -> shape.backfillDays, "fixed_ops" -> shape.fixedOps,
          "retention_days" -> RetentionDays)),
      "setup_s" -> setupS,
      "fixed_ops" -> shape.fixedOps,
      "ops" -> ops.result(),
      "layers" -> layers.result().map(m => Json.obj(m.toSeq: _*)),
      "spans" -> spans.result(),
      "rss_peak_mb" -> Summary.rssPeakMb())
    spark.stop()
    Files.write(o.out, report.s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}
