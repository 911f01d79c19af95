package perfbench

import perfbench.Tracer.{Exec, PlanFacts}

/** Turns one traced operation's spans into per-layer metrics. */
object Summary {

  /** `p` relative to the work dir, when it lies under it. */
  private def rel(work: String, p: String): Option[String] =
    if (p.startsWith(work + "/")) Some(p.substring(work.length + 1)) else None

  /** The ingest phase an execution served, from the directory it wrote or
    * read under the work dir (never from where the program calls it):
    * `temp/` is land, the final table's staging dir is promote, `agg/` is
    * aggregate, and a read of the final table alone (the retention cut-off
    * and the count of expired partitions) is retention. */
  def phase(f: PlanFacts, work: String): String = f.write.map(rel(work, _)) match {
    case Some(Some(p)) if p == "temp" || p.startsWith("temp/") => "land"
    case Some(Some(p)) if p.startsWith("final")                => "promote"
    case Some(Some(p)) if p.startsWith("agg/")                 => "aggregate"
    case Some(_)                                               => "unattributed"
    case None if f.scans.nonEmpty && f.scans.forall(_.roots.forall(r =>
        rel(work, r).exists(_.startsWith("final")))) => "retention"
    case None => "unattributed"
  }

  val Phases: Seq[String] = Seq("land", "promote", "aggregate", "retention", "unattributed")

  private val PartDir = """f_shipdate=(\d{4}-\d{2}-\d{2})""".r

  final case class Op(metrics: Map[String, Double], spans: Seq[Json.Raw])

  def op(tracer: Tracer, calls: Vector[TracingFileSystem.Call], work: String, drop: String,
         t0: Long, t1: Long, opIndex: Int, exp: Fixture.Expected,
         gcMs: Long, compiles: Long, compileMs: Double): Op = {
    val (execs, jobs) = tracer.within(t0, t1)
    val phaseOf: Map[Long, String] = execs.map(x => x.id -> phase(x.facts, work)).toMap
    def jobsOf(x: Exec) = jobs.filter(_.exec.contains(x.id))
    def dur(a: Long, b: Long) = math.max(0L, b - a) / 1e3
    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    Phases.foreach { ph =>
      val xs = execs.filter(x => phaseOf(x.id) == ph)
      val loose = if (ph == "unattributed") jobs.filter(j => j.exec.forall(id => !phaseOf.contains(id))) else Nil
      m(s"$ph.wall_s") = xs.map(x => dur(x.start, x.end)).sum + loose.map(j => dur(j.start, j.end)).sum
      m(s"$ph.task_s") = (xs.flatMap(jobsOf) ++ loose).map(_.runMs).sum / 1e3
      m(s"$ph.jobs") = (xs.flatMap(jobsOf) ++ loose).size.toDouble
    }
    def facts(ph: String) = execs.filter(x => phaseOf(x.id) == ph).map(_.facts)

    val landed = facts("land").map(_.writeRows).sum
    val written = facts("promote").map(_.writeRows).sum
    // rows promote carried over from the table as it stood before the run
    val newRows = written - (exp.promotedRows - exp.newRows)
    m("promote.rows_written") = written.toDouble
    m("promote.rows_new") = newRows.toDouble
    m("promote.rows_skipped_dup") = (landed - newRows).toDouble
    m("promote.partitions_written") = facts("promote").map(_.writeParts).sum.toDouble
    m("promote.files_written") = facts("promote").map(_.writeFiles).sum.toDouble
    m("promote.rewrite_ratio") = if (newRows > 0) written.toDouble / newRows else 0.0
    m("aggregate.files_read") = facts("aggregate").flatMap(_.scans).map(_.files).sum.toDouble

    val relCalls = calls.flatMap(c => rel(work, c.path).map(r => (c, r)))
    val dropped = relCalls.collect {
      case (c, r) if c.kind == "delete" && r.startsWith("final/") =>
        r.stripPrefix("final/") match { case PartDir(d) => Some(d); case _ => None }
    }.flatten.toSet
    val writtenDates = relCalls.collect {
      case (c, r) if c.kind == "create" && r.startsWith("final") => PartDir.findFirstMatchIn(r).map(_.group(1))
    }.flatten.toSet
    m("retention.rows_read") = facts("retention").flatMap(_.scans)
      .filter(_.roots.exists(r => PartDir.findFirstIn(r).isDefined)).map(_.rows).sum.toDouble
    m("retention.partitions_dropped") = dropped.size.toDouble
    val droppedWritten = (dropped intersect writtenDates).toSeq
      .map(d => exp.rowsByDate.getOrElse(java.time.LocalDate.parse(d), 0L)).sum
    m("retention.dropped_same_run_ratio") = if (written > 0) droppedWritten.toDouble / written else 0.0

    val archiveCalls = calls.filter(c => rel(work, c.path).exists(_.startsWith("archive/")) ||
      (c.kind == "delete" && c.path.startsWith(drop + "/")))
    m("archive.wall_s") =
      if (archiveCalls.isEmpty) 0.0 else dur(archiveCalls.map(_.start).min, archiveCalls.map(_.end).max)

    val spans = execs.map(x => (x.start, x.end)) ++ jobs.map(j => (j.start, j.end))
    m("ingest.driver_only_s") = ((t1 - t0) - Tracer.covered(spans, t0, t1)) / 1e3
    m("ingest.jobs") = jobs.size.toDouble
    m("ingest.stages") = jobs.map(_.stages).sum.toDouble
    m("ingest.tasks") = jobs.map(_.tasks).sum.toDouble
    m("ingest.gc_s") = gcMs / 1e3

    m("fs.write_ops") = calls.count(c => Set("create", "rename", "delete", "mkdirs")(c.kind)).toDouble
    m("fs.read_ops") = calls.count(_.kind == "open").toDouble
    m("fs.list_ops") = calls.count(_.kind == "list").toDouble
    m("fs.stat_ops") = calls.count(_.kind == "stat").toDouble
    m("fs.files_written") = calls.count(_.kind == "create").toDouble

    def phaseSum(k: String) = execs.map(_.facts.phaseMs.getOrElse(k, 0L)).sum / 1e3
    m("driver.analysis_s") = phaseSum("analysis")
    m("driver.optimization_s") = phaseSum("optimization")
    m("driver.planning_s") = phaseSum("planning")
    m("driver.floor_s") = execs.map { x =>
      dur(x.start, x.end) - Tracer.covered(jobsOf(x).map(j => (j.start, j.end)), x.start, x.end) / 1e3
    }.sum
    m("codegen.compiles") = compiles.toDouble
    m("codegen.compile_s") = compileMs / 1e3

    m("exec.task_s") = jobs.map(_.runMs).sum / 1e3
    m("exec.cpu_s") = jobs.map(_.cpuNs).sum / 1e9
    m("exec.gc_s") = jobs.map(_.gcMs).sum / 1e3
    m("exec.sched_delay_s") = jobs.map(_.schedMs).sum / 1e3
    m("exec.shuffle_mb") = jobs.map(_.shuffleBytes).sum / 1048576.0
    m("exec.spill_mb") = jobs.map(_.spillBytes).sum / 1048576.0

    val spanLines =
      Json.obj("name" -> "op", "run" -> opIndex, "start" -> t0, "end" -> t1, "parent" -> null) +:
      (execs.map(x => Json.obj("name" -> phaseOf(x.id), "run" -> opIndex, "id" -> s"sql-${x.id}",
          "start" -> x.start, "end" -> x.end, "parent" -> "op",
          "write" -> x.facts.write.orNull, "reads" -> x.facts.scans.flatMap(_.roots).distinct)) ++
       jobs.map(j => Json.obj("name" -> "job", "run" -> opIndex, "id" -> s"job-${j.id}",
          "start" -> j.start, "end" -> j.end,
          "parent" -> j.exec.map(e => s"sql-$e").getOrElse("op"), "tasks" -> j.tasks)))
    Op(m.toMap, spanLines)
  }

  /** Peak resident memory of this JVM (VmHWM), in MB; 0 where /proc is
    * missing. */
  def rssPeakMb(): Double = {
    val status = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(status)) 0.0
    else scala.io.Source.fromFile(status.toFile).getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Minimal JSON writer for the run report. */
object Json {
  final case class Raw(s: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => quote(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null                 => "null"
    case Raw(s)               => s
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int               => n.toString
    case n: Long              => n.toString
    case Some(x)              => value(x)
    case None                 => "null"
    case xs: Iterable[_]      => xs.map(value).mkString("[", ",", "]")
    case o                    => quote(o.toString)
  }

  def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }
}
