package graft.tools

import org.apache.spark.metrics.source.CodegenMetrics

/** Does the sf0.001 preWarm pass compile the classes the sf0.1 timed run
  * needs? (r17 verdict item 2 — the stall-flap root-cause question.)
  *
  * Bench's adjacent warm pass runs the SAME pipeline at sf0.001 untimed,
  * assuming the generated classes are scale-invariant. If AQE picks a
  * different plan shape at sf0.001 (e.g. a broadcast join that is a
  * shuffled-hash join at sf0.1), the warm pass compiles the WRONG classes
  * and the timed run still pays first-run janino+C2 in its slot — the
  * exact GC/compile amplification the stall records keep exonerating.
  *
  * For each target query this probe measures, in one Bench-config JVM
  * ([[ToolSession]]: same cache size, same width, same cleanup):
  *
  *  1. the sf0.001 pass (what preWarm runs) — compiles = the warm set;
  *  2. the first sf0.1 run — every compile here is a class the warm pass
  *     did NOT cover (the flap exposure);
  *  3. an sf0.1 rerun — expected ~0 (sanity: the cache holds).
  *
  * Compile counts come from Spark's own CodegenMetrics (one histogram
  * entry per actual janino compile; cache hits add nothing — the
  * CodegenChurn convention). A nonzero step-2 count means the two scales
  * generate DIFFERENT source somewhere (plan-shape or expression
  * divergence); step 4 prints the executed-plan join/exchange signature at
  * both scales so the diverging operator can be named.
  *
  * Usage: WarmTransfer [query]... — defaults to the r17 flap class
  * (q_knn_sq, q_knn_sq_recall, q_dedup_jaccard_prefix, q_allpairs_cosine).
  */
object WarmTransfer {
  private val FlapClass = Seq(
    "q_knn_sq", "q_knn_sq_recall", "q_dedup_jaccard_prefix",
    "q_allpairs_cosine")

  /** Multiset of physical join/exchange/aggregate node names in the FINAL
    * (post-AQE) executed plan — the scale-divergence signature. Counts
    * whole node names, so `Exchange` (a shuffle) is not also counted for
    * each `BroadcastExchange`, nor `HashAggregate` for `ObjectHashAggregate`.
    */
  private[graft] def planSignature(df: org.apache.spark.sql.DataFrame): String = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec        => nodes(q.plan)
      case other                    => (other.children ++ other.subqueries).flatMap(nodes)
    })
    val names = nodes(df.queryExecution.executedPlan).map(_.nodeName)
    val markers = Seq("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
      "BroadcastNestedLoopJoin", "CartesianProduct", "Exchange",
      "BroadcastExchange", "HashAggregate", "ObjectHashAggregate",
      "SortAggregate", "Generate", "Window")
    markers.map(m => m -> names.count(_ == m))
      .filter(_._2 > 0)
      .map { case (m, n) => s"$m=$n" }.mkString(" ")
  }

  def main(args: Array[String]): Unit = {
    val targets = if (args.nonEmpty) args.toSeq else FlapClass
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val fullDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = ToolSession.start()
    def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    println(s"== warm-transfer probe: warm=$warmDir, timed=$fullDir, " +
      s"codegen cache=${spark.conf.get("spark.sql.codegen.cache.maxEntries", "100")} ==")
    targets.foreach { q =>
      // Bench parity: the timed action is .count(), preceded by the
      // adjacent warm pass and followed by clearCache+GC cleanup
      def run(dir: String): (Double, Long) = {
        val c0 = compiles()
        val t0 = System.nanoTime()
        graft.SparkEntry.queries(q)(spark, dir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val dc = compiles() - c0
        spark.catalog.clearCache()
        System.gc()
        (dt, dc)
      }
      val (tw, cw) = run(warmDir)
      val (t1, c1) = run(fullDir)
      val (t2, c2) = run(fullDir)
      println(f"$q%-26s warm $tw%6.2f s/$cw%4d compiles | " +
        f"sf0.1 first $t1%6.2f s/$c1%4d NEW | rerun $t2%6.2f s/$c2%4d")
      if (c1 > 0) {
        // name the divergence: final executed-plan signature per scale
        def sig(dir: String): String = {
          val df = graft.SparkEntry.queries(q)(spark, dir)
          df.collect()
          val s = planSignature(df)
          spark.catalog.clearCache()
          s
        }
        println(s"  sig sf0.001: ${sig(warmDir)}")
        println(s"  sig sf0.1:   ${sig(fullDir)}")
      }
    }
    spark.stop()
  }
}
