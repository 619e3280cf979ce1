package graft.tools

/** Dev tool (r14): sweep every non-streaming declared key's executed plan
  * for silent degradations —
  *  - SortAggregate where a hash agg may have been intended (struct/array
  *    buffer types demote the whole aggregate out of HashAggregateExec);
  *  - CartesianProduct;
  *  - whole-stage-codegen subtrees whose compiled bytecode exceeds the
  *    JIT HugeMethodLimit (8000 bytes): the method compiles but HotSpot
  *    never JITs it, so the hot path runs interpreted — exactly how a
  *    dead 36-substring fallback branch cost join_fuzzy_blocked 6 s
  *    before r14 removed it.
  * Prints one line per finding; `[sweep] done` when complete. */
object PlanSweep {
  private val HugeMethodLimit = 8000

  def main(args: Array[String]): Unit = {
    // AQE OFF: debug.codegenStringSeq cannot see through an
    // AdaptiveSparkPlanExec root (it traverses zero WholeStageCodegen
    // subtrees), which made the r14 huge-method detector a silent no-op
    // — it reported join_fuzzy_blocked clean while that key's verify
    // stage failed Janino compilation outright (review finding). The
    // SortAggregate/Cartesian/rescan checks are AQE-independent.
    val spark = graft.GraftSession.local()
      .config("spark.sql.adaptive.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // default = runtime view (staged artifacts in place, the plans the
    // bench actually runs); `--nostage` inlines every build for
    // build-path analysis — fact-rescan counts there include each staged
    // artifact's construction once PER PLAN REFERENCE and overstate
    // runtime scans accordingly.
    if (args.contains("--nostage")) sys.props("graft.staging") = "false"
    val skip = graft.streaming.Streams.drainKeys ++
      graft.ops.Pipeline.loopKeys
    val dir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.001")
    for (k <- (graft.SparkEntry.queries.keySet -- skip).toSeq.sorted) {
      try {
        val plan = graft.SparkEntry.queries(k)(spark, dir)
          .queryExecution.executedPlan
        val p = plan.toString
        val cg = org.apache.spark.sql.execution.debug.codegenStringSeq(plan)
        // a subtree whose stats are UNAVAILABLE (negative sizes) failed
        // Janino compilation outright — strictly worse than huge
        val huge = cg.map(_._3.maxMethodCodeSize)
          .filter(sz => sz > HugeMethodLimit || sz < 0)
        if (cg.isEmpty)
          println(s"[sweep] $k: NO codegen subtree visible (AQE leak?)")
        // repeated scans of a FACT table = a shared subframe computed
        // once per consumer branch (column pruning makes the branches
        // structurally different, so AQE exchange reuse can't fire) —
        // the q21 pattern: each extra scan is a full re-read+re-agg of
        // the biggest table in the query
        val facts = Seq("lineitem", "events", "documents", "embeddings",
          "orders")
        val rescans = facts.flatMap { t =>
          // count Location: entries, not raw path mentions — a V2
          // BatchScan node prints its path TWICE (header + Location), so
          // the old raw count flagged every V2 single-scan key as a
          // rescan (scan_agg_pushdown false positive, r15)
          val n = (s"InMemoryFileIndex\\([^)]*\\)\\[[^\\]]*$t\\.parquet").r
            .findAllIn(p).length
          if (n > 1) Some(s"$t×$n") else None
        }
        val flags = Seq(
          "SortAggregate" -> p.contains("SortAggregate"),
          "Cartesian" -> p.contains("CartesianProduct"),
          (s"huge-codegen-method(${huge.mkString(",")}B)") -> huge.nonEmpty,
          (s"fact-rescans(${rescans.mkString(",")})") -> rescans.nonEmpty)
          .collect { case (f, true) => f }
        if (flags.nonEmpty) println(s"[sweep] $k: ${flags.mkString(", ")}")
      } catch { case scala.util.control.NonFatal(e) =>
        println(s"[sweep] $k: PLAN FAILED ${e.getClass.getSimpleName}")
      }
    }
    println("[sweep] done")
    spark.stop()
  }
}
