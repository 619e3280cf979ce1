package graft

import scala.util.control.NonFatal

/** Plan-audit helper: print the formatted physical plan for the named
  * declared queries (or all). Used to check the scale checklist — filters
  * pushed to the scan, small sides broadcast, whole-stage codegen spans,
  * no stray shuffles
  * (`sbt "runMain graft.Explain <sfDir> <name ...> [--run] [--codegen]"`).
  *  - `--run` executes each plan first, so the printed plan is the FINAL
  *    adaptive plan (AQE exchange reuse, runtime join demotions) instead
  *    of the initial one;
  *  - `--codegen` prints per-subtree generated-code sizes instead of the
  *    plan, with AQE off (codegenStringSeq cannot see through an
  *    AdaptiveSparkPlanExec root). Round-14 provenance: this view found
  *    join_fuzzy_blocked's min(struct) argmin silently planning as
  *    SortAggregate, which led to the packed-long form. */
object Explain {
  def main(args: Array[String]): Unit = {
    val operands = args.filterNot(_.startsWith("--"))
    val run = args.contains("--run")
    val codegen = args.contains("--codegen")
    val sfDir = operands.headOption.getOrElse("/root/testdata/sf0.01")
    // Draining streaming keys are excluded from the explain-all default:
    // invoking one RUNS a full AvailableNow drain and the returned
    // DataFrame is just the memory-sink table, so the printed plan would
    // be a meaningless LocalTableScan bought at full execution cost. Name
    // one explicitly to override. Staging is bypassed so plans show the
    // full computation subtrees instead of staged-file scans.
    sys.props("graft.staging") = "false"
    val names = if (operands.length > 1) operands.drop(1).toSeq
                else (SparkEntry.queries.keySet --
                  graft.streaming.Streams.drainKeys --
                  graft.ops.Pipeline.loopKeys).toSeq.sorted
    val spark = GraftSession.local().getOrCreate()
    try {
      spark.sparkContext.setLogLevel("ERROR")
      if (codegen) spark.conf.set("spark.sql.adaptive.enabled", "false")
      names.foreach { n =>
        println(s"\n########## $n ##########")
        try {
          val qe = SparkEntry.queries(n)(spark, sfDir).queryExecution
          // execute THIS plan — df.count() would plan and run a new
          // aggregate query and leave this one's adaptive plan initial
          if (run) qe.toRdd.foreach(_ => ())
          if (codegen)
            org.apache.spark.sql.execution.debug
              .codegenStringSeq(qe.executedPlan)
              .zipWithIndex.foreach { case ((sub, code, st), i) =>
                println(s"=== subtree $i: maxMethod=${st.maxMethodCodeSize}B " +
                  s"codeLines=${code.linesIterator.length} ===")
                println(sub.linesIterator.take(12).mkString("\n"))
              }
          else println(qe.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        } catch {
          case NonFatal(e) => println(s"EXPLAIN FAILED: ${e.getMessage}")
        }
      }
    } finally spark.stop()
  }
}
