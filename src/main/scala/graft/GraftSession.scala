package graft

import org.apache.spark.sql.SparkSession

/** Library entry point for production use: a SparkSession.Builder
  * pre-loaded with the engine's recommended cluster defaults and the
  * graft SQL extensions, so `SELECT graft_cosine(a, b)` and every
  * `SparkEntry.queries` operator work out of the box.
  *
  * The defaults encode the 100 TB tuning stance (SURVEY §7.6):
  *  - AQE on with skew-join splitting: runtime re-plan absorbs stats
  *    drift and hot keys that static planning can't see;
  *  - 256 MiB scan partitions: big enough to amortize task overhead at
  *    100 TB (≈400k tasks), small enough to fit executor memory with
  *    room for shuffle spill structures;
  *  - parquet TIMESTAMP(NANOS) read as long (the `events.ts` contract —
  *    Tables.events converts to microsecond timestamps);
  *  - UTC session timezone: date_trunc/window results must not depend on
  *    cluster locale.
  *
  * `shufflePartitions` should be ≈ 2-3× total executor cores on a real
  * cluster (AQE coalesces down from there); the local harnesses pass
  * their core count.
  */
object GraftSession {
  /** The recommended conf set, exposed as data so tests can assert it
    * without building a session against a live shared SparkContext
    * (getOrCreate on a running context silently drops static confs like
    * spark.sql.extensions and mutates the existing session's modifiable
    * ones — a test doing that proves nothing and leaks settings). */
  def recommended(shufflePartitions: Int = 200): Seq[(String, String)] = Seq(
    "spark.sql.extensions" -> "graft.functions.GraftExtensions",
    "spark.sql.shuffle.partitions" -> shufflePartitions.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "268435456",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.session.timeZone" -> "UTC")

  def builder(shufflePartitions: Int = 200): SparkSession.Builder =
    configured(recommended(shufflePartitions))

  /** Core count of the local harnesses (Bench, Verify, Smoke, Explain,
    * the tools): `SPARK_GRAFT_CPUS`, default 4. */
  def localCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** The conf set every local harness session carries, as data (same
    * reason as [[recommended]]): one shuffle partition per core, UTC so
    * the harnesses time and verify the same plans, no UI. */
  def localConf(cpus: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false")

  /** Builder for a local `local[cpus]` session; callers add only the
    * confs that are theirs (Bench's codegen cache, PlanSweep's AQE off). */
  def local(cpus: Int = localCpus): SparkSession.Builder =
    configured(localConf(cpus))

  private def configured(conf: Seq[(String, String)]): SparkSession.Builder =
    conf.foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
}
