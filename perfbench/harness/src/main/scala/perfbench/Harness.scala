package perfbench

import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import scala.util.hashing.MurmurHash3
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.perfbench.Internals

/** One benchmark process: a closed-loop client that runs a workload's keys
  * one after another through the library's public entry point,
  * `graft.SparkEntry.queries(key)(spark, dataDir)`, timing construction and
  * the `count()` action from outside. perfbench/run.py launches it and
  * turns its record (written to `--out`) into metrics.
  *
  * Modes:
  *  - `run`: the set-up (session start, untimed JIT warm-up and the
  *    workload's staged-artifact builds into the empty run root, timed
  *    from process launch), the untimed output check, timed passes over
  *    the key list for `--seconds`, and the CPU calibration;
  *  - `digest`: write the row count, content hash and staged-artifact
  *    build count of every key's first execution (the expected digests
  *    are generated with this). */
object Harness {
  private def opts(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(args: Array[String]): Unit = {
    val o = opts(args)
    o("mode") match {
      case "digest" =>
        val spark = session(o, o("root"), trace = false)
        try digestAll(spark, o) finally spark.stop()
      case "run" => run(o)
      case m => sys.error(s"unknown mode $m")
    }
  }

  /** The session confs of `graft.Bench`, with the given private local and
    * warehouse dirs. The trace listeners are static confs. */
  private def session(o: Map[String, String], root: String, trace: Boolean): SparkSession = {
    val cpus = o("cpus")
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$root/local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
    if (trace) b.config("spark.extraListeners", classOf[JobListener].getName)
      .config("spark.sql.queryExecutionListeners", classOf[QeListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  final case class Key(name: String, staged: Boolean, rows: Long, hash: String)

  private def readKeys(path: String): Seq[Key] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(_.split('\t')).map(f => Key(f(0), f(1) == "1", f(2).toLong, f(3)))

  private def fn(k: String) = graft.SparkEntry.queries(k)

  private def errText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.nextOption().getOrElse("")}".take(300)

  /** Row count plus an order-independent content hash. Each collected row
    * is rendered with its columns in name order and hashed to 64 bits; the
    * hashes are summed modulo a prime and xor-ed. Column order and row
    * order do not change the digest; any changed value, row or column name
    * does. */
  def digest(df: DataFrame): (Long, String) = {
    val names = df.columns.toSeq
    val byName = names.indices.sortBy(i => (names(i), i))
    val header = byName.map(names).mkString(",")
    val rows = df.toDF(names.indices.map(i => s"c$i"): _*)
      .select(byName.map(i => col(s"c$i")): _*).collect()
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val text = header + "|" + canon(r)
      val h = (MurmurHash3.stringHash(text, 17).toLong << 32) |
        (MurmurHash3.stringHash(text, 31).toLong & 0xffffffffL)
      sum = (sum + java.lang.Math.floorMod(h, 1000000007L)) % 1000000007L
      xor ^= h
    }
    (rows.length.toLong, s"$sum:$xor")
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case r: Row => r.toSeq.map(canon).mkString("{", ",", "}")
    case t: java.sql.Timestamp => t.toInstant.toString
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted.mkString("<", ",", ">")
    case xs: scala.collection.Seq[_] => xs.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  private def digestAll(spark: SparkSession, o: Map[String, String]): Unit = {
    val digests = readKeys(o("keys")).map { k =>
      val b0 = builds
      try { val (n, h) = digest(fn(k.name)(spark, o("data"))); Seq(k.name, n, h, builds - b0) }
      catch { case NonFatal(e) => Seq(k.name, -1L, errText(e), builds - b0) }
    }
    writeJson(o("out"), Map("digests" -> digests))
  }

  private def writeJson(path: String, value: Any): Unit =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(path), value)

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def builds: Long = graft.Staging.buildCount.get()
  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The set-up, into the empty run root that `-Djava.io.tmpdir`,
    * `spark.local.dir` and `spark.sql.warehouse.dir` point at: session
    * start, JIT warm-up on the key graft.Bench warms with, then one
    * untimed execution of each set-up key, which builds its staged
    * artifacts under the root. Timed from process launch (`t0`). */
  private def setUp(o: Map[String, String], keys: Seq[Key],
                    t0: Long): (SparkSession, Map[String, Any]) = {
    val root = o("root")
    val traced = o("trace") == "1"
    val startMs = System.currentTimeMillis() - seconds(t0) * 1000
    val s0 = System.nanoTime()
    val spark = session(o, root, traced)
    val sessionS = seconds(s0)
    val w0 = System.nanoTime()
    fn("agg_pricing_summary")(spark, o("data")).count()
    val warmupS = seconds(w0)
    // A traced run records the spans of each build (its jobs, and the
    // bytes and rows its stages write).
    val staged = keys.filter(_.staged).map { k =>
      val b0 = builds
      val k0 = System.nanoTime()
      val kMs = System.currentTimeMillis()
      Recorder.enabled = traced
      val err = try { fn(k.name)(spark, o("data")).count(); None }
                catch { case NonFatal(e) => Some(errText(e)) }
      val buildS = seconds(k0)
      if (traced) Internals.drainListenerBus(spark.sparkContext)
      Recorder.enabled = false
      Map("key" -> k.name, "build_s" -> buildS, "builds" -> (builds - b0),
        "error" -> err, "start_ms" -> kMs, "spans" -> Recorder.take())
    }
    (spark, Map("setup_s" -> seconds(t0), "start_ms" -> startMs,
      "session_start_s" -> sessionS, "warmup_s" -> warmupS, "staged" -> staged))
  }

  private def run(o: Map[String, String]): Unit = {
    val data = o("data")
    val keys = readKeys(o("keys"))
    val traceRun = o("trace") == "1"
    // JVM launch, as an offset on this JVM's clock.
    val launch = System.nanoTime() - (System.currentTimeMillis() - o("launch-ms").toLong) * 1000000L
    val (spark, setup) = setUp(o, keys, launch)
    val setupBuilds = builds
    val record = scala.collection.mutable.LinkedHashMap[String, Any](
      "setup" -> setup, "setup_builds" -> setupBuilds,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "cpus" -> o("cpus").toInt)
    try {
      // Untimed output check, once per run. It is also each key's first
      // execution in this session: running the `count()` plan before the
      // digest one warms both, so the timed passes below run warm.
      record("check") = keys.map { k =>
        val (c0, b0) = (System.nanoTime(), builds)
        val (n, h, err) =
          try {
            val df = fn(k.name)(spark, data)
            val counted = df.count()
            val (n, h) = digest(df)
            (n, h, if (counted == n) None else Some(s"count() gave $counted rows, collect $n"))
          } catch { case NonFatal(e) => (-1L, "", Some(errText(e))) }
        Map("key" -> k.name, "ok" -> (err.isEmpty && n == k.rows && h == k.hash),
          "rows" -> n, "hash" -> h, "error" -> err, "wall_s" -> seconds(c0), "builds" -> (builds - b0))
      }
      record("check_builds") = builds - setupBuilds

      // Timed passes for `--seconds`, at least `--min-passes` of them.
      val execs = Seq.newBuilder[Map[String, Any]]
      val passes = Seq.newBuilder[Map[String, Any]]
      val minPasses = o("min-passes").toInt
      val t0 = System.nanoTime()
      var p = 1
      while (p <= minPasses || seconds(t0) < o("seconds").toDouble) {
        // A traced run leaves the first pass untraced (the JIT is still
        // busy in it), then interleaves untraced and traced passes as
        // U T T U U T T U ..., so the tracing overhead is measured inside
        // one run and a steady speed-up over the passes cancels out.
        val traced = traceRun && p >= 2 && Set(1, 2)((p - 2) % 4)
        Recorder.enabled = traced
        val order = new scala.util.Random(o("seed").toLong * 1000003L + p).shuffle(keys)
        val (g0, j0, b0) = (gcMs, jitMs, builds)
        val (ps, psMs) = (System.nanoTime(), System.currentTimeMillis())
        order.foreach(k => execs += exec(spark, data, k.name, p, traced))
        val passS = seconds(ps)
        val (g1, j1, b1) = (gcMs, jitMs, builds)
        Recorder.enabled = false
        passes += Map("pass" -> p, "traced" -> traced, "wall_s" -> passS, "start_ms" -> psMs,
          "gc_ms" -> (g1 - g0), "jit_ms" -> (j1 - j0), "builds" -> (b1 - b0))
        p += 1
      }
      // Live heap after the last pass, the largest of the run: the
      // retained status of every job and execution grows it pass by pass.
      // Spark's ContextCleaner drops the broadcast, shuffle and checkpoint
      // blocks a collection released on its own thread, in some runs only
      // a second or more later, so the last collection waits for it.
      System.gc()
      Thread.sleep(200)
      System.gc()
      Thread.sleep(1300)
      System.gc()
      record("heap_live_mb") = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      record("passes") = passes.result()
      record("execs") = execs.result()
      record("calib_s") = calib(spark, o("cpus").toInt)
    } finally spark.stop()
    writeJson(o("out"), record)
  }

  /** The CPU calibration of graft.Bench: an I/O-free xxhash reduction over
    * 1.5e9 rows, after one small untimed JIT pass. */
  private def calib(spark: SparkSession, cpus: Int): Double = {
    def once(rows: Long): Double = {
      val t0 = System.nanoTime()
      spark.range(0L, rows, 1L, cpus).selectExpr("bit_xor(xxhash64(id))").head()
      (System.nanoTime() - t0) / 1e9
    }
    once(10000000L)
    once(1500000000L)
  }

  /** One timed key execution: construct the frame, then `count()` it. A
    * traced execution then drains the listener bus and takes every span
    * recorded meanwhile. */
  private def exec(spark: SparkSession, data: String, key: String, pass: Int,
                   traced: Boolean): Map[String, Any] = {
    val (b0, g0, c0, n0) =
      (builds, WholeStageCodegenExec.codeGenTime, CodeGenerator.compileTime, Internals.codegenCompiles)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var tc = t0
    var rows = -1L
    val err = try {
      val df = fn(key)(spark, data)
      tc = System.nanoTime()
      rows = df.count()
      None
    } catch { case NonFatal(e) => Some(errText(e)) }
    val t1 = System.nanoTime()
    if (tc == t0) tc = t1
    val base = Map[String, Any]("key" -> key, "pass" -> pass, "ok" -> err.isEmpty,
      "error" -> err, "rows" -> rows,
      "construct_s" -> (tc - t0) / 1e9, "wall_s" -> (t1 - t0) / 1e9,
      "builds" -> (builds - b0))
    if (!traced) base
    else {
      Internals.drainListenerBus(spark.sparkContext)
      base ++ Map("start_ms" -> startMs,
        "construct_end_ms" -> (startMs + (tc - t0) / 1e6),
        "end_ms" -> (startMs + (t1 - t0) / 1e6),
        "codegen_gen_ms" -> (WholeStageCodegenExec.codeGenTime - g0) / 1e6,
        "codegen_compile_ms" -> (CodeGenerator.compileTime - c0) / 1e6,
        "codegen_compiles" -> (Internals.codegenCompiles - n0),
        "spans" -> Recorder.take())
    }
  }
}
