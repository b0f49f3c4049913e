package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line arguments of one benchmark run. */
final case class RunArgs(workload: String, seed: Long, seconds: Double, trace: Boolean,
                         workDir: String, outDir: String)

/** Ops attempted and failed, and the correctness checks that went wrong. */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]

  /** A wrong result found by a check counts as one failed op. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what; System.err.println(s"CHECK FAILED: $what") }
  }

  def opFailed(what: String, t: Throwable): Unit = {
    failed += 1
    problems += s"$what: $t"
    System.err.println(s"OP FAILED: $what")
    t.printStackTrace()
  }
}

/** What every workload gives the run loop. */
trait Workload {
  /** Builds the inputs and the program state an op needs, from scratch,
    * in a fresh JVM: `setup_s` includes the JIT and class loading a first
    * load in a new process pays.
    */
  def setup(): Unit

  /** Runs ops until caches are filled and the JIT has compiled the hot path. */
  def warmUp(): Unit

  /** One client op of the closed loop; returns its latency in ms, timed
    * around the program call only. Traced, it also times the op's layers
    * separately.
    */
  def op(i: Long, traced: Boolean): Double

  /** The loop ends only between rounds of this many ops. */
  def opsPerRound: Int = 1

  /** Checks the outputs; runs after the timed window. */
  def check(): Unit

  /** On-disk bytes of the index built in set-up or in the ops, per byte of
    * input text.
    */
  def indexBytesPerInputByte: Double

  /** Texts for the Spark-free kernel timers, and an index to read blocks from. */
  def sampleTexts: Seq[String]
  def sampleIndexDir: String

  /** Work only a traced run does, after the checks. */
  def tracedExtras(): Unit = ()

  /** Per-layer metrics from the spans of a traced run. */
  def layers(): Map[String, Double]

  /** Deletes what set-up wrote. */
  def cleanup(): Unit = ()
}

/** Runs one workload and prints its metrics as the last stdout line. */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val args = RunArgs(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("out"))
    val canaryPre = Canary.md5Ms()
    val cpus = Common.cpus
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-${args.workload}")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${args.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val counters = if (args.trace) Some(new SparkCounters) else None
    val tracer = new Tracer(spark.sparkContext, counters)
    val outcome = new Outcome
    val wl: Workload = args.workload match {
      case "search"    => new SearchWorkload(spark, args, tracer, outcome)
      case "catalog"   => new CatalogWorkload(spark, args, tracer, outcome)
      case other       => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val start = System.nanoTime()
    def phase(what: String): Unit =
      System.err.println(f"[perfbench] $what at ${(System.nanoTime() - start) / 1e9}%.1f s")
    try {
      if (!args.trace) {
        val t = System.nanoTime()
        wl.setup()
        val setupS = (System.nanoTime() - t) / 1e9
        phase("set-up done")
        wl.warmUp()
        phase("warm-up done")
        val w = window(wl, args.seconds, traced = false, outcome)
        phase(f"window done: ${w.ms.length} ops, ${w.cpuMs / w.ms.length}%.0f process CPU ms per op, " +
          "latencies " + w.ms.map(m => f"$m%.0f").mkString(" ") + " ms")
        wl.check()
        phase("checks done")
        metrics ++= Seq(
          "setup_s" -> setupS,
          "ops_per_s" -> w.perSecond,
          "p50_ms" -> Stats.median(w.ms),
          "index_bytes_per_input_byte" -> wl.indexBytesPerInputByte,
          "rss_peak_mb" -> Canary.rssPeakMb())
      } else {
        val sc = spark.sparkContext
        val c = counters.get
        sc.addSparkListener(c)
        tracer.span("setup", -1)(wl.setup())
        wl.warmUp()
        // half the window without the listener, half with it: the ratio of
        // their op latencies is what tracing costs
        sc.removeSparkListener(c)
        val plain = window(wl, args.seconds / 2, traced = false, outcome)
        sc.addSparkListener(c)
        val traced = window(wl, args.seconds / 2, traced = true, outcome, plain.ms.length)
        wl.check()
        wl.tracedExtras()
        metrics ++= Kernels.measure(wl.sampleTexts, spark, wl.sampleIndexDir, outcome)
        metrics ++= wl.layers()
        metrics("trace.overhead_ratio") = Stats.median(traced.ms) / Stats.median(plain.ms)
        val artifact = new java.io.File(args.outDir, s"trace-${args.workload}-seed${args.seed}.json")
        artifact.getParentFile.mkdirs()
        java.nio.file.Files.writeString(artifact.toPath, tracer.toJson(Seq(
          "workload" -> Json.str(args.workload), "seed" -> args.seed.toString,
          "cpus" -> cpus.toString,
          "metrics" -> metrics.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }
            .mkString("{", ",", "}"))))
      }
    } catch {
      case t: Throwable => outcome.opFailed("run aborted", t)
    } finally {
      try wl.cleanup() catch { case t: Throwable => System.err.println(s"cleanup: $t") }
    }
    phase("cleanup done")
    val canaryPost = Canary.md5Ms()
    System.err.println(f"canary_md5_ms pre=$canaryPre%.1f post=$canaryPost%.1f")
    spark.stop()
    phase("spark stopped")

    val correct = outcome.failed == 0 && outcome.problems.isEmpty
    val m = metrics.map { case (k, v) => Json.str(k) + ":" + Json.num(v) }.mkString("{", ",", "}")
    println(s"""PERFBENCH {"correct":$correct,"attempted":${math.max(1L, outcome.attempted)},""" +
      s""""failed":${outcome.failed},"metrics":$m}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  /** CPU time of every thread of this JVM so far: driver, task threads, GC. */
  def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  final case class Window(ms: Seq[Double], cpuMs: Double) {
    /** Ops per second of op latency: the closed loop's throughput. */
    def perSecond: Double = ms.length / (ms.sum / 1e3)
  }

  /** The closed loop: one client issues ops back to back for `seconds`. */
  def window(wl: Workload, seconds: Double, traced: Boolean, outcome: Outcome,
             firstOp: Long = 0): Window = {
    val ms = mutable.ArrayBuffer.empty[Double]
    val cpu0 = processCpuMs()
    val t0 = System.nanoTime()
    var i = firstOp
    while ((i - firstOp) % wl.opsPerRound != 0 || i == firstOp ||
        (System.nanoTime() - t0) / 1e9 < seconds) {
      outcome.attempted += 1
      try ms += wl.op(i, traced)
      catch { case e: Exception => outcome.opFailed(s"op $i", e) }
      i += 1
    }
    Window(ms.toSeq, processCpuMs() - cpu0)
  }
}

object Canary {
  /** Single-core host-health probe: 200k MD5s of a short string. Printed
    * before and after each run as a diagnostic only.
    */
  def md5Ms(): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = "the quick brown fox jumps over".getBytes
    var sink = 0L
    val t0 = System.nanoTime()
    var i = 0
    while (i < 200000) { md.update(buf); sink += md.digest()(0); i += 1 }
    if (sink == Long.MinValue) println(sink)
    (System.nanoTime() - t0) / 1e6
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
