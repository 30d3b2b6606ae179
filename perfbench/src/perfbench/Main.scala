package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark main: one workload, one JVM, one fixed local[2] session.
  *
  * Set-up builds the inputs `setupReps` times, runs the workload's
  * one-time set-up, then its untimed warm-up ops. The oracle is computed
  * once, between the input builds and the one-time set-up, and is not
  * part of `setup_s`. With `--trace 0`, ops are then timed until
  * `--seconds` have passed and at least three ran, and the end-to-end
  * metrics are printed. With `--trace 1`, untraced and traced ops
  * alternate for `--seconds` (at least one of each) and the per-layer
  * metrics are printed. Every op is checked against the
  * oracle. The last stdout line is the JSON result; diagnostics go to
  * stderr.
  */
object Main {

  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 20,
      trace: Boolean = false, scale: Double = 1.0, work: String = "")

  /** Input builds in set-up; `setup_s` counts their median. */
  val setupReps = 3

  def parse(a: List[String], acc: Args = Args()): Args = a match {
    case "--workload" :: v :: t => parse(t, acc.copy(workload = v))
    case "--seed" :: v :: t => parse(t, acc.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, acc.copy(seconds = v.toDouble))
    case "--trace" :: v :: t => parse(t, acc.copy(trace = v == "1"))
    case "--scale" :: v :: t => parse(t, acc.copy(scale = v.toDouble))
    case "--work" :: v :: t => parse(t, acc.copy(work = v))
    case Nil => acc
    case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def session(work: File): SparkSession =
    SparkSession.builder()
      .master("local[2]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // an op plans more distinct whole-stage classes than the default
      // 100-entry cache holds; cycling through them would recompile
      // every class on every op, so timed ops would measure Janino and
      // the JIT instead of data work
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .getOrCreate()

  /** Measurements of one op. */
  final case class OpStat(wallS: Double, cpuS: Double, gcS: Double, jitS: Double,
      stealS: Double, codegen: Long, jobs: Int, tasks: Int, shuffleMb: Double,
      check: Check) {
    /** Wall time net of host steal. The benchmark assumes it is the only
      * busy process on its virtual machine, so the CPU time the hypervisor
      * stole (`stealS`) is time this process was runnable but not
      * running. Spread over the op's runnable time in proportion, it
      * stretched the op by (cpuS + stealS) / cpuS.
      */
    def netWallS: Double = if (cpuS + stealS > 0) wallS * cpuS / (cpuS + stealS) else wallS
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val steal0 = Host.stealS
    val work = new File(a.work)
    work.mkdirs()
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val listener = new TagListener
    spark.sparkContext.addSparkListener(listener)
    Host.watchOldGen()
    val load0 = Host.loadAvg1

    val wl = Workload(a.workload, spark, a.seed, a.scale, work)
    def secs(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }
    val setupTimes = (1 to setupReps).map(_ => secs(wl.setup()))
    val oracleS = secs { wl.expected; () }
    val onceS = secs(wl.setupOnce())

    var attempted = 0
    var failed = 0
    var opNo = 0
    val errors = mutable.ArrayBuffer.empty[String]

    def timedOp(): OpStat = {
      val sc = spark.sparkContext
      opNo += 1
      attempted += 1
      wl.prepare(opNo)
      val (c0, g0, j0, s0) = (Host.cpuS, Host.gcS, Host.jitS, Host.stealS)
      val k0 = org.apache.spark.perfbench.Bus.codegenCompiles
      val n0 = System.nanoTime()
      val st =
        try {
          val h = TagListener.tagged(sc, "op")(wl.run(opNo))
          val wall = (System.nanoTime() - n0) / 1e9
          val (c1, g1, j1, s1) = (Host.cpuS, Host.gcS, Host.jitS, Host.stealS)
          val t = listener.take(sc, "op")
          val k1 = org.apache.spark.perfbench.Bus.codegenCompiles
          OpStat(wall, c1 - c0, g1 - g0, j1 - j0, s1 - s0, k1 - k0, t.jobs, t.tasks,
            t.shuffleBytes / 1048576.0, wl.verify(opNo, h))
        } catch {
          case e: Exception =>
            OpStat((System.nanoTime() - n0) / 1e9, 0, 0, 0, 0, 0, 0, 0, 0, thrown(e))
        }
      if (!st.check.ok) { failed += 1; errors += s"op $opNo: ${st.check.msg}" }
      st
    }

    val w0 = System.nanoTime()
    val warm = (1 to wl.warmupOps).map(_ => timedOp())
    val warmS = (System.nanoTime() - w0) / 1e9
    val rawSetupS = sessionS + median(setupTimes) + onceS + warmS
    // net of host steal like an op, with process CPU since JVM start
    val setupCpu = Host.cpuS
    val setupS = rawSetupS * setupCpu / (setupCpu + Host.stealS - steal0)

    val stats = mutable.ArrayBuffer.empty[OpStat]
    val traced = mutable.ArrayBuffer.empty[(Double, Map[String, Double])]
    Host.resetOldPeak()
    val steal1 = Host.stealS
    val m0 = System.nanoTime()
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (elapsed < a.seconds || (if (a.trace) traced.isEmpty else stats.size < 3)) {
      stats += timedOp()
      if (a.trace) {
        opNo += 1
        attempted += 1
        val sp = new Spans(spark, listener)
        val n0 = System.nanoTime()
        val c =
          try wl.traced(opNo, sp)
          catch { case e: Exception => thrown(e) }
        traced += (((System.nanoTime() - n0) / 1e9, sp.values.toMap))
        if (!c.ok) { failed += 1; errors += s"traced op $opNo: ${c.msg}" }
      }
    }
    val oldPeakMb = Host.oldPeakMb
    val steal2 = Host.stealS

    val good = stats.filter(_.check.ok).toSeq
    val walls = good.map(_.wallS)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("triples_per_s", median(good.map(s => s.check.triples / s.netWallS)), "1/s"),
        ("cpu_s", median(good.map(_.cpuS)), "s"),
        ("shuffle_mb", median(good.map(_.shuffleMb)), "MB"),
        ("setup_s", setupS, "s"))
      else {
        val untraced = median(walls)
        val tracedWall = median(traced.map(_._1).toSeq)
        Spans.all.map { k =>
          val v =
            if (k == "trace.overhead_s") tracedWall - untraced
            else median(traced.map(_._2.getOrElse(k, 0.0)).toSeq)
          (k, v, unitOf(k))
        }
      }

    // warm-up drift: first-half vs second-half median of the timed ops
    val net = good.map(_.netWallS)
    val (h1, h2) = net.splitAt(net.size / 2)
    val diag = Seq(
      "workload" -> q(a.workload), "seed" -> a.seed.toString, "trace" -> a.trace.toString,
      "scale" -> a.scale.toString,
      "session_s" -> sessionS.toString, "setup_reps_s" -> arr(setupTimes),
      "setup_once_s" -> onceS.toString, "oracle_s" -> oracleS.toString,
      "warmup_op_s" -> arr(warm.map(_.wallS)), "op_s" -> arr(stats.map(_.wallS).toSeq),
      "op_cpu_s" -> arr(stats.map(_.cpuS).toSeq), "op_gc_s" -> arr(stats.map(_.gcS).toSeq),
      "op_jit_s" -> arr(stats.map(_.jitS).toSeq),
      "op_steal_s" -> arr(stats.map(_.stealS).toSeq),
      "op_net_s" -> arr(stats.map(_.netWallS).toSeq),
      "raw_triples_per_s" -> num(median(good.map(s => s.check.triples / s.wallS))),
      "op_codegen_compiles" -> arr(stats.map(_.codegen.toDouble).toSeq),
      "op_jobs" -> arr(stats.map(_.jobs.toDouble).toSeq),
      "op_tasks" -> arr(stats.map(_.tasks.toDouble).toSeq),
      "triples" -> arr(stats.map(_.check.triples.toDouble).toSeq),
      "written_mb" -> arr(stats.map(_.check.writtenBytes / 1048576.0).toSeq),
      "traced_op_s" -> arr(traced.map(_._1).toSeq),
      "drift" -> (if (h1.isEmpty) "0" else (median(h2) / median(h1) - 1).toString),
      "heap_peak_mb" -> oldPeakMb.toString,
      "raw_setup_s" -> rawSetupS.toString,
      "steal_setup_s" -> (steal1 - steal0).toString,
      "steal_measure_s" -> (steal2 - steal1).toString,
      "loadavg_start" -> load0.toString, "loadavg_end" -> Host.loadAvg1.toString,
      "errors" -> errors.map(q).mkString("[", ",", "]"))
    System.err.println("PERFBENCH_DIAG " + diag.map { case (k, v) => s"${q(k)}:$v" }
      .mkString("{", ",", "}"))

    val body = metrics.map { case (k, v, u) =>
      s"""${q(k)}:{"value":${num(v)},"unit":${q(u)}}"""
    }.mkString("{", ",", "}")
    spark.stop()
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":$body}""")
  }

  private def thrown(e: Exception): Check =
    Check(ok = false, 0, 0, s"${e.getClass.getName}: ${e.getMessage}")

  def unitOf(k: String): String =
    if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb") || k.endsWith(".mb")) "MB"
    else if (k.endsWith("task_skew")) "ratio"
    else "count"

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def q(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""

  private def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
}
