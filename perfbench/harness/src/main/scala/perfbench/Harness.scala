package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.{GraftSession, SparkEntry}

/** One workload in one JVM, driven by `perfbench/run.py`.
  *
  * Set-up is session start plus one pass over the gates (pass -1).
  * Unmeasured passes follow for `--warmup` seconds, then the measured
  * closed-loop passes with one client, gates one at a time: as many
  * whole passes as come nearest to `--seconds`. Then the correctness
  * dump: `graft.Verify`, restricted to the gates by `SPARK_GRAFT_ONLY`
  * (which the launcher sets), in the same session.
  *
  * Every evaluation is timed from outside the library in two steps:
  * build = `SparkEntry.queries(gate)(spark, dir)`, action =
  * `queryExecution.toRdd.count()`. Raw samples, and with `--trace 1`
  * the spans and listener records of [[Trace]], go to `--out` as one
  * JSON document; `perfbench/metrics.py` derives the metrics.
  *
  * Usage: `Harness --gates a,b --fixture DIR --warmup W --seconds S
  * --trace 0|1 --cpus N --out FILE --verify-out DIR`
  */
object Harness {
  val GateKey = "perfbench.gate"
  val PhaseKey = "perfbench.phase"
  val PassKey = "perfbench.pass"

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** Epoch milliseconds with nanosecond resolution. */
  private val (epoch0, nano0) = (System.currentTimeMillis().toDouble, System.nanoTime())
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** The library module that owns a gate: the package of the object
    * whose registry lambda implements it (the order generator's rollup
    * is registered in `SparkEntry` itself). */
  def module(gate: String): String = {
    val owner = SparkEntry.queries(gate).getClass.getName.takeWhile(_ != '$')
    owner.split('.') match {
      case Array("graft", "SparkEntry") => "gen"
      case Array("graft", pkg, _, _*) => pkg
      case _ => owner
    }
  }

  private def rssKb(): Long = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) -1L
    else Files.readAllLines(status).toArray(Array.empty[String])
      .find(_.startsWith("VmRSS:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  /** Highest resident set size seen while `body` runs, sampled every
    * 20 ms. */
  private def peakRss(body: => Unit): Long = {
    @volatile var running = true
    @volatile var peak = rssKb()
    val sampler = new Thread(() => {
      while (running) { peak = math.max(peak, rssKb()); Thread.sleep(20) }
    }, "perfbench-rss")
    sampler.setDaemon(true)
    sampler.start()
    try body
    finally { running = false; sampler.join() }
    math.max(peak, rssKb())
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val gates = opt("gates").split(',').toSeq
    val dir = opt("fixture")
    val seconds = opt("seconds").toDouble
    val cpus = opt("cpus")
    val trace = if (opt("trace") == "1") Some(new Trace) else None
    val registry = SparkEntry.queries
    val unknown = gates.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown gates: ${unknown.mkString(",")}")
    val modules = gates.map(g => g -> module(g)).toMap

    val samples = mutable.ArrayBuffer.empty[Map[String, Any]]
    val runStart = now()
    val runSpan = trace.map(_.open()).getOrElse(0L)

    def evaluate(spark: SparkSession, gate: String, pass: Int, parent: Long): Unit = {
      val sc = spark.sparkContext
      sc.setLocalProperty(GateKey, gate)
      sc.setLocalProperty(PassKey, pass.toString)
      sc.setLocalProperty(PhaseKey, "build")
      val t0 = now()
      var t1 = Double.NaN
      var error: Option[String] = None
      try {
        val df = registry(gate)(spark, dir)
        t1 = now()
        sc.setLocalProperty(PhaseKey, "action")
        df.queryExecution.toRdd.count()
        trace.foreach(_.finalPlan(gate, pass, df.queryExecution))
      } catch {
        case NonFatal(e) =>
          error = Some(e.toString)
          System.err.println(s"[perfbench] $gate failed in pass $pass: $e")
      } finally {
        Seq(GateKey, PassKey, PhaseKey).foreach(sc.setLocalProperty(_, null))
      }
      val t2 = now()
      if (t1.isNaN) t1 = t2
      System.err.println(f"[perfbench] pass $pass%d $gate: build ${(t1 - t0) / 1e3}%.3f s, action ${(t2 - t1) / 1e3}%.3f s")
      samples += Map("pass" -> pass, "gate" -> gate, "module" -> modules(gate),
        "t0" -> t0, "t1" -> t1, "t2" -> t2, "ok" -> error.isEmpty, "error" -> error)
      trace.foreach { tr =>
        val g = tr.span("gate", gate, parent, t0, t2,
          Map("module" -> modules(gate), "pass" -> pass, "ok" -> error.isEmpty))
        tr.span("build", gate, g, t0, t1, Map("pass" -> pass))
        tr.span("action", gate, g, t1, t2, Map("pass" -> pass))
      }
    }

    // Set-up: session start plus one warm-up pass (pass -1) in a cold
    // JVM, what a user pays before the first answers.
    val t0 = now()
    val setupSpan = trace.map(_.open()).getOrElse(0L)
    val spark = GraftSession.configure(
      SparkSession.builder().appName("perfbench").master(s"local[$cpus]"), cpus)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    trace.foreach(_.attach(spark))
    gates.foreach(evaluate(spark, _, -1, setupSpan))
    val setupS = (now() - t0) / 1e3
    trace.foreach(_.close(setupSpan, "setup", "setup", runSpan, t0, now()))
    graft.ext.CorpusCache.releaseAll()

    // Unmeasured passes (-2, -3, ...) for `--warmup` seconds: the JIT
    // compiler keeps working for tens of seconds after the first pass.
    val warmStart = now()
    var warm = 1
    while (now() - warmStart < opt("warmup").toDouble * 1e3) {
      warm += 1
      val w0 = now()
      val warmSpan = trace.map(_.open()).getOrElse(0L)
      gates.foreach(evaluate(spark, _, -warm, warmSpan))
      trace.foreach(_.close(warmSpan, "warmup", s"warmup$warm", runSpan, w0, now()))
      graft.ext.CorpusCache.releaseAll()
    }

    // Measured passes: closed loop, one client, whole passes. Another
    // pass starts while it would end nearer to `seconds` than stopping.
    // They start from a collected heap, so the resident-set peak below
    // is what serving the loop needs, not what warm-up left behind.
    System.gc()
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val loopStart = now()
    var pass = 0
    var lastMs = 0.0
    val peakKb = peakRss { while (pass == 0 || now() - loopStart + lastMs / 2 < seconds * 1e3) {
      val t0 = now()
      val cpu0 = os.getProcessCpuTime
      val passSpan = trace.map(_.open()).getOrElse(0L)
      gates.foreach(evaluate(spark, _, pass, passSpan))
      val t1 = now()
      passes += Map("pass" -> pass, "t0" -> t0, "t1" -> t1,
        "cpu_s" -> (os.getProcessCpuTime - cpu0) / 1e9)
      trace.foreach(_.close(passSpan, "pass", s"pass$pass", runSpan, t0, t1))
      // A pass is a run of the library: drop its persisted corpus
      // frames and checkpoints at the boundary, outside the timing.
      graft.ext.CorpusCache.releaseAll()
      lastMs = t1 - t0
      pass += 1
    } }
    val loopEnd = now()
    trace.foreach { tr =>
      tr.drain()
      tr.close(runSpan, "run", "run", 0L, runStart, loopEnd)
    }

    val record = Map(
      "gates" -> gates, "modules" -> modules, "cpus" -> cpus.toInt,
      "seconds" -> seconds, "traced" -> trace.isDefined,
      "setup_s" -> Seq(setupS), "loop" -> Seq(loopStart, loopEnd),
      "passes" -> passes.toList, "samples" -> samples.toList,
      "peak_rss_kb" -> peakKb) ++ trace.map(_.record).getOrElse(Map.empty)
    Files.write(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsBytes(record))

    // Correctness dump, outside the measured region: graft.Verify runs
    // in this session (restricted to the gates by SPARK_GRAFT_ONLY) and
    // stops it when done.
    graft.Verify.main(Array(dir, opt("verify-out")))
  }
}
