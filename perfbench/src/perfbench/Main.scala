package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process for one workload run; `run.py` builds and
  * launches it and turns its result file into the reported metrics.
  *
  * {{{
  * perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <data dir> <work dir> <cores> <result file>
  * perfbench.Main selftest <result file>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") =>
      val Array(_, workload, seed, seconds, trace, data, work, cores, out) = args
      new Runner(workload, seed.toLong, seconds.toDouble, trace == "1", data, Paths.get(work),
        cores.toInt, Paths.get(out)).run()
    case Some("selftest") => SelfTest.run(Paths.get(args(1)))
    case _ =>
      System.err.println("usage: perfbench.Main run|selftest …")
      sys.exit(2)
  }
}

/** Per-op record, written to the result file. */
final case class OpRecord(id: Int, phase: String, cycle: Int, key: String, module: String,
                          startMs: Double, wallMs: Double, rows: Long, gcMs: Double,
                          traced: Boolean, error: Option[String])

final class Runner(workloadName: String, seed: Long, seconds: Double, trace: Boolean, data: String,
                   work: Path, cores: Int, out: Path) {
  val Setups = 5
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private var tracer: Option[Tracer] = None
  private val ops = mutable.ArrayBuffer.empty[OpRecord]
  private val liveHeap = mutable.ArrayBuffer.empty[Double]

  private val workload: Workload = workloadName match {
    case "etl_daily" => new EtlDaily(seed, work, cores, () => tracer)
    case "curation_index" =>
      new CurationIndex(seed, s"$data/curation", Paths.get(data, "..", "reference", "curation_index.json"), () => tracer)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  private def session(): SparkSession = {
    val s = GraftSession.builder("perfbench", shufflePartitions = cores)
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def gcMs(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum.toDouble

  /** Live heap at a cycle boundary: what the program keeps across
    * ops (caches, memoized artifacts, broadcast blocks). The pause
    * between the two collections lets Spark's cleaner release what
    * the first one found unreachable. */
  private def liveHeapMb(): Double = {
    System.gc(); Thread.sleep(200); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Fixed CPU-bound probe (the same loop `graft.Bench` calibrates
    * with). Diagnostic only: never used to adjust or drop a sample. */
  private def spinMs(): Double = {
    def once(): Double = {
      val t0 = System.nanoTime()
      var acc = 0L; var i = 0
      while (i < 60000000) { acc += (i * 2654435761L) >>> 7; i += 1 }
      if (acc == 42L) System.err.println("")
      (System.nanoTime() - t0) / 1e6
    }
    Seq.fill(5)(once()).sorted.apply(2)
  }

  private def runOp(o: Op, phase: String, cycle: Int, spark: SparkSession): Unit = {
    val id = ops.size
    tracer.foreach(_.currentOp = id)
    val err = try { o.prepare(); None } catch { case NonFatal(e) => Some("prepare: " + e) }
    val gc0 = gcMs()
    val start = nowMs()
    val t0 = System.nanoTime()
    val failed = err.orElse(try { o.body(); None } catch { case NonFatal(e) => Some(e.toString) })
    val wall = (System.nanoTime() - t0) / 1e6
    val gc = gcMs() - gc0
    tracer.foreach { _ => org.apache.spark.perfbench.Bus.drain(spark.sparkContext) }
    val checked = failed.orElse(try o.check() catch { case NonFatal(e) => Some("check: " + e) })
    checked.foreach(m => System.err.println(s"[perfbench] ${o.key} FAILED: ${m.take(500)}"))
    ops += OpRecord(id, phase, cycle, o.key, o.module, start, wall, o.rows, gc, tracer.isDefined, checked)
  }

  private val marks = mutable.LinkedHashMap.empty[String, Double]
  /** JVM uptime at the end of each phase, for the run log. */
  private def mark(phase: String): Unit =
    marks(phase) = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def run(): Unit = {
    Files.createDirectories(work)
    mark("start")
    val spinBefore = spinMs()
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until Setups) {
      if (spark != null) { workload.teardown(); spark.stop() }
      val t0 = System.nanoTime()
      spark = session()
      workload.setup(spark, i)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    mark("setup")

    val b0 = System.nanoTime()
    workload.build(o => runOp(o, "build", -1, spark))
    val buildS = (System.nanoTime() - b0) / 1e9
    mark("build")

    // a traced run warms one cycle longer: its untraced/traced
    // comparison must not see the JIT still settling
    val warm = workload.warmCycles + (if (trace) 1 else 0)
    for (c <- 0 until warm; o <- workload.cycle(1000 + c)) runOp(o, "warm", c, spark)
    mark("warm")

    // measured cycles: whole cycles only, so every run times the same
    // multiset of ops. The traced run alternates untraced and traced
    // cycles (U T, T U, …) to measure the tracer's own overhead.
    val t = new Tracer(() => nowMs())
    val m0 = System.nanoTime()
    var c = 0
    def elapsed = (System.nanoTime() - m0) / 1e9
    while (c < workload.minCycles || elapsed < seconds || (trace && c % 2 == 1)) {
      val traced = trace && (c % 4 == 1 || c % 4 == 2)
      if (traced) {
        spark.sparkContext.addSparkListener(t); tracer = Some(t)
      }
      workload.cycle(c).foreach(o => runOp(o, "measure", c, spark))
      liveHeap += liveHeapMb()
      if (traced) {
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t); tracer = None
      }
      c += 1
    }
    val measureS = elapsed
    mark("measure")

    val badKeys = try workload.finish() catch { case NonFatal(e) => Map("finish" -> e.toString) }
    val spinAfter = spinMs()
    val report = workload.report
    workload.teardown()
    spark.stop()
    mark("stop")

    val result = Map(
      "workload" -> workloadName, "seed" -> seed, "cores" -> cores, "seconds" -> seconds,
      "setup_s" -> setupS.toSeq, "build_s" -> buildS, "measure_s" -> measureS,
      "live_heap_mb" -> liveHeap.toSeq,
      "spin_before_ms" -> spinBefore, "spin_after_ms" -> spinAfter,
      "phase_end_s" -> marks.toMap, "bad_keys" -> badKeys, "report" -> report,
      "ops" -> ops.toSeq.map(o => Map(
        "id" -> o.id, "phase" -> o.phase, "cycle" -> o.cycle, "key" -> o.key, "module" -> o.module,
        "start_ms" -> o.startMs, "wall_ms" -> o.wallMs, "rows" -> o.rows, "gc_ms" -> o.gcMs,
        "traced" -> o.traced, "error" -> o.error.orNull)),
      "spans" -> t.all.map(s => Map(
        "op" -> s.op, "kind" -> s.kind, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap)))
    Json.write(out, result)
  }
}

object Json {
  private def toJava(v: Any): AnyRef = v match {
    case m: scala.collection.Map[_, _] =>
      val j = new java.util.LinkedHashMap[String, AnyRef]()
      m.foreach { case (k, x) => j.put(k.toString, toJava(x)) }
      j
    case s: Iterable[_] => s.map(toJava).toList.asJava
    case d: Double => if (d.isNaN || d.isInfinite) null else java.lang.Double.valueOf(d)
    case x: AnyRef => x
    case x => x.asInstanceOf[AnyRef]
  }
  def write(path: Path, v: Any): Unit =
    new com.fasterxml.jackson.databind.ObjectMapper().writeValue(path.toFile, toJava(v))
}
