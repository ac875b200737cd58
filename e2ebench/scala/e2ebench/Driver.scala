package e2ebench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.GraftExtensions

/** Benchmark JVM: set-up, then a closed loop (one client, one iteration at
  * a time) over one workload's generated inputs for a fixed time.
  *
  * {{{
  * e2ebench.Driver --workload <name> --in <inputs> --work <dir> --seconds <s> --trace <0|1> --cores <n> --partitions <n>
  *   --result <json>
  * }}}
  *
  * `--trace 0` runs untraced iterations only. `--trace 1` spends the first
  * half of the time on untraced iterations and the second half on traced
  * ones, so the record carries both walls and the tracing overhead. Every
  * iteration writes its outputs under `<work>/iter_<k>`; checking them is
  * the caller's job. The result record is written once, at the end, and
  * the traced spans to `<result>.spans.jsonl`.
  */
object Driver {

  /** Fewest untraced iterations per run, however long each takes; a
    * traced phase runs at least one. */
  val MinIterations = 3
  val WarmupIterations = 2

  def session(cores: Int, partitions: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Sleeps out the work an iteration left behind (collections, the
    * context cleaner) so it does not land in the next timed window. */
  private def settle(): Unit = {
    System.gc()
    Thread.sleep(200)
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU nanoseconds of the whole process (every task and driver thread,
    * garbage collection included) less the JIT compiler's, which is still
    * warming up in the timed iterations and is not the program's work. */
  private def workCpuNs: Long =
    os.getProcessCpuTime - jit.getTotalCompilationTime * 1000000L

  private def storedBytes(wl: Workload, dir: String): Long =
    wl.outputs.flatMap(o => Workload.dataFiles(s"$dir/$o")).map(_.length).sum

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val wl = Workload(opt("workload"))
    val (in, work) = (opt("in"), opt("work"))
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val (cores, partitions) = (opt("cores").toInt, opt("partitions").toInt)
    HeapPeak.install()

    // set-up: process start to the end of the warm-up iterations on the
    // run's input (class loading, codegen, and the JIT over the per-row
    // code: after one warm-up the first timed iteration still ran ~40%
    // slower than the third)
    val spark = session(cores, partitions, work)
    val engine = Engine.register(spark)
    for (k <- 0 until WarmupIterations) wl.run(spark, in, s"$work/warm_$k")
    val setup = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val origin = System.nanoTime

    def loop(budget: Double, traced: Boolean): Unit = {
      val start = System.nanoTime
      val minIterations = if (traced) 1 else MinIterations
      var k = 0
      while (k < minIterations || (System.nanoTime - start) / 1e9 < budget) {
        val dir = s"$work/iter_${iterations.size}"
        settle()
        val before = { engine.drain(spark); engine.snapshot }
        HeapPeak.reset()
        val (t0, cpu0, alloc0) = (System.nanoTime, workCpuNs, threads.getTotalThreadAllocatedBytes)
        val rec = mutable.LinkedHashMap[String, Any]("dir" -> dir, "traced" -> traced)
        try {
          if (traced) {
            val t = new Tracer(spark, engine, s"iter_${iterations.size}")
            t.span("iteration")(wl.traced(spark, in, dir, t))
            rec("wall_s") = (System.nanoTime - t0) / 1e9
            rec("layers") = t.finish()
            spans ++= t.spanRecords(origin)
          } else {
            val verbs = wl.run(spark, in, dir)
            rec("wall_s") = (System.nanoTime - t0) / 1e9
            rec("verbs") = verbs
          }
          rec("error") = None
        } catch {
          case e: Throwable =>
            rec("wall_s") = (System.nanoTime - t0) / 1e9
            rec("error") = e.toString
        }
        rec("cpu_s") = (workCpuNs - cpu0) / 1e9
        rec("alloc_mb") = (threads.getTotalThreadAllocatedBytes - alloc0) / (1024.0 * 1024.0)
        rec("peak_heap_mb") = HeapPeak.mb
        engine.drain(spark)
        val counters = Engine.diff(engine.snapshot, before)
        rec("bytes_written") = counters("bytes_written")
        rec("bytes_stored") = storedBytes(wl, dir)
        iterations += rec.toMap
        k += 1
      }
    }

    if (trace) {
      loop(seconds / 2, traced = false)
      loop(seconds / 2, traced = true)
    } else loop(seconds, traced = false)

    val rt = Runtime.getRuntime
    val env = Map(
      "nproc" -> rt.availableProcessors,
      "master" -> s"local[$cores]",
      "shuffle_partitions" -> partitions,
      "max_heap_mb" -> rt.maxMemory / (1024 * 1024),
      "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "os" -> s"${System.getProperty("os.name")} ${System.getProperty("os.arch")}")
    spark.stop()

    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    val result = opt("result")
    json.writeValue(new File(result), Map("env" -> env, "setup_s" -> setup, "iterations" -> iterations))
    if (spans.nonEmpty) {
      val sw = new PrintWriter(new File(result + ".spans.jsonl"), "UTF-8")
      try spans.foreach(s => sw.println(json.writeValueAsString(s)))
      finally sw.close()
    }
  }
}
