package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // locale-stable formatted output, same rationale as Bench/runner.Main
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // dev loop: SPARK_GRAFT_ONLY=q_a,q_b restricts the dump (same contract
    // as Bench); the driver never sets it, so the gate always runs all
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    // Cross-JVM fixture reuse defaults ON here (and ONLY here): the
    // correctness gate re-reads persisted corpora/models/layouts from a
    // prior completed run instead of rebuilding them each JVM — the r18
    // "t2 gate too expensive to ship" fix. Bench never sets this, so
    // timed runs always compute their layouts from the parquet inputs.
    // SPARK_GRAFT_FIXTURE_REUSE=0 forces a cold rebuild.
    if (!sys.env.contains("SPARK_GRAFT_FIXTURE_REUSE"))
      System.setProperty("graft.fixtureReuse", "1")
    val spark = Sessions.local(cpus)
    new java.io.File(outDir).mkdirs()
    // oracle-side fixtures (e.g. the simhash hash dump DuckDB reads) are
    // written here, outside any timed query
    SparkEntry.prepareOracleFixtures(spark, sfDir)
    // The 129 dumps are independent jobs: run a few concurrently so one
    // query's single-threaded tail (coalesce(1) write, driver-side model
    // load) back-fills the otherwise idle executors (guide §2.6 overlap).
    // The per-JVM fixtures are safe under this concurrency: every one is
    // an entry of SparkEntry's FixtureRegistry, whose per-(name, dir)
    // lock runs each build exactly once however many queries race to it.
    // Default 4 in-flight; SPARK_GRAFT_VERIFY_THREADS=1 restores the
    // serial loop.
    val nThreads = sys.env.getOrElse("SPARK_GRAFT_VERIFY_THREADS", "4").toInt
      .max(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(nThreads)
    val tasks = only.fold(SparkEntry.queries)(f =>
        SparkEntry.queries.view.filterKeys(f).toMap)
      .map { case (name, fn) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            catch { case e: Throwable =>
              System.err.println(s"[verify] $name failed: ${e.getMessage}")
            }
        })
      }
    tasks.foreach(_.get())
    pool.shutdown()
    // staleness visibility (r19 verdict): the driver log always shows
    // whether this gate run served persisted fixtures or rebuilt them,
    // and under WHICH epoch (now a recipe-bytecode hash, so a recompile
    // that touches any recipe class rebuilds automatically)
    System.err.println(s"[verify] fixtures: reused ${SparkEntry.fixtures.reuses.get} " +
      s"/ built ${SparkEntry.fixtures.builds.get} @ epoch ${SparkEntry.FixtureEpoch}")
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
