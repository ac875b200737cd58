package graft

import org.apache.spark.sql.Row

import graft.operators.{Finalize, MetricTransforms}
import graft.schemas.Schemas
import graft.sources.Readers

/** Golden end-to-end spec over handcrafted fixtures — covers every scenario
  * of FIXTURES.md §5: counter reset, duplicate timestamp, jid zoo (in
  * ExprsSpec), interval boundary at `end`, partial events, missing input
  * column fallback, multi-host host_list, and the step-3 suffix pass. */
class PipelineSpec extends SparkSpec {

  private val T = "01/01/2013"

  private lazy val blockCsv = tmpCsv("block.csv",
    "jobID,node,timestamp,device,rd_sectors,wr_sectors",
    s"job1,N1,$T 10:00:00,sda,0,0",
    s"job1,N1,$T 10:00:00,sdb,0,0",
    s"job1,N1,$T 10:01:00,sda,1048576,1048576",
    s"job1,N1,$T 10:01:00,sdb,0,0",
    s"job1,N1,$T 10:02:00,sda,1048576,1048576",
    s"job1,N1,$T 10:02:00,sdb,0,0",
    s"job1,N1,$T 10:03:00,sda,0,0", // counter reset → dropped
    s"job1,N1,$T 10:03:00,sdb,0,0")

  private lazy val cpuCsv = tmpCsv("cpu.csv",
    "jobID,node,timestamp,device,user,nice,system,idle,iowait,irq,softirq",
    s"job1,N1,$T 10:00:00,cpu0,100,0,0,900,0,0,0",
    s"job1,N1,$T 10:01:00,cpu0,200,0,0,1800,0,0,0",
    s"job1,N1,$T 10:02:00,cpu0,200,0,0,1800,0,0,0") // Δtotal=0 → dropped

  private lazy val lliteCsv = tmpCsv("llite.csv",
    "jobID,node,timestamp,read_bytes,write_bytes",
    s"job1,N1,$T 10:00:00,0,0",
    s"job1,N1,$T 10:00:00,0,0", // duplicate timestamp → Δt<0.1 dropped
    s"job1,N1,$T 10:01:00,52428800,52428800")

  private lazy val memCsv = tmpCsv("mem.csv",
    "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
    s"job1,N1,$T 10:00:00,2147483648,1073741824,1073741824,536870912",
    s"job1,N1,$T 10:01:00,2147483648,1073741824,1073741824,536870912",
    s"job2,N1,$T 10:00:30,2147483648,1073741824,1073741824,536870912",
    s"job2,N2,$T 10:00:30,2147483648,1073741824,2147483648,536870912")

  private lazy val acctCsv = tmpCsv("accounting.csv",
    "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,start,end,submit,exit_status",
    s"job1,alice,acctA,sim,normal,1,16,3600,$T 10:00:00,$T 10:02:00,$T 09:59:00,0",
    s"job2,bob,acctB,train,gpu,2,32,7200,$T 10:00:00,$T 10:01:00,$T 09:58:00,0")

  private lazy val fresco = Pipeline.step1(spark, blockCsv, cpuCsv, lliteCsv, memCsv)

  private def valuesFor(event: String): Map[String, Double] =
    fresco.filter(org.apache.spark.sql.functions.col("Event") === event)
      .collect().map(r => r.getTimestamp(2).toString -> r.getDouble(4)).toMap

  test("step1 block: device sum, rate derivation, counter reset dropped") {
    val v = valuesFor("block")
    assert(v.keySet == Set("2013-01-01 10:01:00.0", "2013-01-01 10:02:00.0"))
    assert(math.abs(v("2013-01-01 10:01:00.0") - 1.0 / 60.0) < 1e-12) // 1 GiB / 60 s
    assert(v("2013-01-01 10:02:00.0") == 0.0)
  }

  test("step1 cpu: jiffy deltas → user %, zero-total dropped") {
    val v = valuesFor("cpuuser")
    assert(v == Map("2013-01-01 10:01:00.0" -> 10.0))
  }

  test("step1 llite: byte rate in MB/s, duplicate timestamp dropped") {
    val v = valuesFor("nfs")
    assert(v.keySet == Set("2013-01-01 10:01:00.0"))
    assert(math.abs(v("2013-01-01 10:01:00.0") - 100.0 / 60.0) < 1e-9)
  }

  test("step1 mem: gauges in GB, memused minus diskcache") {
    val used = valuesFor("memused")
    assert(used("2013-01-01 10:00:00.0") == 1.0)
    val mmdc = valuesFor("memused_minus_diskcache")
    assert(mmdc("2013-01-01 10:00:00.0") == 0.5)
  }

  test("step1 output conforms to the FRESCO schema, jid standardized") {
    assert(fresco.schema.fieldNames.toSeq == Schemas.fresco.fieldNames.toSeq)
    val ids = fresco.select("Job Id").distinct().collect().map(_.getString(0)).toSet
    assert(ids == Set("JOB1", "JOB2"))
    val units = fresco.select("Event", "Units").distinct().collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(units == Map("block" -> "GB/s", "cpuuser" -> "CPU %", "nfs" -> "MB/s",
      "memused" -> "GB", "memused_minus_diskcache" -> "GB"))
  }

  private lazy val wide = {
    val metrics = fresco.withColumn("jid",
      graft.functions.Exprs.normalizeJobId(org.apache.spark.sql.functions.col("Job Id")))
    Pipeline.step2(metrics, Readers.accounting(spark, acctCsv))
  }

  test("step2: wide output schema matches OUTPUT_COLUMNS exactly") {
    assert(wide.schema.fieldNames.toSeq == Schemas.outputColumns)
  }

  test("step2: buckets start-aligned, end-exclusive, midpoint time") {
    val rows = wide.collect().map(r =>
      (r.getAs[String]("jid"), r.getAs[String]("host"),
        r.getAs[java.sql.Timestamp]("time").toString) -> r).toMap
    // job1: bucket0 midpoint 10:00:30, bucket1 midpoint 10:01:30; the
    // block sample AT end (10:02:00) is excluded → no bucket 2
    assert(rows.keySet == Set(
      ("1", "N1", "2013-01-01 10:00:30.0"),
      ("1", "N1", "2013-01-01 10:01:30.0"),
      ("2", "N1", "2013-01-01 10:00:30.0"),
      ("2", "N2", "2013-01-01 10:00:30.0")))
  }

  test("step2: partial events are nulls, value_gpu always null") {
    val r = wide.filter("jid = '1' AND time = timestamp'2013-01-01 10:00:30'")
      .collect()(0)
    // bucket0 has only mem gauges
    assert(r.getAs[Double]("value_memused") == 1.0)
    assert(r.getAs[Double]("value_memused_minus_diskcache") == 0.5)
    assert(r.isNullAt(r.fieldIndex("value_block")))
    assert(r.isNullAt(r.fieldIndex("value_cpuuser")))
    assert(r.isNullAt(r.fieldIndex("value_nfs")))
    assert(r.isNullAt(r.fieldIndex("value_gpu")))
    val r1 = wide.filter("jid = '1' AND time = timestamp'2013-01-01 10:01:30'")
      .collect()(0)
    assert(r1.getAs[Double]("value_cpuuser") == 10.0)
    assert(math.abs(r1.getAs[Double]("value_block") - 1.0 / 60.0) < 1e-12)
    assert(math.abs(r1.getAs[Double]("value_nfs") - 100.0 / 60.0) < 1e-9)
  }

  test("step2: job metadata carried through; multi-host host_list sorted") {
    val j2 = wide.filter("jid = '2'").collect()
    assert(j2.length == 2)
    j2.foreach { r =>
      assert(r.getAs[String]("host_list") == "N1,N2")
      assert(r.getAs[String]("username") == "bob")
      assert(r.getAs[Long]("nhosts") == 2L)
      assert(r.getAs[Long]("ncores") == 32L)
      assert(r.getAs[Long]("timelimit") == 7200L)
      assert(r.getAs[String]("queue") == "gpu")
      assert(r.getAs[java.sql.Timestamp]("submit_time").toString == "2013-01-01 09:58:00.0")
    }
    assert(j2.map(_.getAs[String]("host")).toSet == Set("N1", "N2"))
    assert(j2.map(_.getAs[Double]("value_memused")).toSet == Set(1.0, 2.0))
  }

  test("host_list is per accounting record, not pooled across same-jid records") {
    import org.apache.spark.sql.functions.{col => c, lit => l}
    import spark.implicits._
    // two accounting records normalizing to the same jid, disjoint windows,
    // disjoint host sets
    val metrics = Seq(
      ("7", "A1", java.sql.Timestamp.valueOf("2013-01-01 10:00:30")),
      ("7", "B1", java.sql.Timestamp.valueOf("2013-01-01 12:00:30"))
    ).toDF("jid", "Host", "Timestamp")
      .withColumn("Event", l("memused")).withColumn("Value", l(1.0))
    val acct = Seq(
      ("7", "2013-01-01 10:00:00", "2013-01-01 11:00:00"),
      ("7", "2013-01-01 12:00:00", "2013-01-01 13:00:00")
    ).toDF("jid", "s", "e")
      .select(c("jid"), c("s").cast("timestamp").as("start"), c("e").cast("timestamp").as("end"))
      .withColumn("submit", c("start"))
      .withColumn("user", l("u")).withColumn("account", l("a"))
      .withColumn("jobname", l("j")).withColumn("queue", l("q"))
      .withColumn("nnodes", l(1L)).withColumn("ncpus", l(1L))
      .withColumn("walltime", l(1L)).withColumn("exit_status", l("0"))
    val out = Pipeline.step2(metrics, acct).collect()
      .map(r => r.getAs[String]("host") -> r.getAs[String]("host_list")).toMap
    assert(out == Map("A1" -> "A1", "B1" -> "B1")) // not pooled into "A1,B1"
  }

  test("step3: suffix pass on jid/host/host_list/username") {
    val f = Finalize(wide).filter("host = 'N2_S'").collect()(0)
    assert(f.getAs[String]("jid") == "2_S")
    assert(f.getAs[String]("host_list") == "N1,N2_S")
    assert(f.getAs[String]("username") == "bob_S")
    assert(f.getAs[String]("account") == "acctB") // untouched
  }

  test("variant: step-3.1 bucket-start time + unit=Mixed column") {
    import org.apache.spark.sql.functions.col
    val metrics = fresco.withColumn("jid",
      graft.functions.Exprs.normalizeJobId(col("Job Id")))
    val joined = graft.operators.IntervalJoin(metrics, Readers.accounting(spark, acctCsv))
    val v = graft.operators.BucketAggregate(joined,
      timeMode = graft.operators.BucketAggregate.TimeMode.BucketStart,
      mixedUnitColumn = true)
    assert(v.schema.fieldNames.toSeq == Schemas.outputColumns :+ "unit")
    val rows = v.collect()
    assert(rows.forall(_.getAs[String]("unit") == "Mixed"))
    // time stamps the bucket START (10:00:00 / 10:01:00), not the midpoint
    val times = rows.filter(_.getAs[String]("jid") == "1")
      .map(_.getAs[java.sql.Timestamp]("time").toString).toSet
    assert(times == Set("2013-01-01 10:00:00.0", "2013-01-01 10:01:00.0"))
  }

  test("variant: legacy KB memory unit factor (rough-drafts v2)") {
    // same instants as the byte fixture but every memory cell in KB
    val memKb = tmpCsv("memkb.csv",
      "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
      s"job1,N1,$T 10:00:00,2097152,1048576,1048576,524288")
    val out = MetricTransforms.mem(
        Readers.csv(spark, memKb, Schemas.mem), memUnitFactor = 1024.0)
      .collect().map(r => r.getString(3) -> r.getDouble(4)).toMap
    assert(out("memused") == 1.0) // 1048576 KB × 1024 / 2^30 = 1 GB
    assert(out("memused_minus_diskcache") == 0.5) // FilePages scaled too
  }

  test("variant: legacy draft formulas F2/F15/F17/F19 (rough drafts)") {
    // F15 block: (1024+1024)*512 / (2+2) / 2^30; F2 jid: jobID1 → JOB1
    val blk = tmpCsv("blocklegacy.csv",
      "jobID,node,timestamp,device,rd_sectors,wr_sectors,rd_ticks,wr_ticks",
      s"jobID1,N1,$T 10:00:00,sda,1024,1024,2,2")
    val b = MetricTransforms.blockLegacy(
      Readers.csv(spark, blk, Schemas.blockLegacy)).collect()(0)
    assert(b.getString(0) == "JOB1") // F2: case-insensitive job→JOB, ID stripped
    assert(math.abs(b.getDouble(4) - 2048.0 * 512 / 4.0 / math.pow(2, 30)) < 1e-18)
    // F17 cpu: (user+nice)/total*100 with NO deltas, first row included
    val c = MetricTransforms.cpuLegacy(
      Readers.csv(spark, cpuCsv, Schemas.cpu)).orderBy("Timestamp").collect()
    assert(c.length == 3) // every row transforms (the delta path drops two)
    assert(math.abs(c(0).getDouble(4) - 100.0 / 1000.0 * 100.0) < 1e-12)
    // F19 nfs: (direct_read+direct_write)/2^20 instantaneous
    val nfs = tmpCsv("nfslegacy.csv",
      "jobID,node,timestamp,direct_read,direct_write",
      s"JOB2,N1,$T 10:00:00,1048576,1048576")
    val n = MetricTransforms.nfsLegacy(
      Readers.csv(spark, nfs, Schemas.nfsLegacy)).collect()(0)
    assert(n.getDouble(4) == 2.0)
    // quirk fidelity: a blank counter cell propagates (null Value, the
    // engine-native form of the drafts' NaN) — NOT zero-filled into a
    // wrong finite value; and key-null rows are kept, not dropped
    val blk2 = tmpCsv("blocklegacy2.csv",
      "jobID,node,timestamp,device,rd_sectors,wr_sectors,rd_ticks,wr_ticks",
      s"jobID9,N1,$T 10:00:00,sda,1024,NA,2,2",
      s",N1,$T 10:00:00,sda,1024,1024,2,2")
    val rows2 = MetricTransforms.blockLegacy(
      Readers.csv(spark, blk2, Schemas.blockLegacy)).collect()
    assert(rows2.length == 2)
    assert(rows2.exists(r => r.isNullAt(4))) // blank wr_sectors → null Value
    assert(rows2.exists(r => r.isNullAt(0))) // null jobID row survives
    // F2 quirks are faithful to the draft: lowercase id survives the
    // case-SENSITIVE strip; any literal ID is stripped
    import org.apache.spark.sql.functions.lit
    val z = spark.range(1).select(
      graft.functions.Exprs.standardizeJobIdLegacy(lit("jobid42")).as("a"),
      graft.functions.Exprs.standardizeJobIdLegacy(lit("GRID7")).as("b"),
      graft.functions.Exprs.standardizeJobIdLegacy(lit("jobID123")).as("c")).collect()(0)
    assert(z.getString(0) == "JOBid42")
    assert(z.getString(1) == "GR7")
    assert(z.getString(2) == "JOB123")
  }

  test("F5: date extracted from the input file name; no date → null") {
    import org.apache.spark.sql.functions.col
    val dated = tmpCsv("node1_2013-02-27.csv", "v", "1", "2")
    val d = spark.read.option("header", "true").csv(dated)
      .withColumn("fdate", graft.functions.Exprs.fileDate())
      .select("fdate").distinct().collect()
    assert(d.map(_.getDate(0).toString).toSeq == Seq("2013-02-27"))
    val undated = tmpCsv("nodate.csv", "v", "1")
    val u = spark.read.option("header", "true").csv(undated)
      .withColumn("fdate", graft.functions.Exprs.fileDate())
      .select("fdate").collect()
    assert(u.forall(_.isNullAt(0)))
    // regex-shaped but invalid date → null, not an ANSI error
    val bogus = spark.range(1).select(
      graft.functions.Exprs.fileDate(org.apache.spark.sql.functions.lit("x_9999-99-99.csv")).as("d"))
      .collect()
    assert(bogus.forall(_.isNullAt(0)))
    // only the FILE NAME is searched — a dated ancestor directory must not
    // shadow the file's own date (or fabricate one for an undated file)
    val shadow = spark.range(1).select(
      graft.functions.Exprs.fileDate(
        org.apache.spark.sql.functions.lit("/runs/2026-01-01/NODE1_('2013-02-27',).parquet")).as("d"),
      graft.functions.Exprs.fileDate(
        org.apache.spark.sql.functions.lit("/runs/2026-01-01/nodate.parquet")).as("u"))
      .collect()(0)
    assert(shadow.getDate(0).toString == "2013-02-27")
    assert(shadow.isNullAt(1))
  }

  test("readers: missing MemUsed column tolerated, fallback to MemTotal-MemFree") {
    val mem2 = tmpCsv("mem2.csv",
      "jobID,node,timestamp,MemTotal,MemFree,FilePages",
      s"job3,N1,$T 10:00:00,2147483648,1073741824,0")
    val df = Readers.csv(spark, mem2, Schemas.mem)
    assert(df.schema.fieldNames.toSeq == Schemas.mem.fieldNames.toSeq)
    assert(Readers.isBackfilled(df, "MemUsed"))
    val v = MetricTransforms.mem(df)
      .filter("Event = 'memused'").collect()(0).getDouble(4)
    assert(v == 1.0) // (2 GiB − 1 GiB) / 2^30
  }

  test("mem: null MemUsed cell in a PRESENT column is 0, not the fallback") {
    val mem3 = tmpCsv("mem3.csv",
      "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
      s"job5,N1,$T 10:00:00,2147483648,1073741824,NA,0")
    val df = Readers.csv(spark, mem3, Schemas.mem)
    assert(!Readers.isBackfilled(df, "MemUsed"))
    // reference fill_null(0): value = 0·2^-30 = 0.0 (NOT MemTotal−MemFree)
    val v = MetricTransforms.mem(df)
      .filter("Event = 'memused'").collect()(0).getDouble(4)
    assert(v == 0.0)
  }

  test("readers: JSONL corpus — typed rows, corrupt lines quarantined not fatal") {
    import org.apache.spark.sql.types._
    val p = tmpCsv("docs.jsonl",
      """{"doc_id": 1, "text": "hello world", "lang": "en"}""",
      """{"doc_id": 2, "text": "hola mundo", "lang": "es"}""",
      """{"doc_id": broken not json""",
      """{"doc_id": 3, "text": "ok", "lang": "en"}""")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType)))
    val df = Readers.jsonl(spark, p, schema)
    val good = df.filter("_corrupt_record IS NULL").collect()
    assert(good.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
    val bad = df.filter("_corrupt_record IS NOT NULL").collect()
    assert(bad.length == 1 && bad(0).getAs[String]("_corrupt_record").contains("broken"))
  }

  test("readers: one-document-per-file text corpus keeps whole files") {
    val dir = java.nio.file.Files.createTempDirectory("textdocs").toFile
    dir.deleteOnExit()
    for ((name, body) <- Seq("a.txt" -> "line one\nline two", "b.txt" -> "solo")) {
      val w = new java.io.PrintWriter(new java.io.File(dir, name))
      try w.print(body) finally w.close()
    }
    val out = Readers.textDocs(spark, dir.getAbsolutePath).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("a.txt" -> "line one\nline two", "b.txt" -> "solo"))
  }

  test("readers: null sentinels NA/NULL/empty parsed as null") {
    val p = tmpCsv("block2.csv",
      "jobID,node,timestamp,device,rd_sectors,wr_sectors",
      s"job4,N1,$T 10:00:00,sda,NA,NULL",
      s"job4,N1,$T 10:01:00,sda,,5")
    val df = Readers.csv(spark, p, Schemas.block)
    val rows = df.collect()
    assert(rows.forall(r => r.isNullAt(r.fieldIndex("rd_sectors"))))
    assert(rows.count(r => r.isNullAt(r.fieldIndex("wr_sectors"))) == 1)
  }

  test("writeDaily: zstd parquet partitioned by date, readable with pruning") {
    val out = java.nio.file.Files.createTempDirectory("daily").toFile.getAbsolutePath
    Pipeline.writeDaily(fresco, out)
    val back = spark.read.parquet(out)
    assert(back.count() == fresco.count())
    assert(back.columns.contains("date"))
    // one physical partition dir per day present in the fixture
    val days = new java.io.File(out).listFiles().filter(_.getName.startsWith("date=")).map(_.getName)
    assert(days.toSet == Set("date=2013-01-01"))
  }

  test("writeDaily output gives partition pruning for day-scoped reads") {
    val out = java.nio.file.Files.createTempDirectory("daily-prune").toFile.getAbsolutePath
    // two distinct days so pruning has something to skip
    val twoDays = fresco.unionByName(
      fresco.withColumn("Timestamp",
        org.apache.spark.sql.functions.col("Timestamp") +
          org.apache.spark.sql.functions.expr("INTERVAL 1 DAY")))
    Pipeline.writeDaily(twoDays, out)
    val q = spark.read.parquet(out).filter("date = date'2013-01-01'")
    val scan = q.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("2013-01-01"),
      s"no partition filter in scan:\n$scan")
    assert(q.count() == fresco.count())
  }

  test("compactDaily: oversized partitions rewritten to target file count, rows intact") {
    val out = java.nio.file.Files.createTempDirectory("daily-compact").toFile.getAbsolutePath
    // force many small files per day partition
    fresco.repartition(6).withColumn("date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("Timestamp")))
      .write.mode("overwrite").partitionBy("date").parquet(out)
    val part = new java.io.File(out, "date=2013-01-01")
    def nFiles = part.listFiles().count(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(nFiles > 1)
    val before = spark.read.parquet(out).collect().toSeq.map(_.toString).sorted
    // generous target: every partition should shrink to exactly one file
    val report = Pipeline.compactDaily(spark, out, targetBytes = 1L << 30)
    assert(report.map(_._1) == Seq("date=2013-01-01"))
    assert(report.head._2 > 1 && report.head._3 == 1 && nFiles == 1)
    // the rewrite keeps writeDaily's contract: the file is one sorted run
    val file = part.listFiles().filter(f => f.isFile && f.getName.endsWith(".parquet")).head
    val keys = spark.read.parquet(file.getAbsolutePath).collect().toSeq
      .map(r => (r.getAs[String]("Job Id"), r.getAs[java.sql.Timestamp]("Timestamp").getTime))
    assert(keys == keys.sorted, s"compacted file is not sorted by (Job Id, Timestamp): $keys")
    // rows byte-identical, no staging residue, second pass is a no-op
    val after = spark.read.parquet(out).collect().toSeq.map(_.toString).sorted
    assert(after == before)
    assert(!new java.io.File(out).listFiles().exists(_.getName.contains("_graft_compact")))
    assert(Pipeline.compactDaily(spark, out, targetBytes = 1L << 30).isEmpty)
    // streaming-sink outputs are refused: their commit log tracks files by name
    val streamed = java.nio.file.Files.createTempDirectory("daily-streamed").toFile
    new java.io.File(streamed, "_spark_metadata").mkdirs()
    val e = intercept[IllegalArgumentException](
      Pipeline.compactDaily(spark, streamed.getAbsolutePath))
    assert(e.getMessage.contains("_spark_metadata"))
  }

  test("compactDaily: crashed swap is repaired, residue never treated as a partition") {
    val out = java.nio.file.Files.createTempDirectory("daily-crash").toFile
    val outPath = out.getAbsolutePath
    fresco.repartition(4).withColumn("date",
        org.apache.spark.sql.functions.to_date(
          org.apache.spark.sql.functions.col("Timestamp")))
      .write.mode("overwrite").partitionBy("date").parquet(outPath)
    val rows = spark.read.parquet(outPath).collect().toSeq.map(_.toString).sorted
    // simulate a crash BETWEEN the two swap renames: live partition moved
    // aside, a stale rewrite left behind
    val live = new java.io.File(out, "date=2013-01-01")
    val old = new java.io.File(out, ".date=2013-01-01_graft_compact_old")
    val tmp = new java.io.File(out, ".date=2013-01-01_graft_compact_tmp")
    assert(live.renameTo(old))
    tmp.mkdirs()
    // the next run must roll the original back and clear the residue — and
    // must NOT list dot-prefixed residue dirs as partitions to compact
    Pipeline.compactDaily(spark, outPath, targetBytes = 1L << 30)
    assert(live.isDirectory && !old.exists && !tmp.exists)
    assert(spark.read.parquet(outPath).collect().toSeq.map(_.toString).sorted == rows)
    // live + preserved with the partition's tmp fully GONE = the swap
    // completed and the crash hit before delete(old): live is the rewrite,
    // so a re-run self-heals by dropping the preserved original
    old.mkdirs()
    Pipeline.compactDaily(spark, outPath, targetBytes = 1L << 30)
    assert(live.isDirectory && !old.exists,
      "completed-swap residue must self-heal, not demand manual triage")
    assert(spark.read.parquet(outPath).collect().toSeq.map(_.toString).sorted == rows)
    // live + preserved + tmp ALL present is genuinely ambiguous (mid
    // rename-away or mid rename-in): refuse loudly, never guess
    old.mkdirs(); tmp.mkdirs()
    val amb = intercept[java.io.IOException](
      Pipeline.compactDaily(spark, outPath, targetBytes = 1L << 30))
    assert(amb.getMessage.contains("ambiguous"), amb.getMessage)
    assert(live.isDirectory && old.isDirectory, "no dir may be deleted on ambiguity")
    old.delete(); tmp.delete()
  }

  test("observe: audit row counts piggyback on the action (A10)") {
    val (df, obs) = Pipeline.observed(fresco, "step1_audit")
    val n = df.count()
    assert(obs.get("rows") == n)
    assert(obs.get("null_values") == 0L)
  }

  test("accounting reader: dates parsed, jid normalized, null keys dropped") {
    val acct = Readers.accounting(spark, acctCsv)
    val r = acct.filter("jobID = 'job1'").collect()(0)
    assert(r.getAs[String]("jid") == "1")
    assert(r.getAs[java.sql.Timestamp]("start").toString == "2013-01-01 10:00:00.0")
    assert(r.getAs[Long]("ncpus") == 16L)
  }

  test("cluster conf: the 100 TB knob set is coherent") {
    val c = Sessions.clusterConf(shufflePartitions = 4096)
    assert(c("spark.sql.shuffle.partitions") == "4096")
    assert(c("spark.sql.adaptive.enabled") == "true")
    assert(c("spark.sql.adaptive.skewJoin.enabled") == "true")
    assert(c("spark.sql.parquet.compression.codec") == "zstd")
    assert(c(graft.operators.Dedup.ReliableCheckpointKey) == "true")
    // builder accepts the full map without clashing keys
    Sessions.cluster() // must construct
  }

  test("csv sink (S6): header round-trip, nulls survive as empty cells") {
    import spark.implicits._
    val out = java.nio.file.Files.createTempDirectory("csv-sink").toString + "/t"
    Seq(("a", Some(1.5)), ("b", None), ("c", Some(-2.0)))
      .toDF("k", "v")
      .write.mode("overwrite").option("header", "true").csv(out)
    val back = spark.read.option("header", "true")
      .schema("k STRING, v DOUBLE").csv(out)
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(back == Map("a" -> Some(1.5), "b" -> None, "c" -> Some(-2.0)))
  }
}
