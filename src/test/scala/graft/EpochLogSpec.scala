package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.operators.{Dedup, EpochLog, Similarity}
import graft.streaming.SemDedupIngest

/** The epoch-commit log, table-driven over its two locations (a catalog
  * table and a directory), plus one case per persisted layout family
  * built on it: orphan rows are invisible to serving and compaction
  * collects their files. */
class EpochLogSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  import spark.implicits._

  /** One log location plus a data set beside it, in that location's
    * terms: the raw commit record and the data rows. */
  private trait Loc {
    def log: EpochLog
    def dataset: String
    def record: DataFrame
    def writeRecord(df: DataFrame): Unit
    def writeRows(df: DataFrame): Unit
    def rows: DataFrame
  }

  private val tables = scala.collection.mutable.ArrayBuffer.empty[String]

  private def catalog(tag: String): Loc = new Loc {
    private val name = s"elog_$tag"
    Seq("_meta", "_tombs", "_data").foreach { s =>
      spark.sql(s"DROP TABLE IF EXISTS $name$s"); tables += s"$name$s"
    }
    val log = EpochLog.table(spark, name)
    val dataset = s"${name}_data"
    def record = spark.table(s"${name}_meta")
    def writeRecord(df: DataFrame) =
      df.write.mode("overwrite").saveAsTable(s"${name}_meta")
    def writeRows(df: DataFrame) =
      df.write.mode("append").saveAsTable(dataset)
    def rows = spark.table(dataset)
  }

  private def directory(tag: String): Loc = new Loc {
    private val path = java.nio.file.Files
      .createTempDirectory(s"graft-elog-$tag").toString + "/ix"
    val log = EpochLog.directory(spark, path)
    val dataset = path
    def record = spark.read.parquet(s"$path/_epochs")
    def writeRecord(df: DataFrame) =
      df.write.mode("overwrite").parquet(s"$path/_epochs")
    def writeRows(df: DataFrame) = df.write.mode("append").parquet(path)
    def rows = spark.read.parquet(path)
  }

  private val locations: Seq[(String, String => Loc)] =
    Seq("catalog table" -> catalog, "directory" -> directory)

  override def afterAll(): Unit = {
    tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    super.afterAll()
  }

  private def at(epoch: Long, ids: Long*): DataFrame =
    ids.toDF("id").withColumn("build_id", lit(epoch))

  private def ids(df: DataFrame): Set[(Long, Long)] =
    df.select("id", "build_id").as[(Long, Long)].collect().toSet

  private def fileExists(f: String): Boolean =
    new java.io.File(new org.apache.hadoop.fs.Path(f).toUri.getPath).exists()

  for ((kind, mk) <- locations) {

    test(s"$kind: the record is (build_id bigint, key string), and a record " +
      "written in that form by earlier code reads") {
      val l = mk("schema")
      l.log.overwrite(1L)
      l.log.append(2L, Some("k"))
      assert(l.record.schema.map(f => (f.name, f.dataType)) ==
        Seq(("build_id", LongType), ("key", StringType)))
      l.writeRecord(Seq((5L, Option("old")), (6L, Option.empty[String]))
        .toDF("build_id", "key"))
      assert(l.log.committed("op", "rebuild").sorted == Seq(5L, 6L))
      assert(l.log.keyCommitted("old", "op", "rebuild"))
      assert(!l.log.keyCommitted("new", "op", "rebuild"))
    }

    test(s"$kind: an uncommitted epoch is invisible") {
      val l = mk("orphan")
      val e1 = EpochLog.newEpoch()
      l.writeRows(at(e1, 1L, 2L))
      l.log.overwrite(e1)
      val e2 = EpochLog.newEpoch()
      l.writeRows(at(e2, 3L)) // crashed before its commit
      val committed = l.log.committed("op", "rebuild")
      assert(committed == Seq(e1))
      assert(ids(l.log.committedRows(l.rows, committed)) == Set((1L, e1), (2L, e1)))
      assert(ids(l.log.liveRows(l.rows, "id", committed)) == Set((1L, e1), (2L, e1)))
    }

    test(s"$kind: after a recommit the committed set is one merged epoch " +
      "and every key points at it") {
      val l = mk("recommit")
      l.log.overwrite(EpochLog.newEpoch())
      l.log.append(EpochLog.newEpoch(), Some("a"))
      l.log.append(EpochLog.newEpoch(), Some("b"))
      l.log.append(EpochLog.newEpoch())
      val merged = EpochLog.newEpoch()
      l.log.recommit(l.log.committed("op", "rebuild"), merged, "op")
      assert(l.log.committed("op", "rebuild") == Seq(merged))
      val rec = l.record.as[(Long, Option[String])].collect()
      assert(rec.forall(_._1 == merged))
      assert(rec.map(_._2).toSeq.sortBy(_.getOrElse("")) ==
        Seq(None, Some("a"), Some("b")))
      assert(l.log.keyCommitted("a", "op", "rebuild"))
    }

    test(s"$kind: an empty record reads as nothing where allowed and is " +
      "refused where an index is required; a missing record is refused") {
      val missing = mk("missing")
      assert(!missing.log.exists)
      Seq[() => Any](
        () => missing.log.committedOrEmpty("serveThing", "buildThing"),
        () => missing.log.committed("serveThing", "buildThing"),
        () => missing.log.keyCommitted("k", "serveThing", "buildThing")
      ).foreach { f =>
        val m = intercept[IllegalArgumentException](f()).getMessage
        assert(m.contains("serveThing") && m.contains("buildThing"), m)
      }
      val l = mk("empty")
      l.log.overwrite()
      assert(l.log.exists)
      assert(l.log.committedOrEmpty("serveThing", "buildThing").isEmpty)
      val m = intercept[IllegalArgumentException](
        l.log.committed("serveThing", "buildThing")).getMessage
      assert(m.contains("serveThing") && m.contains("buildThing") &&
        m.contains("lists no committed builds"), m)
    }

    test(s"$kind: a tombstone hides only strictly older epochs, so " +
      "delete-then-re-append serves the new row") {
      val l = mk("tomb")
      val e1 = EpochLog.newEpoch()
      l.writeRows(at(e1, 1L, 2L))
      l.log.overwrite(e1)
      l.log.tombstone(Seq(1L).toDF("id"), "op", "rebuild")
      assert(ids(l.log.liveRows(l.rows, "id", l.log.committed("op", "rebuild"))) ==
        Set((2L, e1)))
      val e3 = EpochLog.newEpoch()
      l.writeRows(at(e3, 1L))
      l.log.append(e3)
      assert(ids(l.log.liveRows(l.rows, "id", l.log.committed("op", "rebuild"))) ==
        Set((1L, e3), (2L, e1)))
    }

    test(s"$kind: the recommit refuses an epoch committed after the " +
      "snapshot and leaves the record and the snapshot's files alone") {
      val l = mk("race")
      val e1 = EpochLog.newEpoch()
      l.writeRows(at(e1, 1L))
      l.log.overwrite(e1)
      val snapshot = l.log.committed("op", "rebuild")
      l.log.append(EpochLog.newEpoch(), Some("late"))
      def rec = l.record.as[(Long, Option[String])].collect().toSet
      val before = rec
      val e = intercept[IllegalStateException](
        l.log.recommit(snapshot, EpochLog.newEpoch(), "compactThing"))
      assert(e.getMessage.contains("compactThing") &&
        e.getMessage.contains("single-writer"), e.getMessage)
      assert(rec == before)
      // the same race through the whole swap: an epoch committed during
      // the merge fails the compaction before GC touches a file
      val files = l.log.dataFiles(l.dataset)
      assert(files.nonEmpty)
      intercept[IllegalStateException](
        l.log.compact("compactThing", "rebuild", l.dataset) { (_, merged, _) =>
          l.writeRows(at(merged, 1L))
          l.log.append(EpochLog.newEpoch())
        })
      assert(files.forall(fileExists))
      assert(l.log.committed("op", "rebuild").size == 3,
        "the refused compaction must not have replaced the record")
    }
  }

  // --- one case per layout family built on the log ---------------------

  private val corpusDocs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (2L, "spark shuffles partitions across the cluster under adaptive query " +
      "execution while the scheduler assigns tasks to executors"),
    (3L, "completely different words live here entirely on their own today"))
    .toDF("doc_id", "text")
  private val batchDocs = Seq(
    (10L, "the quick brown fox jumps over the lazy dog near the old river bank"),
    (12L, "nothing in the corpus resembles this sentence about gardening tools " +
      "and the careful pruning of roses in early spring"))
    .toDF("doc_id", "text")
  // appended docs that WOULD change every text serve if they were visible:
  // they repeat the batch's otherwise-unmatched document
  private val extraDocs = Seq(
    (20L, "nothing in the corpus resembles this sentence about gardening tools " +
      "and the careful pruning of roses in early spring"))
    .toDF("doc_id", "text")

  private val rnd = new scala.util.Random(83)
  private val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0),
    Array.tabulate(6)(i => if (i % 2 == 0) 9.0 else -9.0))
  private def vecs(r: Range): DataFrame = r.map(i => (i.toLong,
      centers(i % 3).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq))
    .toDF("vec_id", "embedding")
  private lazy val base = vecs(0 until 45).localCheckpoint()
  private lazy val more = vecs(45 until 60).localCheckpoint()
  private lazy val allVecs = base.unionByName(more)
  private lazy val queries = allVecs.filter($"vec_id" % 5 === 0)
  private lazy val cents = Similarity.kmeansFit(base, "vec_id", "embedding",
    k = 3, iters = 4)
  private lazy val pqCb = Similarity.trainPqResidual(base, "vec_id",
    "embedding", cents, m = 2, ksub = 8, iters = 3)
  // an orthonormal non-identity rotation: the coordinate reversal
  private val rot = Array.tabulate(6, 6)((i, j) => if (j == 5 - i) 1.0 else 0.0)
  private lazy val rotated = base
    .select($"vec_id", Similarity.rotateExpr($"embedding".cast("array<double>"),
      rot).as("rv"))
  private lazy val opqCents = Similarity.kmeansFit(rotated, "vec_id", "rv",
    k = 3, iters = 4)
  private lazy val opqCb = Similarity.trainPqResidual(rotated, "vec_id", "rv",
    opqCents, m = 2, ksub = 8, iters = 3)

  /** A layout family: build it, serve it, append to it (a commit the
    * case then rolls back, leaving the append's rows as orphans), and
    * compact it where the family compacts. */
  private case class Family(name: String, catalog: Boolean,
                            datasets: String => Seq[String],
                            build: String => Unit,
                            serve: String => DataFrame,
                            append: String => Unit,
                            compact: Option[String => Unit])

  private def hashes(df: DataFrame) = Dedup.simhash(df, "doc_id", "text")

  /** The learned-IVF family's three kinds, all on one code path. */
  private val learnedKinds = Seq("ivf", "pq", "opq")
  private def quantizer(kind: String): Similarity.IvfQuantizer = kind match {
    case "ivf" => Similarity.IvfQuantizer(cents)
    case "pq" => Similarity.IvfQuantizer(cents, Some(pqCb))
    case "opq" => Similarity.IvfQuantizer(opqCents, Some(opqCb), Some(rot))
  }
  private def serveLearned(p: String): DataFrame =
    Similarity.serveLearnedIndex(p, allVecs, queries, "vec_id", "embedding", 3)

  private val families = Seq(
    Family("banded", catalog = true, n => Seq(s"${n}_bands", s"${n}_sigs"),
      n => Dedup.writeBandedIndex(Dedup.buildDedupIndex(corpusDocs, "doc_id",
        "text"), n, buckets = 2),
      n => Dedup.dedupAgainstBandedIndex(batchDocs, n, "doc_id", "text",
        minJaccard = 0.5),
      n => Dedup.appendToBandedIndex(extraDocs, n, "doc_id", "text"),
      Some(n => Dedup.compactBandedIndex(spark, n))),
    Family("span", catalog = true, n => Seq(s"${n}_spans"),
      n => Dedup.writeSpanIndex(Dedup.buildSpanIndex(corpusDocs, "doc_id",
        "text", 4), n, buckets = 2),
      n => Dedup.spanStatsAgainstBucketedIndex(batchDocs, n, "doc_id", "text"),
      n => Dedup.appendToSpanIndex(extraDocs, n, "doc_id", "text"),
      Some(n => Dedup.compactSpanIndex(spark, n))),
    Family("hash", catalog = true, n => Seq(s"${n}_bands", s"${n}_sigs"),
      n => Dedup.writeHashIndex(hashes(corpusDocs), n, buckets = 2),
      n => Dedup.pairsAgainstHashIndex(hashes(batchDocs), n),
      n => Dedup.appendToHashIndex(hashes(extraDocs), n),
      Some(n => Dedup.compactHashIndex(spark, n)))) ++
    learnedKinds.map(kind => Family(kind, catalog = false, p => Seq(p),
      p => Similarity.writeLearnedIndex(base, "vec_id", "embedding", p,
        quantizer(kind)),
      serveLearned,
      p => Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding"),
      Some(p => Similarity.compactLearnedIndex(spark, p, "vec_id")))) :+
    Family("semantic-dedup gate", catalog = false, p => Seq(p),
      p => {
        SemDedupIngest.init(spark, p, Array(Array(1.0, 0.0), Array(0.0, 1.0)))
        SemDedupIngest.gateBatch(Seq((1L, Array(1.0, 0.0)), (2L, Array(0.6, 0.8)))
          .toDF("vec_id", "embedding"), p, "vec_id", "embedding", 0.97, "b0")
      },
      p => SemDedupIngest.keptSet(spark, p),
      p => SemDedupIngest.gateBatch(Seq((3L, Array(0.0, 1.0)))
        .toDF("vec_id", "embedding"), p, "vec_id", "embedding", 0.97, "b1"),
      None)

  private def multiset(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  for (f <- families) {
    test(s"${f.name}: orphan rows at an unlisted epoch leave serving " +
      "unchanged" + f.compact.fold("")(_ => ", and compaction deletes their files")) {
      val loc =
        if (f.catalog) {
          val n = s"elog_fam_${f.name}"
          Seq("_bands", "_sigs", "_spans", "_meta", "_tombs").foreach { s =>
            spark.sql(s"DROP TABLE IF EXISTS $n$s"); tables += s"$n$s"
          }
          n
        } else java.nio.file.Files.createTempDirectory("graft-elog-fam")
          .toString + "/ix"
      val log = if (f.catalog) EpochLog.table(spark, loc)
        else EpochLog.directory(spark, loc)
      def record: DataFrame =
        if (f.catalog) spark.table(s"${loc}_meta")
        else spark.read.parquet(s"$loc/_epochs")
      def files: Set[String] = f.datasets(loc).flatMap(log.dataFiles).toSet
      f.build(loc)
      val served = multiset(f.serve(loc))
      // an append whose commit is rolled back: exactly the state a crash
      // between its data write and its commit leaves behind
      val rec = record.collect()
      val schema = record.schema
      val before = files
      f.append(loc)
      assert(multiset(f.serve(loc)) != served,
        "fixture: the append must change serving while committed")
      val restored = spark.createDataFrame(
        spark.sparkContext.parallelize(rec.toSeq), schema)
      if (f.catalog) restored.write.mode("overwrite").saveAsTable(s"${loc}_meta")
      else restored.write.mode("overwrite").parquet(s"$loc/_epochs")
      val orphans = files -- before
      assert(orphans.nonEmpty, "fixture: the append must write data files")
      assert(multiset(f.serve(loc)) == served,
        "orphan rows must be invisible to serving")
      f.compact.foreach { compact =>
        compact(loc)
        assert(!orphans.exists(fileExists),
          "compaction must delete the orphans' files")
        assert(multiset(f.serve(loc)) == served,
          "compaction must keep the committed rows and only them")
      }
    }
  }

  test("a never-built index raises the error that names the operation and " +
    "its rebuilder: catalog-table family (banded)") {
    val n = "elog_never_built"
    Seq("_bands", "_sigs", "_meta", "_tombs").foreach(s =>
      spark.sql(s"DROP TABLE IF EXISTS $n$s"))
    Seq[(String, () => Any)](
      "appendToBandedIndex" -> (() =>
        Dedup.appendToBandedIndex(batchDocs, n, "doc_id", "text")),
      "appendToBandedIndex" -> (() =>
        Dedup.appendToBandedIndexIdempotent(batchDocs, n, "doc_id", "text", "k")),
      "deleteFromBandedIndex" -> (() =>
        Dedup.deleteFromBandedIndex(Seq(1L).toDF("doc_id"), n, "doc_id")),
      "compactBandedIndex" -> (() => Dedup.compactBandedIndex(spark, n)),
      "dedupAgainstBandedIndex" -> (() =>
        Dedup.dedupAgainstBandedIndex(batchDocs, n, "doc_id", "text"))
    ).foreach { case (op, call) =>
      val m = intercept[IllegalArgumentException](call()).getMessage
      assert(m.contains(s": $op: ") && m.contains("writeBandedIndex"), m)
    }
    assert(!spark.catalog.tableExists(s"${n}_tombs"),
      "a refused delete must write nothing")
  }

  test("a never-built path raises the error that names the operation and " +
    "its rebuilder: directory family (keyed IVF and OPQ appends)") {
    val p = java.nio.file.Files.createTempDirectory("graft-elog-never")
      .toString + "/ix"
    val rows = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    // a never-built path has no kind yet: the one keyed append refuses
    // for every kind alike
    val m = intercept[IllegalArgumentException](
      Similarity.appendToLearnedIndex(rows, p, "vec_id", "embedding",
        Some("k"))).getMessage
    assert(m.contains(": append_to_learned_index: ") &&
      m.contains("writeLearnedIndex"), m)
    assert(!new java.io.File(p).exists(), "a refused append must write nothing")
  }

  // --- the learned-IVF family's crash cells, one table for its kinds ---
  // (orphan invisibility and compaction GC are the family cells above)

  private def learnedPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-elog-$tag").toString + "/ix"

  private def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  for (kind <- learnedKinds) {
    test(s"$kind: a build cut after the data or after any sidecar is refused " +
      "by serve, append and refresh, naming the rebuilder") {
      val q = quantizer(kind)
      // writeLearnedIndex's order: data, the sidecars, the record last
      val sidecars = Seq("_centroids") ++ q.codebooks.map(_ => "_pq_codebooks") ++
        q.rotation.map(_ => "_rotation")
      for (cut <- 0 to sidecars.size) {
        val p = learnedPath(s"cut-$kind-$cut")
        Similarity.writeLearnedIndex(base, "vec_id", "embedding", p, q)
        // what a crash after the data and `cut` sidecars leaves: the data
        // overwrite deleted the rest, record included
        (sidecars.drop(cut) :+ "_epochs").foreach(s => rmTree(new java.io.File(p, s)))
        val files = EpochLog.directory(spark, p).dataFiles(p).toSet
        Seq[(String, () => Any)](
          "serve_learned_index" -> (() => serveLearned(p)),
          "append_to_learned_index" -> (() =>
            Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding")),
          "refresh_learned_index" -> (() =>
            Similarity.refreshLearnedIndex(p, allVecs, "vec_id", "embedding"))
        ).foreach { case (op, call) =>
          val m = intercept[IllegalArgumentException](call()).getMessage
          assert(m.contains(s"$op: ") && m.contains("writeLearnedIndex"),
            s"cut after ${sidecars.take(cut)}: $m")
        }
        assert(EpochLog.directory(spark, p).dataFiles(p).toSet == files,
          "a refused append must write nothing")
      }
    }

    test(s"$kind: a rolled-back keyed append is invisible, and its retry " +
      "lands exactly once") {
      val p = learnedPath(s"retry-$kind")
      Similarity.writeLearnedIndex(base, "vec_id", "embedding", p, quantizer(kind))
      val served = multiset(serveLearned(p))
      val record = spark.read.parquet(s"$p/_epochs")
      val (rec, schema) = (record.collect(), record.schema)
      assert(Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding",
        Some("b1")))
      // roll the commit back: the state a crash between the rows and the
      // commit leaves
      spark.createDataFrame(spark.sparkContext.parallelize(rec.toSeq), schema)
        .write.mode("overwrite").parquet(s"$p/_epochs")
      assert(multiset(serveLearned(p)) == served,
        "the rolled-back append must be invisible")
      assert(Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding",
        Some("b1")), "the retry of an uncommitted key must land")
      assert(!Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding",
        Some("b1")), "a committed key must no-op")
      val log = EpochLog.directory(spark, p)
      val live = log.liveRows(spark.read.parquet(p), "vec_id",
        log.committed("op", "rebuild"))
      assert(live.filter($"vec_id" >= 45).count() == 15 &&
        live.groupBy("vec_id").count().filter($"count" > 1).isEmpty,
        "each appended row must serve exactly once")
      val rebuilt = learnedPath(s"retry-rb-$kind")
      Similarity.writeLearnedIndex(allVecs, "vec_id", "embedding", rebuilt,
        quantizer(kind))
      assert(multiset(serveLearned(p)) == multiset(serveLearned(rebuilt)),
        "the retried append must serve what a one-shot build serves")
      // compaction raises on a duplicate id, and keys survive it
      Similarity.compactLearnedIndex(spark, p, "vec_id")
      assert(!Similarity.appendToLearnedIndex(more, p, "vec_id", "embedding",
        Some("b1")), "a key committed before compaction must still no-op")
    }
  }
}
