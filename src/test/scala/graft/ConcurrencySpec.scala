package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch}

/** Concurrent serving on ONE SparkSession — the correctness pin under the
  * `bench_scale_concurrent.json` harness (Bench.scaleConcurrentServing).
  * The bench measures wall-clock economics of N serves in flight; this
  * spec pins the part a timing artifact cannot: with multiple serve
  * queries running simultaneously on the same session (shared catalog,
  * shared per-JVM per-dir layout caches, shared broadcast/codegen
  * caches), every query still answers EXACTLY its serial result, and no
  * thread dies. Scheduler mode is irrelevant to the claim (FIFO here,
  * FAIR in the bench) — isolation must hold under either. */
class ConcurrencySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  // one per persisted-layout family, matching the bench mix's light half
  private val mix = Seq("q_bm25_served", "q_ann_serve", "q_ann_pq_served",
    "q_lm_xent_served")

  test("concurrent serves on one session answer exactly the serial counts") {
    val fns = mix.map(n => n -> SparkEntry.queries(n))
    // serial pass FIRST: builds the lazily-initialized per-dir persisted
    // layouts without racing 8 builders (the bench prewarms for the same
    // reason), and records the expected answer per query
    val expect = fns.map { case (n, fn) => n -> fn(spark, dir).count() }.toMap
    (1 to 2).foreach { round =>
      val start = new CountDownLatch(1)
      val got = new ConcurrentHashMap[String, java.lang.Long]
      val errs = new ConcurrentLinkedQueue[Throwable]
      val threads = fns.map { case (n, fn) =>
        val t = new Thread(() => {
          start.await()
          try got.put(n, fn(spark, dir).count())
          catch { case e: Throwable => errs.add(e) }
        }, s"spec-conc-$n-r$round")
        t.start(); t
      }
      start.countDown()
      threads.foreach(_.join(120000))
      assert(errs.isEmpty, s"round $round: concurrent serve threw: " +
        Option(errs.peek()).map(_.toString).getOrElse(""))
      fns.foreach { case (n, _) =>
        assert(got.get(n) != null, s"round $round: $n never finished")
        assert(got.get(n).longValue() == expect(n),
          s"round $round: $n answered ${got.get(n)} rows under " +
            s"concurrency, expected ${expect(n)}")
      }
    }
  }

  test("answers are identical when the same query runs against itself concurrently") {
    // self-contention: the SAME serve twice in flight — exercises the
    // per-dir cache read path under concurrent access from two threads
    val fn = SparkEntry.queries("q_bm25_served")
    val expect = fn(spark, dir).count()
    val start = new CountDownLatch(1)
    val got = new ConcurrentLinkedQueue[java.lang.Long]
    val errs = new ConcurrentLinkedQueue[Throwable]
    val threads = (1 to 2).map { i =>
      val t = new Thread(() => {
        start.await()
        try got.add(fn(spark, dir).count())
        catch { case e: Throwable => errs.add(e) }
      }, s"spec-self-$i")
      t.start(); t
    }
    start.countDown()
    threads.foreach(_.join(120000))
    assert(errs.isEmpty, s"self-contention threw: " +
      Option(errs.peek()).map(_.toString).getOrElse(""))
    assert(got.size == 2 && got.stream().allMatch(_.longValue() == expect),
      s"self-contention answers diverged: $got vs $expect")
  }

  test("serves racing live epoch commits always answer a committed snapshot") {
    // The epoch protocol's concurrency claim, exercised AS a race: a
    // server thread serves in a loop while an ingest thread commits
    // append epochs into the same learned IVF path. Every observed
    // answer must equal the serve of one COMMITTED PREFIX state (data
    // files land first, the `_epochs` append is the commit point — a
    // serve planned mid-append either sees the whole epoch or none of
    // it), the states a single thread observes must be monotone (the
    // committed set only grows), and the final serve must see all four
    // appends. A torn answer — some of an epoch's cells but not others —
    // fails the membership check.
    import graft.operators.Similarity
    import org.apache.spark.sql.DataFrame
    val sess = spark
    import sess.implicits._
    val rnd = new scala.util.Random(73)
    val centers = Seq(Array.fill(6)(9.0), Array.fill(6)(-9.0))
    def cloud(i: Int): Seq[Float] =
      centers(i % 2).map(x => (x + rnd.nextGaussian() * 0.3).toFloat).toSeq
    def mk(ids: Range): DataFrame =
      ids.map(i => (i.toLong, cloud(i))).toDF("vec_id", "embedding")
    val base = mk(0 until 40)
    val batches = (0 until 4).map(b => mk(40 + 10 * b until 50 + 10 * b))
    val all = batches.foldLeft(base)(_ unionByName _)
    val cents = Similarity.kmeansFit(base, "vec_id", "embedding", k = 2, iters = 4)
    val work = java.nio.file.Files.createTempDirectory("conc-ingest").toString
    val live = s"$work/live"
    Similarity.writeLearnedIndex(base, "vec_id", "embedding", live, Similarity.IvfQuantizer(cents))
    val queries = all.filter($"vec_id".between(40, 45))
    def serveKey(path: String): Set[(Long, Long, Int)] =
      Similarity.serveLearnedIndex(path, all, queries, "vec_id", "embedding",
          k = 3, nprobe = 2).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
    // the 5 committed prefix states, rebuilt serially on sibling paths
    // with the SAME quantizer (streamed-append ≡ rebuild is pinned by
    // StreamingCurateSpec, so these are the valid snapshot answers)
    val expected: Seq[Set[(Long, Long, Int)]] = (0 to 4).map { p =>
      val dir = s"$work/prefix$p"
      Similarity.writeLearnedIndex(
        batches.take(p).foldLeft(base)(_ unionByName _),
        "vec_id", "embedding", dir, Similarity.IvfQuantizer(cents))
      serveKey(dir)
    }
    val observed = new ConcurrentLinkedQueue[Set[(Long, Long, Int)]]
    val errs = new ConcurrentLinkedQueue[Throwable]
    val ingestDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val server = new Thread(() => {
      try while (!ingestDone.get()) observed.add(serveKey(live))
      catch { case e: Throwable => errs.add(e) }
    }, "spec-race-server")
    val ingester = new Thread(() => {
      try batches.zipWithIndex.foreach { case (b, i) =>
        Similarity.appendToLearnedIndex(b, live, "vec_id",
          "embedding", Some(s"race-batch-$i"))
        Thread.sleep(150) // give the server a window per state
      }
      catch { case e: Throwable => errs.add(e) }
      finally ingestDone.set(true)
    }, "spec-race-ingester")
    server.start(); ingester.start()
    ingester.join(180000); server.join(180000)
    assert(errs.isEmpty, s"race threw: " +
      Option(errs.peek()).map(_.toString).getOrElse(""))
    // final serve: all four appends committed and visible
    assert(serveKey(live) == expected(4),
      "the post-ingest serve must equal the full rebuild's answer")
    // every racing answer is SOME committed prefix — never a torn state
    import scala.jdk.CollectionConverters._
    val states = observed.asScala.toVector.map { ans =>
      val idx = expected.indexOf(ans)
      assert(idx >= 0, s"a racing serve answered a state matching NO " +
        s"committed prefix (torn read): $ans")
      idx
    }
    // a single thread's snapshots are monotone: the committed set only
    // grows, and each serve pins its epoch list at plan time. indexOf
    // maps adjacent IDENTICAL answers to the first matching prefix, so
    // equal-answer states cannot break the ordering check.
    assert(states == states.sorted,
      s"observed snapshot states regressed in-thread: $states")
    assert(states.nonEmpty, "the server thread never completed a serve")
  }
}
