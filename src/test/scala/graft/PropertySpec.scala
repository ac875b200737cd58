package graft

import org.scalacheck.Gen

import graft.operators.{Dedup, MetricTransforms, TextAnalysis}
import graft.schemas.Schemas
import graft.sources.Readers

/** Property-based invariants (SURVEY.md §5.4): rate derivation, interval
  * join containment, and jaccard bounds hold for arbitrary generated
  * inputs. */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  /** scalatestplus isn't on the (offline) classpath — drive ScalaCheck
    * generators directly: N sampled cases per property (Spark jobs per
    * case are slow, so N is small). */
  private def forAll[A](gen: Gen[A], n: Int = 5)(body: A => Unit): Unit = {
    val seed0 = org.scalacheck.rng.Seed(42L)
    Iterator.iterate(seed0)(_.next).take(n).foreach { seed =>
      gen.apply(Gen.Parameters.default, seed).foreach(body)
    }
  }

  private def whenever(cond: Boolean)(body: => Unit): Unit = if (cond) body

  private val counterSeries: Gen[List[Double]] =
    Gen.nonEmptyListOf(Gen.chooseNum(0.0, 1e9)).map(_.take(30))

  test("block rate: output rows < input rows per group; values ≥ 0; " +
    "monotonic counters are never dropped by the reset filter") {
    forAll(counterSeries) { series =>
      val rows = series.zipWithIndex.map { case (v, i) =>
        (f"job1", "N1", f"01/01/2013 10:${i / 60}%02d:${i % 60}%02d", "sda", v, 0.0)
      }
      val df = rows.toDF("jobID", "node", "timestamp", "device", "rd_sectors", "wr_sectors")
      val out = MetricTransforms.block(df).collect()
      assert(out.length < series.length || series.isEmpty)
      assert(out.forall(_.getDouble(4) >= 0.0))
      val sorted = series.sorted
      if (series == sorted) // monotonic ⇒ only the first row (null lag) drops
        assert(out.length == series.length - 1)
    }
  }

  test("interval join: every joined timestamp lies in [start, end)") {
    val gen = for {
      start <- Gen.chooseNum(0, 3000)
      len <- Gen.chooseNum(1, 600)
      ts <- Gen.listOfN(40, Gen.chooseNum(0, 4000))
    } yield (start, start + len, ts)
    forAll(gen) { case (startS, endS, tsOffsets) =>
      def ts(s: Int) = java.sql.Timestamp.valueOf(s"2013-01-01 00:00:00").toInstant
        .plusSeconds(s.toLong)
      val metrics = tsOffsets.map(o => ("1", java.sql.Timestamp.from(ts(o))))
        .toDF("jid", "Timestamp")
      val acct = Seq(("1", java.sql.Timestamp.from(ts(startS)), java.sql.Timestamp.from(ts(endS))))
        .toDF("jid", "start", "end")
      val joined = graft.operators.IntervalJoin(metrics, acct).collect()
      val expected = tsOffsets.count(o => o >= startS && o < endS)
      assert(joined.length == expected)
      assert(joined.forall { r =>
        val t = r.getAs[java.sql.Timestamp]("Timestamp")
        !t.before(r.getAs[java.sql.Timestamp]("start")) &&
          t.before(r.getAs[java.sql.Timestamp]("end"))
      })
    }
  }

  test("bucketed interval join is row-identical to the broadcast join") {
    val gen = for {
      nJobs <- Gen.chooseNum(1, 4)
      jobs <- Gen.listOfN(nJobs, for {
        s <- Gen.chooseNum(0, 5000); l <- Gen.chooseNum(1, 2000)
      } yield (s, s + l))
      ts <- Gen.listOfN(60, Gen.chooseNum(0, 8000))
    } yield (jobs, ts)
    forAll(gen) { case (jobs, tsOffsets) =>
      def ts(s: Int) = java.sql.Timestamp.from(
        java.sql.Timestamp.valueOf("2013-01-01 00:00:00").toInstant.plusSeconds(s.toLong))
      val metrics = tsOffsets.zipWithIndex
        .map { case (o, i) => ((i % jobs.length + 1).toString, ts(o)) }
        .toDF("jid", "Timestamp")
      val acct = jobs.zipWithIndex
        .map { case ((s, e), i) => ((i + 1).toString, ts(s), ts(e)) }
        .toDF("jid", "start", "end")
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("jid"), r.getAs[java.sql.Timestamp]("Timestamp"),
          r.getAs[java.sql.Timestamp]("start"))
      val broad = graft.operators.IntervalJoin(metrics, acct).collect().map(key).sorted
      // bucket width (10 min) deliberately smaller than many intervals →
      // multi-bucket explode paths are exercised
      val buck = graft.operators.IntervalJoin.bucketed(metrics, acct, 600L * 1000000L)
        .collect().map(key).sorted
      assert(buck.toSeq == broad.toSeq)
      // inclusive mode ≡ brute-force [start, end] containment — intervals
      // end exactly on second boundaries, so ts == end rows exist and the
      // two modes genuinely differ. The reference is computed with the
      // rewrite RULE disabled so the comparison is non-circular.
      import org.apache.spark.sql.functions.col
      spark.conf.set(graft.plans.IntervalJoinRewrite.EnabledKey, "false")
      val inclExpected = try metrics.crossJoin(acct.withColumnRenamed("jid", "ajid"))
        .filter(col("jid") === col("ajid") &&
          col("Timestamp") >= col("start") && col("Timestamp") <= col("end"))
        .collect().map(key).sorted
      finally spark.conf.set(graft.plans.IntervalJoinRewrite.EnabledKey, "true")
      val inclBuck = graft.operators.IntervalJoin
        .bucketed(metrics, acct, 600L * 1000000L, inclusiveEnd = true)
        .collect().map(key).sorted
      assert(inclBuck.toSeq == inclExpected.toSeq)
    }
  }

  test("IntervalJoinRewrite: rewritten ≡ un-rewritten on random interval sets") {
    import graft.plans.IntervalJoinRewrite
    val gen = for {
      nJobs <- Gen.chooseNum(1, 4)
      jobs <- Gen.listOfN(nJobs, for {
        s <- Gen.chooseNum(0, 5000); l <- Gen.chooseNum(0, 2000) // l=0: degenerate
      } yield (s, s + l))
      ts <- Gen.listOfN(50, Gen.chooseNum(0, 8000))
    } yield (jobs, ts)
    // 10-minute buckets, far smaller than many intervals: multi-bucket
    // explode paths and cross-bucket containment boundaries all exercised
    spark.conf.set(IntervalJoinRewrite.BucketMicrosKey, (600L * 1000000L).toString)
    try forAll(gen, n = 5) { case (jobs, tsOffsets) =>
      def ts(s: Int) = java.sql.Timestamp.from(
        java.sql.Timestamp.valueOf("2013-01-01 00:00:00").toInstant.plusSeconds(s.toLong))
      val metrics = tsOffsets.zipWithIndex
        .map { case (o, i) => ((i % jobs.length + 1).toString, ts(o)) }
        .toDF("jid", "mts")
      val acct = jobs.zipWithIndex
        .map { case ((s, e), i) => ((i + 1).toString, ts(s), ts(e)) }
        .toDF("ajid", "start", "end")
      import org.apache.spark.sql.functions.col
      // both boundary conventions, same property: rewritten ≡ un-rewritten
      def joinedWith(upper: org.apache.spark.sql.Column) = metrics.join(acct,
        col("jid") === col("ajid") && col("mts") >= col("start") && upper)
      def key(r: org.apache.spark.sql.Row) =
        (r.getAs[String]("jid"), r.getAs[java.sql.Timestamp]("mts"),
          r.getAs[java.sql.Timestamp]("start"))
      for (inclusive <- Seq(false, true)) {
        def joined = joinedWith(
          if (inclusive) col("mts") <= col("end") else col("mts") < col("end"))
        val got = joined.collect().map(key).sorted.toSeq
        // the rule fired (this is not a vacuous comparison)...
        assert(joined.queryExecution.optimizedPlan.collect {
          case g: org.apache.spark.sql.catalyst.plans.logical.Generate
              if g.generatorOutput.exists(_.name == "__graft_bucket") => g
        }.size == 1, s"rewrite must fire (inclusive=$inclusive)")
        // ...and the un-rewritten join agrees row for row
        spark.conf.set(IntervalJoinRewrite.EnabledKey, "false")
        val expected = try joined.collect().map(key).sorted.toSeq
        finally spark.conf.set(IntervalJoinRewrite.EnabledKey, "true")
        assert(got == expected, s"mismatch (inclusive=$inclusive)")
      }
    } finally spark.conf.unset(IntervalJoinRewrite.BucketMicrosKey)
  }

  test("jaccard pairs: values in (0,1]; symmetric id ordering; exact dups = 1.0") {
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta")
    val doc = Gen.listOfN(12, word).map(_.mkString(" "))
    forAll(Gen.listOfN(6, doc)) { texts =>
      val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      val pairs = Dedup.jaccardPairs(Dedup.wordShingles(df, "doc_id", "text"), 0.0).collect()
      assert(pairs.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0))
      assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
      for {
        i <- texts.indices; j <- texts.indices
        if i < j && texts(i) == texts(j)
      } assert(pairs.exists(r =>
        r.getLong(0) == i && r.getLong(1) == j && r.getDouble(2) == 1.0))
    }
  }

  test("simhashPairs banding at b ∈ {4, 8}: pairs == driver brute force at radius b−1") {
    // clustered hashes: a few random bases, each derivative flips ≤ 8 bits,
    // so distances 0..8 all occur and BOTH radii (3 and 7) bite
    val gen = for {
      bases <- Gen.listOfN(5, Gen.long)
      derived <- Gen.listOfN(25, for {
        b <- Gen.chooseNum(0, 4)
        nf <- Gen.chooseNum(0, 8)
        pos <- Gen.listOfN(nf, Gen.chooseNum(0, 63))
      } yield (b, pos))
    } yield derived.map { case (b, pos) =>
      pos.foldLeft(bases(b))((h, p) => h ^ (1L << p))
    }
    forAll(gen, n = 3) { hs =>
      val df = hs.zipWithIndex.map { case (h, i) => (i.toLong, h) }
        .toDF("sh_id", "simhash")
      for (bands <- Seq(4, 8)) {
        val radius = bands - 1 // the pigeonhole-guaranteed recall radius
        val got = Dedup.simhashPairs(df, radius, bands).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
        val expect = (for {
          i <- hs.indices; j <- hs.indices if i < j
          d = java.lang.Long.bitCount(hs(i) ^ hs(j)) if d <= radius
        } yield (i.toLong, j.toLong, d)).toSet
        assert(got == expect, s"bands=$bands radius=$radius")
      }
    }
    // geometry guards: non-divisor band count and an over-radius ask fail fast
    val one = Seq((1L, 0L)).toDF("sh_id", "simhash")
    intercept[IllegalArgumentException](Dedup.simhashPairs(one, 3, bands = 5))
    intercept[IllegalArgumentException](Dedup.simhashPairs(one, 4, bands = 4))
  }

  test("duplicateClusters == driver-side union-find on random graphs " +
    "(incl. deep chains)") {
    // random edge lists over a small id space produce long chains and
    // multi-component graphs — exactly where star-contraction subtleties
    // (connectivity preservation, fixed-point detection) would bite
    val edgesGen: Gen[List[(Long, Long)]] = for {
      n <- Gen.chooseNum(2, 60)
      m <- Gen.chooseNum(1, 80)
      es <- Gen.listOfN(m, for {
        a <- Gen.chooseNum(0L, n.toLong)
        b <- Gen.chooseNum(0L, n.toLong)
      } yield (a, b))
    } yield es
    def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) if a != b =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      case _ => ()
      }
      // label every node touching an edge (self-loops excluded, like the op)
      edges.filter(e => e._1 != e._2).flatMap(e => Seq(e._1, e._2))
        .distinct.map(x => x -> find(x)).toMap
    }
    // one deterministic worst case: a 40-node chain (diameter 39)
    val chain = (0L until 39L).map(i => (i, i + 1)).toList
    forAll(Gen.oneOf(Gen.const(chain), edgesGen), n = 6) { edges =>
      val expected = unionFind(edges)
      val got = Dedup.duplicateClusters(edges.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected)
    }
  }

  test("Sessionize == driver-side reference sessionizer on random event sets") {
    import graft.operators.Sessionize
    val eventsGen: Gen[List[(Long, Long, Double)]] = for {
      n <- Gen.chooseNum(1, 80)
      es <- Gen.listOfN(n, for {
        key <- Gen.chooseNum(0L, 3L)
        tsSec <- Gen.chooseNum(0L, 5000L) // gaps straddle the 600s threshold
        v <- Gen.chooseNum(0.0, 100.0)
      } yield (key, tsSec, v))
    } yield es
    def reference(events: Seq[(Long, Long, Double)], gapSec: Long) =
      events.groupBy(_._1).toSeq.flatMap { case (key, evs) =>
        // sort by time; split where the gap exceeds the threshold
        val sorted = evs.map(e => (e._2, e._3)).sortBy(_._1)
        val sessions = sorted.tail.foldLeft(List(List(sorted.head))) {
          case (acc @ cur :: rest, e) =>
            if (e._1 - cur.head._1 > gapSec) List(e) :: acc
            else (e :: cur) :: rest
          case (Nil, e) => List(List(e))
        }.reverse.map(_.reverse)
        sessions.zipWithIndex.map { case (s, i) =>
          (key, i + 1L, s.size.toLong, s.map(_._1).min, s.map(_._1).max,
            s.map(_._2).sum / s.size)
        }
      }.toSet
    forAll(eventsGen, n = 5) { events =>
      val df = events.map { case (k, sec, v) =>
        (k, new java.sql.Timestamp(sec * 1000L), v)
      }.toDF("key", "ts", "value")
      val got = Sessionize(df, "key", "ts", "value", gapMs = 600 * 1000L)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getTimestamp(3).getTime / 1000L, r.getTimestamp(4).getTime / 1000L,
          r.getDouble(5))).toSet
      val exp = reference(events, 600L)
      // compare means with tolerance (summation order differs)
      def canon(s: Set[(Long, Long, Long, Long, Long, Double)]) =
        s.map(t => (t._1, t._2, t._3, t._4, t._5, math.round(t._6 * 1e9)))
      assert(canon(got) == canon(exp))
    }
  }

  test("lshCosinePairs recall == exact cosinePairs on random clustered vectors") {
    import graft.operators.Similarity
    val clusteredGen: Gen[List[(Long, Array[Float])]] = for {
      nClusters <- Gen.chooseNum(2, 4)
      centers <- Gen.listOfN(nClusters,
        Gen.listOfN(16, Gen.chooseNum(-1.0, 1.0)).map(_.toArray))
      n <- Gen.chooseNum(10, 40)
      vecs <- Gen.listOfN(n, for {
        c <- Gen.chooseNum(0, nClusters - 1)
        noise <- Gen.listOfN(16, Gen.chooseNum(-0.05, 0.05))
      } yield centers(c).zip(noise).map { case (x, e) => (x + e).toFloat })
    } yield vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
    forAll(clusteredGen, n = 4) { vecs =>
      val df = vecs.toDF("vec_id", "embedding")
      // same-cluster pairs land near cosine 1; cross-cluster well below —
      // at 0.9 the 24×8 default geometry has per-pair miss < 1e-10
      val lsh = Similarity.lshCosinePairs(df, "vec_id", "embedding",
          dims = 16, minCosine = 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.cosinePairs(df, "vec_id", "embedding", 0.9)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh == exact)
    }
  }

  test("quantizeInt8 invariants on random vectors: range, saturation, error bound") {
    import graft.operators.Similarity
    val vecGen: Gen[List[Array[Float]]] = for {
      n <- Gen.chooseNum(1, 15)
      vs <- Gen.listOfN(n, Gen.oneOf(
        Gen.listOfN(8, Gen.chooseNum(-1e3, 1e3)).map(_.map(_.toFloat).toArray),
        Gen.const(Array.fill(8)(0.0f)), // zero vector
        Gen.listOfN(8, Gen.chooseNum(-1e-6, 1e-6)).map(_.map(_.toFloat).toArray)))
    } yield vs
    forAll(vecGen, n = 4) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      Similarity.quantizeInt8(df, "embedding").collect().foreach { r =>
        val scale = r.getAs[Double]("q8_scale")
        val codes = r.getAs[scala.collection.Seq[Int]]("q8").toSeq
        val orig = r.getAs[scala.collection.Seq[Float]]("embedding").toSeq.map(_.toDouble)
        assert(codes.forall(c => c >= -127 && c <= 127))
        if (scale == 0.0) assert(codes.forall(_ == 0)) // zero vector path
        else {
          // dequantization error bound |c·s − x| ≤ s/2 (+ fp slack)
          codes.zip(orig).foreach { case (c, x) =>
            assert(math.abs(c * scale - x) <= scale / 2 + scale * 1e-9,
              s"err ${math.abs(c * scale - x)} vs bound ${scale / 2}")
          }
          // the max-|x| element always saturates to ±127
          assert(codes.exists(c => math.abs(c) == 127))
        }
      }
    }
  }

  test("image header parse inverts construction across byte boundaries, all formats") {
    import java.nio.{ByteBuffer, ByteOrder}
    import graft.operators.Multimodal
    def png(w: Int, h: Int) = {
      val b = ByteBuffer.allocate(33).order(ByteOrder.BIG_ENDIAN)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(w).putInt(h)
      b.put(new Array[Byte](9)).array()
    }
    def gif(w: Int, h: Int) = {
      val b = ByteBuffer.allocate(13).order(ByteOrder.LITTLE_ENDIAN)
      b.put("GIF89a".getBytes).putShort(w.toShort).putShort(h.toShort)
      b.put(new Array[Byte](3)).array()
    }
    def bmp(w: Int, hRaw: Int) = {
      val b = ByteBuffer.allocate(26).order(ByteOrder.LITTLE_ENDIAN)
      b.put("BM".getBytes).put(new Array[Byte](12)).putInt(40)
      b.putInt(w).putInt(hRaw).array()
    }
    def jpeg(w: Int, h: Int, nPadSegs: Int) = {
      // dims behind a VARIABLE number of skip segments, so the parse only
      // succeeds if the segment walk hops every length correctly
      val b = ByteBuffer.allocate(2 + nPadSegs * 6 + 11).order(ByteOrder.BIG_ENDIAN)
      b.put(Array(0xFF, 0xD8).map(_.toByte))
      (0 until nPadSegs).foreach { i =>
        b.put(Array(0xFF, 0xE1 + (i % 14)).map(_.toByte)).putShort(4)
        b.putShort(i.toShort)
      }
      b.put(Array(0xFF, 0xC0).map(_.toByte)).putShort(11).put(8.toByte)
      b.putShort(h.toShort).putShort(w.toShort)
      b.put(Array[Byte](1, 0x11)).array()
    }
    // every byte-boundary value the endianness/offset arithmetic could trip
    // on: single-byte, carry into 2nd/3rd/4th byte, format maxima
    val u16 = Seq(1, 2, 127, 128, 255, 256, 257, 32767, 32768, 65535)
    val u32 = u16 ++ Seq(65536, 16777215, 16777216, Int.MaxValue)
    val fixtures =
      u32.map(v => (s"png-$v", png(v, (v % 1080) + 1), v.toLong, ((v % 1080) + 1).toLong)) ++
      u16.map(v => (s"gif-$v", gif(v, (v % 65535) + 1), v.toLong, ((v % 65535) + 1).toLong)) ++
      u32.map(v => (s"bmp-$v", bmp(v, (v % 1080) + 1), v.toLong, ((v % 1080) + 1).toLong)) ++
      u32.map(v => (s"bmpneg-$v", bmp(v, -((v % 1080) + 1)), v.toLong, ((v % 1080) + 1).toLong)) ++
      u16.zipWithIndex.map { case (v, i) =>
        (s"jpeg-$v", jpeg(v, (v % 65535) + 1, i), v.toLong, ((v % 65535) + 1).toLong)
      }
    val got = fixtures.map { case (k, bytes, _, _) => (k, bytes) }
      .toDF("k", "payload")
      .select($"k", Multimodal.imageWidth($"payload").as("w"),
        Multimodal.imageHeight($"payload").as("h"))
      .collect().map(r => r.getString(0) -> (r.getInt(1).toLong, r.getInt(2).toLong)).toMap
    fixtures.foreach { case (k, _, w, h) =>
      assert(got(k) == ((w, h)), s"$k parsed as ${got(k)}, expected ($w, $h)")
    }
  }

  test("salted topTokensByGroup ≡ naive single-window rank on arbitrary corpora") {
    import org.apache.spark.sql.functions._
    val gen = for {
      nDocs <- Gen.chooseNum(1, 30)
      salts <- Gen.chooseNum(1, 16)
      k <- Gen.chooseNum(1, 4)
      docs <- Gen.listOfN(nDocs, for {
        lang <- Gen.oneOf("en", "de", "fr")
        words <- Gen.listOf(Gen.oneOf("a", "b", "c", "d", "e", "f", "g"))
      } yield (lang, words.mkString(" ")))
    } yield (docs, salts, k)
    forAll(gen) { case (docs, salts, k) =>
      val d = docs.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
        .toDF("doc_id", "lang", "text")
      val out = graft.operators.TextAnalysis
        .topTokensByGroup(d, "text", "lang", k, salts).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
      val counts = d.select($"lang",
          explode(graft.operators.TextAnalysis.tokens($"text")).as("token"))
        .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy($"n".desc, $"token")
      val ref = counts.withColumn("rank", row_number().over(w))
        .filter($"rank" <= k).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
      assert(out == ref, s"salts=$salts k=$k")
    }
  }

  test("simhashPairsPartitioned ≡ simhashPairs when all near-dups share a " +
    "length bucket (arbitrary word corpora)") {
    val gen = for {
      nDocs <- Gen.chooseNum(5, 40)
      bands <- Gen.oneOf(8, 16)
      docs <- Gen.listOfN(nDocs,
        Gen.listOfN(12, Gen.oneOf((0 until 50).map(i => s"w$i"))))
    } yield (docs, bands)
    forAll(gen) { case (docs, bands) =>
      // fixed 12-token docs: every pair shares a bucket, so the partition
      // must be a pure no-op on the PAIR SET (candidates still shrink)
      val d = docs.zipWithIndex.map { case (ws, i) => (i.toLong, ws.mkString(" ")) }
        .toDF("doc_id", "text")
      val h = graft.operators.Dedup.simhashWithTokenCount(d, "doc_id", "text")
      def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)).toSet
      val plain = pairs(graft.operators.Dedup.simhashPairs(
        h.select("sh_id", "simhash"), maxHamming = 3, bands = bands))
      val part = pairs(graft.operators.Dedup.simhashPairsPartitioned(
        h, "n_tokens", bucketWidth = 4, maxHamming = 3, bands = bands))
      assert(part == plain, s"bands=$bands")
    }
  }

  test("learned IVF on arbitrary planted clusters: labels are pure, " +
    "nprobe=2 served top-1 equals brute force") {
    import graft.operators.Similarity
    val gen = for {
      nClusters <- Gen.chooseNum(2, 4)
      dims <- Gen.chooseNum(nClusters, 10)
      perCluster <- Gen.chooseNum(8, 20)
      noiseSeed <- Gen.chooseNum(0, 10000)
    } yield (nClusters, dims, perCluster, noiseSeed)
    forAll(gen, n = 4) { case (nClusters, dims, perCluster, noiseSeed) =>
      // centers separated BY CONSTRUCTION (one-hot 20.0 at the cluster's
      // own dim): inter-center distance² ≥ 800 ≫ noise, so purity and
      // exact serving are properties of the OPERATORS, not generator luck
      val rnd = new scala.util.Random(noiseSeed)
      val data = (0 until nClusters * perCluster).map { i =>
        val c = i % nClusters
        (i.toLong, Array.tabulate(dims)(d =>
          ((if (d == c) 20.0 else 0.0) + rnd.nextGaussian() * 0.3).toFloat).toSeq)
      }
      val df = data.toDF("vec_id", "embedding")
      val cents = Similarity.kmeansFit(df, "vec_id", "embedding",
        k = nClusters, iters = 4,
        // exercise the SAMPLED seeder whenever the corpus allows it
        sampleRows = math.max(nClusters, nClusters * perCluster / 2))
      val labeled = Similarity.withCoarseLabel(df, "embedding", cents)
      val byPlanted = labeled.select($"vec_id", $"coarse").collect()
        .map(r => (r.getLong(0) % nClusters, r.getInt(1)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      assert(byPlanted.values.forall(_.size == 1),
        s"impure labels ($nClusters clusters, dims=$dims): $byPlanted")
      assert(byPlanted.values.flatten.toSet.size == nClusters,
        s"merged clusters: $byPlanted")
      // serving: first vector of each planted cluster as the query batch
      val queries = df.filter($"vec_id" < nClusters)
      val served = Similarity.ivfTopK(labeled,
          Similarity.withProbeLabels(queries, "embedding", cents, nprobe = 2),
          "vec_id", "embedding", "coarse", 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val exact = Similarity.bruteForceTopK(df, queries, "vec_id", "embedding", 1)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(served == exact,
        s"served top-1 diverged from brute force: $served vs $exact")
    }
  }

  test("IVF lifecycle under random append/delete/re-add/compact " +
    "interleavings: serving the evolved index ≡ a fresh rebuild of the " +
    "surviving rows") {
    import graft.operators.Similarity
    val gen = for {
      seed <- Gen.chooseNum(0, 10000)
      nOps <- Gen.chooseNum(3, 6)
    } yield (seed, nOps)
    forAll(gen, n = 3) { case (seed, nOps) =>
      val rnd = new scala.util.Random(seed)
      // separated one-hot clusters, same construction as the learned-IVF
      // property above: correctness must be a property of the OPERATORS
      def vec(c: Int): Seq[Float] = Array.tabulate(6)(d =>
        ((if (d == c) 20.0 else 0.0) + rnd.nextGaussian() * 0.3).toFloat).toSeq
      var nextId = 0L
      def fresh(n: Int): Seq[(Long, Seq[Float])] = (0 until n).map { _ =>
        val id = nextId; nextId += 1; (id, vec((id % 3).toInt))
      }
      val model = scala.collection.mutable.LinkedHashMap.empty[Long, Seq[Float]]
      val deletedPool = scala.collection.mutable.ArrayBuffer.empty[Long]
      def df(rows: Seq[(Long, Seq[Float])]) = rows.toDF("vec_id", "embedding")
      val base = fresh(30)
      model ++= base
      val cents = Similarity.kmeansFit(df(base), "vec_id", "embedding",
        k = 3, iters = 3)
      val dir = java.nio.file.Files.createTempDirectory("ivf-prop").toString
      Similarity.writeLearnedIvfIndex(df(base), "vec_id", "embedding", dir, cents)
      (1 to nOps).foreach { _ =>
        val roll = rnd.nextInt(10)
        if (roll < 4 || model.size < 10) {              // append fresh rows
          val batch = fresh(3 + rnd.nextInt(5))
          Similarity.appendToIvfIndex(df(batch), dir, "vec_id", "embedding")
          model ++= batch
        } else if (roll < 6 && deletedPool.nonEmpty) {  // re-add a deleted id
          val id = deletedPool.remove(rnd.nextInt(deletedPool.size))
          val row = (id, vec((id % 3).toInt))
          Similarity.appendToIvfIndex(df(Seq(row)), dir, "vec_id", "embedding")
          model += row
        } else if (roll < 8) {                          // delete a random subset
          val victims = rnd.shuffle(model.keys.toSeq).take(1 + rnd.nextInt(4))
          Similarity.deleteFromIvfIndex(
            victims.map(Tuple1(_)).toDF("vec_id"), dir, "vec_id")
          victims.foreach { id => model -= id; deletedPool += id }
        } else {                                        // compact mid-history
          Similarity.compactIvfIndex(spark, dir, "vec_id")
        }
      }
      val corpus = df(model.toSeq)
      val queries = df(rnd.shuffle(model.toSeq).take(5))
      def served(path: String) = Similarity.serveIvfIndex(path, corpus,
          queries, "vec_id", "embedding", k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      val rebuilt = java.nio.file.Files.createTempDirectory("ivf-prop-rb").toString
      Similarity.writeLearnedIvfIndex(corpus, "vec_id", "embedding",
        rebuilt, cents)
      assert(served(dir) == served(rebuilt),
        s"evolved index diverged from rebuild (seed=$seed, ops=$nOps)")
      // and the final compaction both preserves the answer and passes its
      // own uniqueness audit over the full random history
      Similarity.compactIvfIndex(spark, dir, "vec_id")
      assert(served(dir) == served(rebuilt),
        s"post-compact serve diverged (seed=$seed, ops=$nOps)")
    }
  }

  test("spanStats ≡ driver-side shared-span reference on random corpora; " +
    "index serving ≡ corpus membership") {
    // tiny vocab forces genuine cross-doc span collisions
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(1, 10).flatMap(len => Gen.listOfN(len, word))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, doc))
    val n = 3
    def spansOf(toks: List[String]): Set[String] =
      if (toks.isEmpty) Set.empty
      else if (toks.length <= n) Set(toks.mkString(" "))
      else toks.sliding(n).map(_.mkString(" ")).toSet
    forAll(corpusGen) { docs =>
      val ids = docs.indices.map(_.toLong)
      val df = ids.zip(docs.map(_.mkString(" "))).toDF("doc_id", "text")
      val ref = ids.map { i =>
        val mine = spansOf(docs(i.toInt))
        val others = ids.filter(_ != i)
          .flatMap(j => spansOf(docs(j.toInt))).toSet
        i -> ((mine.size.toLong, mine.count(others).toLong))
      }.toMap
      val got = Dedup.spanStats(df, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(got == ref, s"corpus: $docs")
      // serving a batch (the corpus itself, re-id'd) against the built
      // index: every span is indexed by construction, so indexed_frac
      // is 1.0 for every batch doc — and a frame merged from per-doc
      // singleton indexes serves identically (the additive algebra)
      val ix = Dedup.buildSpanIndex(df, "doc_id", "text", n)
      val merged = ids.map(i => Dedup.buildSpanIndex(
          df.filter($"doc_id" === i), "doc_id", "text", n))
        .reduce(Dedup.mergeSpanIndexes)
      val batch = df.select(($"doc_id" + 1000L).as("doc_id"), $"text")
      Seq(ix, merged).foreach { index =>
        val served = Dedup.spanStatsAgainstIndex(batch, index, "doc_id", "text")
          .collect()
        assert(served.forall(_.getAs[Double]("indexed_frac") == 1.0))
      }
    }
  }

  test("sampleByTokenBudget ≡ naive ordered-cumsum reference on random corpora") {
    import graft.operators.TextAnalysis
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val word = Gen.oneOf("alpha", "beta", "gamma")
    val doc = Gen.chooseNum(0, 6).flatMap(len => Gen.listOfN(len, word))
    val grp = Gen.oneOf("web", "code", "books", "unbudgeted")
    val rowGen = Gen.zip(grp, doc)
    val corpusGen = Gen.chooseNum(4, 24).flatMap(k => Gen.listOfN(k, rowGen))
    val budgetGen = Gen.zip(Gen.chooseNum(0L, 12L), Gen.chooseNum(0L, 12L),
      Gen.chooseNum(0L, 12L))
    forAll(Gen.zip(corpusGen, budgetGen)) { case (rows, (bw, bc, bb)) =>
      val budgets = Map("web" -> bw, "code" -> bc, "books" -> bb)
      val df = rows.zipWithIndex.map { case ((g, toks), i) =>
        (i.toLong, g, toks.mkString(" "))
      }.toDF("doc_id", "grp", "text")
      // naive reference: per budgeted group, walk docs in (md5(id), id)
      // order accumulating token counts, keep while cum <= budget
      val ref = rows.zipWithIndex
        .map { case ((g, toks), i) => (g, i.toLong, toks.length.toLong) }
        .filter { case (g, _, _) => budgets.contains(g) }
        .groupBy(_._1).flatMap { case (g, rs) =>
          var cum = 0L
          rs.sortBy { case (_, id, _) => (md5hex(id.toString), id) }
            .flatMap { case (_, id, n) =>
              cum += n
              if (cum <= budgets(g)) Some(id) else None
            }
        }.toSet
      val got = TextAnalysis.sampleByTokenBudget(df, "doc_id", "text", "grp",
          budgets)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(got == ref, s"rows: $rows budgets: $budgets")
    }
  }

  test("removeDuplicatedSpans ≡ driver-side surgery reference on random corpora") {
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(1, 9).flatMap(len => Gen.listOfN(len, word))
    val corpusGen = Gen.chooseNum(2, 7).flatMap(k => Gen.listOfN(k, doc))
    val n = 3
    // the operator's exact semantics, driver-side: ordered grams with the
    // short-doc rule, doc-DISTINCT duplication, coverage [p, p+n), rebuild
    def gramsOf(toks: List[String]): List[(Int, String)] =
      if (toks.isEmpty) Nil
      else if (toks.length <= n) List(0 -> toks.mkString(" "))
      else toks.sliding(n).zipWithIndex.map { case (g, i) => i -> g.mkString(" ") }.toList
    forAll(corpusGen) { docs =>
      val ids = docs.indices.map(_.toLong)
      val gramDocs = ids.flatMap(i => gramsOf(docs(i.toInt)).map(_._2).distinct
        .map(g => g -> i)).groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val ref = ids.map { i =>
        val toks = docs(i.toInt)
        val dupStarts = gramsOf(toks).collect {
          case (p, g) if gramDocs(g).size >= 2 => p
        }
        val keptToks = toks.zipWithIndex.collect {
          case (t, idx) if !dupStarts.exists(p => idx >= p && idx < p + n) => t
        }
        i -> ((keptToks.mkString(" "), toks.length.toLong,
          (toks.length - keptToks.length).toLong))
      }.toMap
      val df = ids.zip(docs.map(_.mkString(" "))).toDF("doc_id", "text")
      val got = Dedup.removeDuplicatedSpans(df, "doc_id", "text", n)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == ref, s"corpus: $docs")
    }
  }

  test("span surgery ∘ span profile fixpoint: iterated removeDuplicatedSpans " +
    "reaches a corpus spanStats scores as zero-shared — the two operators' " +
    "shared tokenizer/shingler contract") {
    // ONE pass is not always enough: cutting a dup span juxtaposes the
    // remnant tokens, and a remnant n-gram of doc A can coincide with an
    // untouched n-gram of doc C that shared nothing before — so the
    // precise invariant is CONVERGENCE: each pass with any cross-doc
    // shared span strictly removes tokens (its dup cover is nonempty),
    // so iteration terminates, and at the fixpoint the profile must read
    // zero shared spans for every doc. A tokenizer/shingler divergence
    // between the two operators (different empty-token handling, a
    // different short-doc rule) would instead leave a span one operator
    // sees and the other never cuts — an infinite disagreement this
    // bounded loop surfaces as a failure.
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(1, 10).flatMap(len => Gen.listOfN(len, word))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, doc))
    val n = 3
    def totalShared(df: org.apache.spark.sql.DataFrame): Long = {
      // sum over an empty profile (every doc emptied out) is NULL → 0
      val r = Dedup.spanStats(df, "doc_id", "text", n)
        .agg(org.apache.spark.sql.functions.sum("n_shared_spans")).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    def totalTokens(df: org.apache.spark.sql.DataFrame): Long =
      df.select(org.apache.spark.sql.functions.sum(
          org.apache.spark.sql.functions.size(
            graft.operators.TextAnalysis.tokens($"text"))))
        .head().getLong(0)
    forAll(corpusGen, n = 4) { docs =>
      var df = docs.indices.map(_.toLong).zip(docs.map(_.mkString(" ")))
        .toDF("doc_id", "text")
      var iters = 0
      while (totalShared(df) > 0 && iters < 12) {
        val before = totalTokens(df)
        df = Dedup.removeDuplicatedSpans(df, "doc_id", "text", n)
          .select($"doc_id", $"text")
        assert(totalTokens(df) < before,
          s"a pass over a corpus with shared spans must remove tokens: $docs")
        iters += 1
      }
      assert(totalShared(df) == 0,
        s"surgery must converge to a zero-shared-span corpus: $docs " +
          s"(stalled after $iters passes)")
      // and every doc survives as a row (possibly empty), so the
      // fixpoint is a full-corpus statement, not a survivor-only one
      assert(df.count() == docs.length.toLong)
    }
  }

  test("span sketch vs exact index on random corpora: estimates never " +
    "undercount, the sketch gate keeps a subset at every width") {
    val word = Gen.oneOf("a", "b", "c", "d", "e")
    val doc = Gen.chooseNum(1, 10).flatMap(len => Gen.listOfN(len, word))
    val corpusGen = Gen.chooseNum(2, 8).flatMap(k => Gen.listOfN(k, doc))
    val widthGen = Gen.oneOf(2, 4, 64, 1 << 14)
    val n = 3
    forAll(Gen.zip(corpusGen, corpusGen, widthGen), n = 4) {
      case (corpus, batchToks, width) =>
      val cdf = corpus.indices.map(_.toLong).zip(corpus.map(_.mkString(" ")))
        .toDF("doc_id", "text")
      val bdf = batchToks.indices.map(i => 100L + i)
        .zip(batchToks.map(_.mkString(" "))).toDF("doc_id", "text")
      val index = Dedup.buildSpanIndex(cdf, "doc_id", "text", n)
      val sketch = Dedup.spanSketchFromIndex(index, width, depth = 3)
      // per-span: the CMS estimate dominates the true corpus count —
      // the deterministic half of the sketch guarantee
      val bad = Dedup.hashedWordShingles(cdf, "doc_id", "text", n)
        .groupBy("shingle")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("t"))
        .withColumn("e", Dedup.spanSketchEstimate(sketch, $"shingle"))
        .filter($"e" < $"t").count()
      assert(bad == 0L, s"undercounting sketch at width=$width: $corpus")
      // per-doc: sketch-indexed count dominates exact-indexed count, so
      // the gate keeps a subset of the exact gate's keep set
      val exact = Dedup.spanStatsAgainstIndex(bdf, index, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      val est = Dedup.spanStatsAgainstSketch(bdf, sketch, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(exact.forall { case (id, ni) => est(id) >= ni },
        s"sketch under-gated at width=$width: $est vs $exact")
      // allowSaturated: the small widths in this generator ARE the
      // saturated regime — the property under test is the direction
      // (subset), which must hold even there
      val keptSketch = Dedup.filterAgainstSpanSketch(bdf, sketch,
          "doc_id", "text", maxIndexedFrac = 0.5, allowSaturated = true)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val keptExact = Dedup.filterAgainstSpanIndex(bdf, index,
          "doc_id", "text", maxIndexedFrac = 0.5)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(keptSketch.subsetOf(keptExact),
        s"width=$width kept $keptSketch vs exact $keptExact: $corpus")
    }
  }

  test("crossEntropy ≡ driver-side bigram-LM reference on random corpora") {
    import graft.operators.LanguageModel
    val word = Gen.oneOf("a", "b", "c", "dd", "ee")
    val doc = Gen.listOf(word).map(_.take(12).mkString(" "))
    forAll(Gen.listOfN(8, doc), n = 4) { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).toVector)
      whenever(toks.exists(_.length >= 2)) {
        val lm = LanguageModel.train(docs, "text")
        val got = LanguageModel.crossEntropy(docs, "doc_id", "text", lm)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
        val bigrams = toks.flatMap(ts => ts.zip(ts.drop(1)))
        val c12 = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val c1 = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
        val v = toks.flatten.distinct.size
        assert(lm.vocabSize == v)
        toks.zipWithIndex.foreach { case (ts, i) =>
          val bs = ts.zip(ts.drop(1))
          if (bs.isEmpty) assert(got(i.toLong) == ((0L, None)))
          else {
            val xent = -bs.map(b =>
              math.log((c12(b) + 0.5) / (c1(b._1) + 0.5 * v))).sum / bs.length
            assert(got(i.toLong)._1 == bs.length.toLong)
            assert(math.abs(got(i.toLong)._2.get - xent) < 1e-9,
              s"doc $i: got ${got(i.toLong)._2.get} want $xent")
          }
        }
      }
    }
  }

  test("crossEntropyKneserNey3 ≡ driver-side trigram-KN reference on random " +
    "corpora, foreign docs exercising every backoff leg") {
    import graft.operators.LanguageModel
    val word = Gen.oneOf("a", "b", "c", "dd", "ee")
    val doc = Gen.listOf(word).map(_.take(12).mkString(" "))
    // small shared alphabet: foreign docs mix seen/unseen trigram,
    // (w1,w2) and w2 contexts, so all three recursion legs fire
    forAll(Gen.zip(Gen.listOfN(6, doc), Gen.listOfN(4, doc)), n = 4) {
      case (texts, ftexts) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).toVector)
        whenever(toks.exists(_.length >= 3)) {
          val kn = LanguageModel.trainKneserNey3(docs, "text")
          // driver-side tallies, straight from the definition
          val tris = toks.flatMap(ts =>
            ts.indices.dropRight(2).map(i => (ts(i), ts(i + 1), ts(i + 2))))
          val c123 = tris.groupBy(identity).view.mapValues(_.size.toLong).toMap
          val ctx12 = c123.keys.toSeq.groupBy(k => (k._1, k._2)).view
            .mapValues(ks => (ks.map(c123).sum, ks.size.toLong)).toMap
          val cont23 = c123.keys.toSeq.map(k => (k._2, k._3))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val ctx2 = cont23.keys.toSeq.groupBy(_._1).view
            .mapValues(ks => (ks.map(cont23).sum, ks.size.toLong)).toMap
          val cont3 = cont23.keys.toSeq.groupBy(_._2).view
            .mapValues(_.size.toLong).toMap
          val nTypes = cont23.size.toLong
          val v = toks.flatten.distinct.size
          assert(kn.nContTypes == nTypes && kn.vocabSize == v)
          def p1(w3: String) =
            (cont3.getOrElse(w3, 0L) + 0.5) / (nTypes + 0.5 * v)
          def p2(w2: String, w3: String) = ctx2.get(w2) match {
            case None => p1(w3)
            case Some((s2, f2)) =>
              math.max(cont23.getOrElse((w2, w3), 0L) - 0.75, 0.0) / s2 +
                (0.75 * f2 / s2) * p1(w3)
          }
          def p3(w1: String, w2: String, w3: String) =
            ctx12.get((w1, w2)) match {
              case None => p2(w2, w3)
              case Some((n12, f12)) =>
                math.max(c123.getOrElse((w1, w2, w3), 0L) - 0.75, 0.0) / n12 +
                  (0.75 * f12 / n12) * p2(w2, w3)
            }
          def check(ts: Seq[Vector[String]], base: Long,
                    got: Map[Long, (Long, Option[Double])]): Unit =
            ts.zipWithIndex.foreach { case (t, i) =>
              val grams = t.indices.dropRight(2).map(j => (t(j), t(j + 1), t(j + 2)))
              if (grams.isEmpty) assert(got(base + i) == ((0L, None)))
              else {
                val xent = -grams.map { case (a, b, c) =>
                  math.log(p3(a, b, c))
                }.sum / grams.length
                assert(got(base + i)._1 == grams.length.toLong)
                assert(math.abs(got(base + i)._2.get - xent) < 1e-9,
                  s"doc ${base + i}: got ${got(base + i)._2.get} want $xent")
              }
            }
          def score(df: org.apache.spark.sql.DataFrame) =
            LanguageModel.crossEntropyKneserNey3(df, "doc_id", "text", kn)
              .collect().map(r => r.getLong(0) ->
                ((r.getLong(1),
                  if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
          check(toks, 0L, score(docs))
          val fdocs = ftexts.zipWithIndex
            .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
          val ftoks = ftexts.map(_.split("\\s+").filter(_.nonEmpty).toVector)
          check(ftoks, 100L, score(fdocs))
        }
    }
  }

  test("crossEntropyModifiedKneserNeyN ≡ driver-side modified-KN reference " +
    "on random corpora — the Chen-Goodman estimator, the range clamps and " +
    "the per-level fixed fallback all replayed from the definition") {
    import graft.operators.LanguageModel
    val word = Gen.oneOf("a", "b", "c", "dd", "ee")
    val doc = Gen.listOf(word).map(_.take(12).mkString(" "))
    // tiny random corpora keep most level histograms THIN (the fixed
    // fallback is the common path here); repeated words occasionally
    // populate n1..n3 and fire the estimator — both rules covered
    forAll(Gen.zip(Gen.listOfN(8, doc), Gen.listOfN(3, doc)), n = 4) {
      case (texts, ftexts) =>
        val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
          .toDF("doc_id", "text")
        val toks = texts.map(_.split("\\s+").filter(_.nonEmpty).toVector)
        whenever(toks.exists(_.length >= 3)) {
          val lm = LanguageModel.trainModifiedKneserNeyN(docs, "text", order = 3)
          val tris = toks.flatMap(ts =>
            ts.indices.dropRight(2).map(i => (ts(i), ts(i + 1), ts(i + 2))))
          val c123 = tris.groupBy(identity).view.mapValues(_.size.toLong).toMap
          def buckets(cs: Iterable[Long]) = (cs.sum, cs.count(_ == 1L).toLong,
            cs.count(_ == 2L).toLong, cs.count(_ >= 3L).toLong)
          val ctxTop = c123.groupBy { case ((a, b, _), _) => (a, b) }
            .view.mapValues(m => buckets(m.values)).toMap
          val cont23 = c123.keys.toSeq.map(k => (k._2, k._3))
            .groupBy(identity).view.mapValues(_.size.toLong).toMap
          val ctx1 = cont23.groupBy(_._1._1)
            .view.mapValues(m => buckets(m.values)).toMap
          val cont1 = cont23.keys.toSeq.groupBy(_._2)
            .view.mapValues(_.size.toLong).toMap
          val nTypes = cont23.size.toLong
          val v = toks.flatten.distinct.size
          assert(lm.nContTypes == nTypes && lm.vocabSize == v)
          // the estimator EXACTLY as estimateDiscounts defines it:
          // thin histogram → fixed 0.75s; else clamped Chen-Goodman
          def disc(hist: Iterable[Long]) = {
            val n1 = hist.count(_ == 1L); val n2 = hist.count(_ == 2L)
            val n3 = hist.count(_ == 3L); val n4 = hist.count(_ == 4L)
            if (n1 == 0 || n2 == 0 || n3 == 0 || n4 == 0) (0.75, 0.75, 0.75)
            else {
              val y = n1 / (n1 + 2.0 * n2)
              (math.min(math.max(1.0 - (2.0 * y * n2) / n1, 0.0), 1.0),
                math.min(math.max(2.0 - (3.0 * y * n3) / n2, 0.0), 2.0),
                math.min(math.max(3.0 - (4.0 * y * n4) / n3, 0.0), 3.0))
            }
          }
          val dl2 = disc(cont23.values); val dt = disc(c123.values)
          assert(lm.discounts == IndexedSeq(dl2, dt),
            s"train-time estimates must equal the reference: ${lm.discounts}")
          def dsel(c: Long, d: (Double, Double, Double)) =
            if (c >= 3) d._3 else if (c == 2) d._2 else d._1
          def p1(w3: String) =
            (cont1.getOrElse(w3, 0L) + 0.5) / (nTypes + 0.5 * v)
          def p2(w2: String, w3: String) = ctx1.get(w2) match {
            case None => p1(w3)
            case Some((s1, f1, f2, f3)) =>
              val n = cont23.getOrElse((w2, w3), 0L)
              math.max(n - dsel(n, dl2), 0.0) / s1 +
                ((dl2._1 * f1 + dl2._2 * f2 + dl2._3 * f3) / s1) * p1(w3)
          }
          def p3(a: String, b: String, c: String) = ctxTop.get((a, b)) match {
            case None => p2(b, c)
            case Some((tot, t1, t2, t3)) =>
              val n = c123.getOrElse((a, b, c), 0L)
              math.max(n - dsel(n, dt), 0.0) / tot +
                ((dt._1 * t1 + dt._2 * t2 + dt._3 * t3) / tot) * p2(b, c)
          }
          def check(ts: Seq[Vector[String]], base: Long,
                    got: Map[Long, (Long, Option[Double])]): Unit =
            ts.zipWithIndex.foreach { case (t, i) =>
              val grams = t.indices.dropRight(2).map(j => (t(j), t(j + 1), t(j + 2)))
              if (grams.isEmpty) assert(got(base + i) == ((0L, None)))
              else {
                val xent = -grams.map { case (a, b, c) =>
                  math.log(p3(a, b, c))
                }.sum / grams.length
                assert(got(base + i)._1 == grams.length.toLong)
                assert(math.abs(got(base + i)._2.get - xent) < 1e-9,
                  s"doc ${base + i}: got ${got(base + i)._2.get} want $xent")
              }
            }
          def score(df: org.apache.spark.sql.DataFrame) =
            LanguageModel.crossEntropyModifiedKneserNeyN(df, "doc_id", "text", lm)
              .collect().map(r => r.getLong(0) ->
                ((r.getLong(1),
                  if (r.isNullAt(2)) None else Some(r.getDouble(2))))).toMap
          check(toks, 0L, score(docs))
          val fdocs = ftexts.zipWithIndex
            .map { case (t, i) => (100L + i, t) }.toDF("doc_id", "text")
          val ftoks = ftexts.map(_.split("\\s+").filter(_.nonEmpty).toVector)
          check(ftoks, 100L, score(fdocs))
        }
    }
  }

  test("AdcTable∘AdcTableLookup ≡ driver-side two-level sequential sum on " +
    "random vectors; bad codes and ragged queries raise instead of " +
    "silently NULL-ranking") {
    import org.apache.spark.sql.functions.col
    import graft.functions.Adc
    // m=2 subspaces, ksub=2, dsub=2
    val cb = Array(
      Array(Array(0.0, 0.0), Array(1.0, 1.0)),
      Array(Array(2.0, 0.0), Array(0.0, 2.0)))
    // the fused per-pair reference: inner sum dims ascending, outer sum
    // subspaces ascending — the table path must reproduce it BIT FOR BIT
    // (same doubles added in the same order), so shortlist ranks cannot
    // move between the fused and table-driven forms
    def ref(q: Vector[Double], codes: Seq[Int]): Double = {
      var total = 0.0
      codes.indices.foreach { j =>
        val cent = cb(j)(codes(j))
        var s = 0.0
        (0 until 2).foreach { i => val t = q(j * 2 + i) - cent(i); s += t * t }
        total += s
      }
      total
    }
    val gen = Gen.zip(
      Gen.listOfN(4, Gen.chooseNum(-3.0, 3.0)).map(_.toVector),
      Gen.listOfN(2, Gen.chooseNum(0, 1)))
    forAll(Gen.listOfN(8, gen), n = 4) { rows =>
      val df = rows.zipWithIndex.map { case ((q, c), i) => (i.toLong, q, c) }
        .toDF("id", "q", "codes")
      val got = df.select(col("id"),
          Adc.lookup(Adc.table(col("q").cast("array<double>"), cb),
            col("codes").cast("array<int>"), 2, 2).as("d"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      rows.zipWithIndex.foreach { case ((q, c), i) =>
        assert(got(i.toLong) == ref(q, c), s"q=$q codes=$c")
      }
    }
    def one(q: Seq[java.lang.Double], c: Seq[java.lang.Integer]) =
      Seq((0L, q, c)).toDF("id", "q", "codes")
        .select(Adc.lookup(Adc.table(col("q").cast("array<double>"), cb),
          col("codes").cast("array<int>"), 2, 2))
        .head()
    // out-of-range code, wrong code length, ragged query, null code,
    // wrong table width: each raises with a named message — a silent
    // NULL distance would rank FIRST under an ascending window order
    intercept[Exception](one(Seq(0.0, 0.0, 0.0, 0.0), Seq(0, 2)))
    intercept[Exception](one(Seq(0.0, 0.0, 0.0, 0.0), Seq(0)))
    intercept[Exception](one(Seq(0.0, 0.0, 0.0), Seq(0, 1)))
    intercept[Exception](one(Seq(0.0, 0.0, 0.0, 0.0), Seq(null, 1)))
    intercept[Exception](Seq((0L, Seq(0.0, 0.0, 0.0), Seq(0, 1)))
      .toDF("id", "tab", "codes")
      .select(Adc.lookup(col("tab").cast("array<double>"),
        col("codes").cast("array<int>"), 2, 2))
      .head())
  }

  test("NearestCentroid ≡ driver-side sequential-sum argmin on random " +
    "vectors; duplicate-centroid ties keep the lower id; guards raise") {
    import org.apache.spark.sql.functions.col
    import graft.functions.NearestCentroid
    // centroid 2 duplicates centroid 0: any vector tying between them
    // must land on 0 — the (d, i)-struct-minimum tie rule
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    def ref(v: Vector[Double]): Int = {
      var best = 0.0; var bestI = 0
      cents.indices.foreach { c =>
        var s = 0.0
        v.indices.foreach { i => val t = v(i) - cents(c)(i); s += t * t }
        if (c == 0 || java.lang.Double.compare(s, best) < 0) { best = s; bestI = c }
      }
      bestI
    }
    val vec = Gen.listOfN(2, Gen.chooseNum(-2.0, 2.0)).map(_.toVector)
    forAll(Gen.listOfN(10, vec), n = 4) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val got = df.select(col("vec_id"),
          NearestCentroid.nearest(
            col("embedding").cast("array<double>"), cents).as("cid"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        assert(got(i.toLong) == ref(v), s"vector $v")
        assert(got(i.toLong) != 2, "ties must keep the lower duplicate id")
      }
    }
    // exact tie on the duplicated centroid value itself
    val tied = Seq((0L, Vector(1.0, 0.0))).toDF("vec_id", "embedding")
    assert(tied.select(NearestCentroid.nearest(
        col("embedding").cast("array<double>"), cents))
      .head().getInt(0) == 0)
    // dims mismatch and null elements fail loudly (the dense-vector policy)
    val ragged = Seq((0L, Vector(1.0, 0.0, 0.0))).toDF("vec_id", "embedding")
    val eRagged = intercept[Exception](ragged.select(
      NearestCentroid.nearest(col("embedding").cast("array<double>"), cents))
      .head())
    assert(eRagged.getMessage != null)
    val withNull = Seq((0L, Seq[java.lang.Double](1.0, null)))
      .toDF("vec_id", "embedding")
    intercept[Exception](withNull.select(
      NearestCentroid.nearest(col("embedding").cast("array<double>"), cents))
      .head())
  }

  test("semDedup ≡ driver-side dominated-rule reference on random vectors") {
    import graft.operators.Similarity
    val cents = Array(Array(1.0, 0.0, 0.0), Array(-1.0, 0.0, 0.0),
      Array(0.0, 1.0, 0.0))
    val coord = Gen.chooseNum(-1.0, 1.0)
    val vec = Gen.listOfN(3, coord).map(_.toVector)
      .retryUntil(v => v.exists(math.abs(_) > 1e-6))
    def refDot(a: Vector[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    forAll(Gen.listOfN(12, vec), n = 4) { vs =>
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("vec_id", "embedding")
      val tau = 0.8
      val got = Similarity.withSemDupFlag(df, "vec_id", "embedding",
          cents, tau).collect()
        .map(r => r.getAs[Long]("vec_id") ->
          ((r.getAs[Int]("coarse"), r.getAs[Boolean]("kept")))).toMap
      // reference: same squared-L2 argmin (ties → lower id), same cosine
      def assign(v: Vector[Double]): Int =
        cents.map(c => v.indices.foldLeft(0.0)((acc, i) =>
          acc + (v(i) - c(i)) * (v(i) - c(i))))
          .zipWithIndex.minBy { case (d, i) => (d, i) }._2
      def cos(a: Vector[Double], b: Vector[Double]): Double = {
        val na = math.sqrt(refDot(a, a)); val nb = math.sqrt(refDot(b, b))
        if (na == 0.0 || nb == 0.0) 0.0 else refDot(a, b) / (na * nb)
      }
      val lab = vs.zipWithIndex.map { case (v, i) => i.toLong -> assign(v) }.toMap
      vs.zipWithIndex.foreach { case (v, i) =>
        val id = i.toLong
        val loser = vs.zipWithIndex.exists { case (u, j) =>
          j < i && lab(j.toLong) == lab(id) && cos(u.toVector, v.toVector) >= tau
        }
        assert(got(id) == ((lab(id), !loser)),
          s"vec $id: got ${got(id)} want (${lab(id)}, ${!loser})")
      }
    }
  }

  test("retrieval family on random corpora: phrase ≡ driver reference, " +
    "batch ≡ per-phrase singles, window(L−1) ⊇ phrase") {
    import graft.operators.TextIndex
    val word = Gen.oneOf("a", "b", "c", "d")
    val doc = Gen.chooseNum(0, 9).flatMap(len => Gen.listOfN(len, word))
    val phraseGen = Gen.chooseNum(1, 3).flatMap(len => Gen.listOfN(len, word))
      .map(_.mkString(" "))
    forAll(Gen.zip(Gen.listOfN(7, doc), Gen.listOfN(3, phraseGen)), n = 4) {
      case (docs, phrasesRaw) =>
        val phrases = phrasesRaw.distinct
        val cdf = docs.indices.map(_.toLong).zip(docs.map(_.mkString(" ")))
          .toDF("doc_id", "text")
        whenever(docs.exists(_.nonEmpty)) {
          val ix = TextIndex.build(cdf, "doc_id", "text")
          // driver-side reference: sliding-window verbatim containment
          def refOcc(d: List[String], ph: Seq[String]): Long =
            if (d.size < ph.size) 0L
            else d.sliding(ph.size).count(_ == ph.toList).toLong
          phrases.foreach { ph =>
            val terms = ph.split(" ").toSeq
            val want = docs.zipWithIndex
              .map { case (d, i) => i.toLong -> refOcc(d, terms) }
              .filter(_._2 > 0).toMap
            val got = TextIndex.bm25Phrase(ix, "doc_id", ph).collect()
              .map(r => r.getLong(0) -> r.getLong(1)).toMap
            assert(got == want, s"phrase '$ph' over $docs: $got vs $want")
            // window(L−1) must keep every phrase-matching doc standing
            if (terms.size > 1) {
              val wdocs = TextIndex.bm25Window(ix, "doc_id",
                terms.distinct.mkString(" "), window = terms.size - 1)
                .collect().map(_.getLong(0)).toSet
              assert(want.keySet.subsetOf(wdocs),
                s"window(L-1) missed phrase docs for '$ph': $wdocs vs ${want.keySet}")
            }
          }
          // batch ≡ per-phrase singles, including occurrence counts
          val pdf = phrases.zipWithIndex
            .map { case (p, i) => (i.toLong, p) }.toDF("phrase_id", "phrase")
          val batch = TextIndex.bm25PhraseBatch(ix, "doc_id", pdf,
              "phrase_id", "phrase").collect()
            .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
          val singles = phrases.zipWithIndex.flatMap { case (p, i) =>
            TextIndex.bm25Phrase(ix, "doc_id", p).collect()
              .map(r => (i.toLong, r.getLong(0)) -> r.getLong(1))
          }.toMap
          assert(batch == singles,
            s"batch diverged from singles over $docs / $phrases")
        }
    }
  }

  test("ensureColumns: arbitrary column subsets conform to the full schema") {
    forAll(Gen.someOf(Schemas.mem.fieldNames.toSeq)) { keep =>
      whenever(keep.nonEmpty) {
        val base = Seq(("job1", "N1", "01/01/2013 10:00:00", 1.0, 2.0, 3.0, 4.0))
          .toDF(Schemas.mem.fieldNames.toIndexedSeq: _*)
        val subset = base.select(keep.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*)
        val fixed = Readers.ensureColumns(subset, Schemas.mem)
        assert(fixed.schema.fieldNames.toSeq == Schemas.mem.fieldNames.toSeq)
        assert(fixed.count() == 1)
      }
    }
  }

  // ---- native text and MinHash kernels ≡ the built-in forms they replaced ----

  /** Random texts as raw UTF-8 bytes (`None` = null): words, stopwords,
    * punctuation, every Java-regex `\s` separator, Unicode spaces that are
    * NOT `\s`, non-ASCII and emoji, and malformed UTF-8 (lone lead and
    * continuation bytes, truncated and overlong sequences, encoded
    * surrogates). */
  private val rawText: Gen[Option[Array[Byte]]] = {
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val piece = Gen.frequency(
      6 -> Gen.oneOf("cat", "sat", "mat", "dog", "ran", "x", "long-word").map(utf8),
      4 -> Gen.oneOf(TextAnalysis.DefaultStopwords).map(utf8),
      2 -> Gen.oneOf(",", "!", "...", "a.b", "(x)", "#@%", "~", "`", "\"").map(utf8),
      6 -> Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B", "\f", " \t ").map(utf8),
      1 -> Gen.oneOf("\u00A0", "\u2003", "\u3000").map(utf8),
      2 -> Gen.oneOf("café", "naïve", "中文", "😀", "ünï😀x").map(utf8),
      1 -> Gen.oneOf(Seq(0xFF), Seq(0x80), Seq(0xC3), Seq(0xE2, 0x82),
        Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xF0, 0x9F, 0x98))
        .map(_.map(_.toByte).toArray))
    val text = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, piece))
      .map(ps => Some(ps.toArray.flatten): Option[Array[Byte]])
    Gen.frequency(1 -> Gen.const(None), 12 -> text)
  }

  private val fixedTexts: Seq[Option[Array[Byte]]] =
    (Seq(None) ++ Seq("", " ", "   ", "\t\r\n\u000B\f", "word", "the",
      "a\u000Bb\fc\rd", " lead trail ", "😀 😀 😀").map(t =>
      Some(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))) :+
      Some(Array(0xFF, 0x20, 0x61).map(_.toByte))

  /** `(id, text)` with text cast from the raw bytes, so malformed UTF-8
    * reaches the kernels unrepaired (asserted). */
  private def textFrame(texts: Seq[Option[Array[Byte]]]) = {
    import org.apache.spark.sql.functions.{col, hex}
    val df = texts.zipWithIndex.map { case (b, i) => (i.toLong, b.orNull) }
      .toDF("id", "raw").select(col("id"), col("raw").cast("string").as("text"))
    val bytes = df.select(hex(col("text").cast("binary"))).collect().map(r => Option(r.getString(0)))
    assert(bytes.toSeq == texts.map(_.map(_.map(b => f"$b%02X").mkString)),
      "cast must keep the raw bytes")
    df
  }

  test("Tokens ≡ TextAnalysis.tokens on random texts with malformed UTF-8") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.unsafe.types.UTF8String
    forAll(Gen.listOfN(60, rawText)) { texts =>
      val all = fixedTexts ++ texts
      val want = textFrame(all).orderBy("id")
        .select(TextAnalysis.tokens(col("text"))).collect()
        .map(r => Option(r.getSeq[String](0)))
      all.zip(want).foreach { case (b, w) =>
        val got = b.map { bytes =>
          val t = graft.functions.Tokens(UTF8String.fromBytes(bytes))
          (0 until t.count).map(i => UTF8String.fromBytes(t.text.getBytes,
            t.start(i), t.end(i) - t.start(i)).toString)
        }
        assert(got == w, s"bytes ${b.map(_.toSeq)}")
      }
    }
  }

  test("ShingleHashes / ShingleHashesAll / SimHash64 ≡ their built-in forms " +
    "on random texts with malformed UTF-8") {
    import org.apache.spark.sql.functions._
    import graft.functions.{ShingleHashes, ShingleHashesAll, SimHash64}
    // the higher-order form the byte-level kernels replaced: xxhash64 of
    // each k-gram of the tokens joined by one space, short docs one gram
    def gramsHof(t: org.apache.spark.sql.Column, k: Int) = {
      val toks = TextAnalysis.tokens(t)
      when(t.isNull, lit(null)).when(size(toks) === 0, array().cast("array<bigint>"))
        .otherwise(transform(sequence(lit(0), greatest(size(toks) - k, lit(0))),
          i => xxhash64(concat_ws(" ", slice(toks, i + 1, lit(k))))))
    }
    forAll(Gen.listOfN(60, rawText)) { texts =>
      val df = textFrame(fixedTexts ++ texts)
      for (k <- Seq(1, 2, 3, 8)) {
        val rows = df.select(col("id"),
          ShingleHashesAll.shingleHashesAll(col("text"), k), gramsHof(col("text"), k),
          ShingleHashes.shingleHashes(col("text"), k), array_distinct(gramsHof(col("text"), k)))
          .collect()
        rows.foreach { r =>
          assert(Option(r.getSeq[Long](1)) == Option(r.getSeq[Long](2)), s"all, k=$k, id ${r.getLong(0)}")
          assert(Option(r.getSeq[Long](3)) == Option(r.getSeq[Long](4)), s"set, k=$k, id ${r.getLong(0)}")
        }
      }
      // SimHash64: per-token xxhash64 from the Column tokenizer, signs
      // accumulated on the driver
      df.select(col("id"), SimHash64.simhash64(col("text")),
          transform(TextAnalysis.tokens(col("text")), w => xxhash64(w)))
        .collect().foreach { r =>
          if (r.isNullAt(2)) assert(r.isNullAt(1))
          else {
            val hs = r.getSeq[Long](2)
            val want = (0 until 64).foldLeft(0L) { (acc, bit) =>
              val s = hs.map(h => if (((h >>> bit) & 1L) == 1L) 1 else -1).sum
              if (s > 0) acc | (1L << bit) else acc
            }
            assert(r.getLong(1) == want, s"simhash, id ${r.getLong(0)}")
          }
        }
    }
  }

  /** `withQuality` as it was before [[graft.functions.QualityCounts]]:
    * the reference the one-pass kernel must match bit for bit. */
  private def withQualityHof(df: org.apache.spark.sql.DataFrame, textCol: String,
                             stopwords: Seq[String]) = {
    import org.apache.spark.sql.functions._
    val t = col(textCol)
    val toks = TextAnalysis.tokens(t)
    val nTok = size(toks)
    val punct = length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))
    df.withColumn("n_tokens", nTok)
      .withColumn("punct_ratio", punct.cast("double") / greatest(length(t), lit(1)))
      .withColumn("stopword_ratio",
        size(filter(toks, w => w.isin(stopwords.map(lit): _*)))
          .cast("double") / greatest(nTok, lit(1)))
      .withColumn("mean_word_len",
        aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast("double")
          / greatest(nTok, lit(1)))
      .withColumn("quality_score",
        least(greatest(
          lit(0.4) * least(nTok.cast("double") / 64.0, lit(1.0)) +
            lit(0.4) * least(col("stopword_ratio") * 4.0, lit(1.0)) +
            lit(0.2) * (lit(1.0) - least(col("punct_ratio") * 5.0, lit(1.0))),
          lit(0.0)), lit(1.0)))
  }

  test("withQuality (QualityCounts) ≡ the built-in form bit for bit on " +
    "random texts with malformed UTF-8, default and custom stopwords") {
    val feats = Seq("id", "n_tokens", "punct_ratio", "stopword_ratio",
      "mean_word_len", "quality_score")
    forAll(Gen.listOfN(60, rawText)) { texts =>
      val df = textFrame(fixedTexts ++ texts)
      for (sw <- Seq(TextAnalysis.DefaultStopwords, Seq("cat", "😀", "café", "a b", ""))) {
        val got = TextAnalysis.withQuality(df, "text", sw).select(feats.head, feats.tail: _*)
        val want = withQualityHof(df, "text", sw).select(feats.head, feats.tail: _*)
        assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
        val g = got.orderBy("id").collect().toSeq
        val w = want.orderBy("id").collect().toSeq
        g.zip(w).foreach { case (a, b) =>
          // raw bits: == would also accept -0.0 for 0.0
          def bits(r: org.apache.spark.sql.Row) = r.toSeq.map {
            case d: Double => java.lang.Double.doubleToRawLongBits(d)
            case v => v
          }
          assert(bits(a) == bits(b), s"$a vs $b")
        }
        assert(g.length == w.length)
      }
    }
  }

  test("BandHashes ≡ xxhash64(slice(sig, b·r+1, r), b) — null, short, long " +
    "and null-element signatures; bandedSignatures unchanged") {
    import org.apache.spark.sql.functions._
    val sigGen: Gen[Option[Seq[java.lang.Long]]] = Gen.frequency(
      1 -> Gen.const(None),
      8 -> Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, Gen.frequency(
        12 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(l => java.lang.Long.valueOf(l)),
        1 -> Gen.const(null: java.lang.Long)))).map(Some(_)))
    forAll(Gen.listOfN(40, sigGen)) { sigs =>
      val df = sigs.zipWithIndex.map { case (s, i) => (i.toLong, s.orNull) }
        .toDF("sh_id", "sig")
      for ((bands, r) <- Seq((1, 1), (4, 8), (8, 4), (32, 1))) {
        val hof = transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * r + 1, lit(r)), b))
        df.select(graft.functions.BandHashes.bandHashes(col("sig"), bands, r), hof)
          .collect().foreach(row => assert(row.getSeq[Long](0) == row.getSeq[Long](1),
            s"bands=$bands r=$r: $row"))
        // the banded frame persisted as `<name>_bands` tables
        val want = df.select(col("sh_id"), posexplode(hof))
          .withColumnsRenamed(Map("pos" -> "band", "col" -> "band_hash"))
        val got = Dedup.bandedSignatures(df, bands, bands * r)
        assert(got.schema == want.schema)
        assert(got.collect().toSet == want.collect().toSet)
      }
    }
  }

  test("MinHashSignature: the bigint fast path and the generic path ≡ " +
    "min(xxhash64(shingle, seed i)) per seed") {
    import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64, XxHash64Function}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.LongType
    val numHashes = 16
    def perSeedMins(c: String) = array((0 until numHashes).map(i =>
      min(Bridge.column(XxHash64(Seq(Bridge.expression(col(c))), i.toLong)))): _*)
    val gen = Gen.listOfN(80, Gen.zip(Gen.chooseNum(0L, 9L),
      Gen.chooseNum(Long.MinValue, Long.MaxValue)))
    forAll(gen) { rows =>
      rows.foreach { case (_, l) =>
        (0 until numHashes).foreach(i =>
          assert(XXH64.hashLong(l, i.toLong) == XxHash64Function.hash(l, LongType, i.toLong)))
      }
      val df = rows.toDF("sh_id", "shingle")
        .withColumn("shingle_s", col("shingle").cast("string"))
      for (c <- Seq("shingle", "shingle_s")) {
        val got = df.groupBy("sh_id").agg(graft.functions.MinHashSignature
          .minhashSignature(col(c), numHashes).as("sig"), perSeedMins(c).as("ref"))
        got.collect().foreach(r =>
          assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"$c, doc ${r.getLong(0)}"))
      }
    }
  }

  /** [[operators.BucketAggregate]]'s former shape, kept as its reference:
    * Spark's `.pivot(...).agg(avg)` and the lambda-filtered host list. */
  private def bucketAggregatePivot(joined: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    import graft.functions.Exprs._
    val us = operators.BucketAggregate.DefaultBucketMicros
    joined.filter(col("Host").isNotNull && col("Host") =!= "")
      .withColumn("bucket", bucketIndex(col("Timestamp"), col("start"), us))
      .groupBy(col("jid"), col("Host").as("host"), col("bucket"), col("start"), col("end"),
        col("submit"), col("user"), col("account"), col("jobname"), col("queue"),
        col("nnodes"), col("ncpus"), col("walltime"), col("exit_status"))
      .pivot("Event", Schemas.frescoEvents)
      .agg(avg(col("Value")))
      .withColumn("host_list", array_join(array_sort(filter(collect_set(col("host"))
        .over(Window.partitionBy(col("jid"), col("start"), col("end"))), h => length(h) > 0)), ","))
      .select(Seq(col("jid"), col("host"), col("host_list"),
        intervalMidpoint(bucketStart(col("start"), col("bucket"), us),
          bucketEnd(col("start"), col("bucket"), us, col("end"))).as("time")) ++
        Schemas.frescoEvents.map(e => col(e).as(s"value_$e")): _*)
  }

  test("BucketAggregate's one-pass aggregate ≡ the pivot form bit for bit; " +
    "hostList's array_remove ≡ its lambda filter") {
    import org.apache.spark.sql.functions._
    val t0 = java.sql.Timestamp.valueOf("2013-01-01 10:00:00").getTime
    def ts(sec: Long) = new java.sql.Timestamp(t0 + sec * 1000L)
    val row = for {
      job <- Gen.chooseNum(0, 2)
      host <- Gen.oneOf(null, "", "N1", "N2", "N3")
      offset <- Gen.chooseNum(-60L, 1860L)
      event <- Gen.oneOf(Schemas.frescoEvents ++ Seq("gpu", null))
      value <- Gen.frequency(1 -> Gen.const(None),
        4 -> Gen.chooseNum(-1e6, 1e6).map(v => Some(v / 7.0)))
    } yield (job, host, offset, event, value)
    forAll(Gen.listOfN(150, row)) { rows =>
      // one group whose values are all null, for every event
      val allNull = Schemas.frescoEvents.map(e => (1, "N9", 5L, e, Option.empty[Double]))
      val joined = (rows ++ allNull).map { case (job, host, offset, event, value) =>
        val start = 420L * job
        (s"$job", host, ts(start + offset), event, value, ts(start), ts(start + 1800),
          ts(start - 60), s"u$job", "acct", "name", "normal", 2L, 32L, 3600L, "0")
      }.toDF("jid", "Host", "Timestamp", "Event", "Value", "start", "end", "submit",
        "user", "account", "jobname", "queue", "nnodes", "ncpus", "walltime", "exit_status")
        .filter(col("Timestamp") >= col("start") && col("Timestamp") < col("end"))
      val want = bucketAggregatePivot(joined)
      val got = operators.BucketAggregate(joined).select(want.columns.map(col).toSeq: _*)
      assert(got.schema == want.schema)
      // raw bits: == would also accept -0.0 for 0.0
      def bits(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToRawLongBits(d)
        case v => v
      }.toString).sorted
      val g = bits(got)
      assert(g == bits(want))
      assert(g.nonEmpty)
      val lists = joined.groupBy("jid").agg(graft.functions.Exprs.hostList(col("Host")),
        array_join(array_sort(filter(collect_set(col("Host")), h => length(h) > 0)), ","))
      lists.collect().foreach(r => assert(r.getString(1) == r.getString(2), s"$r"))
    }
  }

  // ---- PII scan and set-based MinHash verification ≡ their former forms ----

  /** [[TextAnalysis.withPiiRedaction]] as it was before
    * [[graft.functions.PiiScan]]: three `regexp_extract_all` counts on the
    * original text and the `RegExpReplace` chain. */
  private def withPiiRedactionRegex(df: org.apache.spark.sql.DataFrame, textCol: String) = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, RegExpReplace}
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graft.Bridge
    import TextAnalysis.{EmailRe, Ipv4Re, PhoneRe}
    val t = col(textCol)
    val chain = RegExpReplace(RegExpReplace(RegExpReplace(Bridge.expression(t),
      Literal(EmailRe), Literal("<EMAIL>")), Literal(Ipv4Re), Literal("<IP>")),
      Literal(PhoneRe), Literal("<PHONE>"))
    df.withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Re), lit(0))))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhoneRe), lit(0))))
      .withColumn("redacted", Bridge.column(chain))
  }

  /** Random texts for the PII patterns, as raw UTF-8 bytes: emails, IPv4s
    * and phones, an IPv4 inside an email, digit runs touching non-ASCII
    * letters (where JDK 17's `\b` sees no boundary), near misses, texts
    * with no `@` or digit, and the seven malformed UTF-8 kinds of
    * `rawText`, all glued with and without separators. */
  private val piiText: Gen[Option[Array[Byte]]] = {
    def utf8(s: String) = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val piece = Gen.frequency(
      4 -> Gen.oneOf("a.user+tag@sub.example.co.uk", "x@y.io", "me@host", "a@b.c",
        "bob@10.0.0.1.com", "1.2.3.4@mail.org", "@", "@@x.io", "z@w.dev").map(utf8),
      4 -> Gen.oneOf("10.0.0.1", "192.168.1.255", "1.2.3.4.5", "999.1.1.1", "1.2.3",
        "01.002.3.44").map(utf8),
      4 -> Gen.oneOf("555-123-4567", "555.123.4567", "5551234567", "555-1234",
        "555-123-45678", "(555) 123-4567").map(utf8),
      3 -> Gen.oneOf("é123", "123é", "中1.2.3.4", "1.2.3.4ü", "ü555-123-4567",
        "555-123-4567ß", "١٢٣", "ａ@ｂ.ｃｏ", "x@é.io").map(utf8),
      5 -> Gen.oneOf("mail", "call", "the", "host", ".", "-", ",", "_", "7", "42").map(utf8),
      5 -> Gen.oneOf(" ", "  ", "\t", "\n").map(utf8),
      1 -> Gen.oneOf(Seq(0xFF), Seq(0x80), Seq(0xC3), Seq(0xE2, 0x82),
        Seq(0xC0, 0xAF), Seq(0xED, 0xA0, 0x80), Seq(0xF0, 0x9F, 0x98))
        .map(_.map(_.toByte).toArray))
    val text = Gen.chooseNum(0, 16).flatMap(n => Gen.listOfN(n, piece))
      .map(ps => Some(ps.toArray.flatten): Option[Array[Byte]])
    Gen.frequency(1 -> Gen.const(None), 12 -> text)
  }

  test("PiiScan ≡ size(regexp_extract_all)×3 + the RegExpReplace chain bit " +
    "for bit, through withPiiRedaction, redactPii and SQL redact_pii") {
    import org.apache.spark.sql.functions._
    val out = Seq("n_emails", "n_ips", "n_phones", "redacted")
    val fixed = (fixedTexts ++ Seq("no pii here at all", "café ünï", "中文 😀",
      "ip in mail bob@10.0.0.1.com", "x@y.io 10.0.0.1 555-123-4567").map(t =>
      Some(t.getBytes(java.nio.charset.StandardCharsets.UTF_8)))) ++
      Seq(Array(0xC3, 0x40, 0x31), Array(0x35, 0x35, 0x35, 0xFF, 0x2D)).map(b =>
        Some(b.map(_.toByte)))
    forAll(Gen.listOfN(80, piiText)) { texts =>
      val df = textFrame(fixed ++ texts)
      df.createOrReplaceTempView("pii_texts")
      def rows(d: org.apache.spark.sql.DataFrame) = d.orderBy("id")
        .select(Seq(col("id")) ++ out.init.map(col) :+ hex(col("redacted").cast("binary")): _*)
        .collect().toSeq
      val got = TextAnalysis.withPiiRedaction(df, "text")
      val want = withPiiRedactionRegex(df, "text")
      assert(got.schema == want.schema)
      val w = rows(want)
      val g = rows(got)
      assert(g.length == w.length)
      g.zip(w).foreach { case (a, b) => assert(a == b, s"id ${b.get(0)}") }
      val byCol = df.select(col("id"), TextAnalysis.redactPii(col("text")).as("redacted"))
      val bySql = spark.sql("SELECT id, redact_pii(text) AS redacted FROM pii_texts")
      for (d <- Seq(byCol, bySql))
        assert(d.orderBy("id").select(hex(col("redacted").cast("binary"))).collect().toSeq ==
          w.map(r => org.apache.spark.sql.Row(r.get(4))))
      // the generator reaches every branch of the scan
      assert(w.exists(r => !r.isNullAt(1) && r.getInt(1) > 0 && r.getInt(2) > 0))
      assert(w.exists(r => !r.isNullAt(1) && r.getInt(3) > 0))
      assert(w.exists(r => r.isNullAt(1)))
    }
    // without ANSI mode `size` of a null array may read -1: the counts of
    // a null text follow it
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try {
      val df = textFrame(fixed)
      val cols = Seq("id", "n_emails", "n_ips", "n_phones", "redacted")
      val want = withPiiRedactionRegex(df, "text").select(cols.map(col): _*)
      val got = TextAnalysis.withPiiRedaction(df, "text").select(cols.map(col): _*)
      assert(got.schema == want.schema)
      assert(got.orderBy("id").collect().toSeq == want.orderBy("id").collect().toSeq)
    } finally spark.conf.unset("spark.sql.ansi.enabled")
  }

  test("minhashDuplicates / jaccardFor (shingle sets) ≡ the shingle-join " +
    "form on distinct rows, at two band geometries") {
    import org.apache.spark.sql.functions._
    import PropertySpec.{jaccardForJoin, minhashDuplicatesJoin}
    def bits(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = Gen.listOfN(10, word)
    // near-dups: a few base docs, each copied with a word or two changed
    val corpus = Gen.listOfN(4, base).flatMap(bs => Gen.listOfN(24, for {
      b <- Gen.oneOf(bs); i <- Gen.chooseNum(0, 9); j <- Gen.chooseNum(0, 9)
      w <- word; v <- word; keep <- Gen.chooseNum(6, 10)
    } yield b.updated(i, w).updated(j, v).take(keep).mkString(" ")))
    val pair = Gen.zip(Gen.chooseNum(-2L, 26L), Gen.chooseNum(-2L, 26L))
    forAll(Gen.zip(corpus, Gen.listOfN(40, pair))) { case (texts, pairs) =>
      // doc 24 shares no word with the others; ids 25, 26 and the
      // negative ones are missing from the shingle frame
      val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } :+
        (24L, "omega psi chi phi upsilon tau sigma rho")).toDF("doc_id", "text")
      val fwd = pairs ++ Seq((0L, 24L), (24L, 3L), (1L, 25L), (-1L, 2L), (3L, 3L))
      val pairList = (fwd ++ fwd.map(_.swap)).distinct
      for (sh <- Seq(Dedup.hashedWordShingles(docs, "doc_id", "text"),
                     Dedup.wordShingles(docs, "doc_id", "text", 2))) {
        assert(sh.count() == sh.distinct().count(), "the reference needs distinct rows")
        for ((numHashes, bands) <- Seq((128, 32), (60, 12)); minJ <- Seq(0.3, 0.8)) {
          val want = bits(minhashDuplicatesJoin(sh, minJ, numHashes, bands))
          assert(bits(Dedup.minhashDuplicates(sh, minJ, numHashes, bands)) == want,
            s"geometry ($numHashes, $bands), minJaccard $minJ")
          if (minJ == 0.3) assert(want.nonEmpty)
        }
        val want = bits(jaccardForJoin(pairList.toDF("id_a", "id_b"), sh))
        assert(bits(Dedup.jaccardFor(pairList.toDF("id_a", "id_b"), sh)) == want)
        assert(want.exists(w => w._1 == 3L && w._2 == 3L) && want.exists(w => w._1 > w._2))
        assert(want.forall { case (a, b, _) => Seq(a, b).forall(i => i >= 0 && i < 24) })
      }
    }
  }

  test("jaccardPairs ≡ its former shingle-join form on distinct rows, " +
    "minJaccard 0.0 included") {
    import PropertySpec.jaccardPairsJoin
    def bits(d: org.apache.spark.sql.DataFrame) = d.collect().toSeq.map(r =>
      (r.getLong(0), r.getLong(1), java.lang.Double.doubleToRawLongBits(r.getDouble(2)))).sorted
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta", "theta")
    val base = Gen.listOfN(10, word)
    val corpus = Gen.listOfN(3, base).flatMap(bs => Gen.listOfN(16, for {
      b <- Gen.oneOf(bs); i <- Gen.chooseNum(0, 9); w <- word; keep <- Gen.chooseNum(4, 10)
    } yield b.updated(i, w).take(keep).mkString(" ")))
    forAll(corpus) { texts =>
      // doc 16 shares no word with the others; doc 17 has no shingle
      val docs = (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
        Seq((16L, "omega psi chi phi upsilon tau"), (17L, ""))).toDF("doc_id", "text")
      for (sh <- Seq(Dedup.hashedWordShingles(docs, "doc_id", "text"),
                     Dedup.wordShingles(docs, "doc_id", "text", 2))) {
        assert(sh.count() == sh.distinct().count(), "the reference needs distinct rows")
        for (minJ <- Seq(0.0, 0.3, 0.8)) {
          val want = bits(jaccardPairsJoin(sh, minJ))
          assert(bits(Dedup.jaccardPairs(sh, minJ)) == want, s"minJaccard $minJ")
          if (minJ == 0.0) assert(want.exists(_._3 != java.lang.Double.doubleToRawLongBits(1.0)))
        }
      }
    }
  }
}

object PropertySpec {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** [[Dedup.jaccardFor]] as it was before the shingle-set verification:
    * `|A∩B|` from a join keyed on `(id_b, shingle)`, set sizes as row
    * counts. Exact on distinct `(id, shingle)` and pair rows only. */
  def jaccardForJoin(pairs: DataFrame, sh: DataFrame): DataFrame = {
    val a = sh.select(col("sh_id").as("id_a"), col("shingle"))
    val b = sh.select(col("sh_id").as("id_b"), col("shingle"))
    attachJaccard(pairs.join(a, Seq("id_a")).join(b, Seq("id_b", "shingle"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter")), sh)
  }

  /** The old forms' shared tail: `|A∩B| / |A∪B|` with set sizes taken as
    * row counts of `sh`. */
  private def attachJaccard(inter: DataFrame, sh: DataFrame): DataFrame = {
    val sizes = sh.groupBy("sh_id").agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed("sh_id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("sh_id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .select("id_a", "id_b", "jaccard")
  }

  /** [[Dedup.jaccardPairs]] as it was before it deduplicated its input:
    * the shingle self-join counts `|A∩B|`, set sizes are row counts. Exact
    * on distinct `(id, shingle)` rows only. */
  def jaccardPairsJoin(sh0: DataFrame, minJaccard: Double): DataFrame = {
    val sh = sh0.localCheckpoint()
    val a = sh.select(col("sh_id").as("id_a"), col("shingle"))
    val b = sh.select(col("sh_id").as("id_b"), col("shingle"))
    attachJaccard(a.join(b, Seq("shingle")).filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter")), sh)
      .filter(col("jaccard") >= minJaccard)
  }

  /** [[Dedup.minhashDuplicates]] as it was: the shingle rows checkpointed,
    * candidates from their signatures, verification by [[jaccardForJoin]]. */
  def minhashDuplicatesJoin(sh0: DataFrame, minJaccard: Double,
                            numHashes: Int = 128, bands: Int = 32): DataFrame = {
    val sh = sh0.localCheckpoint()
    val cands = Dedup.lshCandidatePairs(Dedup.minhashSignatures(sh, numHashes), bands, numHashes)
    jaccardForJoin(cands, sh).filter(col("jaccard") >= minJaccard)
  }
}
