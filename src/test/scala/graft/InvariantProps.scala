package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

import graft.operators.Dedup

/** Property-based invariants (SURVEY §5.2) over randomly generated
  * frames: partition laws for semi/anti joins, conservation laws for the
  * unpivot jobs, dedup idempotence, Jaccard bounds, SimHash banding
  * exactness. Kept to 10 cases per property — each case runs real Spark
  * jobs.
  */
object InvariantProps extends Properties("graft.invariants") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(10).withMaxSize(25)

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-props")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
  import spark.implicits._

  private val genIds: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.choose(1L, 40L)).map(_.distinct)

  property("boundedCollect: one-job fetch returns exactly the rows " +
    "under the cap and refuses EXACTLY past it — no partitioning-shape " +
    "sensitivity, never a silent truncation") =
    Prop.forAll(Gen.listOf(Gen.choose(0L, 1000L)),
      Gen.choose(1, 8), Gen.choose(0L, 60L)) { (xs, nParts, cap) =>
      import graft.plans.WandKernel
      // hash-partitioning concentrates duplicates — with few distinct
      // values whole inputs pack into one partition, exactly the
      // bucketed-layout shape the refusal rule must NOT be sensitive to
      val ds = xs.toDS().repartition(nParts, col("value"))
      WandKernel.boundedCollect(ds, cap) match {
        case Some(arr) =>
          // accepted: EXACTLY the input multiset, and the cap held
          arr.sorted.toSeq == xs.sorted && xs.length <= cap
        case None =>
          // refused: if and only if the total really exceeds the cap
          xs.length > cap
      }
    }

  property("semi and anti joins partition the left side") =
    Prop.forAll(genIds, genIds) { (left, right) =>
      val l = left.toDF("k")
      val r = right.toDF("k")
      val semi = l.join(r, Seq("k"), "left_semi").count()
      val anti = l.join(r, Seq("k"), "left_anti").count()
      semi + anti == left.size.toLong &&
        semi == left.count(right.toSet)
    }

  property("stack unpivot conserves the measures") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1, 9), Gen.choose(0L, 50L), Gen.choose(0L, 50L)))) { rows =>
      val df = rows.toDF("k", "a", "b")
        .groupBy("k").agg(sum("a").as("a"), sum("b").as("b"))
      val long = df.selectExpr("k", "stack(2, 'a', a, 'b', b) AS (m, v)")
      val back = long.groupBy("k").agg(sum("v").as("v"))
        .agg(sum("v")).head.getLong(0)
      val direct = rows.map(r => r._2 + r._3).sum
      back == direct && long.count() == df.count() * 2
    }

  property("exact dedup: idempotent, survivors unique and minimal") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1L, 99L), Gen.oneOf("aa", "bb", "cc", "dd")))) { rows =>
      val df = rows.toDF("doc_id", "text")
      def dedup(d: DataFrame): DataFrame =
        d.groupBy("text").agg(min("doc_id").as("doc_id"))
          .select("doc_id", "text")
      val once = dedup(df).collect().map(_.toSeq).toSet
      val twice = dedup(dedup(df)).collect().map(_.toSeq).toSet
      val expected = rows.groupBy(_._2).map { case (t, rs) =>
        Seq[Any](rs.map(_._1).min, t)
      }.toSet
      once == twice && once == expected
    }

  private val genDocs: Gen[List[(Long, String)]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1L, 30L),
      Gen.nonEmptyListOf(Gen.oneOf("k", "x", "row", "scan", "agg", "tbl"))
        .map(_.mkString(" "))))
      .map(_.groupBy(_._1).map { case (id, vs) => (id, vs.head._2) }.toList)

  property("jaccard pairs: bounds, ordering, reflexive exclusion") =
    Prop.forAll(genDocs) { docs =>
      val sh = Dedup.shingleIndex(docs.toDF("doc_id", "text"), 2)
      val pairs = Dedup.jaccardPairs(sh, 0.0).collect()
      pairs.forall { r =>
        val (a, b, j) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        a < b && j >= 0.0 && j <= 1.0
      }
    }

  property("identical docs always have jaccard 1 and are found") =
    Prop.forAll(genDocs.suchThat(_.nonEmpty)) { docs =>
      // only docs long enough to carry a 2-shingle participate
      val twoTok = docs.filter(_._2.split(" ").length >= 2)
      twoTok.isEmpty || {
        val (id, text) = twoTok.head
        val corpus = (twoTok :+ (id + 1000L, text)).toDF("doc_id", "text")
        val pairs = Dedup
          .jaccardPairs(Dedup.shingleIndex(corpus, 2), 0.999)
          .collect().map(r => (r.getLong(0), r.getLong(1)))
        pairs.contains((id, id + 1000L))
      }
    }

  property("voter_turnout: Voted + Didn't Vote = distinct-registered sum") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(1L, 15L),          // ward
        Gen.choose(1, 3),             // registered bucket (×1000)
        Gen.choose(0L, 500L)))) { stats =>
      // all wards complete: one VD each with nonzero votes at event 1091
      val wardIds = stats.map(_._1).distinct
      object Src extends graft.jobs.ElectionSources {
        import graft.jobs.ElectionSchemas
        private def mk(s: org.apache.spark.sql.types.StructType,
            rows: Seq[org.apache.spark.sql.Row]) =
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](
              scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), s)
        def wards: org.apache.spark.sql.DataFrame =
          mk(ElectionSchemas.wards,
            wardIds.map(w => org.apache.spark.sql.Row(1, 1, w)))
        def munis = mk(ElectionSchemas.munis, Seq())
        def councilWinners = mk(ElectionSchemas.councilWinners, Seq())
        def parties = mk(ElectionSchemas.parties, Seq())
        def votingDistricts =
          mk(ElectionSchemas.votingDistricts,
            wardIds.map(w => org.apache.spark.sql.Row(w, 78)))
        def displayVotingDistricts =
          mk(ElectionSchemas.displayVotingDistricts,
            wardIds.map(w => org.apache.spark.sql.Row(w, w, 5L, 1091)))
        def vdStats =
          mk(ElectionSchemas.vdStats, stats.map { case (w, r, t) =>
            org.apache.spark.sql.Row(w, r * 1000L, t, 1091)
          })
        def displayWard = mk(ElectionSchemas.displayWard, Seq())
        def wardCandidates = mk(ElectionSchemas.wardCandidates, Seq())
        def ballotResultsJson = Seq.empty[String].toDF("body")
        def councilorsJson = ballotResultsJson
        def seatResultsJson = ballotResultsJson
      }
      val out = graft.jobs.SanefJobs
        .run(spark, Src, "voter_turnout").collect()
      val byWard = out.groupBy(_.getLong(0))
      byWard.forall { case (w, rows) =>
        val m = rows.map(r => r.getString(1) -> r.getLong(2)).toMap
        val expectedTotal = stats.filter(_._1 == w).map(_._2)
          .distinct.map(_ * 1000L).sum
        m("Voted") + m("Didn't Vote") == expectedTotal
      } && byWard.keySet == stats.map(_._1).toSet
    }

  property("simhash: identical docs collide at hamming 0 via banding") =
    Prop.forAll(genDocs.suchThat(_.nonEmpty)) { docs =>
      val (id, text) = docs.head
      val corpus = (docs :+ (id + 1000L, text)).toDF("doc_id", "text")
      val fps = Dedup.simhashFingerprints(corpus)
      val pairs = Dedup.simhashPairs(fps, 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      pairs.exists(p => p._1 == id && p._2 == id + 1000L && p._3 == 0)
    }

  // -------------------------------------------------------------------
  // Kernel laws for the custom expressions (each kernel is also driven
  // through real plans elsewhere; these pin the algebra directly).
  // -------------------------------------------------------------------
  import org.apache.spark.sql.catalyst.util.GenericArrayData

  private val genHashes: Gen[List[Long]] =
    Gen.nonEmptyListOf(Gen.choose(Long.MinValue, Long.MaxValue))

  property("minhash signature is permutation-invariant and elementwise-monotone") =
    Prop.forAll(genHashes) { hs =>
      def sig(xs: List[Long]): Seq[Long] =
        graft.functions.MinHashSignature
          .computeSignature(new GenericArrayData(xs.toArray), 16)
          .toLongArray().toSeq
      val s = sig(hs)
      // order never matters (min commutes), and adding an element can
      // only lower (or keep) every slot
      sig(hs.reverse) == s &&
        sig(scala.util.Random.shuffle(hs)) == s && {
          val more = sig(hs :+ 42L)
          more.zip(s).forall { case (a, b) => a <= b }
        }
    }

  property("simhash fingerprint bit j equals the per-bit majority") =
    Prop.forAll(genHashes) { hs =>
      val fp = graft.functions.SimHashFingerprint
        .computeFingerprint(new GenericArrayData(hs.toArray))
      (0 until 64).forall { j =>
        val ones = hs.count(h => ((h >>> j) & 1L) == 1L)
        val expected = ones > hs.size - ones
        (((fp >>> j) & 1L) == 1L) == expected
      }
    }

  private val genWord: Gen[String] =
    Gen.chooseNum(0, 8).flatMap(n =>
      Gen.listOfN(n, Gen.alphaLowerChar).map(_.mkString))

  property("deletion neighborhood: sound blocking key for levenshtein <= 2") =
    Prop.forAll(genWord, genWord) { (a, b) =>
      def nbr(s: String): Set[String] =
        graft.functions.DeletionNeighborhood
          .computeNeighborhood(
            org.apache.spark.unsafe.types.UTF8String.fromString(s), 2)
          .array.map(_.toString).toSet
      def lev(x: String, y: String): Int = {
        val d = Array.tabulate(x.length + 1, y.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to x.length; j <- 1 to y.length)
          d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
            d(i - 1)(j - 1) + (if (x(i - 1) == y(j - 1)) 0 else 1))
        d(x.length)(y.length)
      }
      // the theorem the SymSpell join relies on: distance <= 2 implies a
      // shared <=2-deletion variant (converse not required — verified)
      lev(a, b) > 2 || (nbr(a) & nbr(b)).nonEmpty
    }

  property("md5-simhash kernel: set bit means strictly positive majority") =
    Prop.forAll(Gen.nonEmptyListOf(genWord.suchThat(_.nonEmpty))) { toks =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      import org.apache.spark.unsafe.types.UTF8String
      val fp = graft.functions.SimHashMd5Fingerprint
        .computeFromTokens(new GenericArrayData(
          toks.map(UTF8String.fromString).toArray))
      val h32s = toks.map { t =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        ((d(0) & 0xff) << 24) | ((d(1) & 0xff) << 16) |
          ((d(2) & 0xff) << 8) | (d(3) & 0xff)
      }
      // high 32 bits always clear, each low bit is the strict majority
      (fp >>> 32) == 0L && (0 until 32).forall { j =>
        val ones = h32s.count(h => ((h >>> j) & 1) == 1)
        (((fp >>> j) & 1L) == 1L) == (ones > h32s.size - ones)
      }
    }

  private val genFp32: Gen[Long] = Gen.choose(0L, 0xFFFFFFFFL)

  property("8-bit-chunk banding is pigeonhole-exact for hamming <= 3 " +
    "on 32-bit fingerprints") =
    Prop.forAll(Gen.listOfN(6, genFp32)) { fps =>
      val frame = fps.zipWithIndex
        .map { case (f, i) => (i.toLong, f) }.toDF("doc_id", "simhash")
      val banded = Dedup.simhashPairs(frame, 3, chunkBits = 8).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val brute = (for {
        (fa, ia) <- fps.zipWithIndex; (fb, ib) <- fps.zipWithIndex
        if ia < ib
        h = java.lang.Long.bitCount(fa ^ fb) if h <= 3
      } yield (ia.toLong, ib.toLong, h)).toSet
      banded == brute
    }

  property("ppm codec: encode/decode round-trips any raster") =
    Prop.forAll(Gen.choose(1, 6), Gen.choose(1, 6)) { (w, h) =>
      Prop.forAll(Gen.listOfN(w * h * 3,
        Gen.choose(0, 255).map(_.toByte))) { px =>
        val img = graft.multimodal.PpmCodec.Image(w, h, px.toArray)
        val back = graft.multimodal.PpmCodec
          .decode(graft.multimodal.PpmCodec.encode(img))
        back.exists(b => b.width == w && b.height == h &&
          b.rgb.toSeq == px)
      }
    }

  property("repetition kernel counters equal the brute-force reference") =
    Prop.forAll(Gen.listOf(Gen.oneOf("a", "b", "c", "d", "ab", "xyz"))) {
      toks =>
        val got = {
          import org.apache.spark.sql.catalyst.util.GenericArrayData
          import org.apache.spark.unsafe.types.UTF8String
          graft.functions.RepetitionStats
            .compute(new GenericArrayData(
              toks.map(UTF8String.fromString).toArray))
            .toLongArray().toSeq
        }
        // brute force over the actual strings (the kernel counts 64-bit
        // gram fingerprints; equality here shows no collision artifacts
        // and pins the open-addressed table against a naive count)
        val bigrams = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toList
        val bgCounts = bigrams.groupBy(identity).view.mapValues(_.size)
        val expect = Seq(
          toks.size.toLong,
          toks.distinct.size.toLong,
          bigrams.size.toLong,
          bgCounts.values.filter(_ > 1).sum.toLong,
          if (bigrams.isEmpty) 0L else bgCounts.values.max.toLong,
          if (bigrams.isEmpty) 0L
          else bgCounts.values.max.toLong * 1000000L / bigrams.size)
        got == expect
    }

  property("lsh probe matchesAny agrees with computeBuckets per table") =
    Prop.forAll(
      Gen.listOfN(8, Gen.choose(-1.0f, 1.0f)),
      Gen.listOfN(8, Gen.choose(-1.0f, 1.0f))) { (v, q) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val tables = 4; val bits = 3
      def buckets(x: List[Float]): Array[Int] =
        graft.functions.LshBuckets
          .computeBuckets(new GenericArrayData(x.toArray), tables, bits)
          .toIntArray()
      val vb = buckets(v); val qb = buckets(q)
      val expect = vb.indices.exists(t => vb(t) == qb(t))
      val got = graft.functions.LshBuckets
        .matchesAny(new GenericArrayData(v.toArray), qb, bits)
      // self-match is always true; cross-match iff any table collides
      got == expect && graft.functions.LshBuckets
        .matchesAny(new GenericArrayData(v.toArray), vb, bits)
    }

  private val genEdges: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(0L, 30L), Gen.choose(0L, 30L)))

  property("connected components equal union-find on random graphs, both paths") =
    Prop.forAll(genEdges) { edges =>
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElseUpdate(r, r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      val loops = edges.filter { case (a, b) => a != b }
      loops.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val brute = parent.keys.map(k => k -> find(k)).toMap
      val df = edges.toDF("a", "b")
      def run(threshold: Long): Map[Long, Long] =
        graft.operators.Clustering
          .connectedComponents(df, "a", "b", threshold)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // self-loop-only inputs yield empty graphs on both sides
      run(0L) == brute && run(1000000L) == brute
    }

  property("incremental components: extend(labels(E0), E1) == labels(E0∪E1)") =
    Prop.forAll(genEdges, genEdges) { (e0, e1) =>
      def labels(edges: List[(Long, Long)]): Map[Long, Long] =
        graft.operators.Clustering
          .connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val l0 = labels(e0).toList.toDF("doc_id", "cluster_id")
      val extended = graft.operators.Clustering
        .extendComponents(l0, e1.toDF("id_a", "id_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      extended == labels(e0 ++ e1)
    }

  private val genQualityDocs: Gen[List[(Long, String)]] =
    Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1L, 30L),
      Gen.listOfN(30, Gen.frequency(
        // stopwords present often enough that the stopword rule cuts
        // both ways; "x" drags mean word length toward the lower bound
        3 -> Gen.oneOf("the", "a", "of"),
        5 -> Gen.oneOf("table", "window", "stream", "batch", "query"),
        2 -> Gen.oneOf("x", "k")))
        .map(_.mkString(" "))))
      .map(_.groupBy(_._1).map { case (id, vs) => (id, vs.head._2) }.toList)

  property("gopher gate admits exactly the battery's keep=1 set") =
    Prop.forAll(genQualityDocs) { docs =>
      val df = docs.toDF("doc_id", "text")
      val battery = graft.operators.Quality.gopherRules(df)
        .filter(col("keep") === 1)
        .collect().map(_.getLong(0)).toSet
      val gate = graft.operators.Quality.gopherFilter(df)
        .collect().map(_.getLong(0)).toSet
      gate == battery
    }

  property("unimax waterfill matches the driver-side reference") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0, 5), Gen.choose(1, 50)))) { raw =>
      // distinct languages with 1..50 one-word tokens each
      val langs = raw.groupBy(_._1).map { case (l, vs) =>
        (s"l$l", vs.head._2) }.toList
      val docs = langs.map { case (l, k) =>
        (l, Seq.fill(k)("w").mkString(" ")) }.toDF("lang", "text")
      val got = graft.operators.Sampling.langBudget(docs)
        .collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
      // reference waterfill: t such that Σ min(cap, t) = B, by scanning
      // capacities in ascending order
      val e = graft.operators.Sampling.UniMaxEpochCap
      val b = langs.map(_._2.toDouble).sum
      val caps = langs.map { case (l, k) => l -> e * k }.sortBy(_._2)
      val n = caps.length
      var spent = 0.0
      var level = Double.MaxValue
      var capped = 0
      for (((_, c), i) <- caps.zipWithIndex if level == Double.MaxValue) {
        val t = (b - spent) / (n - i)
        if (c <= t) { spent += c; capped = i + 1 } else level = t
      }
      if (level == Double.MaxValue) level = caps.last._2
      val expected = caps.map { case (l, c) => l -> math.min(c, level) }
      expected.forall { case (l, a) => math.abs(got(l) - a) < 0.01 }
    }

  property("span scrub conserves tokens and equals brute force") =
    Prop.forAll(genDocs) { docs =>
      val n = 2 // short grams so random 6-word-vocab docs collide often
      val got = Dedup.duplicatedSpanScrub(docs.toDF("doc_id", "text"), n)
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
        .toMap
      val toks = docs.map { case (id, t) =>
        id -> t.trim.split("\\s+").filter(_.nonEmpty).toSeq }
      val hot = toks
        .flatMap { case (id, ts) =>
          ts.sliding(n).filter(_.length == n).map(_.mkString(" "))
            .toSet[String].map((_, id)) }
        .groupBy(_._1).filter(_._2.map(_._2).distinct.length >= 2).keySet
      toks.forall { case (id, ts) =>
        val covered = ts.sliding(n).zipWithIndex
          .filter { case (w, _) => w.length == n && hot(w.mkString(" ")) }
          .flatMap { case (_, i) => i until i + n }.toSet
        val clean = ts.zipWithIndex.filterNot(t => covered(t._2)).map(_._1)
        val (nTok, nRm, text) = got(id)
        // conservation: removed + kept = total, text matches brute force
        nTok == ts.length.toLong && nRm == covered.size.toLong &&
          nTok - nRm == clean.length.toLong && text == clean.mkString(" ")
      }
    }

  // --- merge-kernel laws: the sorted-merge sparse kernels that power
  // the broadcast cosine/retrieval/BM25 queries and the Jaccard verify
  // must agree with naive set/map arithmetic on arbitrary inputs ---
  private val genVec: Gen[List[(Long, Double)]] =
    Gen.listOf(Gen.zip(Gen.choose(1L, 30L), Gen.choose(0.1, 9.9)))
      .map(_.distinctBy(_._1).sortBy(_._1))

  property("sparseDot kernel == naive map dot, and is symmetric") =
    Prop.forAll(genVec, genVec) { (a, b) =>
      val (ka, wa) = (a.map(_._1).toArray, a.map(_._2).toArray)
      val (kb, wb) = (b.map(_._1).toArray, b.map(_._2).toArray)
      val (dot, shared) = operators.TextAnalysis.sparseDot(ka, wa, kb, wb)
      val ma = a.toMap
      val mb = b.toMap
      val keys = ma.keySet intersect mb.keySet
      val naive = keys.toList.map(k => ma(k) * mb(k)).sum
      val (dotR, sharedR) = operators.TextAnalysis.sparseDot(kb, wb, ka, wa)
      shared == keys.size && math.abs(dot - naive) < 1e-9 &&
        sharedR == shared && math.abs(dotR - dot) < 1e-12
    }

  property("sparseSum kernel == naive filtered sum over the query set") =
    Prop.forAll(genVec.map(_.map(_._1)), genVec) { (q, c) =>
      val qk = q.toArray
      val (ck, cw) = (c.map(_._1).toArray, c.map(_._2).toArray)
      val (s0, shared) = operators.TextAnalysis.sparseSum(qk, ck, cw)
      val qs = q.toSet
      val hits = c.filter(t => qs(t._1))
      shared == hits.size && math.abs(s0 - hits.map(_._2).sum) < 1e-9
    }


  // --- snapshotDiff partition law: keys classify into exactly
  // added/removed/changed; unchanged keys never surface; the CDC output
  // over random old/new snapshots equals naive map arithmetic ---
  private val genSnap: Gen[List[(Long, Long)]] =
    Gen.listOf(Gen.zip(Gen.choose(1L, 25L), Gen.choose(0L, 3L)))
      .map(_.distinctBy(_._1))

  property("snapshotDiff == naive map diff; unchanged keys absent") =
    Prop.forAll(genSnap, genSnap) { (oldS, newS) =>
      val o = oldS.toDF("k", "v")
      val n = newS.toDF("k", "v")
      val got = operators.Reshape.snapshotDiff(o, n, "k", Seq("v"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getString(1), Option(r.get(2)), Option(r.get(3)))).toMap
      val om = oldS.toMap
      val nm = newS.toMap
      val expect = (om.keySet ++ nm.keySet).flatMap { k =>
        (om.get(k), nm.get(k)) match {
          case (None, Some(nv)) => Some(k -> ("added", None, Some(nv)))
          case (Some(ov), None) => Some(k -> ("removed", Some(ov), None))
          case (Some(ov), Some(nv)) if ov != nv =>
            Some(k -> ("changed", Some(ov), Some(nv)))
          case _ => None
        }
      }.toMap
      got == expect
    }

  // --- RRF fusion law: fused ranking over arbitrary rank lists equals
  // the naive vote-sum reference, including rank-position tie-breaks ---
  private val genRanking: Gen[List[(Long, List[Long])]] =
    Gen.listOf(Gen.zip(Gen.choose(1L, 5L),
      Gen.nonEmptyListOf(Gen.choose(1L, 20L)).map(_.distinct)))
      .map(_.distinctBy(_._1))

  property("rrfFusion == naive vote-sum reference") =
    Prop.forAll(genRanking, genRanking) { (ra, rb) =>
      def toDf(r: List[(Long, List[Long])]) = r.flatMap { case (q, ns) =>
        ns.zipWithIndex.map { case (nid, i) => (q, i + 1, nid) }
      }.toDF("query_id", "rnk", "neighbor_id")
      val got = operators.TextAnalysis
        .rrfFusion(Seq(toDf(ra), toDf(rb)), 4).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toList
      def votes(r: List[(Long, List[Long])]) = r.flatMap { case (q, ns) =>
        ns.zipWithIndex.map { case (nid, i) => ((q, nid), 1.0 / (61 + i)) }
      }
      val fused = (votes(ra) ++ votes(rb))
        .groupBy(_._1).map { case ((q, nid), vs) =>
          (q, nid, BigDecimal(vs.map(_._2).sum)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
      val expect = fused.groupBy(_._1).toList.flatMap { case (q, rows) =>
        rows.toList.sortBy(t => (-t._3, t._2)).take(4).zipWithIndex
          .map { case ((_, nid, s), i) => (q, i + 1, nid, s) }
      }.sortBy(t => (t._1, t._2))
      got == expect
    }

  // --- rendezvous law: assignment equals the driver-side HRW argmax,
  // and growing k → k+1 moves docs ONLY to the new shard ---
  property("rendezvous shard == driver argmax; growth moves only to new") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0L, 5000L)).map(_.distinct),
      Gen.choose(2, 8)) { (ids, k) =>
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      def ref(id: Long, shards: Int): Int =
        (0 until shards).maxBy(i => md5hex(s"$id:shard$i"))
      val df = ids.toDF("doc_id")
      def got(shards: Int): Map[Long, Int] = df.select(col("doc_id"),
          operators.Sampling.rendezvousShard(col("doc_id"), shards)
            .as("shard"))
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      val atK = got(k)
      val atK1 = got(k + 1)
      ids.forall(id => atK(id) == ref(id, k)) &&
        ids.forall(id => atK1(id) == atK(id) || atK1(id) == k)
    }

  // --- pq law: the distributed encoder assigns every subvector to the
  // argmin codeword of the trained books — kernel ≡ driver-side
  // reference on arbitrary vector sets ---
  property("pq encode == driver-side argmin over the trained books") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(0L, 500L),
      Gen.listOfN(8, Gen.choose(-5, 5))))) { raw =>
      val vecs = raw.toMap.toSeq.map { case (id, xs) =>
        (id, xs.map(_.toFloat).toArray)
      }
      val df = vecs.toDF("vec_id", "embedding")
      val books = operators.Similarity.pqTrain(df, m = 4, k = 4, iters = 1)
      val got = operators.Similarity.pqEncode(df, books)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
      def norm(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0.0) v else v.map(_ / n)
      }
      vecs.forall { case (id, fv) =>
        val v = norm(fv.map(_.toDouble))
        val want = (0 until 4).map { j =>
          books(j).zipWithIndex.minBy { case (cw, _) =>
            cw.zipWithIndex.map { case (c, p) =>
              val t = v(j * 2 + p) - c; t * t
            }.sum
          }._2
        }
        got(id) == want
      }
    }

  // --- snapshot pruning law: for ANY clustered/unclustered appends and
  // ANY range, the stats-pruned read equals the unpruned filter ---
  property("snapshot readWhere == unpruned filter on arbitrary appends") =
    Prop.forAll(
      Gen.listOfN(3, Gen.nonEmptyListOf(Gen.choose(0L, 100L))),
      Gen.choose(0L, 100L), Gen.choose(0L, 100L)) { (batches, a, b) =>
      val (lo, hi) = (math.min(a, b).toDouble, math.max(a, b).toDouble)
      val root = java.nio.file.Files
        .createTempDirectory("graft-prune-prop").toString
      batches.foreach(ids =>
        graft.plans.SnapshotStore.append(ids.toDF("id"), root))
      def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
        df.select("id").collect().map(_.getLong(0)).toSeq.sorted
      ids(graft.plans.SnapshotStore.readWhere(spark, root, "id", lo, hi)) ==
        ids(graft.plans.SnapshotStore.read(spark, root)
          .filter(col("id") >= lo && col("id") <= hi))
    }

  // --- snapshot-table law: for ANY sequence of append/overwrite
  // commits, the table at every version equals a trivial driver-side
  // fold (append = multiset union, overwrite = replace) — the log
  // replay IS the semantics, with time travel checked at every
  // intermediate version, not just latest ---
  property("snapshot log replay == reference fold at every version") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.oneOf("append", "overwrite"),
      Gen.nonEmptyListOf(Gen.choose(1L, 30L))))) { ops0 =>
      // seed through the checkpoint interval so EVERY case interleaves
      // a checkpoint record (v10) with the generated suffix — the law
      // then proves checkpoint+suffix replay AND the pre-checkpoint
      // full-record fallback (time travel at every version below 10)
      // agree with the reference fold
      val seed = (0 until graft.plans.SnapshotStore.CheckpointInterval)
        .map(i => ("append", List(100L + i)))
      val ops = seed ++ ops0.take(6) // each commit writes real parquet
      val root = java.nio.file.Files
        .createTempDirectory("graft-snap-prop").toString
      val model = scala.collection.mutable.ArrayBuffer.empty[Seq[Long]]
      var state = Seq.empty[Long]
      ops.foreach { case (action, ids) =>
        val df = ids.toDF("id")
        if (action == "append") {
          graft.plans.SnapshotStore.append(df, root)
          state = state ++ ids
        } else {
          graft.plans.SnapshotStore.overwrite(df, root)
          state = ids
        }
        model += state
      }
      def contents(asOf: Option[Int]): Map[Long, Long] =
        graft.plans.SnapshotStore.read(spark, root, asOf)
          .groupBy("id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      def refCounts(s: Seq[Long]): Map[Long, Long] =
        s.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val everyVersion = model.zipWithIndex.forall { case (want, v) =>
        contents(Some(v)) == refCounts(want)
      }
      everyVersion && contents(None) == refCounts(model.last)
    }

  // tiny alphabet + short words force dense pair interactions: merged
  // symbols collide with later concatenations, pairs reappear after
  // being merged away, ties hit the UTF-8 ordering — exactly the cases
  // the incremental trainer's index/heap bookkeeping must survive
  private val genBpeWord: Gen[String] =
    Gen.choose(1, 8).flatMap(len =>
      Gen.listOfN(len, Gen.oneOf('a', 'b', 'c')).map(_.mkString))

  property("incremental driver-local bpe trainer == sequential loop " +
    "(merge sequence and final segmentation)") =
    Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(genBpeWord, Gen.choose(1L, 9L))),
      Gen.choose(1, 12)) { (wordFreqs, n) =>
      import graft.operators.TextAnalysis
      val vocab0 = wordFreqs.toDF("w", "freq")
        .groupBy("w").agg(sum("freq").as("freq"))
        .select(col("w"), col("freq"),
          filter(split(col("w"), ""), x => x =!= "").as("syms"))
        .localCheckpoint(true)
      val (ms, vs) = TextAnalysis.bpeVocabLoopSequential(vocab0, n)
      val (ml, vl) = TextAnalysis.bpeVocabLoopLocal(vocab0, n)
      def segs(v: DataFrame): Map[String, Seq[String]] =
        v.select("w", "syms").as[(String, Seq[String])].collect().toMap
      ms == ml && segs(vs) == segs(vl)
    }

  // --- WAND exactness law -------------------------------------------
  // The last two rounds' WAND bugs (OOV inner join, unreachable
  // collect cap) lived exactly in inputs the fixtures didn't generate;
  // this law randomizes the corpus (skewed term frequencies, an
  // optional UBIQUITOUS term that makes idf-0 / zero-norm docs), the
  // extend batch (including out-of-build-vocabulary terms), a delete
  // set, the query batch, and the prefix/broadcast budgets — and pins
  // wandSearch == search for BOTH stores through BOTH orchestrations.
  // A tiny broadcastRows forces the driver-planned path to serve
  // through the chunked scoring loop in place (r14 — it refused to
  // the distributed orchestration before) and the distributed path to
  // split its scoring broadcast, so the cap machinery fires at spec
  // scale on both sides of every budget boundary.

  private val genWandWord: Gen[String] = Gen.frequency(
    5 -> Gen.oneOf("the", "of", "and"),
    4 -> Gen.oneOf("alpha", "beta", "gamma", "delta", "eps", "zeta"),
    1 -> Gen.oneOf("rarest", "rarer"))

  private val genWandText: Gen[String] =
    Gen.choose(1, 8).flatMap(n =>
      Gen.listOfN(n, genWandWord).map(_.mkString(" ")))

  private val genExtendText: Gen[String] =
    Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, Gen.frequency(
        3 -> genWandWord,
        1 -> Gen.oneOf("oovalpha", "oovbeta"))).map(_.mkString(" ")))

  private case class WandCase(
      corpus: List[(Long, String)], extendB: List[(Long, String)],
      dead: List[Long], queryIds: List[Long],
      prefixP: Int, bcast: Long, compact: Boolean)

  private val genWandCase: Gen[WandCase] = for {
    n <- Gen.choose(3, 14)
    texts <- Gen.listOfN(n, genWandText)
    ubiq <- Gen.oneOf(true, false)
    nx <- Gen.choose(0, 4)
    xTexts <- Gen.listOfN(nx, genExtendText)
    allIds = (1L to n.toLong).toList ++ (101L until (101L + nx)).toList
    dead <- Gen.someOf(allIds)
    qIds <- Gen.someOf(allIds :+ 999L) // 999 is never indexed
    prefixP <- Gen.oneOf(1, 2, 3, 8)
    bcast <- Gen.oneOf(1L, 40L, 4000000L)
    // COMPACT is the input family the round-11 cap bug lived in: the
    // physical rewrite leaves rank GAPS in the prefixes (a term whose
    // whole top-P died keeps a tail with zero prefix rows), which
    // tombstone-only masking never produces
    compact <- Gen.oneOf(true, false)
  } yield {
    // the ubiquitous regime: every doc carries "ubiq" and one extra
    // doc is ONLY "ubiq" — df == n_docs gives it idf 0, so that doc is
    // the zero-norm case the tf-idf build must drop, not NaN-poison
    val base = texts.zipWithIndex
      .map { case (t, i) => ((i + 1).toLong, if (ubiq) s"$t ubiq" else t) }
    val corpus =
      if (ubiq) base :+ ((n + 1).toLong, "ubiq") else base
    val ext = xTexts.zipWithIndex
      .map { case (t, i) => ((101 + i).toLong, t) }
    WandCase(corpus, ext, dead.toList, qIds.toList, prefixP, bcast,
      compact)
  }

  property("wandSearch == search: both stores, both orchestrations, " +
    "random corpora/extends/deletes/queries at random budgets") =
    Prop.forAll(genWandCase) { c =>
      import graft.plans.{Bm25IndexStore, Retire, TfidfIndexStore, WandKernel}
      val tag = java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val tmp = java.nio.file.Files
        .createTempDirectory(s"graft-wandlaw").toString
      val bm = s"wandlaw_bm_$tag"
      val tfx = s"wandlaw_tf_$tag"
      val corpus = c.corpus.toDF("doc_id", "text")
      val docsAsQueries = (c.corpus ++ c.extendB)
        .filter(d => c.queryIds.contains(d._1))
        .toDF("doc_id", "text")
      val qIdFrame = c.queryIds.toDF("doc_id")
      try {
        Bm25IndexStore.build(corpus, bm, s"$tmp/bm", buckets = 2)
        TfidfIndexStore.build(corpus, tfx, s"$tmp/tf", buckets = 2)
        if (c.extendB.nonEmpty) {
          val ext = c.extendB.toDF("doc_id", "text")
          Bm25IndexStore.extend(ext, bm)
          TfidfIndexStore.extend(ext, tfx)
        }
        if (c.dead.nonEmpty) {
          val d = c.dead.toDF("doc_id")
          Bm25IndexStore.delete(spark, bm, d)
          TfidfIndexStore.delete(spark, tfx, d)
          if (c.compact) {
            Bm25IndexStore.compact(spark, bm)
            TfidfIndexStore.compact(spark, tfx)
          }
        }
        def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
          df.collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
            .toSeq
        val bmRef = rows(Bm25IndexStore.search(spark, bm, docsAsQueries, 3))
        val tfRef = rows(TfidfIndexStore.search(spark, tfx, qIdFrame, 3))
        val ok = Seq(true, false).forall { planned =>
          try {
            WandKernel.driverPlanningEnabled.set(planned)
            rows(Bm25IndexStore.wandSearch(spark, bm, docsAsQueries, 3,
              prefixP = c.prefixP, broadcastRows = c.bcast)) == bmRef &&
            rows(TfidfIndexStore.wandSearch(spark, tfx, qIdFrame, 3,
              prefixP = c.prefixP, broadcastRows = c.bcast)) == tfRef
          } finally WandKernel.driverPlanningEnabled.set(true)
        }
        ok
      } finally {
        Seq(bm, s"${bm}_df", s"${bm}_stats", Retire.deadTable(bm),
          tfx, s"${tfx}_norms", s"${tfx}_df", s"${tfx}_rawdf",
          s"${tfx}_stats", s"${tfx}_bydoc", Retire.deadTable(tfx))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }

  // --- WAND driver-planning refusal boundary ------------------------
  // The round-11 fix closed the rank-0-extension hole: the estpre
  // pre-check prices FROZEN df, which extend()ed postings evade (df
  // stays 0 for out-of-build-vocabulary terms), so a heavily extended
  // artifact with a shared OOV query term can expand to far more
  // driver pair cells than the estimate — the exact re-check
  // (WandKernel.scala, `expanded > cellsCap`) must refuse AFTER the
  // collect but BEFORE any pair state is built. This law constructs
  // exactly that artifact family and places the cap (via the
  // [[graft.plans.WandKernel.pairCellsCapOverride]] seam) in all three
  // regimes — below the estimate, BETWEEN estimate and true expansion
  // (the straddle only the re-check can catch), and above both —
  // asserting (a) refusal happens exactly when the cap demands it and
  // (b) wandSearch output stays ≡ search on BOTH sides of every
  // boundary (refusal = silent fallback to the distributed path,
  // never a behavior change).

  private case class RefusalCase(nCorpus: Int, nExt: Int, nQ: Int)

  private val genRefusalCase: Gen[RefusalCase] = for {
    // df(the) = nCorpus must clear the driver kernel's eligibility bar
    // estpre(1) × (1+nt=4) × RouteVolFactor(16) = 64, or no query is
    // ever driver-planned and the refusal path never engages (fixture
    // moved with the r16 route re-tune, like the IndexStoreSpec ones)
    nCorpus <- Gen.choose(80, 120)
    nExt <- Gen.choose(6, 10)
    nQ <- Gen.choose(3, 5)
  } yield RefusalCase(nCorpus, nExt, nQ)

  property("WAND refusal boundary: rank-0-extended shared-vocabulary " +
    "batches refuse driver planning exactly past the cap, and output " +
    "stays == search either side") =
    Prop.forAll(genRefusalCase) { c =>
      import graft.plans.{Bm25IndexStore, Retire, WandKernel}
      val tag = java.util.UUID.randomUUID().toString
        .replace("-", "").take(10)
      val tmp = java.nio.file.Files
        .createTempDirectory("graft-wandcap").toString
      val bm = s"wandcap_bm_$tag"
      // build corpus: doc i = "the w$i" — df(the) = nCorpus makes the
      // query's estn large enough for driver-planning eligibility
      val corpus = (1 to c.nCorpus).map(i => (i.toLong, s"the w$i"))
        .toDF("doc_id", "text")
      // extend batch: every doc carries the SHARED OOV term — frozen
      // df never counts it, so its prefix rows (rank 0, always <= P)
      // are invisible to the estpre estimate
      val ext = (1 to c.nExt)
        .map(i => ((100 + i).toLong, s"the oovshared x$i"))
      val queryDocs = ext.take(c.nQ).toDF("doc_id", "text")
      try {
        Bm25IndexStore.build(corpus, bm, s"$tmp/bm", buckets = 2)
        Bm25IndexStore.extend(ext.toDF("doc_id", "text"), bm)
        val P = 1
        // per eligible query: estpre = min(P, df(the)) + 0 + 0 = 1
        val estpreSum = c.nQ.toLong
        // true prefix rows: "the" = 1 build row at rank 1 + nExt
        // rank-0 rows, each x nQ queries; "oovshared" = nExt rank-0
        // rows x nQ; each per-query x$i = 1 rank-0 row x 1
        val expanded =
          (1L + c.nExt) * c.nQ + c.nExt.toLong * c.nQ + c.nQ
        val straddle = estpreSum + (expanded - estpreSum) / 2
        def rows(df: DataFrame): Seq[(Long, Int, Long, Double)] =
          df.collect().map(r =>
            (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
            .toSeq
        val ref = rows(Bm25IndexStore.search(spark, bm, queryDocs, 3))
        def serveAt(cap: Long): (Seq[(Long, Int, Long, Double)], Boolean) =
          try {
            WandKernel.pairCellsCapOverride.set(Some(cap))
            val out = rows(Bm25IndexStore.wandSearch(
              spark, bm, queryDocs, 3, prefixP = P))
            (out, WandKernel.lastRefusedDriverPlanning.get())
          } finally WandKernel.pairCellsCapOverride.remove()
        val (below, refusedBelow) = serveAt(estpreSum - 1)
        val (mid, refusedMid) = serveAt(straddle)
        val (above, refusedAbove) = serveAt(expanded + 8)
        // (a) the refusal fires exactly when the cap demands it:
        // below the estimate the cheap pre-check refuses; in the
        // straddle only the exact post-collect re-check can (the
        // pre-check passes by construction); above the expansion
        // driver planning serves
        val refusalLaw = refusedBelow && refusedMid && !refusedAbove
        // (b) outputs identical to search in all three regimes
        val outputLaw = below == ref && mid == ref && above == ref
        refusalLaw && outputLaw
      } finally {
        Seq(bm, s"${bm}_df", s"${bm}_stats", Retire.deadTable(bm))
          .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      }
    }

  property("usage-staleness fold: finite on every input, the no-drift " +
    "identity on degenerate sides, flat on identical measurements") =
    Prop.forAll(
      Gen.mapOf(Gen.zip(Gen.alphaStr.map(_.take(4)),
        Gen.choose(0L, 50L))),
      Gen.mapOf(Gen.zip(Gen.alphaStr.map(_.take(4)),
        Gen.choose(0L, 50L))),
      Gen.choose(0L, 1000L), Gen.choose(0L, 1000L)) { (bu, nu, bw, nw) =>
      import graft.plans.UsageStats
      val st = UsageStats.fold(bu, bw, nu, nw)
      val finite = !st.residualGrowth.isNaN && !st.residualGrowth.isInfinite &&
        !st.occupancySkew.isNaN && !st.occupancySkew.isInfinite
      // ADVICE r11/r12: BUILT-side degenerates (and an empty live
      // corpus) yield the no-drift identity, never a NaN from 0/0 —
      // but a live corpus with words and ZERO observed uses is the
      // maximally drifted state (0.0, 1.0), so rebuildIfStale fires
      val builtDegen =
        bw == 0L || nw == 0L || bu.valuesIterator.sum == 0L
      val allDead = !builtDegen && nu.valuesIterator.sum == 0L
      val identity = !builtDegen ||
        (st.residualGrowth == 1.0 && st.occupancySkew == 0.0)
      val maxDrift = !allDead ||
        (st.residualGrowth == 0.0 && st.occupancySkew == 1.0)
      // identical measurements on both sides = exactly flat
      val same = UsageStats.fold(bu, bw, bu, bw)
      val flat = bw == 0L || bu.valuesIterator.sum == 0L ||
        (same.residualGrowth == 1.0 && same.occupancySkew == 0.0)
      finite && identity && maxDrift && flat &&
        st.occupancySkew >= 0.0 && st.occupancySkew <= 1.0 + 1e-12
    }

  property("semantic contamination: the max-struct aggregate equals " +
    "the brute-force nearest-eval scan, ties and zero-norms included") =
    Prop.forAll(Gen.nonEmptyListOf(
      Gen.listOfN(4, Gen.oneOf(-1.0f, 0.0f, 1.0f, 2.0f)))) { raw =>
      import graft.operators.Similarity
      // coarse grid components force exact cosine TIES across evals
      // (the (sim desc, eval_id asc) tie-break is what the round-12
      // max(struct) rewrite must reproduce) and all-zero vectors
      // exercise the kernel's zero-norm -> 0.0 convention
      val vecs = raw.zipWithIndex.map { case (v, i) =>
        (i.toLong, v.toArray) }
      val emb = vecs.toDF("vec_id", "embedding")
      val got = Similarity.semanticContamination(
          emb, col("vec_id") % 3 === 0, 0.4)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
          r.getInt(3)))
        .toSeq
      val evals = vecs.filter(_._1 % 3 == 0)
      val corpus = vecs.filter(_._1 % 3 != 0)
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
        while (i < a.length) {
          val x = a(i).toDouble; val y = b(i).toDouble
          dot += x * y; nx += x * x; ny += y * y; i += 1
        }
        if (nx == 0.0 || ny == 0.0) 0.0
        else dot / (math.sqrt(nx) * math.sqrt(ny))
      }
      def r4(d: Double): Double =
        BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble
      val want = corpus.map { case (id, cv) =>
        val best = evals
          .map { case (eid, ev) => (r4(cos(cv, ev)), eid) }
          .minBy { case (sim, eid) => (-sim, eid) }
        (id, best._2, best._1, if (best._1 >= 0.4) 1 else 0)
      }.sortBy(_._1)
      (evals.isEmpty && got.isEmpty) || got == want
    }

  property("whole-doc packing: conservation, overflow bound, and " +
    "determinism on random corpora") =
    Prop.forAll(
      Gen.choose(1L, 5000L),
      Gen.nonEmptyListOf(Gen.zip(
        Gen.choose(0, 40),
        Gen.oneOf(true, false)))) { (budget, raw) =>
      import graft.operators.Sampling
      // random corpus: doc i has k_i words ("w w w ..."); the boolean
      // occasionally inflates a doc PAST the budget to exercise the
      // truncation flag; empty docs (k=0) must pack as zero-token rows
      val docs = raw.zipWithIndex.map { case ((k, big), i) =>
        val n = if (big) k.toLong * 97 else k.toLong
        (i.toLong, Seq.fill(n.toInt)("w").mkString(" "))
      }.toDF("doc_id", "text")
      val manifest = Sampling.packWholeDocs(docs, budget, 4L).collect()
      val totalTokens = raw.map { case (k, big) =>
        if (big) k.toLong * 97 else k.toLong }.sum
      val conserve =
        manifest.map(_.getLong(3)).sum == totalTokens &&
        manifest.map(_.getLong(2)).sum == raw.length.toLong
      // an untruncated shelf holds < 2x budget: length-descending
      // order means the overflow is bounded by the shelf's own last
      // (smallest) doc, itself <= budget when nothing is flagged
      val overflow = manifest
        .filter(_.getLong(4) == 0L)
        .forall(_.getLong(3) < 2 * budget)
      val fills = manifest.forall { r =>
        val f = r.getDouble(5); f >= 0.0 && f <= 1.0 }
      val again = Sampling.packWholeDocs(docs, budget, 4L).collect()
      conserve && overflow && fills &&
        manifest.toSeq == again.toSeq
    }

  property("unigram: distributed hard-EM E-step equals the local " +
    "viterbi reference and conserves codepoint mass") =
    Prop.forAll(Gen.nonEmptyListOf(Gen.zip(
      Gen.choose(1, 8).flatMap(n =>
        Gen.listOfN(n, Gen.oneOf('a', 'b', 'c')).map(_.mkString)),
      Gen.choose(1L, 9L)))) { raw =>
      import graft.operators.Unigram
      val wf = raw.toMap // dedupe words; last freq wins, deterministic
      val words = wf.toSeq.toDF("w", "freq")
      val chars = wf.keys.flatMap(_.toCharArray.map(_.toString))
        .toSeq.distinct
      val multi = wf.keys.flatMap { w =>
        for {
          e <- 2 to w.length
          l <- 2 to math.min(4, e)
        } yield w.substring(e - l, e)
      }.toSeq.distinct.sorted.take(8)
      // deterministic coarse scores: grid multiples make ties common,
      // exercising the longer-piece tie rule through the cluster path
      val sc = (chars ++ multi)
        .map(p => p -> -(100L * (1 + math.floorMod(p.hashCode, 5))))
        .toMap
      val got = Unigram.emCounts(words, sc)
      val want = wf.toSeq
        .flatMap { case (w, f) => Unigram.viterbi(w, sc).map((_, f)) }
        .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).sum }
      val mass = wf.map { case (w, f) => f * w.length }.sum
      Prop(got == want) :| s"distributed $got != local $want" &&
        Prop(got.map { case (p, c) => c * p.length }.sum == mass) :|
        "segmentations must tile every word"
    }
}
