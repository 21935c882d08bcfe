package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog", "s1", 43L),
    (2L, "the quick brown fox jumps over the lazy dog", "s1", 43L), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat", "s1", 43L), // near dup of 1
    (4L, "completely different words here entirely now", "s2", 45L),
    (5L, "a b", "s2", 3L) // < 3 tokens: no shingles
  ).toDF("doc_id", "text", "source", "n_chars")

  test("exact dedup groups identical texts, keeps min doc_id") {
    val got = Dedup.exact(docs).collect()
      .map(r => r.getAs[Long]("keep_id") -> r.getAs[Long]("n_copies")).toMap
    assert(got(1L) === 2L) // docs 1+2 collapse
    assert(got(3L) === 1L)
    assert(got.values.sum === 5L)
  }

  test("minhash: identical docs always pair; short docs drop out") {
    val sigs = Dedup.minhashSignatures(docs).collect()
      .map(r => r.getAs[Long]("doc_id")).toSet
    assert(sigs === Set(1L, 2L, 3L, 4L)) // doc 5 has < 3 tokens
    val pairs = Dedup.minhashCandidatePairs(docs).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // identical => all 4 bands agree
  }

  test("simhash: identical docs get identical signatures") {
    val got = Dedup.simhash(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(got(1L) === got(2L))
    assert(got.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("jaccard: identical docs = 1.0 within blocking") {
    val got = Dedup.ngramJaccardPairs(docs).collect()
      .map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")), r.getAs[Double]("jaccard"))).toMap
    assert(got((1L, 2L)) === 1.0)
    // 1 vs 3: tokens distinct sets {the,quick,brown,fox,jumps,over,lazy,dog/cat}
    // |A|=|B|=8, inter=7, union=9
    assert(math.abs(got((1L, 3L)) - 7.0 / 9.0) < 1e-15)
  }

  test("degenerate hot bucket is capped: pair count bounded by maxBucket^2, not m^2") {
    // 50 identical docs land in ONE (band, h) bucket on every band.
    // Uncapped that is 50*49/2 = 1225 pairs; maxBucket=8 bounds it to
    // 8*7/2 = 28 (the 8 smallest doc_ids), deterministically.
    val hot = (1L to 50L).map(i => (i, "same text repeated again and again", "s", 34L))
      .toDF("doc_id", "text", "source", "n_chars")
    val pairs = Dedup.minhashCandidatePairs(hot, maxBucket = 8).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.size === 28)
    assert(pairs.forall { case (a, b) => a < b && a <= 8 && b <= 8 })
    // Same bound flows through the jaccard scorer (candidates are shared).
    val j = Dedup.ngramJaccardPairs(hot, maxBucket = 8).collect()
    assert(j.length === 28 && j.forall(_.getAs[Double]("jaccard") === 1.0))
    // And the embedding block cap: one hot label, maxBlock=4 -> 6 pairs.
    val emb = (1L to 20L).map(i => (i, Array(1.0f, 2.0f, 3.0f), 7)).toDF("vec_id", "embedding", "label")
    val nd = Similarity.nearDupPairs(emb, threshold = 0.0, maxBlock = 4).collect()
    assert(nd.length === 6)
    assert(nd.forall(r => r.getAs[Long]("id_a") <= 4 && r.getAs[Long]("id_b") <= 4))
  }

  test("text ops: stats, quality, langid, fingerprint") {
    val one = Seq((1L, "the cat and the hat", "en", "s", 19L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val stats = TextOps.tokenStats(one).head()
    assert(stats.getAs[Int]("n_tokens") === 5)
    assert(stats.getAs[Int]("n_unique") === 4)
    val q = TextOps.quality(one).head()
    assert(q.getAs[Int]("n_stop") === 3) // the, and, the
    assert(q.getAs[Double]("stop_ratio") === 0.6)
    assert(q.getAs[Double]("mean_tok_len") === 3.0) // (3+3+3+3+3)/5
    val l = TextOps.langId(one).head()
    assert(l.getAs[String]("lang_guess") === "en")
    val fp = TextOps.fingerprint(one).head()
    assert(fp.getAs[String]("fp").length === 16)
    assert(fp.getAs[String]("min_shingle_fp") !== null)
  }

  test("connected components: labels a path graph and keeps components apart") {
    // Path 1-2-3-4-5 exercises multi-hop propagation (pointer jumping);
    // 10-11 is a separate component; 20-20 self-loop stays alone.
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L), (20L, 20L))
      .toDF("id_a", "id_b")
    // Both execution paths must agree: single-task union-find (default
    // for a graph this small) and the distributed hash-to-min loop
    // (forced via localEdgeLimit = 0).
    for (limit <- Seq(4L << 20, 0L)) {
      val got = Dedup.connectedComponents(pairs, localEdgeLimit = limit).collect()
        .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
      assert((1L to 5L).forall(got(_) == 1L), s"limit=$limit")
      assert(got(10L) === 10L && got(11L) === 10L, s"limit=$limit")
      assert(got(20L) === 20L, s"limit=$limit")
    }
  }

  test("connected components: empty edges and dup-free corpora degrade cleanly") {
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.connectedComponents(empty).count() === 0L)
    val uniq = Seq(
      (1L, "alpha beta gamma delta", "s", 22L),
      (2L, "epsilon zeta eta theta", "s", 22L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.clusters(uniq).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("keep")).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L)) // everyone is their own canonical
  }

  test("connected components match driver-side union-find on random graphs") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 3) {
      val n = 60
      val edges = Seq.fill(80)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      // reference: plain union-find
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val expect = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // min node id in the component = min over all touched nodes with same root
          val root = find(v.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).filter(u => find(u.toInt) == root).min
        }).toMap
      // differential across BOTH execution paths on every trial
      for (limit <- Seq(4L << 20, 0L)) {
        val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"),
            localEdgeLimit = limit).collect()
          .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
        assert(got === expect, s"trial $trial limit=$limit")
      }
    }
  }

  test("bucket caps keep their partial WindowGroupLimit (map-side skew prune)") {
    // The rank-cap must plan as WindowGroupLimit BELOW the exchange so a
    // degenerate hot bucket is pruned to `cap` rows per input partition
    // BEFORE it shuffles. Regression guard: adding any non-rank window
    // function to the same window spec silently disables this rewrite.
    for (df <- Seq(Dedup.minhashCandidatePairs(docs),
        Dedup.bucketStarEdges(docs, 4, 1000))) {
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"lost the rank-cap rewrite:\n$plan")
    }
  }

  test("distributed CC converges in O(log d) rounds on a deep path graph") {
    // A 256-node path is the adversarial shape for label propagation:
    // information must flow 255 hops. Hash-to-min must close it well
    // inside the maxIter=50 safety bound (observed ~9 rounds; a
    // pull-only rule needs >25 and would trip the bound on longer
    // paths). Forced onto the iterative path with localEdgeLimit=0.
    val path = (1L until 256L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(path, localEdgeLimit = 0L).collect()
      .map(r => r.getAs[Long]("node") -> r.getAs[Long]("label")).toMap
    assert(got.size === 256)
    assert(got.values.forall(_ == 1L))
  }

  test("clusters: exact+near dups share a cluster, keep flag marks the min id") {
    val got = Dedup.clusters(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("keep")))).toMap
    // docs 1,2 identical and 3 near-dup: all cluster to min id 1
    assert(got(1L) === ((1L, 1L)))
    assert(got(2L) === ((1L, 0L)))
    assert(got(3L) === ((1L, 0L)))
    // 4 is unique content, 5 is too short to shingle: own singleton clusters
    assert(got(4L) === ((4L, 1L)))
    assert(got(5L) === ((5L, 1L)))
  }

  test("incremental minhash: batch probes the corpus band index, no corpus self-pairs") {
    // corpus: docs 1,2 (identical text); batch: 6 = near-dup of corpus,
    // 7 = novel. Expect (6 -> 1) and (6 -> 2) candidates, nothing for 7,
    // and no corpus-corpus pair anywhere.
    val corpus = docs.filter(col("doc_id") <= 2)
    val batch = Seq(
      (6L, "the quick brown fox jumps over the lazy dog", "s1", 43L),
      (7L, "nothing like anything else in the corpus at all", "s2", 47L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.incrementalMinhashPairs(batch, Dedup.bandIndex(corpus)).collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[Long]("corpus_id"))).toSet
    assert(got === Set((6L, 1L), (6L, 2L)))
  }

  test("incremental dedup: batch drops corpus dups, keeps first copy per new hash") {
    val corpus = docs.filter(col("doc_id") <= 2) // holds the "quick brown fox dog" text
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog", "s1", 43L), // already in corpus
      (11L, "fresh novel content never seen before", "s3", 37L),
      (12L, "fresh novel content never seen before", "s3", 37L) // batch-internal dup of 11
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.incrementalExact(batch,
        corpus.select(md5(col("text")).as("text_hash"))).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_in_batch")).toMap
    assert(got === Map(11L -> 2L)) // 10 suppressed by corpus; 12 folded into 11
  }

  test("stratified sampling is deterministic and respects per-stratum rates") {
    val n = 2000
    val df = (0 until n).map(i => (i.toLong, if (i % 2 == 0) "en" else "xx"))
      .toDF("doc_id", "lang")
    val kept = Sampling.stratified(df, col("doc_id"), col("lang"),
      Map("en" -> 64), default = 256).collect()
    val en = kept.count(_.getAs[String]("lang") == "en")
    val xx = kept.count(_.getAs[String]("lang") == "xx")
    assert(xx === n / 2) // rate 256/256 keeps everything
    // md5 buckets are uniform: expect ~ n/2 * 64/256 = 250, allow slack
    assert(en > 150 && en < 350, s"en kept $en")
    // determinism: a rerun keeps exactly the same rows
    val again = Sampling.stratified(df, col("doc_id"), col("lang"),
      Map("en" -> 64), default = 256).collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === kept.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("mixture quota keeps exactly k per stratum, deterministically") {
    val df = (0 until 300).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    val kept = Sampling.mixtureQuota(df, col("doc_id"), col("source"), quota = 20).collect()
    val bySrc = kept.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySrc === Map("a" -> 20, "b" -> 20))
    // small stratum: quota larger than the stratum keeps all of it
    val tiny = Sampling.mixtureQuota(df.filter(col("doc_id") < 9), col("doc_id"),
      col("source"), quota = 20).count()
    assert(tiny === 9L)
    val again = Sampling.mixtureQuota(df, col("doc_id"), col("source"), quota = 20)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === kept.map(_.getAs[Long]("doc_id")).toSet)
  }

  test("split assignment is total, deterministic, and roughly proportioned") {
    val df = (0L until 2000L).map(i => Tuple1(i)).toDF("doc_id")
    val got = Sampling.split(df, col("doc_id")).collect()
    assert(got.length === 2000) // total: every doc lands in exactly one split
    val bySplit = got.groupBy(_.getAs[String]("split")).view.mapValues(_.length).toMap
    assert(bySplit.keySet === Set("train", "val", "test"))
    // 13/256 ≈ 5% each for val/test, md5-uniform slack
    assert(bySplit("val") > 50 && bySplit("val") < 160, bySplit)
    assert(bySplit("test") > 50 && bySplit("test") < 160, bySplit)
    val again = Sampling.split(df, col("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    got.foreach(r => assert(again(r.getAs[Long]("doc_id")) === r.getAs[String]("split")))
    // membership is stable under corpus growth: the same doc keeps its
    // split when half the corpus is missing
    val half = Sampling.split(df.filter(col("doc_id") < 1000L), col("doc_id")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("split")).toMap
    half.foreach { case (id, s) => assert(again(id) === s) }
  }

  test("temperature sampling keeps the smallest stratum whole and shrinks big ones toward sqrt") {
    // strata: "big" 1600 docs, "small" 100 -> keep-rate sqrt(100/1600) = 1/4
    val df = (0 until 1700).map(i => (i.toLong, if (i < 1600) "big" else "small"))
      .toDF("doc_id", "source")
    val kept = Sampling.temperature(df, col("doc_id"), col("source")).collect()
    val bySrc = kept.groupBy(_.getAs[String]("source")).view.mapValues(_.length).toMap
    assert(bySrc("small") === 100) // rate 1.0: nothing dropped
    // big keeps buckets < sqrt(1/16)*256 = 64 of 256: ~400, md5-uniform slack
    assert(bySrc("big") > 300 && bySrc("big") < 500, s"big kept ${bySrc("big")}")
    val again = Sampling.temperature(df, col("doc_id"), col("source"))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === kept.map(_.getAs[Long]("doc_id")).toSet) // rerun-stable
  }

  test("temperature: NULL strata are dropped and cannot shrink real strata") {
    // one NULL-source row; if it reached the counts it would set
    // n_min = 1 and shrink "a" to sqrt(1/8)*256 = 90 buckets (~35%)
    val rows = (1L to 8L).map(i => (i, "a")) :+ ((9L, null: String))
    val df = rows.toDF("doc_id", "source")
    val kept = Sampling.temperature(df, col("doc_id"), col("source")).collect()
    assert(kept.length === 8) // "a" is the only (and smallest) stratum: keeps 100%
    assert(kept.forall(_.getAs[String]("source") == "a")) // null row dropped
  }

  test("winnow: window-min fingerprints match the hand-rolled reference") {
    // 8 tokens, k=3 -> shingles s1..s6; w=4 -> windows [1..4],[2..5],[3..6]
    val words = "w1 w2 w3 w4 w5 w6 w7 w8".split(" ")
    val sh = (0 to 5).map(i => md5hex(words.slice(i, i + 3).mkString(" ")))
    val expected = Seq(sh.slice(0, 4).min, sh.slice(1, 5).min, sh.slice(2, 6).min).distinct.toSet
    val docs = Seq((1L, words.mkString(" "))).toDF("doc_id", "text")
    val got = TextOps.winnow(docs, k = 3, w = 4).collect().map(_.getString(1)).toSet
    assert(got === expected)
  }

  test("winnow: short docs clamp to one window; sub-k docs emit nothing") {
    val docs = Seq(
      (1L, "a b c d"),  // 2 shingles < w: one clamped window = overall min
      (2L, "a b")       // < k tokens: no shingles, no rows
    ).toDF("doc_id", "text")
    val byDoc = TextOps.winnow(docs, k = 3, w = 4).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    val s = Seq(md5hex("a b c"), md5hex("b c d"))
    assert(byDoc === Map(1L -> Set(s.min)))
  }

  test("winnow: guarantee — docs sharing a k+w-1 word run share a fingerprint") {
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 5) {
      val run = Seq.fill(6)(s"shared${rnd.nextInt(1000)}t$trial").mkString(" ") // k+w-1 = 6
      val a = (1 to 8).map(i => s"a$i").mkString(" ") + " " + run
      val b = run + " " + (1 to 8).map(i => s"b$i").mkString(" ")
      val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
      val fps = TextOps.winnow(docs, k = 3, w = 4).collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
      assert((fps(1L) & fps(2L)).nonEmpty, s"trial $trial: no shared fingerprint")
    }
  }

  test("winnowPairs: shared-run docs pair with the hand-counted overlap") {
    // Doc 1 and 2 share the 6-word run (k+w-1 guarantee); doc 3 is alien.
    val run = "r1 r2 r3 r4 r5 r6"
    val docs = Seq(
      (1L, s"a1 a2 a3 a4 $run"),
      (2L, s"$run b1 b2 b3 b4"),
      (3L, "z1 z2 z3 z4 z5 z6 z7 z8 z9")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(docs, minShared = 1L).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.keySet === Set((1L, 2L)))
    // reference: intersect the two docs' winnow fingerprint sets
    val fps = TextOps.winnow(docs).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap
    assert(got((1L, 2L)) === (fps(1L) & fps(2L)).size.toLong)
    assert((fps(1L) & fps(2L)).nonEmpty)
  }

  test("winnowPairs: minShared filters weak pairs; hot fp buckets are capped") {
    val docs = Seq(
      (1L, "x1 x2 x3 q1 q2 q3"), // shares only the q1 q2 q3 shingle region with 2
      (2L, "y1 y2 y3 q1 q2 q3")
    ).toDF("doc_id", "text")
    val weak = Dedup.winnowPairs(docs, minShared = 5L).collect()
    assert(weak.isEmpty)
    // 20 identical docs, cap 4: pairs bounded to C(4,2) among smallest ids
    val hot = (1L to 20L).map(i => (i, "same words over and over again")).toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(hot, minShared = 1L, maxBucket = 4).collect()
    assert(capped.forall(r => r.getLong(0) <= 4 && r.getLong(1) <= 4))
    assert(capped.length === 6)
  }

  test("simhashPairs: banding finds EXACTLY the brute-force Hamming pairs") {
    // Random short docs over a tiny vocab force signature collisions and
    // near-misses; the pigeonhole guarantee says banding + exact filter
    // == all-pairs brute force (cap high enough to never bind here).
    val rnd = new scala.util.Random(7)
    val vocab = Array("a", "b", "c", "d", "e", "f", "g", "h")
    val corpus = (1L to 40L).map { id =>
      (id, Seq.fill(3 + rnd.nextInt(6))(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }.toDF("doc_id", "text")
    val sigs = Dedup.simhash(corpus).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = (for {
      a <- sigs.keys; b <- sigs.keys if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= 3
    } yield (a, b, d)).toSet
    val got = Dedup.simhashPairs(corpus, maxBucket = 10000).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got === expected)
    assert(expected.nonEmpty, "fixture must actually produce near pairs")
  }

  test("simhashPairs: hot buckets are capped and bits must divide the bands") {
    val hot = (1L to 30L).map(i => (i, "same words every time")).toDF("doc_id", "text")
    // identical signatures -> one bucket per band; cap 5 bounds pairs to C(5,2)
    val got = Dedup.simhashPairs(hot, maxBucket = 5).collect()
    assert(got.length === 10)
    assert(got.forall(r => r.getLong(0) <= 5 && r.getLong(1) <= 5 && r.getInt(2) === 0))
    intercept[IllegalArgumentException] { Dedup.simhashPairs(hot, bits = 16, maxDist = 4) }
  }

  test("tokenBudget: strict running-total rule in md5 hash order, per stratum") {
    // md5 order of "1".."4": a87..("4") < c4c..("1") < c81..("2") < ecc..("3")
    val df = Seq(
      (1L, "s", 10L), (2L, "s", 10L), (3L, "s", 10L), (4L, "s", 10L)
    ).toDF("doc_id", "src", "nt")
    def kept(budget: Long) =
      Sampling.tokenBudget(df, col("doc_id"), Seq(col("src")), col("nt"), budget)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
    // budget 25: 4 (cum 10), 1 (cum 20); 2 would reach 30 -> dropped with 3
    assert(kept(25L) === Map(4L -> 10L, 1L -> 20L))
    // strict: the overshooting doc itself is dropped
    assert(kept(15L) === Map(4L -> 10L))
    // a budget below the first doc keeps nothing
    assert(kept(5L) === Map.empty[Long, Long])
  }

  test("tokenBudget: strata fill independently and reruns are stable") {
    val df = (1L to 40L).map(i => (i, if (i % 2 == 0) "a" else "b", 7L))
      .toDF("doc_id", "src", "nt")
    val out = Sampling.tokenBudget(df, col("doc_id"), Seq(col("src")), col("nt"), 35L)
    val bySrc = out.collect().groupBy(_.getAs[String]("src")).view.mapValues(_.length).toMap
    assert(bySrc === Map("a" -> 5, "b" -> 5)) // 5 * 7 = 35 <= 35, 6th would be 42
    val again = Sampling.tokenBudget(df, col("doc_id"), Seq(col("src")), col("nt"), 35L)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(again === out.collect().map(_.getAs[Long]("doc_id")).toSet)
  }

  test("tokenBudget: differential against a naive reference over random corpora") {
    val rnd = new scala.util.Random(20260814L)
    for (trial <- 1 to 6) {
      val rows = (1L to (20 + rnd.nextInt(60))).map { id =>
        (id, s"s${rnd.nextInt(4)}", 1L + rnd.nextInt(30)) }
      val budget = 20L + rnd.nextInt(80)
      val expected = rows.groupBy(_._2).flatMap { case (_, cell) =>
        val ordered = cell.sortBy { case (id, _, _) => (md5hex(id.toString), id) }
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).takeWhile(_._2 <= budget).map { case ((id, _, nt), c) => id -> c }
      }
      val df = rows.toDF("doc_id", "src", "nt")
      val got = Sampling.tokenBudget(df, col("doc_id"), Seq(col("src")), col("nt"), budget)
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cum_tokens")).toMap
      assert(got === expected.toMap, s"trial $trial budget $budget")
    }
  }

  test("connectedComponents: output schema is long on both paths, int ids accepted") {
    import org.apache.spark.sql.types.LongType
    val pairs = Seq((1, 2), (2, 3)).toDF("id_a", "id_b") // IntegerType ids
    for (limit <- Seq(4L << 20, 0L)) {
      val cc = Dedup.connectedComponents(pairs, localEdgeLimit = limit)
      assert(cc.schema("node").dataType === LongType, s"limit=$limit")
      assert(cc.schema("label").dataType === LongType, s"limit=$limit")
      val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"limit=$limit")
    }
  }

  test("unigram score: common-token docs score high, rare-token docs flag n_rare") {
    val d = Seq((1L, "a a b"), (2L, "a c")).toDF("doc_id", "text")
    // corpus freq: a=3, b=1, c=1
    val got = TextOps.unigramScore(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("sum_tok_freq"),
          r.getAs[Long]("n_rare"), r.getAs[Double]("mean_tok_freq")))).toMap
    assert(got(1L) === ((3L, 7L, 1L, 7.0 / 3.0)))
    assert(got(2L) === ((2L, 4L, 1L, 2.0)))
  }

  test("boilerplate: shared shingles flag templated text; unique docs score 0") {
    val d = Seq(
      (1L, "site nav bar home about contact page one"),
      (2L, "site nav bar home about contact page two"), // shares 5 of 6 shingles with 1
      (3L, "completely original writing with fresh words"),
      (4L, "hi there") // < 3 tokens: no shingles, drops out
    ).toDF("doc_id", "text")
    val got = TextOps.boilerplate(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_shingles"), r.getAs[Long]("n_shared"),
          r.getAs[Double]("shared_frac")))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L) === ((6L, 5L, 5.0 / 6.0))) // only "contact page one" is unique
    assert(got(2L) === ((6L, 5L, 5.0 / 6.0)))
    assert(got(3L) === ((4L, 0L, 0.0)))
  }

  test("keepBest: the highest-quality cluster member wins, not the min id") {
    val d = Seq(
      (11L, "the quick brown fox jumps over the lazy dog", "s", 10L),
      (12L, "the quick brown fox jumps over the lazy dog", "s", 20L), // same text, longer
      (13L, "unrelated totally different content words here", "s", 46L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Dedup.keepBest(d).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster_id"), r.getAs[Long]("keep_best")))).toMap
    assert(got(11L) === ((11L, 0L))) // smaller id but shorter: dropped
    assert(got(12L) === ((11L, 1L))) // longest member is canonical
    assert(got(13L) === ((13L, 1L))) // singleton keeps itself
  }

  test("quality filter drops each language's bottom quartile") {
    // 8 en docs with stopword ratios 0/8..7/8 (i 'the's then filler), 4 xx docs
    val rows = (0 until 8).map { i =>
      val toks = Seq.fill(i)("the") ++ Seq.fill(8 - i)(s"w$i")
      (i.toLong, toks.mkString(" "), "en")
    } ++ (10 until 14).map(i => (i.toLong, s"x$i y$i z$i unique$i", "xx"))
    val df = rows.toDF("doc_id", "text", "lang")
    val kept = TextOps.qualityFilter(df, 0.25).collect()
    val keptEn = kept.filter(_.getAs[String]("lang") == "en").map(_.getAs[Long]("doc_id")).toSet
    // percent_rank >= 0.25 over 8 rows keeps ranks 3..8 -> doc_ids 2..7
    assert(keptEn === (2L to 7L).toSet)
    // xx docs all share ratio 0.0; tiebreak by doc_id keeps the top 3 of 4
    val keptXx = kept.filter(_.getAs[String]("lang") == "xx").map(_.getAs[Long]("doc_id")).toSet
    assert(keptXx === Set(11L, 12L, 13L))
  }

  test("bpe-ish piece counting and repetition scoring") {
    val df = Seq(
      (1L, "hello world42 x-y"), // pieces: hello, world, 42, x, -, y
      (2L, "spam spam spam spam spam"), // 3 identical 3-grams
      (3L, "a b") // too short for shingles
    ).toDF("doc_id", "text")
    val bpe = TextOps.bpeTokenStats(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_pieces")).toMap
    assert(bpe(1L) === 6L)
    val rep = TextOps.repetition(df).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("rep_ratio")).toMap
    assert(rep(1L) === 0.0) // one distinct 3-gram, total 1
    assert(rep(2L) === (1.0 - 1.0 / 3.0)) // 3 shingles, 1 distinct
    assert(rep(3L) === 0.0)
  }

  test("pii mask redacts emails and long digit runs, counts both") {
    val df = Seq(
      (1L, "reach me at jane.doe@corp.example or call 5551234567 ext 12"),
      (2L, "no pii here at all"),
      (3L, "two mails a@b.com c.d@e.org and order 99887766"),
      (4L, "JANE.DOE@CORP-MAIL.COM shouts"), // mixed case must still mask
      (5L, "user1234@host.example only")     // digits inside the address: no <NUM>
    ).toDF("doc_id", "text")
    val got = TextOps.piiMask(df, col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("masked"), r.getAs[Long]("n_emails"), r.getAs[Long]("n_nums")))).toMap
    assert(got(1L)._1 === "reach me at <EMAIL> or call <NUM> ext 12") // "12" too short to mask
    assert(got(1L)._2 === 1L && got(1L)._3 === 1L)
    assert(got(2L) === (("no pii here at all", 0L, 0L)))
    assert(got(3L)._1 === "two mails <EMAIL> <EMAIL> and order <NUM>")
    assert(got(3L)._2 === 2L && got(3L)._3 === 1L)
    assert(got(4L)._1 === "<EMAIL> shouts")
    // digits inside a masked address are not double-reported as numbers
    assert(got(5L) === (("<EMAIL> only", 1L, 0L)))
  }

  test("pii masking is idempotent: re-masking masked text changes nothing") {
    val rnd = new scala.util.Random(7)
    val pieces = Seq("user.name@host.example", "5551234567", "plain", "words",
      "x@y.z", "99887766", "a1b2", "end.")
    val texts = (1 to 40).map(i =>
      (i.toLong, Seq.fill(6)(pieces(rnd.nextInt(pieces.length))).mkString(" ")))
    val df = texts.toDF("doc_id", "text")
    val once = TextOps.piiMask(df, col("text")).select(col("doc_id"), col("masked"))
    val again = TextOps.piiMask(once.withColumnRenamed("masked", "text"), col("text"))
      .collect().map(r => r.getAs[String]("text") -> r.getAs[String]("masked"))
    assert(again.forall { case (a, b) => a == b })
  }

  test("decontamination flags train docs sharing shingles with the benchmark") {
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s", 34L), // 4 shared shingles with bench 100
      (2L, "alpha beta gamma different tail here", "s", 36L), // 1 shared shingle — below threshold
      (3L, "totally unrelated words in this doc", "s", 35L),
      (4L, "a b", "s", 3L) // too short to shingle
    ).toDF("doc_id", "text", "source", "n_chars")
    val bench = Seq(
      (100L, "alpha beta gamma delta epsilon zeta", "s", 34L)
    ).toDF("doc_id", "text", "source", "n_chars")
    val got = Decontaminate.overlap(train, bench, minOverlap = 3).collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_overlap"))).toSet
    assert(got === Set((1L, 100L, 4L)))
    // lowering the threshold surfaces the partial-overlap doc too
    val loose = Decontaminate.overlap(train, bench, minOverlap = 1).collect()
      .map(_.getAs[Long]("train_id")).toSet
    assert(loose === Set(1L, 2L))
  }

  test("bloom-prefiltered decontamination is bit-identical to the exact path") {
    // Larger randomized corpus: the bloom must neither drop a true
    // overlap (impossible by construction — asserted anyway) nor let a
    // false positive through the exact join.
    val rnd = new scala.util.Random(11)
    val vocab = (0 until 50).map(i => s"w$i")
    def sentence() = Seq.fill(8)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val docs = (1L to 200L).map(i => (i, sentence(), "s", 40L))
      .toDF("doc_id", "text", "source", "n_chars")
    val train = docs.filter(col("doc_id") % 5 =!= 0)
    val bench = docs.filter(col("doc_id") % 5 === 0)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("train_id"), r.getAs[Long]("bench_id"),
        r.getAs[Long]("n_overlap"))).toSet
    val exact = key(Decontaminate.overlap(train, bench, minOverlap = 1))
    val bloom = key(Decontaminate.overlapBloom(train, bench, minOverlap = 1))
    assert(exact.nonEmpty)
    assert(bloom === exact)
  }

  test("bloom expression: no false negatives, prunes non-members") {
    import org.apache.spark.util.sketch.BloomFilter
    val bf = BloomFilter.create(1000, 0.001)
    (1 to 500).foreach(i => bf.putString(s"member-$i"))
    val probe = ((1 to 500).map(i => s"member-$i") ++
      (1 to 500).map(i => s"absent-$i")).toDF("s")
    val kept = probe.filter(graft.expr.Bloom.mightContain(col("s"), bf))
      .collect().map(_.getString(0)).toSet
    // one-sided error: every member survives...
    assert((1 to 500).forall(i => kept.contains(s"member-$i")))
    // ...and at fpp=0.1% essentially no absentee does
    assert(kept.count(_.startsWith("absent-")) <= 5)
  }

  test("similarity: identical vectors rank first with score 1") {
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (100L, Array(1.0f, 0.0f, 0.0f), 0), // identical to 0
      (2L, Array(0.0f, 1.0f, 0.0f), 0),
      (3L, Array(-1.0f, 0.0f, 0.0f), 0)
    ).toDF("vec_id", "embedding", "label")
    val top = Similarity.bruteForceTopK(emb, k = 3, queryStride = 100).collect()
      .filter(_.getAs[Long]("q_id") == 0L).sortBy(_.getAs[Int]("rank"))
    assert(top.head.getAs[Long]("c_id") === 100L)
    assert(top.head.getAs[Double]("score") === 1.0)
    assert(top.last.getAs[Double]("score") === -1.0)
    val ivf = Similarity.ivfTopK(emb, k = 3, queryStride = 100)
    assert(ivf.count() > 0)
    val pairs = Similarity.nearDupPairs(emb, threshold = 0.99).collect()
    assert(pairs.exists(r => r.getAs[Long]("id_a") == 0L && r.getAs[Long]("id_b") == 100L))
    // LSH sub-bucket variant: identical vectors share the sign bucket,
    // so the pair survives; the opposite-sign vector 3 cannot pair with 0
    val lsh = Similarity.nearDupPairsLsh(emb, threshold = -1.0).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(lsh.contains((0L, 100L)))
    assert(!lsh.contains((0L, 3L)))
  }

  test("exactShingleJaccardPairs: size-ratio prefilter preserves the exact truth set") {
    // The r18 prefilter drops postings pairs with 2·min(|A|,|B|) <
    // max(|A|,|B|) BEFORE the pair aggregate; J <= min/max proves no
    // J >= 0.5 pair can be dropped. This differential pins it against
    // a brute-force all-pairs array_intersect reference (no postings,
    // no prefilter) on the real fixture corpora.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val docs = graft.tables.Tables.documents(spark, dir)
        .filter(col("doc_id") % 2 === 0)
      val ts = docs.select(col("doc_id"),
          graft.expr.ArrayExprs.shingleHashes(col("text")).as("ts"))
        .filter(col("ts").isNotNull)
      val ref = ts.as("x").join(ts.as("y"), col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"),
          size(array_intersect(col("x.ts"), col("y.ts"))).cast("double").as("inter"),
          size(array_union(col("x.ts"), col("y.ts"))).cast("double").as("uni"))
        .filter(col("inter") / col("uni") >= 0.5)
        .select("id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = Dedup.exactShingleJaccardPairs(docs)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === ref, s"$dir: prefiltered truth set drifted from brute force")
      assert(got.nonEmpty, s"$dir: vacuous differential — no truth pairs at all")
    }
  }

  test("dedup_recall floors hold at the gate SFs (banding quality is measured, not asserted)") {
    // dedup_recall is oracle-checked for VALUES; this pins the QUALITY
    // floors across fixture drift (the SimilarityTrainedSpec pattern).
    // Measured at sf0.01/sf0.1: recall minhash 1.00/1.00,
    // simhash 0.83/0.79, winnow 1.00/0.97; winnow precision 0.86/0.61.
    for (dir <- Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")) {
      val rep = graft.SparkEntry.queries("dedup_recall")(spark, dir).collect()
        .map(r => r.getAs[String]("method") ->
          (r.getAs[Long]("n_truth"), r.getAs[Double]("recall"),
            r.getAs[Double]("prec"))).toMap
      info(s"$dir dedup recall map: $rep")
      assert(rep("minhash")._1 > 0, s"$dir: no truth pairs — harness vacuous")
      // 4-band MinHash theoretical recall at j=0.5 is 1-(1-j)^4 ≈ 0.94
      assert(rep("minhash")._2 >= 0.8, s"$dir: minhash recall ${rep("minhash")._2}")
      assert(rep("simhash")._2 >= 0.5, s"$dir: simhash recall ${rep("simhash")._2}")
      assert(rep("winnow")._2 >= 0.8, s"$dir: winnow recall ${rep("winnow")._2}")
      // winnow's fingerprint-count gate is the selective one
      assert(rep("winnow")._3 >= 0.5, s"$dir: winnow precision ${rep("winnow")._3}")
    }
  }
}
