package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  lazy val docs = {
    import spark.implicits._
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "the quick brown fox jumps over the lazy cat"), // near-dup of 0
      (2L, "completely different content about spark engines"),
      (3L, "the quick brown fox jumps over the lazy dog"), // exact dup of 0
      (4L, "unrelated words entirely qwerty asdf zxcv")
    ).toDF("doc_id", "text")
  }

  test("exact dedup groups identical texts keeping min id") {
    val r = Dedup.exact(docs, "doc_id", "text")
    assert(r.count() == 4)
    val dup = r.filter(col("dup_count") === 2).head()
    assert(dup.getAs[Long]("doc_id") == 0L)
    assert(Dedup.exactDuplicates(docs, "doc_id", "text")
      .select("doc_id").head().getLong(0) == 3L)
  }

  test("normalized dedup folds case/punctuation/spacing churn") {
    import spark.implicits._
    val churn = Seq(
      (0L, "The quick brown fox!"),
      (1L, "the  QUICK brown fox"),     // spacing + case → dup of 0
      (2L, "the quick... brown, fox"),  // punctuation → dup of 0
      (3L, "the quick brown foxes"),    // different token: NOT a dup
      (4L, null.asInstanceOf[String])   // null text → the null key group
    ).toDF("doc_id", "text")
    val r = Dedup.normalizedDedup(churn, "doc_id", "text")
      .collect().map(x => (x.getAs[Long]("doc_id"),
        x.getAs[Long]("dup_count"))).toMap
    assert(r == Map(0L -> 3L, 3L -> 1L, 4L -> 1L))
    // survivor keeps its ORIGINAL text, and the key is the canonical form
    val keep = Dedup.normalizedDedup(churn, "doc_id", "text")
      .filter(col("doc_id") === 0L).head()
    assert(keep.getAs[String]("text") == "The quick brown fox!")
    assert(keep.getAs[String]("norm_text") == "the quick brown fox")
  }

  test("exactKeepBest keeps max score, ties to min id, nulls lose") {
    import spark.implicits._
    val rows = Seq(
      (1L, "aaa", Some(2.0)),  // loses to 2 on score
      (2L, "aaa", Some(5.0)),  // survivor
      (3L, "aaa", None),       // null score never wins
      (4L, "bbb", Some(1.0)),  // ties with 5 -> min id survives
      (5L, "bbb", Some(1.0)),
      (6L, "ccc", None),       // all-null group -> min id
      (7L, "ccc", None)
    ).toDF("id", "text", "score")
    val r = Dedup.exactKeepBest(rows, "id", "text", "score")
      .collect().map(x => (x.getAs[Long]("id"),
        x.getAs[Long]("dup_count"))).toMap
    assert(r == Map(2L -> 3L, 4L -> 2L, 6L -> 2L))
    // survivor carries its FULL original row
    val best = Dedup.exactKeepBest(rows, "id", "text", "score")
      .filter(col("id") === 2L).head()
    assert(best.getAs[Double]("score") == 5.0 &&
      best.getAs[String]("text") == "aaa")
  }

  test("nearDedupKeepBest keeps best per component; untouched pass") {
    import spark.implicits._
    val docs = Seq(
      (1L, 10.0), (2L, 30.0), (3L, 20.0), // component {1,2,3} -> 2 wins
      (4L, 1.0), (5L, 2.0),               // component {4,5}   -> 5 wins
      (9L, 0.0)                           // in no pair -> survives
    ).toDF("id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val r = Dedup.nearDedupKeepBest(docs, "id", pairs, "score")
      .collect().map(x => (x.getAs[Long]("id"),
        x.getAs[Long]("dup_count"))).toMap
    assert(r == Map(2L -> 3L, 5L -> 2L, 9L -> 1L))
    // shuffle-join tier (labels above the broadcast cap) agrees
    val r2 = Dedup.nearDedupKeepBest(docs, "id", pairs, "score",
        maxBroadcastRows = 1)
      .collect().map(x => (x.getAs[Long]("id"),
        x.getAs[Long]("dup_count"))).toMap
    assert(r2 == r)
  }

  test("knnGraphExact: ranks, ties, guard; knnGraph recall vs exact") {
    import spark.implicits._
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.knnGraphExact(embs, "vec_id", "embedding", k = 5)
    val byId = exact.collect()
      .groupBy(_.getAs[Long]("vec_id"))
    val n = embs.count()
    assert(byId.size == n && byId.values.forall(_.length == 5))
    // ranks are 1..5 ordered by (cos desc, nid asc)
    byId.values.foreach { rows =>
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      sorted.sliding(2).foreach { case Array(a, b) =>
        val (ca, cb) = (a.getAs[Double]("cos"), b.getAs[Double]("cos"))
        assert(ca > cb ||
          (ca == cb && a.getAs[Long]("nid") < b.getAs[Long]("nid")))
      }
    }
    // guard refuses oversized corpora
    intercept[IllegalArgumentException] {
      Similarity.knnGraphExact(embs, "vec_id", "embedding", k = 5,
        maxRows = 3).collect()
    }
    // LSH tier: per-id neighbor sets are a subset of the corpus and the
    // measured recall of the exact top-5 at a permissive config is high
    // (deterministic planes -> this number is stable, not flaky)
    val approx = Similarity.knnGraph(embs, "vec_id", "embedding",
        dim = 64, k = 5, bits = 2, tables = 8)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nid")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactSets = byId.view
      .mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    val recall = exactSets.map { case (id, s) =>
      approx.getOrElse(id, Set.empty).intersect(s).size.toDouble / s.size
    }.sum / exactSets.size
    assert(recall >= 0.8, s"knnGraph recall $recall below 0.8")
  }

  test("hardNegatives: labels excluded exactly; LSH tier recalls the exact sets") {
    import spark.implicits._
    val embs = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.hardNegativesExact(embs, "vec_id", "embedding",
      "label", k = 5).collect()
    val labels = embs.select("vec_id", "label").collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Int]("label")).toMap
    // no neighbor shares its query's label; ranks ordered (cos desc, nid)
    val byId = exact.groupBy(_.getAs[Long]("vec_id"))
    byId.foreach { case (id, rows) =>
      rows.foreach(r => assert(labels(r.getAs[Long]("nid")) != labels(id)))
      val sorted = rows.sortBy(_.getAs[Int]("rank"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val (ca, cb) = (a.getAs[Double]("cos"), b.getAs[Double]("cos"))
          assert(ca > cb ||
            (ca == cb && a.getAs[Long]("nid") < b.getAs[Long]("nid")))
        case _ => ()
      }
    }
    // the exact hard negative set = knnGraph over different-label pairs
    // only, so each row's top-1 hard negative must have cos <= its
    // unrestricted top-1 (equality iff that one already differs in label)
    val knn1 = Similarity.knnGraphExact(embs, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Double]("cos")).toMap
    byId.foreach { case (id, rows) =>
      val hn1 = rows.find(_.getAs[Int]("rank") == 1).get.getAs[Double]("cos")
      assert(hn1 <= knn1(id) + 1e-12)
    }
    // LSH tier: neighbor labels still differ, and recall of the exact
    // top-5 stays high at a permissive config (deterministic planes)
    val approx = Similarity.hardNegatives(embs, "vec_id", "embedding",
        "label", dim = 64, k = 5, oversample = 4, bits = 2, tables = 8)
      .collect()
    approx.foreach(r => assert(
      labels(r.getAs[Long]("nid")) != labels(r.getAs[Long]("vec_id"))))
    val approxSets = approx.map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("nid")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exactSets = byId.view
      .mapValues(_.map(_.getAs[Long]("nid")).toSet).toMap
    val recall = exactSets.map { case (id, s) =>
      approxSets.getOrElse(id, Set.empty).intersect(s).size.toDouble / s.size
    }.sum / exactSets.size
    assert(recall >= 0.75, s"hardNegatives recall $recall below 0.75")
  }

  test("substringDedup removes all copies of repeated windows") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c d e f"),      // shares "c d e" with 2
      (2L, "x y c d e z"),
      (3L, "p q r p q r"),      // within-doc repeat: every pos covered
      (4L, "unique words only"),
      (5L, "hi"),               // shorter than the window
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val r = Dedup.substringDedup(docs, "doc_id", "text", minTokens = 3)
      .collect().map(x => (x.getAs[Long]("doc_id"),
        (x.getAs[String]("text"), x.getAs[Long]("n_removed")))).toMap
    assert(r == Map(
      1L -> (("a b f"), 3L),
      2L -> (("x y z"), 3L),
      3L -> (("", 6L)),         // "p q r" occurs twice -> all covered
      4L -> (("unique words only", 0L)),
      5L -> (("hi", 0L))))      // null-text row dropped
  }

  test("wordNgrams slides over tokens") {
    import spark.implicits._
    val r = Seq("a b c d").toDF("t")
      .select(Dedup.wordNgrams(col("t"), 3)).head().getSeq[String](0)
    assert(r == Seq("a b c", "b c d"))
    val short = Seq("a b").toDF("t")
      .select(Dedup.wordNgrams(col("t"), 3)).head().getSeq[String](0)
    assert(short == Seq("a b"))
  }

  test("minhash LSH finds near-dup and exact-dup pairs") {
    val pairs = Dedup.minhashDedup(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 63, bands = 21, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 3L))) // exact dup: jaccard 1.0
    assert(pairs.contains((0L, 1L))) // near dup
    assert(pairs.contains((1L, 3L)))
    assert(!pairs.exists(p => p._1 == 2L || p._2 == 2L))
  }

  test("minhashDedup maxDf: unbinding value is a no-op, tight value only removes pairs") {
    val base = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val noop = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5,
        maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(noop == base)
    val tight = Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5,
        maxDf = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(base))
  }

  test("minhashCandidatesAgainst equals the union candidates restricted to cross pairs") {
    // ids 0,1,2 = standing corpus; 10,11 = batch (11 near-dups doc 0)
    import spark.implicits._
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog"),
      (1L, "completely different content about spark engines"),
      (2L, "unrelated words entirely qwerty asdf zxcv")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy cat"),
      (11L, "totally novel text that matches nothing at all")
    ).toDF("doc_id", "text")
    val cross = Dedup.minhashCandidatesAgainst(batch, corpus, "doc_id", "text")
      .collect().map(r => Set(r.getLong(0), r.getLong(1))).toSet
    // same banding over the union, restricted to one-id-per-side pairs
    val unionCands = Dedup.minhashCandidates(
        batch.unionAll(corpus), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => (a >= 10L) != (b >= 10L) }
      .map { case (a, b) => Set(a, b) }.toSet
    assert(cross == unionCands, s"cross=$cross union=$unionCands")
    assert(cross.contains(Set(10L, 0L))) // the planted near-dup collides
  }

  test("lshBitsFor tracks corpus size with floor and cap") {
    assert(Dedup.lshBitsFor(0L) == 4)        // floor at minBits
    assert(Dedup.lshBitsFor(4000L) == 4)     // sf0.1 shape: unchanged
    assert(Dedup.lshBitsFor(40000L) == 6)    // ceil(log2(39.06))
    assert(Dedup.lshBitsFor(400000L) == 9)   // sf10 shape: 512 cells
    assert(Dedup.lshBitsFor(1L << 60) == 32) // cap
    assert(Dedup.lshBitsFor(1 << 20, targetBucket = 1 << 20) == 4)
    intercept[IllegalArgumentException](Dedup.lshBitsFor(10, targetBucket = 0))
  }

  test("textNewRows screens near-dup batch docs, passes novel ones") {
    import spark.implicits._
    val corpus = docs // ids 0-4
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of 0
      (11L, "fresh previously unseen sentence with new words")
    ).toDF("doc_id", "text")
    val hits = Dedup.minhashDedupAgainst(batch, corpus, "doc_id", "text",
        threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits.forall(_._1 >= 10L), "id_a must be the batch side")
    assert(hits.exists(_._1 == 10L) && !hits.exists(_._1 == 11L))
    val kept = Dedup.textNewRows(batch, corpus, "doc_id", "text",
        threshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L))
  }

  test("ngramJaccard computes exact jaccard for exact dup") {
    import spark.implicits._
    val cand = Seq((0L, 3L)).toDF("id_a", "id_b")
    val j = Dedup.ngramJaccard(docs, "doc_id", "text", 3, Some(cand))
      .head().getAs[Double]("jaccard")
    assert(j == 1.0)
  }

  test("ngram stop-list drops boilerplate-only pairs, keeps real overlaps exactly") {
    import spark.implicits._
    // every doc ends with the same boilerplate; only docs 0/1 share real text
    val corpus = (0L until 12L).map { i =>
      val body = i match {
        case 0L => "alpha beta gamma delta epsilon"
        case 1L => "alpha beta gamma delta zeta" // near-dup of 0
        case _  => s"unique$i words$i only$i here$i now$i"
      }
      (i, s"$body common legal boilerplate footer")
    }.toDF("doc_id", "text")
    // unigram shingles: "common"/"legal"/… have df=12, real words df≤2
    val noStop = Dedup.ngramJaccard(corpus, "doc_id", "text", 1)
      .filter(col("jaccard") > 0)
    assert(noStop.count() == 66) // all 12·11/2 pairs share the boilerplate
    val stopped = Dedup.ngramJaccard(corpus, "doc_id", "text", 1, maxDf = 4)
      .collect()
    assert(stopped.map(r =>
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet == Set((0L, 1L)))
    // jaccard over the INFORMATIVE shingles (boilerplate excluded from
    // sizes and intersection): common = 4 body words, union = 6
    assert(math.abs(stopped.head.getAs[Double]("jaccard") - 4.0 / 6.0) < 1e-12)
  }

  test("ngramJaccard pair-mass guard refuses the exact path past maxPairMass") {
    import spark.implicits._
    // every doc shares one unigram -> f = 12, mass = 66 pairs
    val corpus = (0L until 12L).map(i => (i, s"shared word$i"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(corpus, "doc_id", "text", 1, maxPairMass = 65L)
        .count()
    }
    assert(e.getMessage.contains("maxPairMass"))
    // at the exact boundary the join runs unchanged
    assert(Dedup.ngramJaccard(corpus, "doc_id", "text", 1,
      maxPairMass = 66L).filter(col("jaccard") > 0).count() == 66)
    // the mass is measured AFTER the stop-list: cutting the shared
    // shingle leaves nothing over the cap, so the same tiny budget passes
    assert(Dedup.ngramJaccard(corpus, "doc_id", "text", 1, maxDf = 4,
      maxPairMass = 65L).filter(col("jaccard") > 0).count() == 0)
    // df-bound probe (r14): when postings·(maxDf−1)/2 exceeds the budget
    // the EXACT measurement decides — here bound 12·3/2 = 18 > 10 but the
    // true stop-listed mass is 0, so the join must run, not refuse
    assert(Dedup.ngramJaccard(corpus, "doc_id", "text", 1, maxDf = 4,
      maxPairMass = 10L).filter(col("jaccard") > 0).count() == 0)
  }

  test("ngramContainment flags a quoted subset jaccard misses; containedDocs keeps the superset") {
    import spark.implicits._
    // doc 1 = doc 0's text fully quoted inside a longer doc: containment
    // of 0 in 1 is 1.0 while jaccard is small; doc 2 unrelated; docs 3/4
    // identical (mutual containment clique — min id survives)
    val corpus = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "intro words first alpha beta gamma delta epsilon and then a " +
        "long tail of extra content follows here with many more tokens"),
      (2L, "totally different text with other words"),
      (3L, "same twin text here exactly"),
      (4L, "same twin text here exactly")
    ).toDF("doc_id", "text")
    val pairs = Dedup.ngramContainment(corpus, "doc_id", "text", 3)
      .collect().map(r => ((r.getAs[Long]("id_a"), r.getAs[Long]("id_b")),
        (r.getAs[Double]("cont_a"), r.getAs[Double]("cont_b"),
          r.getAs[Double]("jaccard")))).toMap
    val (ca, cb, j) = pairs((0L, 1L))
    assert(ca == 1.0 && cb < 0.2 && j < 0.2) // subset: containment 1, jaccard tiny
    val (ta, tb, tj) = pairs((3L, 4L))
    assert(ta == 1.0 && tb == 1.0 && tj == 1.0)
    val victims = Dedup.containedDocs(corpus, "doc_id", "text", 3, 0.9)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("kept_in")).toMap
    // 0 is absorbed by the bigger 1; 4 loses the equal-size tie to 3;
    // nothing beats 1, 2, 3 — strict order means no cycle can drop both twins
    assert(victims == Map(0L -> 1L, 4L -> 3L))
    val kept = Dedup.containmentDedup(corpus, "doc_id", "text", 3, 0.9)
      .select("doc_id").as[Long].collect().sorted
    assert(kept.sameElements(Array(1L, 2L, 3L)))
  }

  test("containmentPairs (prefix filter) equals the all-pairs containment exactly") {
    import spark.implicits._
    // real corpus slice: every pair relationship the all-pairs path finds
    // must survive the prefix filter (exact-recall theorem, not recall)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for (t <- Seq(0.5, 0.8, 0.95)) {
      def canon(f: org.apache.spark.sql.DataFrame) = f
        .select("id_a", "id_b", "common", "sz_a", "sz_b")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val brute = canon(Dedup.ngramContainment(docs, "doc_id", "text", 3)
        .filter(col("cont_a") >= t || col("cont_b") >= t))
      val fast = canon(Dedup.containmentPairs(docs, "doc_id", "text", 3, t))
      assert(fast == brute, s"threshold $t")
    }
    // planted subset at a threshold the fixture pairs can't reach
    val planted = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "x0 x1 alpha beta gamma delta epsilon y0 y1 y2 y3 y4 y5 y6"),
      (2L, "unrelated words in some other corner entirely")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(planted, "doc_id", "text", 3, 0.99)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((0L, 1L)))
  }

  test("simhash: identical texts share signature; near-dups are close") {
    val sigs = docs.select(col("doc_id"), Dedup.simhash(col("text")).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(0L) == sigs(3L))
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(1L)) < 16)
    assert(java.lang.Long.bitCount(sigs(0L) ^ sigs(4L)) > 16)
  }

  test("simhashDedup surfaces the exact-dup pair at hamming 0") {
    val pairs = Dedup.simhashDedup(docs, "doc_id", "text", maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 3L)))
  }

  test("cosine matches the closed form") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(2.0, 3.0))).toDF("a", "b")
    val c = df.select(Dedup.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(c - (1 * 2 + 2 * 3) / math.sqrt(5 * 13)) < 1e-12)
  }

  test("embeddingDedup finds planted duplicate vector") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val base = (0 until 50).map(i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian())))
    val planted = base :+ (99L, base.head._2.map(_ * 1.001))
    val df = planted.toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingDedup(df, "vec_id", "embedding", dim = 16,
      threshold = 0.99, bits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 99L)))
  }

  test("allPairsCosine refuses corpora above maxRows; works under it") {
    import spark.implicits._
    val vecs = (0 until 20).map(i => (i.toLong, Seq(1.0, i.toDouble)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.allPairsCosine(vecs, "vec_id", "embedding", 0.9, maxRows = 10)
    }
    assert(e.getMessage.contains("embeddingDedup"))
    // under the bound: exact pairs still come out
    val ok = Similarity.allPairsCosine(vecs, "vec_id", "embedding",
      0.999, maxRows = 20)
    assert(ok.count() > 0)
  }

  test("cosineHistogram: mass lands in the right bins, empty bins " +
      "present, reference guard refuses") {
    import spark.implicits._
    // corpus: two copies of the reference vector (cos 1), one
    // orthogonal (cos 0), one opposite (cos -1)
    val corpus = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(2.0, 0.0)),
      (3L, Seq(0.0, 1.0)), (4L, Seq(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val ref = Seq((100L, Seq(1.0, 0.0))).toDF("vec_id", "embedding")
    val got = Similarity.cosineHistogram(corpus, "vec_id", "embedding",
        ref, "vec_id", "embedding", bins = 4)
      .orderBy("bin").collect()
    assert(got.length == 4) // dense: empty bins present
    // bins over [-1,1): cos -1 -> bin 0, cos 0 -> bin 2, cos 1 -> bin 3
    assert(got.map(_.getLong(3)).toSeq == Seq(1L, 0L, 1L, 2L))
    assert(got.head.getDouble(1) == -1.0 && got.last.getDouble(2) == 1.0)
    assert(got.map(_.getLong(3)).sum == 4L) // one cell per A-row per B-row
    val e = intercept[IllegalArgumentException] {
      Similarity.cosineHistogram(corpus, "vec_id", "embedding",
        corpus, "vec_id", "embedding", bins = 4, maxRef = 2)
    }
    assert(e.getMessage.contains("maxRef"))
  }

  test("mmrRerank: lambda=1 is the raw ranking; near-duplicate top " +
      "candidates get split by diversity; guard refuses") {
    import spark.implicits._
    // candidates for one query: docs 1 and 2 are near-identical
    // vectors with top relevance; doc 3 is orthogonal, lower rel
    val cands = Seq(
      (0L, 1L, 0.99, Seq(1.0, 0.0, 0.0)),
      (0L, 2L, 0.98, Seq(0.999, 0.01, 0.0)),
      (0L, 3L, 0.50, Seq(0.0, 1.0, 0.0)))
      .toDF("q", "doc", "rel", "v")
    val raw = Similarity.mmrRerank(cands, "q", "doc", "rel", "v",
        k = 3, lambda = 1.0)
      .orderBy("mmr_rank").select("doc").as[Long].collect().toSeq
    assert(raw == Seq(1L, 2L, 3L)) // pure relevance order
    val div = Similarity.mmrRerank(cands, "q", "doc", "rel", "v",
        k = 3, lambda = 0.5)
      .orderBy("mmr_rank").select("doc").as[Long].collect().toSeq
    // step 2: doc 2's cos to doc 1 ~ 1 -> score ~ 0.49 - 0.5;
    // doc 3's cos ~ 0 -> 0.25: diversity promotes the orthogonal doc
    assert(div == Seq(1L, 3L, 2L))
    // ranks are dense, scores non-increasing within the greedy order
    val rows = Similarity.mmrRerank(cands, "q", "doc", "rel", "v",
        k = 3, lambda = 0.5).orderBy("mmr_rank").collect()
    assert(rows.map(_.getInt(4)).toSeq == Seq(1, 2, 3))
    val e = intercept[Exception] {
      Similarity.mmrRerank(cands, "q", "doc", "rel", "v", k = 2,
        lambda = 0.5, maxCandidates = 2).collect()
    }
    assert(e.getMessage.contains("maxCandidates"))
  }

  test("marginMatches == brute-force margin computation; hubs are " +
      "discounted; guard refuses oversized sides") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    def vec() = Seq.fill(8)(rnd.nextDouble() * 2 - 1)
    val aRows = (0L until 5L).map(i => (i, vec()))
    val bRows = (100L until 106L).map(i => (i, vec()))
    val a = aRows.toDF("vec_id", "embedding")
    val b = bRows.toDF("vec_id", "embedding")
    val k = 2
    def cos(x: Seq[Double], y: Seq[Double]) = {
      val dot = x.zip(y).map(p => p._1 * p._2).sum
      dot / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
    }
    val nnx = aRows.map { case (ia, va) =>
      ia -> bRows.map(r => cos(va, r._2)).sorted.reverse.take(k)
        .sum / k }.toMap
    val nny = bRows.map { case (ib, vb) =>
      ib -> aRows.map(r => cos(r._2, vb)).sorted.reverse.take(k)
        .sum / k }.toMap
    val expBest = aRows.map { case (ia, va) =>
      val cands = bRows.map { case (ib, vb) =>
        (ib, cos(va, vb) / ((nnx(ia) + nny(ib)) / 2.0)) }
      ia -> cands.minBy { case (ib, m) => (-m, ib) }
    }.toMap
    val got = Similarity.marginMatches(a, "vec_id", "embedding",
        b, "vec_id", "embedding", k = k)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3)))
      .toMap
    assert(got.keySet == expBest.keySet)
    expBest.foreach { case (ia, (ib, m)) =>
      assert(got(ia)._1 == ib, s"best match for $ia")
      assert(math.abs(got(ia)._2 - m) < 1e-10, s"margin for $ia")
    }
    val e = intercept[IllegalArgumentException] {
      Similarity.marginMatches(a, "vec_id", "embedding",
        b, "vec_id", "embedding", k = 2, maxRows = 3)
    }
    assert(e.getMessage.contains("maxRows"))
  }

  test("embeddingDedupAgainst / nearNewRows: cross-side near-dups only") {
    import spark.implicits._
    // corpus directions: e0 and e1; batch: dup of e0, near-e1, orthogonal
    def v(xs: Double*): Seq[Double] = xs.toSeq
    val corpus = Seq(
      (100L, v(1.0, 0.0, 0.0, 0.0)), (101L, v(0.0, 1.0, 0.0, 0.0)))
      .toDF("vec_id", "embedding")
    val batch = Seq(
      (1L, v(1.0, 0.0, 0.0, 0.0)),    // exact dup of corpus 100
      (2L, v(0.05, 1.0, 0.0, 0.0)),   // near corpus 101
      (3L, v(0.0, 0.0, 1.0, 0.0)),    // orthogonal to everything
      (4L, v(0.0, 0.0, 1.0, 0.0)))    // batch-internal dup of 3: NOT flagged
      .toDF("vec_id", "embedding")
    val hits = Dedup.embeddingDedupAgainst(batch, corpus, "vec_id",
      "embedding", dim = 4, threshold = 0.9, bits = 2, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(hits == Set((1L, 100L), (2L, 101L)), s"got $hits")
    val kept = Dedup.nearNewRows(batch, corpus, "vec_id", "embedding",
      dim = 4, threshold = 0.9, bits = 2, tables = 8)
      .collect().map(_.getLong(0)).toSet
    // batch-internal dups are a job for embeddingDedup, not the screen
    assert(kept == Set(3L, 4L))
  }

  test("bloomNewRows: no false survivals, new keys pass, string keys refused") {
    import spark.implicits._
    val corpus = (1L to 2000L).map(i => (i, i * 7L)).toDF("id", "key")
    val batch = (1500L to 2500L).map(i => (i, i * 7L)).toDF("id", "key")
    val kept = Dedup.bloomNewRows(batch, corpus, "key",
      expectedItems = 5000L, fpp = 1e-6).collect().map(_.getLong(0)).toSet
    // keys 1500..2000 are in the corpus: none may survive (no false
    // negatives in a Bloom filter)
    assert(kept.forall(_ > 2000L), s"corpus key survived: ${kept.filter(_ <= 2000L)}")
    // at fpp 1e-6 over 500 new keys, essentially all genuinely-new rows pass
    assert(kept.size >= 498, s"too many new rows dropped: ${501 - kept.size}")
    val e = intercept[IllegalArgumentException] {
      Dedup.bloomNewRows(batch.withColumn("key", col("key").cast("string")),
        corpus, "key", 100L)
    }
    assert(e.getMessage.contains("integral id"))
  }

  test("topKJoin / ivfTopKMulti refuse over-limit query sets") {
    import spark.implicits._
    val vecs = (0 until 20).map(i => (i.toLong, Seq(1.0, i.toDouble)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Similarity.topKJoin(vecs, vecs, "vec_id", "embedding", k = 2,
        maxQueries = 10)
    }
    assert(e1.getMessage.contains("maxQueries=10"))
    val (assigned, centers) = Similarity.ivfAssign(vecs, "vec_id", "embedding",
      nCells = 2)
    val e2 = intercept[IllegalArgumentException] {
      Similarity.ivfTopKMulti(assigned, centers, "vec_id", vecs, "embedding",
        k = 2, maxQueries = 10)
    }
    assert(e2.getMessage.contains("maxQueries=10"))
    // under the bound both still work
    assert(Similarity.topKJoin(vecs, vecs.limit(3), "vec_id", "embedding",
      k = 2, maxQueries = 10).count() > 0)
  }

  test("bruteForceTopK returns self-similar neighbors first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.9, 0.1)), (3L, Seq(0.0, 1.0)))
      .toDF("vec_id", "embedding")
    val r = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      Array(1.0, 0.0), 2).collect()
    assert(r(0).getLong(0) == 1L)
    assert(r(1).getLong(0) == 2L)
  }

  test("ivfTopK recall vs brute force on clustered data") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val clusters = for {
      c <- 0 until 4
      i <- 0 until 50
    } yield {
      val center = Array.tabulate(8)(j => if (j == c * 2) 5.0 else 0.0)
      ((c * 50 + i).toLong, center.map(_ + rnd.nextGaussian() * 0.3).toSeq)
    }
    val df = clusters.toDF("vec_id", "embedding")
    val query = Array.tabulate(8)(j => if (j == 0) 5.0 else 0.0)
    val bf = Similarity.bruteForceTopK(df, "vec_id", "embedding", query, 10)
      .collect().map(_.getLong(0)).toSet
    val (assigned, centers) = Similarity.ivfAssign(df, "vec_id", "embedding", 4)
    val ivf = Similarity.ivfTopK(assigned, centers, "vec_id", query, 10, 2)
      .collect().map(_.getLong(0)).toSet
    assert((bf & ivf).size >= 8) // ≥80% recall with 2-of-4 probes
  }

  test("ivfTopKMulti recall vs brute force for a batch of queries") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val clusters = for {
      c <- 0 until 4
      i <- 0 until 50
    } yield {
      val center = Array.tabulate(8)(j => if (j == c * 2) 5.0 else 0.0)
      ((c * 50 + i).toLong, center.map(_ + rnd.nextGaussian() * 0.3).toSeq)
    }
    val df = clusters.toDF("vec_id", "embedding")
    val (assigned, centers) = Similarity.ivfAssign(df, "vec_id", "embedding", 4)
    // queries = one member of each cluster
    val queries = Seq(0L, 50L, 100L, 150L)
      .map(i => (i, clusters(i.toInt)._2)).toDF("vec_id", "embedding")
    val multi = Similarity.ivfTopKMulti(assigned, centers, "vec_id",
      queries, "embedding", k = 10, nProbe = 2)
      .collect().groupBy(_.getLong(0))
    for (q <- Seq(0L, 50L, 100L, 150L)) {
      val bf = Similarity.bruteForceTopK(
        df.filter(col("vec_id") =!= q), "vec_id", "embedding",
        clusters(q.toInt)._2.toArray, 10)
        .collect().map(_.getLong(0)).toSet
      val ivf = multi(q).map(_.getLong(1)).toSet
      assert((bf & ivf).size >= 8, s"query $q recall ${(bf & ivf).size}/10")
    }
  }

  test("upsample: copy counts, hashSample degradation, determinism, replica key") {
    import spark.implicits._
    val rows = (0L until 1000L).map(i => (i, if (i % 4 == 0) "en" else "de"))
      .toDF("id", "grp")
    // factor 2.5: every id gets 2 or 3 replicas; mass ~2.5x
    val up = Sampling.upsample(rows, "id", 2.5, seed = 3)
    val perId = up.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(perId.size == 1000 && perId.values.forall(c => c == 2L || c == 3L))
    val mass = perId.values.sum
    assert(mass > 2300 && mass < 2700, s"mass $mass")
    // replica indices are 0..c-1 per id (composite key intact)
    val reps = up.filter(col("id") === perId.find(_._2 == 3L).get._1)
      .select("replica").as[Int].collect().sorted
    assert(reps.sameElements(Array(0, 1, 2)))
    // factor < 1 degrades to hashSample's exact row set (replica 0)
    val down = Sampling.upsample(rows, "id", 0.3, seed = 9)
    val sampled = Sampling.hashSample(rows, "id", 0.3, seed = 9)
    assert(down.select("id").as[Long].collect().sorted
      .sameElements(sampled.select("id").as[Long].collect().sorted))
    assert(down.select("replica").distinct().as[Int].collect().sameElements(Array(0)))
    // reruns are bit-identical; factor 1 is the identity
    assert(Sampling.upsample(rows, "id", 2.5, seed = 3).count() == mass)
    assert(Sampling.upsample(rows, "id", 1.0).count() == 1000)
    // per-group: absent groups keep one replica
    val byGrp = Sampling.upsampleBy(rows, "id", "grp", Map("en" -> 3.0))
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp("en") == 750 && byGrp("de") == 750)
    intercept[IllegalArgumentException](Sampling.upsample(rows, "id", -0.1))
  }

  test("hash sampling is partitioning-independent and fraction-accurate") {
    import spark.implicits._
    val ids = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val a = Sampling.hashSample(ids, "doc_id", 0.3, seed = 1)
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(ids.repartition(7), "doc_id", 0.3, seed = 1)
      .collect().map(_.getLong(0)).toSet
    assert(a == b, "membership changed under repartitioning")
    assert(math.abs(a.size / 2000.0 - 0.3) < 0.05, s"fraction off: ${a.size}")
    // different seeds give different samples
    val c = Sampling.hashSample(ids, "doc_id", 0.3, seed = 2)
      .collect().map(_.getLong(0)).toSet
    assert(a != c)
  }

  test("stratifiedSample honors per-stratum fractions; split is exhaustive") {
    import spark.implicits._
    val df = (0L until 3000L).map(i =>
      (i, if (i % 3 == 0) "en" else "de")).toDF("doc_id", "lang")
    val s = Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0.5, "de" -> 0.1), seed = 4)
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(s("en") / 1000.0 - 0.5) < 0.1, s"en: ${s("en")}")
    assert(math.abs(s("de") / 2000.0 - 0.1) < 0.05, s"de: ${s("de")}")
    // absent stratum → dropped entirely
    val none = Sampling.stratifiedSample(df, "doc_id", "lang",
      Map("en" -> 0.5), seed = 4).filter(col("lang") === "de").count()
    assert(none == 0)

    val split = Sampling.trainTestSplit(df, "doc_id", 0.2, 0.1, seed = 5)
    assert(split.count() == 3000) // exhaustive: every row gets a split
    val byClass = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byClass.keySet == Set("train", "val", "test"))
    assert(math.abs(byClass("test") / 3000.0 - 0.1) < 0.05)
    assert(math.abs(byClass("val") / 3000.0 - 0.2) < 0.05)
  }

  test("componentSafeSplit: cliques move as one unit; singletons match the plain split") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    // dup graph: {0..9} one clique (rep 0), {100,101} a pair (rep 100)
    val comps = (
      (0L until 10L).map(i => (i, 0L)) ++ Seq((100L, 100L), (101L, 100L))
    ).toDF("id", "component")
    val split = Sampling.componentSafeSplit(df, comps, "doc_id",
      valFraction = 0.2, testFraction = 0.1, seed = 5)
    assert(split.count() == 2000)
    val byId = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // co-membership invariant: a component is entirely on one side
    assert((0L until 10L).map(byId).toSet.size == 1, "clique straddles splits")
    assert(byId(100L) == byId(101L))
    // singletons decide exactly as the plain id-hash split (same seed)
    val plain = Sampling.trainTestSplit(df, "doc_id", 0.2, 0.1, seed = 5)
      .select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (200L until 2000L).foreach(i => assert(byId(i) == plain(i)))
    // and the clique's side is its representative's plain side
    assert(byId(0L) == plain(0L) && byId(100L) == plain(100L))
    // fractions still roughly hold (components only perturb 12 rows)
    val frac = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(frac("test") / 2000.0 - 0.1) < 0.05)
    assert(math.abs(frac("val") / 2000.0 - 0.2) < 0.05)
  }

  test("kFold: exhaustive partition, holdout-consistent, append-safe") {
    import spark.implicits._
    val df = (0L until 3000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val folds = Sampling.kFold(df, "doc_id", k = 10, seed = 5)
    assert(folds.count() == 3000) // every row gets exactly one fold
    val byFold = folds.groupBy("fold").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(byFold.keySet == (0 until 10).toSet)
    byFold.values.foreach(n => assert(math.abs(n / 3000.0 - 0.1) < 0.05))
    // fold 0 under k=10 is EXACTLY the 0.1-fraction test split at the
    // same seed (both are key < 0.1 of the same Lehmer key)
    val fold0 = folds.filter(col("fold") === 0).select("doc_id")
      .as[Long].collect().toSet
    val test0 = Sampling.trainTestSplit(df, "doc_id", 0.0, 0.1, seed = 5)
      .filter(col("split") === "test").select("doc_id")
      .as[Long].collect().toSet
    assert(fold0 == test0)
    // append-safe: the same id keeps its fold in a larger frame
    val more = (0L until 6000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val before = folds.select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    Sampling.kFold(more, "doc_id", k = 10, seed = 5)
      .select("doc_id", "fold").collect()
      .foreach(r => before.get(r.getLong(0))
        .foreach(f => assert(f == r.getInt(1))))
    intercept[IllegalArgumentException](Sampling.kFold(df, "doc_id", 1))
  }

  test("componentSafeKFold: cliques in one fold; singletons match plain kFold") {
    import spark.implicits._
    val df = (0L until 2000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val comps = (
      (0L until 10L).map(i => (i, 0L)) ++ Seq((100L, 100L), (101L, 100L))
    ).toDF("id", "component")
    val folds = Sampling.componentSafeKFold(df, comps, "doc_id", k = 5,
      seed = 5)
    assert(folds.count() == 2000)
    val byId = folds.select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0L until 10L).map(byId).toSet.size == 1, "clique straddles folds")
    assert(byId(100L) == byId(101L))
    val plain = Sampling.kFold(df, "doc_id", k = 5, seed = 5)
      .select("doc_id", "fold").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    (200L until 2000L).foreach(i => assert(byId(i) == plain(i)))
    assert(byId(0L) == plain(0L) && byId(100L) == plain(100L))
  }

  test("vocabulary counts tokens and doc frequencies") {
    import spark.implicits._
    val docs = Seq((1L, "the cat the dog"), (2L, "the bird"), (3L, "a bird"))
      .toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(v("the") == ((3L, 2L))) // 3 occurrences across 2 docs
    assert(v("bird") == ((2L, 2L)))
    assert(v("cat") == ((1L, 1L)))
    val filtered = TextAnalysis.vocabulary(docs, "doc_id", "text", minCount = 2)
      .collect().map(_.getString(0)).toSet
    assert(filtered == Set("the", "bird"))
    // id column literally named "token" must not turn the groupBy ambiguous
    val tricky = TextAnalysis.vocabulary(
      docs.withColumnRenamed("doc_id", "token"), "token", "text")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(tricky("the") == 3L)
  }

  test("negativePairs: in-group, never self, k per row, deterministic") {
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"),
      (10L, "b"), (11L, "b"), (20L, "c")).toDF("id", "g")
    val got = Sampling.negativePairs(df, "id", Seq("g"), k = 2, seed = 5L)
      .as[(String, Long, Int, Long)].collect()
    // group c has one row -> nothing; every other row gets exactly k
    assert(!got.exists(_._2 == 20L))
    assert(got.groupBy(r => (r._1, r._2)).forall(_._2.map(_._3).sorted
      .toSeq == Seq(1, 2)))
    // never self, always same group
    val groups = Map(1L -> "a", 2L -> "a", 3L -> "a", 4L -> "a",
      10L -> "b", 11L -> "b")
    got.foreach { case (g, id, _, neg) =>
      assert(neg != id && groups(neg) == g && groups(id) == g)
    }
    // two-row groups must pick the only other member
    assert(got.filter(_._2 == 10L).forall(_._4 == 11L))
    // deterministic across invocations; seed changes draws somewhere
    val again = Sampling.negativePairs(df, "id", Seq("g"), 2, 5L)
      .as[(String, Long, Int, Long)].collect()
    assert(got.toSet === again.toSet)
    // replay the draw for one row: group a ordered 1,2,3,4 (rank 0..3)
    def h(id: Long, j: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"5:$id:$j".getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    val ids = Seq(1L, 2L, 3L, 4L)
    val expect = (for (j <- 1 to 2) yield {
      val pr = ((0 + 1 + h(1L, j) % 3) % 4).toInt
      ("a", 1L, j, ids(pr))
    }).toSet
    assert(got.filter(_._2 == 1L).toSet === expect)
    intercept[IllegalArgumentException](
      Sampling.negativePairs(df, "id", Seq("g"), 0, 5L))
  }

  test("sampling guards: null ids dropped from splits, bad fractions rejected") {
    import spark.implicits._
    val withNull = Seq[(java.lang.Long, String)]((1L, "a"), (null, "b"),
      (2L, "c")).toDF("doc_id", "text")
    val split = Sampling.trainTestSplit(withNull, "doc_id", 0.2, 0.2)
    assert(split.count() == 2, "null-id row was assigned a split")
    intercept[IllegalArgumentException] {
      Sampling.trainTestSplit(withNull, "doc_id", 0.3, -0.1)
    }
    intercept[IllegalArgumentException] {
      Sampling.stratifiedSample(withNull, "doc_id", "text", Map("a" -> 1.5))
    }
    // seed is NOT a pure shift of the id stream: key(id, s+d) != key(id+d, s)
    val ids = (0L until 50L).toDF("doc_id")
    def sample(seed: Long) = Sampling.hashSample(ids, "doc_id", 0.5, seed)
      .collect().map(_.getLong(0)).toSet
    val shifted = Sampling.hashSample(
      (5L until 55L).toDF("doc_id"), "doc_id", 0.5, 0)
      .collect().map(_.getLong(0)).map(_ - 5).toSet
    assert(sample(5) != shifted, "seed acts as a pure id shift")
  }

  test("scrubPii strips emails, IPs, and long digit runs; keeps short numbers") {
    import spark.implicits._
    val s = Seq("mail a.b+c@x-corp.io on 192.168.1.200, call 5551234567, " +
      "room 42 floor 3").toDF("t")
      .select(TextAnalysis.scrubPii(col("t"))).head().getString(0)
    assert(s == "mail <EMAIL> on <IP>, call <NUM>, room 42 floor 3", s)
  }

  test("text analysis columns are sane") {
    import spark.implicits._
    val df = Seq("the cat sat on the mat.").toDF("text")
    val r = TextAnalysis.analyze(df, "text").head()
    assert(r.getAs[Int]("n_tokens") == 6)
    assert(r.getAs[Double]("stopword_ratio") == 3.0 / 6) // the, on, the
    assert(r.getAs[Double]("punct_ratio") > 0)
    assert(r.getAs[String]("lang_pred") == "en")
    assert(r.getAs[Double]("quality") > 0 && r.getAs[Double]("quality") <= 1)
  }

  test("fingerprint is whitespace-insensitive but order-sensitive") {
    import spark.implicits._
    val df = Seq(
      ("a", "hello  world"), ("b", " hello world "), ("c", "world hello"))
      .toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fps("a") == fps("b"))
    assert(fps("a") != fps("c"))
  }

  test("payloadDedup groups byte-identical payloads only; nulls dropped") {
    import spark.implicits._
    val png = Multimodal.syntheticPng(1L)
    val other = Multimodal.syntheticPng(2L)
    val df = Seq((1L, png), (2L, png.clone()), // identical CONTENT, new ref
      (3L, other), (4L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "data")
    val got = Multimodal.payloadDedup(df, "id", "data")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3)))
      .toMap
    assert(got === Map(1L -> ((2L, png.length.toLong)),
      3L -> ((1L, other.length.toLong))))
  }

  test("syntheticPngMemo keeps serving cached seeds once the memo is full") {
    val early = Multimodal.syntheticPngMemo(-1L, 1, 1)
    (0 to Multimodal.MaxPngMemo).foreach(i =>
      Multimodal.syntheticPngMemo(i.toLong, 1, 1))
    assert(Multimodal.syntheticPngMemo(-1L, 1, 1) eq early)
    // seeds past the cap still encode, just uncached
    val late = Multimodal.MaxPngMemo + 7L
    assert(Multimodal.syntheticPngMemo(late, 1, 1) sameElements
      Multimodal.syntheticPng(late, 1, 1))
  }

  test("ImageIOCodec decodes synthetic PNG exactly; unknown payloads fall back") {
    import spark.implicits._
    val df = Seq((7L, Multimodal.syntheticPng(7L)), (8L, Array[Byte](1, 2, 3)))
      .toDF("id", "data")
    val media = Multimodal.asMediaFrame(df, "id", "data", "png")
    val out = Multimodal.decodeAndExtract(media, dim = 8)
      .orderBy("media_id").collect()
    val meta7 = out(0).getStruct(2)
    assert(meta7.getInt(1) == 8 && meta7.getInt(2) == 4) // real width/height
    val feats = out(0).getSeq[Double](3)
    val expected = (0 until 8).map(b =>
      (0 until 4).map(i => ((7L * 7 + (b * 4 + i) * 13) % 256) / 255.0).sum / 4)
    feats.zip(expected).foreach { case (g, e) =>
      assert(math.abs(g - e) < 1e-12, s"pooled feature $g != analytic $e")
    }
    // undecodable payload: stub features, metadata untouched
    assert(out(1).getStruct(2).isNullAt(1))
    assert(out(1).getSeq[Double](3).length == 8)
  }

  test("ImageIOCodec normalizes 16-bit grayscale by the real component depth") {
    import spark.implicits._
    val img = new java.awt.image.BufferedImage(
      4, 2, java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    (0 until 8).foreach(p => img.getRaster.setSample(p % 4, p / 4, 0,
      p * 8000)) // samples up to 56000 — far beyond 8-bit range
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val df = Seq((1L, bos.toByteArray)).toDF("id", "data")
    val media = Multimodal.asMediaFrame(df, "id", "data", "png")
    val feats = Multimodal.decodeAndExtract(media, dim = 4)
      .head().getSeq[Double](3)
    assert(feats.forall(f => f >= 0.0 && f <= 1.0),
      s"16-bit samples not normalized: $feats")
    assert(feats.max > 0.5) // the high samples actually registered
  }

  test("multimodal: media frame schema, stub features, frame sampling") {
    import spark.implicits._
    val df = Seq((1L, Array[Byte](1, 2, 3, 4)), (2L, Array[Byte](9, 8, 7)))
      .toDF("id", "data")
    val media = Multimodal.asMediaFrame(df, "id", "data", "png")
    assert(media.schema.fieldNames.toSeq == Multimodal.MediaSchema.fieldNames.toSeq)
    assert(media.schema("meta").dataType.asInstanceOf[
      org.apache.spark.sql.types.StructType].fieldNames.toSeq ==
      Multimodal.MetadataType.fieldNames.toSeq)
    val feats = Multimodal.extractFeatures(media, dim = 8)
    val r = feats.orderBy("media_id").collect()
    assert(r(0).getSeq[Double](3).length == 8)
    // deterministic: same payload → same features
    val again = Multimodal.extractFeatures(media, dim = 8)
      .orderBy("media_id").collect()
    assert(r(0).getSeq[Double](3) == again(0).getSeq[Double](3))
    val frames = Multimodal.sampleFrames(
      Multimodal.resize(media, 224, 224), everyNth = 4, maxFrames = 8)
    assert(frames.filter(col("media_id") === 1).count() == 2) // idx 0,4
  }

  test("repetitionSignals: dup lines, dup ngrams, short docs, ties") {
    import spark.implicits._
    val docs = Seq(
      // 4 lines, "aa bb" appears twice (10 of 20 line chars duplicated)
      (0L, "aa bb\ncc dd\naa bb\nee ff"),
      // no duplicate lines or >=5-grams
      (1L, "one two three four five six"),
      // "x y" 2-gram repeats 3x; 5-gram "x y x y x" twice (overlapping)
      (2L, "x y x y x y x"),
      // shorter than 5 tokens: dup_5gram must be 0, top_2gram still works
      (3L, "p q p q"),
      // single token: every n-gram signal 0, one line
      (4L, "solo")
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionSignals(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
    // doc 0: 4 lines, 1 duplicate occurrence beyond first -> 1/4
    assert(r(0).getAs[Long]("n_lines") == 4L)
    assert(r(0).getAs[Double]("dup_line_frac") == 0.25)
    assert(r(0).getAs[Double]("dup_line_char_frac") == 10.0 / 20.0)
    // doc 1: nothing repeats
    assert(r(1).getAs[Double]("dup_line_frac") == 0.0)
    assert(r(1).getAs[Double]("dup_5gram_char_frac") == 0.0)
    assert(r(1).getAs[Double]("top_2gram_char_frac") > 0.0)
    // doc 2: top 2-gram "x y" count 3, len 3, text len 13 -> 9/13
    assert(r(2).getAs[Double]("top_2gram_char_frac") == 9.0 / 13.0)
    // 5-grams: "x y x y x" twice, "y x y x y" once -> (2-1)*9/13
    assert(r(2).getAs[Double]("dup_5gram_char_frac") == 9.0 / 13.0)
    assert(r(2).getAs[Double]("dup_10gram_char_frac") == 0.0) // only 7 tokens
    // doc 3: 4 tokens -> no 5-grams; top 2-gram "p q" twice, len 3/7
    assert(r(3).getAs[Double]("dup_5gram_char_frac") == 0.0)
    assert(r(3).getAs[Double]("top_2gram_char_frac") == 6.0 / 7.0)
    // doc 4: single token, no 2-grams
    assert(r(4).getAs[Long]("n_lines") == 1L)
    assert(r(4).getAs[Double]("top_2gram_char_frac") == 0.0)
    // tie-break: two 2-grams with equal count -> lexicographically smallest
    val tie = TextAnalysis.repetitionSignals(
      Seq((0L, "b a b a")).toDF("doc_id", "text"), "doc_id", "text").head()
    // 2-grams: "b a" x2? no: "b a","a b","b a" -> "b a" count 2 wins anyway;
    // use a true tie: "c d e f" -> "c d","d e","e f" all count 1, min "c d"
    val tie2 = TextAnalysis.repetitionSignals(
      Seq((0L, "c d e f")).toDF("doc_id", "text"), "doc_id", "text").head()
    assert(tie2.getAs[Double]("top_2gram_char_frac") == 3.0 / 7.0)
    assert(tie.getAs[Double]("top_2gram_char_frac") == 2 * 3.0 / 7.0)
  }

  test("decontaminate flags and removes benchmark n-gram overlap") {
    import spark.implicits._
    val train = Seq(
      (1L, "the cat sat on the mat today"),       // shares 5-gram with bench
      (2L, "completely unrelated training text"), // clean
      (3L, "the cat sat on the mat and more"),    // shares the same 5-gram
      (4L, "cat sat on a mat")                    // 5 tokens, no shared gram
    ).toDF("doc_id", "text")
    val bench = Seq((0L, "q: the cat sat on the mat ?")).toDF("bid", "btext")
    val bad = Decontaminate.contaminated(train, "doc_id", "text",
      bench, "btext", n = 5).orderBy("doc_id").collect()
    assert(bad.map(_.getLong(0)).toSeq == Seq(1L, 3L))
    // doc 1 shares "the cat sat on the", "cat sat on the mat" (2 grams)
    assert(bad(0).getAs[Long]("overlap") == 2L)
    val kept = Decontaminate.decontaminate(train, "doc_id", "text",
      bench, "btext", n = 5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L))
    // null-text rows are dropped (uncheckable), matching decontaminateStream
    val withNull = train.union(Seq((5L, null.asInstanceOf[String]))
      .toDF("doc_id", "text"))
    val kept2 = Decontaminate.decontaminate(withNull, "doc_id", "text",
      bench, "btext", n = 5).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept2 == Set(2L, 4L))
  }

  test("noveltyAgainst: hand-checked novel fractions; fully-seen and " +
      "fully-new docs hit the endpoints") {
    import spark.implicits._
    val corpus = Seq(
      (10L, "a b c d e"),       // grams: "a b c","b c d","c d e"
      (11L, "x y z")            // gram: "x y z"
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, "a b c d"),          // "a b c","b c d" -> both seen: novelty 0
      (2L, "p q r s"),          // "p q r","q r s" -> both new: novelty 1
      (3L, "c d e f"),          // "c d e" seen, "d e f" new -> 0.5
      (4L, "x y")               // short text: gram "x y" (< n) -> new
    ).toDF("doc_id", "text")
    val got = Decontaminate.noveltyAgainst(batch, "doc_id", "text",
        corpus, "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == Seq(
      (1L, 2L, 0L, 0.0),
      (2L, 2L, 2L, 1.0),
      (3L, 2L, 1L, 0.5),
      (4L, 1L, 1L, 1.0)))
    // empty corpus: everything is novel
    val emptyCorpus = corpus.filter(col("doc_id") < 0)
    val all = Decontaminate.noveltyAgainst(batch, "doc_id", "text",
      emptyCorpus, "text", n = 3)
    assert(all.collect().forall(_.getDouble(3) == 1.0))
    intercept[IllegalArgumentException](
      Decontaminate.noveltyAgainst(batch, "doc_id", "text", corpus,
        "text", n = 0))
  }

  test("semantic decontamination flags embedding-space benchmark overlap") {
    import spark.implicits._
    def vf(xs: Double*): Array[Float] = xs.map(_.toFloat).toArray
    // corpus 10 ≈ bench direction; 11 orthogonal; 12 anti-parallel
    val corpus = Seq(
      (10L, vf(1.0, 0.05)), (11L, vf(0.0, 1.0)), (12L, vf(-1.0, 0.0)))
      .toDF("vec_id", "embedding")
    val bench = Seq((0L, vf(1.0, 0.0))).toDF("vec_id", "embedding")
    val flagged = Decontaminate.semanticContaminated(corpus, "vec_id",
        "embedding", bench, "embedding", threshold = 0.9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(flagged.keySet == Set(10L))
    assert(flagged(10L) > 0.99)
    val kept = Decontaminate.semanticDecontaminate(corpus, "vec_id",
        "embedding", bench, "embedding", threshold = 0.9)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(11L, 12L))
    // benchmark-size guard fires rather than collecting unbounded rows
    val e = intercept[IllegalArgumentException] {
      Decontaminate.semanticContaminated(corpus, "vec_id", "embedding",
        corpus.unionAll(corpus), "embedding", 0.5, maxBench = 3)
    }
    assert(e.getMessage.contains("maxBench"))
  }

  test("qualityFilters computes Gopher/C4 signals and keep flags") {
    import spark.implicits._
    val good = ("the data pipeline reads parquet files and filters rows. " +
      "it computes signals that have real words with normal lengths. " +
      "these sentences end with punctuation. every line is prose.") * 2
    val rows = Seq(
      (0L, good),                                       // passes both
      (1L, "- one\n- two\n- three\n- four"),            // all bullet lines
      (2L, "wait...\nmore...\nhmm...\nok then fine"),   // 75% ellipsis lines
      (3L, "## ## ## ## tags # markers # here # now"),  // symbol-heavy
      (4L, "Lorem ipsum dolor sit amet. Consectetur adipiscing elit. " +
        "Sed do eiusmod tempor."),                      // lorem → c4 drop
      (5L, "val x = { 1 }. a brace. appears here."),    // brace → c4 drop
      (6L, "12345 67890 11111 22222 33333"),            // non-alphabetic
      (7L, null.asInstanceOf[String]))                  // null text
      .toDF("doc_id", "text")
    val r = TextAnalysis.qualityFilters(rows, "text", minWords = 10)
      .orderBy("doc_id").collect()
    def b(i: Int, c: String) = r(i).getAs[Boolean](c)
    def d(i: Int, c: String) = r(i).getAs[Double](c)
    assert(b(0, "keep_gopher") && b(0, "keep_c4"))
    assert(d(1, "bullet_line_frac") == 1.0 && !b(1, "keep_gopher"))
    assert(d(2, "ellipsis_line_frac") == 0.75 && !b(2, "keep_gopher"))
    assert(d(3, "symbol_word_ratio") > 0.1 && !b(3, "keep_gopher"))
    assert(b(4, "has_lorem_ipsum") && !b(4, "keep_c4"))
    assert(b(5, "has_brace") && !b(5, "keep_c4"))
    assert(d(6, "alpha_word_frac") == 0.0 && !b(6, "keep_gopher"))
    assert(!b(7, "keep_gopher") && !b(7, "keep_c4")) // null → false, no NPE
    // terminal punctuation fraction: doc 0 is one line of prose ending '.'
    assert(d(0, "terminal_punct_line_frac") == 1.0)
    assert(r(0).getAs[Long]("sentence_count") >= 6L)
  }

  // ---- round-8 surface: maxDfFraction --------------------------------------

  lazy val fracCorpus = {
    import spark.implicits._
    // 8 shingled docs; the "shared boiler plate" trigram has df=4, so a
    // fractional cut of 0.3 (-> floor(0.3*8)=2) stop-lists it while the
    // df=2 shingles survive
    Seq(
      (0L, "shared boiler plate alpha beta gamma"),
      (1L, "shared boiler plate alpha beta delta"),
      (2L, "shared boiler plate epsilon zeta eta"),
      (3L, "shared boiler plate epsilon zeta theta"),
      (4L, "totally different words one two three"),
      (5L, "totally different words one two four"),
      (6L, "lone content nothing in common here"),
      (7L, "other isolated body nothing common across")
    ).toDF("doc_id", "text")
  }

  private def jacSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("maxDfFraction 1.0 is a no-op (ngramJaccard and minhashDedup)") {
    val base = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3))
    val noop = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3,
      maxDfFraction = 1.0))
    assert(noop == base)
    val mBase = jacSet(Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5))
    val mNoop = jacSet(Dedup.minhashDedup(docs, "doc_id", "text", threshold = 0.5,
      maxDfFraction = 1.0))
    assert(mNoop == mBase)
  }

  test("maxDfFraction f equals absolute maxDf floor(f*n); bad fractions rejected") {
    // n = 8 shingled docs, f = 0.3 -> effective cut floor(2.4) = 2
    val frac = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3,
      maxDfFraction = 0.3))
    val abs = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3,
      maxDf = 2))
    assert(frac == abs)
    // the cut actually engaged: the df=4 boilerplate shingle is gone, so
    // the fractional result differs from the uncut one
    val base = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3))
    assert(frac != base)
    // combined by min: a LOOSER absolute cap alongside the fraction
    // leaves the fractional cut in charge
    val both = jacSet(Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3,
      maxDf = 100, maxDfFraction = 0.3))
    assert(both == frac)
    intercept[IllegalArgumentException](
      Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3, maxDfFraction = 0.0))
    intercept[IllegalArgumentException](
      Dedup.ngramJaccard(fracCorpus, "doc_id", "text", 3, maxDfFraction = 1.5))
  }

  // ---- round-8 surface: simhash chunk generalization -----------------------

  test("simhashPairsFromSig: exact Hamming ball for chunks in {1,2,4,9}; positional columns") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0 until 30).map(i => (i.toLong, rnd.nextLong()))
    // near-dups flipping bits that straddle the variable-width chunk
    // boundaries (chunks=9 -> bounds at 7,14,...,56; chunks=2 -> 32)
    val flips = Seq(Seq(6, 7), Seq(31, 32), Seq(55, 56, 63), Seq(0),
      Seq(7, 8, 13, 21, 28), Seq(62, 63))
    val dups = flips.zipWithIndex.map { case (bits, i) =>
      (100L + i, bits.foldLeft(base(i)._2)((acc, b) => acc ^ (1L << b)))
    }
    val exactDup = Seq((200L, base(0)._2)) // the chunks=1 (hamming 0) case
    val sigs = base ++ dups ++ exactDup
    val df = sigs.toDF("id", "sig")
    def ball(maxH: Int): Set[(Long, Long, Int)] = (for {
      i <- sigs.indices; j <- (i + 1) until sigs.length
      h = java.lang.Long.bitCount(sigs(i)._2 ^ sigs(j)._2)
      if h <= maxH
    } yield (math.min(sigs(i)._1, sigs(j)._1),
             math.max(sigs(i)._1, sigs(j)._1), h)).toSet
    for ((chunks, maxH) <- Seq((1, 0), (2, 1), (4, 3), (9, 8))) {
      val fast = Dedup.simhashPairsFromSig(df, maxHamming = maxH, chunks = chunks)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(fast == ball(maxH), s"chunks=$chunks maxHamming=$maxH")
      assert(fast.nonEmpty, s"engineered corpus must collide at chunks=$chunks")
    }
    // positional first-two-column contract: duplicate names and extra
    // columns must not break resolution
    val dupNames = df.toDF("x", "x")
    val extra = df.withColumn("sig2", col("sig").cast("string"))
    val want = ball(8)
    for (in <- Seq(dupNames, extra)) {
      val got = Dedup.simhashPairsFromSig(in, maxHamming = 8, chunks = 9)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == want)
    }
    intercept[IllegalArgumentException](
      Dedup.simhashPairsFromSig(df, chunks = 0))
    intercept[IllegalArgumentException](
      Dedup.simhashPairsFromSig(df, chunks = 65))
  }

  test("simhashMd5: deterministic, order-sensitive, null/token-less -> null") {
    import spark.implicits._
    val r = Seq((0L, "alpha beta gamma"), (1L, "alpha beta gamma"),
        (2L, "gamma beta alpha"), (3L, "   "), (4L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), Dedup.simhashMd5(col("t")).as("sig"))
      .orderBy("id").collect()
    assert(r(0).getLong(1) == r(1).getLong(1))
    assert(r(3).isNullAt(1) && r(4).isNullAt(1))
  }

  // ---- round-8 surface: adaptive-bits default ------------------------------

  test("adaptive bits: bits=0 engages lshBitsFor; explicit bits pins the width") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    def vec(): Seq[Double] = Seq.fill(8)(rnd.nextGaussian())
    val base = (0 until 150).map(i => (i.toLong, vec()))
    // planted near-dups: noise at ~0.4 rad so extra planes split some pairs
    val dups = base.take(30).map { case (i, v) =>
      (i + 1000L, v.map(x => x + 0.42 * rnd.nextGaussian()))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def pairs(bits: Int): Set[(Long, Long)] =
      Dedup.embeddingDedup(df, "vec_id", "embedding", dim = 8,
          threshold = 0.9, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 180 vectors -> lshBitsFor = minBits = 4: the adaptive default must
    // reproduce the pinned-width result exactly (same seeded planes)
    val adaptive = pairs(0)
    val pinned4 = pairs(4)
    assert(adaptive == pinned4)
    assert(adaptive.nonEmpty)
    // explicit override honored: planes are prefix-stable, so an 8-bit
    // signature REFINES the 4-bit buckets — a strict subset on this corpus
    val pinned8 = pairs(8)
    assert(pinned8.subsetOf(pinned4))
    assert(pinned8 != pinned4, "wider signature must split some bucket")
    // cross-side facade sizes from the CORPUS count
    val corpus = base.toDF("vec_id", "embedding")
    val batch = dups.toDF("vec_id", "embedding")
    def crossPairs(bits: Int): Set[(Long, Long)] =
      Dedup.embeddingDedupAgainst(batch, corpus, "vec_id", "embedding",
          dim = 8, threshold = 0.9, bits = bits)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(crossPairs(0) == crossPairs(4)) // 150 corpus vectors -> 4 bits
    val keptAdaptive = Dedup.nearNewRows(batch, corpus, "vec_id", "embedding",
      dim = 8, threshold = 0.9).collect().map(_.getLong(0)).toSet
    val keptPinned = Dedup.nearNewRows(batch, corpus, "vec_id", "embedding",
      dim = 8, threshold = 0.9, bits = 4).collect().map(_.getLong(0)).toSet
    assert(keptAdaptive == keptPinned)
  }

  // ---- round-8 surface: skipped-bucket accumulator -------------------------

  test("skipped-bucket accumulator counts over-cap band buckets exactly") {
    import spark.implicits._
    val text = "all these docs carry the very same boilerplate text body"
    val corpus = (0L until 3L).map(i => (i, text)).toDF("doc_id", "text")
    val batch = (100L until 103L).map(i => (i, text)).toDF("doc_id", "text")
    // identical texts -> identical signatures: every one of the 21 band
    // buckets holds 6 rows > maxBucket=4, so each skips exactly once on a
    // retry-free local run (at-least-once contract)
    val (cands, skipped) = Dedup.minhashCandidatesAgainstCounted(
      batch, corpus, "doc_id", "text", maxBucket = 4)
    assert(skipped.value == 0L) // transformation: nothing until an action
    assert(cands.count() == 0L)
    assert(skipped.value == 21L)
    // default cap: nothing skipped, all 3x3 cross pairs surface through
    // the verified screen
    val (res, skipped2) = Dedup.minhashDedupAgainstCounted(
      batch, corpus, "doc_id", "text")
    assert(res.count() == 9L)
    assert(skipped2.value == 0L)
  }

  test("effectiveSampleSize: uniform weights give ess = n, one dominant " +
      "row drives ess toward 1; nulls and negatives dropped") {
    import spark.implicits._
    val uniform = (0 until 40).map(i => (i.toLong, "a", 2.5)).toDF("id", "g", "w")
    val u = Sampling.effectiveSampleSize(uniform, "w", "g").head()
    assert(u.getAs[Long]("n") == 40L)
    assert(math.abs(u.getAs[Double]("ess") - 40.0) < 1e-9)
    assert(math.abs(u.getAs[Double]("ess_ratio") - 1.0) < 1e-9)
    // one huge weight: ess ≈ 1 (Kish: (Σw)²/Σw² → w_max²/w_max² as it dominates)
    val skew = ((0 until 39).map(i => (i.toLong, "a", 1e-6)) :+ (39L, "a", 1000.0))
      .toDF("id", "g", "w")
    val s = Sampling.effectiveSampleSize(skew, "w", "g").head()
    assert(math.abs(s.getAs[Double]("ess") - 1.0) < 1e-6)
    // grouped: hand value for {1, 3}: (4)²/(10) = 1.6
    val two = Seq((0L, "a", 1.0), (1L, "a", 3.0), (2L, "b", 5.0)).toDF("id", "g", "w")
    val byG = Sampling.effectiveSampleSize(two, "w", "g")
      .orderBy("g").as[(String, Long, Double, Double, Double)].collect()
    assert(byG(0)._1 == "a" && math.abs(byG(0)._4 - 1.6) < 1e-12)
    assert(byG(1)._1 == "b" && math.abs(byG(1)._4 - 1.0) < 1e-12)
    // nulls/negatives dropped; global (no group) form works
    val dirty = Seq((0L, Some(1.0)), (1L, None: Option[Double]), (2L, Some(-2.0)))
      .toDF("id", "w")
    val g = Sampling.effectiveSampleSize(dirty, "w").head()
    assert(g.getAs[Long]("n") == 1L)
  }
}
