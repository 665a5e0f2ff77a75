package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ComponentsSpec extends SparkSpec {

  private def cc(pairs: Seq[(Long, Long)],
                 localThreshold: Long = 1L << 20): Map[Long, Long] = {
    import spark.implicits._
    Components.connectedComponents(pairs.toDF("id_a", "id_b"),
        localThreshold = localThreshold)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("chain collapses transitively to the min id") {
    // A-B, B-C, C-D: one component rooted at 1 even though 1 and 4 share no pair
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("disjoint components keep separate roots; self-loops ignored") {
    val r = cc(Seq((5L, 9L), (9L, 5L), (7L, 7L), (2L, 3L), (10L, 6L)))
    assert(r == Map(5L -> 5L, 9L -> 5L, 2L -> 2L, 3L -> 2L,
      10L -> 6L, 6L -> 6L, 7L -> 7L))
  }

  test("star and cycle converge") {
    // star already in final shape + a 4-cycle
    val r = cc(Seq((1L, 2L), (1L, 3L), (1L, 4L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 10L)))
    assert(r(2L) == 1L && r(3L) == 1L && r(4L) == 1L)
    assert(Seq(10L, 11L, 12L, 13L).forall(r(_) == 10L))
  }

  test("random graphs match a union-find reference") {
    val rnd = new scala.util.Random(42)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
        .filter { case (a, b) => a != b }
      // local union-find oracle
      val parent = Array.tabulate(50)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(ra max rb) = ra min rb
      }
      // path-compress to min-root labels for the nodes that appear
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(id => id -> find(id.toInt).toLong).toMap
      // both tiers must agree with the reference: the driver-local
      // union-find (default) and the large-star/small-star dataflow
      // rounds (forced with a negative threshold)
      assert(cc(edges) == want, s"trial $trial (local)")
      assert(cc(edges, localThreshold = -1L) == want, s"trial $trial (distributed)")
    }
  }

  test("chain collapses through the distributed rounds too") {
    assert(cc(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)), localThreshold = -1L) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L))
  }

  test("nearDedupByComponent keeps one representative per cluster") {
    import spark.implicits._
    val df = (0L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    // clusters {0,1,2} (chain) and {5,7}; 3,4,6,8,9 untouched
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 7L)).toDF("id_a", "id_b")
    val kept = Dedup.nearDedupByComponent(df, "doc_id", pairs)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 5L, 6L, 8L, 9L))
  }

  test("maxIter exhaustion still emits exactly one row per node") {
    // A 9-node chain needs several large/small-star rounds; maxIter=1
    // exits unconverged — the min-agg invariant must still hold (one
    // label per node, never multiple rows; ADVICE r3 medium finding).
    import spark.implicits._
    val chain = (1L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Components.connectedComponents(chain, maxIter = 1,
      localThreshold = -1L)
    val rows = out.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate node rows")
    assert(rows.map(_._1).toSet == (1L to 9L).toSet)
    // labels are an upper bound: each label is ≤ the node id
    assert(rows.forall { case (id, c) => c <= id })
    out.unpersist()
  }

  test("internal blocks are released; only the result stays cached") {
    import spark.implicits._
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L)).toDF("id_a", "id_b")
    val res = Components.connectedComponents(pairs, localThreshold = -1L)
    res.count()
    val cached = spark.sparkContext.getPersistentRDDs
    // exactly the blocks backing `res` may remain (its InMemoryRelation),
    // none of the per-round edge RDDs or the node set
    assert(cached.size <= 1, s"leaked blocks: ${cached.values.map(_.name)}")
    res.unpersist()
  }

  test("nearDedupByComponent shuffle fallback matches the broadcast path") {
    import spark.implicits._
    val df = (0L to 9L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (1L, 2L), (5L, 7L)).toDF("id_a", "id_b")
    // maxBroadcastVictims = 0 forces the shuffle anti-join tier
    val kept = Dedup.nearDedupByComponent(df, "doc_id", pairs,
        maxBroadcastVictims = 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L, 4L, 5L, 6L, 8L, 9L))
    spark.catalog.clearCache()
  }

  test("updateComponents: merge, bridge, new clique, untouched pass-through") {
    import spark.implicits._
    // standing: {1,2,3} comp 1, {10,11} comp 10, {40,41} comp 40, 20 alone
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L), (40L, 41L), (20L, 20L))
    val labels = Components.connectedComponents(base.toDF("id_a", "id_b"))
    // batch: bridge 3-10 (merges comps 1 and 10), brand-new clique 30-31
    val batch = Seq((3L, 10L), (30L, 31L)).toDF("id_a", "id_b")
    val r = Components.updateComponents(labels, batch)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val full = cc(base ++ Seq((3L, 10L), (30L, 31L)))
    assert(r == full)
    assert(r(11L) == 1L && r(30L) == 30L && r(40L) == 40L && r(20L) == 20L)
    // untouched components must arrive via pass-through, not recompute:
    // drop {40,41} from the batch's reach and check they appear verbatim
    assert(r.filter(_._2 == 40L).keySet == Set(40L, 41L))
  }

  test("updateComponents equals full recompute on random splits; chains compose") {
    import spark.implicits._
    // deterministic pseudo-random graph, split into base + two batches
    val edges = (0 until 120).map { i =>
      val a = (i * 2654435761L) % 60
      val b = (i * 40503L + 7) % 60
      (math.abs(a), math.abs(b))
    }
    val (base, rest) = edges.splitAt(60)
    val (b1, b2) = rest.splitAt(30)
    val l0 = Components.connectedComponents(base.toDF("id_a", "id_b"))
    val l1 = Components.updateComponents(l0, b1.toDF("id_a", "id_b"))
    val l2 = Components.updateComponents(l1, b2.toDF("id_a", "id_b"))
    val got = l2.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(got == cc(edges))
    // empty standing labeling degrades to plain CC
    val fromEmpty = Components.updateComponents(
      Seq.empty[(Long, Long)].toDF("id", "component"),
      base.toDF("id_a", "id_b"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(fromEmpty == cc(base))
  }

  test("updateComponents: batch past maxDriverBatch fails loudly") {
    import spark.implicits._
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("id", "component")
    val batch = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val e = intercept[Exception] {
      Components.updateComponents(labels, batch, maxDriverBatch = 1)
    }
    assert(e.getMessage.contains("maxDriverBatch"))
  }

  test("updateComponents: fold + action stay within the fused job budget") {
    // pins the r15 fusion: the batch is collected once, affected ids come
    // back from ONE labels pass, and every broadcast side is driver-local
    // (no broadcast-build jobs). The un-fused shape measured 20 jobs for
    // fold + action at sf0.1 (13 + 7); the fused one 15 (11 + 4). Bound
    // generously (local tier here is cheaper than the sf0.1 probe) so the
    // spec survives scheduler-detail drift but still catches a return to
    // per-action broadcast re-derivation.
    import spark.implicits._
    val sc = spark.sparkContext
    // count only the jobs tagged below: other suites' jobs on the shared
    // context must not leak into the budget
    val tag = "components-job-budget"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags")))
        if (tags.exists(_.split(",").contains(tag))) jobs.incrementAndGet()
      }
    }
    val base = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val labels = Components.connectedComponents(base)
    labels.count() // settle the standing labeling before counting
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try {
      val batch = Seq((3L, 10L), (30L, 31L)).toDF("id_a", "id_b")
      val upd = Components.updateComponents(labels, batch)
      upd.orderBy("id").collect()
      sc.removeJobTag(tag)
      org.apache.spark.sql.graft.Bridge.drainListenerBus(sc)
      assert(jobs.get() > 0, "no tagged job seen — the count is not live")
      assert(jobs.get() <= 16, s"updateComponents fold+action ran " +
        s"${jobs.get()} jobs — the fused shape runs well under 16")
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(listener)
    }
  }

  test("empty pair frame yields empty components and a no-op dedup") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Components.connectedComponents(empty).count() == 0)
    val df = Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
    assert(Dedup.nearDedupByComponent(df, "doc_id", empty).count() == 2)
  }
}
