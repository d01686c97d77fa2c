package graft

import org.apache.spark.sql.functions._

import graft.plans.{Materialize, MvRewrite, ResultCache}

/** Plan-digest result cache: semantic hits, conservative misses,
  * transparent results. */
class ResultCacheSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def rollup(flag: String) =
    Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === flag)
      .groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("cnt"))

  test("independently built identical plans hit; different plans miss") {
    ResultCache.clear()
    val first = ResultCache.withCache(spark, rollup("A"))
    ResultCache.misses shouldBe 1L
    ResultCache.hits shouldBe 0L
    // a NEW DataFrame object, same semantics -> hit
    val second = ResultCache.withCache(spark, rollup("A"))
    ResultCache.hits shouldBe 1L
    ResultCache.misses shouldBe 1L
    // different literal -> different canonical plan -> miss
    ResultCache.withCache(spark, rollup("R"))
    ResultCache.misses shouldBe 2L
    // served rows identical to the uncached computation
    val direct = rollup("A").collect().map(_.toSeq).sortBy(_.toString)
    second.collect().map(_.toSeq).sortBy(_.toString) shouldBe direct
    first.collect().map(_.toSeq).sortBy(_.toString) shouldBe direct
    ResultCache.clear()
  }

  test("the hit-path plan scans the cache file, not the base table") {
    ResultCache.clear()
    ResultCache.withCache(spark, rollup("N")).count()
    val served = ResultCache.withCache(spark, rollup("N"))
    val scans = MvRewrite.scanPaths(served.queryExecution.optimizedPlan)
    assert(scans.exists(_.contains("graft_result_cache")), scans)
    assert(!scans.exists(_.contains("lineitem.parquet")), scans)
    ResultCache.clear()
  }

  test("withKeyedCache: the build thunk runs once per key and the " +
      "served rows match") {
    import spark.implicits._
    ResultCache.clear()
    var builds = 0
    def build() = { builds += 1
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v") }
    val a = ResultCache.withKeyedCache(spark, "rcs:test:v1", build())
      .collect().map(_.toSeq).sortBy(_.toString)
    val b = ResultCache.withKeyedCache(spark, "rcs:test:v1", build())
      .collect().map(_.toSeq).sortBy(_.toString)
    builds shouldBe 1 // by-name thunk untouched on the hit
    b shouldBe a
    // a different key is a different artifact
    ResultCache.withKeyedCache(spark, "rcs:test:v2", build()).count()
    builds shouldBe 2
    ResultCache.clear()
  }

  test("concurrent first calls for one key build exactly once; " +
      "nested keyed builds do not deadlock the map") {
    import spark.implicits._
    ResultCache.clear()
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def build() = {
      builds.incrementAndGet()
      Thread.sleep(200) // widen the race window
      Seq((1L, 1L)).toDF("k", "v")
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val futs = (1 to 4).map(_ => pool.submit(
        new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            ResultCache.withKeyedCache(spark, "rcs:conc:v1", build())
              .count()
        }))
      futs.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS)
        shouldBe 1L)
      // one winner wrote the path; the losers blocked and read it
      builds.get() shouldBe 1
      ResultCache.misses shouldBe 1L
      ResultCache.hits shouldBe 3L
    } finally pool.shutdownNow()
    // a keyed build that NESTS a plan-keyed cache call (the sgnsModel
    // shape: artifact build routes through a shared-frame cut) must
    // not re-enter the entries map mid-update — per-key locks, not
    // computeIfAbsent mapping functions
    ResultCache.clear()
    val nested = ResultCache.withKeyedCache(spark, "rcs:outer:v1", {
      val inner = ResultCache.withCache(spark,
        Seq((7L, 70L)).toDF("k", "v"))
      inner.withColumn("v2", col("v") * 2)
    })
    nested.count() shouldBe 1L
    ResultCache.clear()
  }

  test("cache mode serves Graph's shared frames: two operators " +
      "on the same fold share one symmetrization, results unchanged") {
    import spark.implicits._
    import graft.operators.Graph
    val edges = ((0 until 200).map(i => ((i * 7) % 40L, (i * 13 + 5) % 40L)))
      .toDF("u", "v")
    // uncached reference results first
    val lpaRef = Graph.labelPropagation(edges, col("u"), col("v"),
      rounds = 2).collect().map(_.toSeq).sortBy(_.toString)
    ResultCache.clear()
    try withMaterialize(Materialize.Cache) {
      val lpaGot = Graph.labelPropagation(edges, col("u"), col("v"),
        rounds = 2).collect().map(_.toSeq).sortBy(_.toString)
      val h0 = ResultCache.hits
      // a DIFFERENT operator with the same symmetrization shape on
      // the same fold must hit the shared artifact
      val ids = edges.select(col("u").as("node")).unionAll(
        edges.select(col("v").as("node"))).distinct()
        .withColumn("lbl", col("node"))
      Graph.louvainMove(edges, col("u"), col("v"), ids).count()
      ResultCache.hits should be > h0
      lpaGot shouldBe lpaRef
    } finally ResultCache.clear()
  }

  test("cache mode serves Dedup's cluster map from the keyed cache: the " +
      "cluster map builds once per (pairs, rounds), results unchanged") {
    import spark.implicits._
    import graft.operators.Dedup
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 4L))
      .toDF("ia", "ib")
    val ref = Dedup.canonicalizeClusters(pairs)
      .collect().map(_.toSeq).sortBy(_.toString)
    ResultCache.clear()
    try withMaterialize(Materialize.Cache) {
      val got1 = Dedup.canonicalizeClusters(pairs)
        .collect().map(_.toSeq).sortBy(_.toString)
      val m0 = ResultCache.misses
      // an INDEPENDENTLY built identical pair frame re-reads the map
      val got2 = Dedup.canonicalizeClusters(
          Seq((1L, 2L), (2L, 3L), (7L, 9L), (4L, 4L)).toDF("ia", "ib"))
        .collect().map(_.toSeq).sortBy(_.toString)
      ResultCache.misses shouldBe m0
      // a different round budget is a different artifact
      Dedup.canonicalizeClusters(pairs, rounds = 4).count()
      ResultCache.misses shouldBe (m0 + 1)
      got1 shouldBe ref
      got2 shouldBe ref
    } finally ResultCache.clear()
  }
}
