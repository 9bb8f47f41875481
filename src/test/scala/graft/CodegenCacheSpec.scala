package graft

/** The codegen cache of [[GraftSession.tune]] holds the curate loop's
  * generated classes, so a warm pass recompiles none of them. At Spark's
  * default of 100 entries the LRU cache evicted each class before its
  * reuse, and every warm q151 recompiled all of its classes. The counts
  * also fail when the JVM's `CodeGenerator` was initialized with Spark's
  * default size before the tuned session. */
class CodegenCacheSpec extends SparkSpec {

  private val curateLoop = Seq("q8_content_dedup", "q12_minhash_neardup", "q151_crawl_curation")
    .map(n => graft.queries.Registry.all.find(_.name == n).get)

  /** Classes one pass of the loop compiled: each query in sequence into a
    * noop sink, its cached frames released after it, as `Runner.time`
    * runs a rep. */
  private def pass(): Long = compilesOf(curateLoop.foreach { q =>
    q.run(spark, sf()).write.format("noop").mode("overwrite").save()
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  })

  test("a warm pass of q8, q12 and q151 compiles no generated class") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
    pass()
    // An adaptive plan may pick a join's build side by which query stage
    // finished first (q12, q151), so a warm pass can meet a plan variant
    // the cache has not seen and compile its 2 or 3 classes once. A
    // thrashing cache recompiles more than a hundred in every pass.
    val warm = Seq.fill(3)(pass())
    assert(warm.min == 0 && warm.max <= 10, s"warm passes compiled $warm classes")
  }
}
