package graft

import java.io.File

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions._

/** Empirical scale probe for the dedup/ANN family (SCALE.md's data):
  * synthesizes an N× copy of the sf corpus (distinct texts per copy — a
  * word-level salt keeps copies from pairing with each other, so output
  * size scales linearly and the probe measures THROUGHPUT, not an
  * artificially quadratic pair explosion), runs the registered queries
  * unchanged against it, and reports per-query wall time plus the
  * bucket-cap drop rates of every banded candidate generator.
  *
  * usage: ScaleProbe [sfDir] ; SPARK_GRAFT_COPIES=10 (default) controls N.
  * Output: a markdown table on stdout (pasted into SCALE.md).
  */
object ScaleProbe {

  // Round 12: the probe covers the FULL query registry (corpus v2 scales
  // every table). The historical curated family list lived here through
  // round 11; SCALE.md's addenda carry its narrative.

  /** Synthesize the N× corpus into outDir (idempotent via marker).
    * documents: ids offset by copy·10⁸; every word salted with the copy
    * ordinal (so shingle sets are disjoint across copies). embeddings:
    * ids offset; vectors rotated by the copy ordinal (same norm/angle
    * distribution, genuinely distinct vectors). Round 12 (corpus v2 —
    * new cache dir, old corpora ignored): EVERY table scales, so the
    * probe covers the full 229-query registry, not just the dedup/ANN
    * families — orders/part/supplier keys offset per copy in lockstep
    * with lineitem's foreign keys (disjoint relational components per
    * copy → joins and graphs scale linearly), region/nation copied
    * as-is (bounded dims: every copy shares them, group-by-dim censuses
    * keep fixed key spaces while volume scales — the dim-table shape). */
  private def ensureCorpus(spark: SparkSession, sfDir: String, copies: Int): String = {
    val out = s"/tmp/graft_scale/${graft.sources.Tables.dirCacheKey(sfDir)}-x$copies-v2"
    val marker = new File(s"$out/_COMPLETE")
    // `copies` copies of df, each `keys` column offset by copy·10⁸
    def offsetKeys(df: org.apache.spark.sql.DataFrame, keys: String*) = {
      val expanded = df.withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
      expanded.select(expanded.columns.filterNot(_ == "copy").map { c =>
        if (keys.contains(c)) (col(c) + col("copy") * 100000000L).as(c) else col(c)
      }.toSeq: _*)
    }
    if (!marker.exists()) {
      new File(out).mkdirs()
      val docs = graft.sources.Tables.documents(spark, sfDir)
        .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
        .select(
          (col("doc_id") + col("copy") * 100000000L).as("doc_id"),
          when(col("copy") === 0, col("text")).otherwise(
            // letters-only salt (base-26), not the copy ordinal's digits:
            // the BPE family filters words to ^[a-z]+$, and a digit salt
            // silently dropped every planted copy from its domain — the
            // probe then measured a constant type table at every scale
            array_join(expr("transform(split(text, ' '), w -> concat(w, 'x'," +
              " char(97 + copy % 26), char(97 + cast(copy / 26 as int))))"), " "))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
      docs.coalesce(4).write.mode("overwrite").parquet(s"$out/documents.parquet")
      val dim = 64
      val embs = graft.sources.Tables.embeddings(spark, sfDir)
        .withColumn("copy", explode(sequence(lit(0), lit(copies - 1))))
        .select(
          (col("vec_id") + col("copy") * 100000000L).as("vec_id"),
          // rotate by copy MOD dim (a raw `copy` overflows slice with a
          // negative length past 64 copies), and NEGATE the vector on
          // every odd wrap round so copy 64 is not a bit-identical
          // duplicate of copy 0 (negation is an isometry: same norms and
          // angle distribution, cosine −1 to its unrotated twin).
          // Behavior for copies ≤ 64 is byte-identical to before.
          when(col("copy") === 0, col("embedding")).otherwise(expr(
            s"transform(concat(slice(embedding, pmod(copy, $dim) + 1, $dim - pmod(copy, $dim)), " +
              s"slice(embedding, 1, pmod(copy, $dim))), " +
              s"x -> CASE WHEN pmod(copy div $dim, 2) = 1 THEN -x ELSE x END)"))
            .as("embedding"),
          col("label"))
      embs.coalesce(4).write.mode("overwrite").parquet(s"$out/embeddings.parquet")
      // lineitem for the co-purchase graph family: order/part/supplier
      // keys offset per copy (disjoint components per copy -> the graph
      // and its landmark set scale linearly; 10^8 is divisible by 10, so
      // the pk % 10 landmark rule selects the same nodes in every copy)
      offsetKeys(graft.sources.Tables.lineitem(spark, sfDir),
          "l_orderkey", "l_partkey", "l_suppkey")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      offsetKeys(graft.sources.Tables.orders(spark, sfDir), "o_orderkey", "o_custkey")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/orders.parquet")
      offsetKeys(graft.sources.Tables.part(spark, sfDir), "p_partkey")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/part.parquet")
      offsetKeys(graft.sources.Tables.supplier(spark, sfDir), "s_suppkey")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/supplier.parquet")
      graft.sources.Tables.region(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/region.parquet")
      graft.sources.Tables.nation(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/nation.parquet")
      marker.createNewFile()
    }
    // events joined the probe after lineitem (q113's daily totals): fill
    // it into corpora whose marker predates it. Copies keep the SAME
    // timestamps (bucket count stays fixed while event volume scales —
    // the monitoring-aggregate shape) with ids offset per copy. The
    // normalized loader emits epoch-ns Long ts, so the scaled parquet
    // takes the legacy-Long read path by construction.
    // marker (not directory-existence) guarded like the rest of the
    // corpus: a run killed mid-write would otherwise leave a partial
    // events.parquet that every later run silently treats as complete,
    // corrupting all events-family scale measurements
    val eventsMarker = new File(s"$out/_EVENTS_COMPLETE")
    if (!eventsMarker.exists()) {
      offsetKeys(graft.sources.Tables.events(spark, sfDir), "event_id", "user_id")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/events.parquet")
      eventsMarker.createNewFile()
    }
    // customer joined the probe with q149 (k-anonymity): ids offset per
    // copy, quasi-identifiers and balances unchanged — every equivalence
    // class scales by `copies` while the class-table cardinality stays
    // fixed, the governance-aggregate shape. Same marker discipline.
    val customerMarker = new File(s"$out/_CUSTOMER_COMPLETE")
    if (!customerMarker.exists()) {
      offsetKeys(graft.sources.Tables.customer(spark, sfDir), "c_custkey")
        .coalesce(4).write.mode("overwrite").parquet(s"$out/customer.parquet")
      customerMarker.createNewFile()
    }
    out
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_COPIES", "10").toInt
    val spark = Runner.session()

    val dir = ensureCorpus(spark, sfDir, copies)
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    println(s"## corpus: $dir ($nDocs docs, ${copies}x ${new File(sfDir).getName})")
    println("| query | seconds | output rows |")
    println("|---|---|---|")
    Runner.selected().foreach { q =>
      // rows ride the timed write itself: no second execution to count them
      var rows = Observation()
      val t = Runner.time(spark, q.name) {
        rows = Observation()
        q.run(spark, dir).observe(rows, count(lit(1)).as("rows"))
      }
      // a per-query failure (e.g. heap pressure at extreme N on the
      // fixed 8 GiB probe JVM) costs one row, never the whole table
      t.error match {
        case None => println(f"| ${q.name} | ${t.warm}%.1f | ${rows.get("rows")} |")
        case Some(e) => println(s"| ${q.name} | FAILED | $e |")
      }
    }
    // SPARK_GRAFT_NO_DIAG=1 skips the cap diagnostics: a single-query
    // probe of a census consumer shouldn't pay the full-corpus
    // pair-generator sweep (~15 min at 100x, dwarfing the measurement it
    // garnishes).
    if (!sys.env.get("SPARK_GRAFT_NO_DIAG").contains("1")) capDiagnostics(spark, dir)
    spark.stop()
  }

  /** Cap drop rates per banded candidate generator, at this corpus size.
    * Fail-soft: at extreme N the raw (uncapped) pair generators it
    * measures can exhaust the probe JVM's fixed heap, and that must never
    * cost the query table. */
  private def capDiagnostics(spark: SparkSession, dir: String): Unit = try {
    println()
    println("| candidate generator | bucket key | cap | dropped keys | dropped rows | total rows | drop % |")
    println("|---|---|---|---|---|---|---|")
    def report(label: String, key: String, cap: Int, stats: (Long, Long, Long)): Unit = {
      val (dk, drows, tot) = stats
      println(f"| $label | $key | $cap | $dk | $drows | $tot | ${100.0 * drows / math.max(tot, 1)}%.2f |")
    }
    import graft.ops.Dedup
    val docs = graft.sources.Tables.documents(spark, dir)
    val shingled = docs.select(col("doc_id").as("id"),
      Dedup.wordShingles(col("text"), 3).as("shingles"))
    val banded = shingled.select(col("id"),
      graft.functions.NativeExpressions.portableMinHashSigs(col("shingles"), 32).as("sig"))
      .select(col("id"), explode(Dedup.lshBands(col("sig"), 8, 4)).as("b"))
      .select(col("b.band").as("band"), col("b.band_hash").as("band_hash"))
    report("minhash LSH bands (q12)", "(band, band_hash)", 1000,
      Dedup.bucketCapStats(banded, Seq("band", "band_hash"), 1000))

    val sims = Dedup.simhashTable(docs, "doc_id", "text",
      hasher = graft.functions.TextFunctions.portableHash60)
    val chunked = sims.select(col("id"),
      explode(sequence(lit(0), lit(3))).as("chunk"), col("simhash"))
      .withColumn("chunk_val", expr("shiftrightunsigned(simhash, chunk * 16) & 65535"))
    report("simhash 16-bit chunks (q13b)", "(chunk, chunk_val)", 5000,
      Dedup.bucketCapStats(chunked, Seq("chunk", "chunk_val"), 5000))

    val inv = docs.select(col("source"),
      explode(Dedup.wordShingles(col("text"), 2)).as("shingle"))
    report("ngram inverted index df cap (q14)", "(source, shingle)", 1000,
      Dedup.bucketCapStats(inv, Seq("source", "shingle"), 1000))

    val emb = graft.sources.Tables.embeddings(spark, dir)
    val signed = emb.select(col("vec_id").as("id"),
      posexplode(graft.functions.NativeExpressions.rademacherSigs(
        col("embedding"), 12, 8, 64)).as(Seq("t", "sig")))
    report("hyperplane LSH buckets (q15b)", "(t, sig)", 5000,
      Dedup.bucketCapStats(signed, Seq("t", "sig"), 5000))

    // per-node degree-cap drop rates on the VERIFIED pair sets (the
    // quadratic-output guard, maxDegree=4 as registered by q13b/q15b/q33)
    println()
    println("| pair family | cap k | dropped pairs | total pairs | drop % |")
    println("|---|---|---|---|---|")
    def reportDeg(label: String, k: Int, stats: (Long, Long)): Unit = {
      val (d, tot) = stats
      println(f"| $label | $k | $d | $tot | ${100.0 * d / math.max(tot, 1)}%.2f |")
    }
    reportDeg("simhash hamming<=7 pairs (q13b/q33)", 4,
      Dedup.capDegreeStats(Dedup.simhashNearDupPairs(sims, maxHamming = 7),
        4, "hamming", ascending = true))
    reportDeg("hyperplane LSH cosine>=0.3 pairs (q15b)", 4,
      Dedup.capDegreeStats(
        graft.ops.Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
          dim = 64, planes = 8, tables = 12, cosineThreshold = 0.3),
        4, "cosine", ascending = false))
  } catch {
    case e: Throwable =>
      println(s"| (diagnostics aborted: ${e.getClass.getSimpleName}) | | | | | | |")
  }
}
