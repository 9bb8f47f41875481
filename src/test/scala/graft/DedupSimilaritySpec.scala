package graft

import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity}
import graft.sources.Tables

/** Recall/precision sanity for the near-dup and similarity operators. */
class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf()).cache()

  test("minhash LSH finds planted near-duplicates") {
    // plant: drop the first word of each doc, offset ids
    val planted = docs.select((col("doc_id") + 1000L).as("doc_id"),
      expr("concat_ws(' ', slice(split(text,' '), 2, size(split(text,' '))))").as("text"))
    val corpus = docs.select($"doc_id", $"text").unionByName(planted)
    val pairs = Dedup.minhashNearDupPairs(corpus, "doc_id", "text",
      jaccardThreshold = 0.5).collect()
    val plantedFound = pairs.count(p =>
      p.getLong(1) == p.getLong(0) + 1000L)
    val nDocs = docs.count()
    assert(plantedFound >= nDocs * 0.8,
      s"expected >=80% recall of planted near-dups, got $plantedFound/$nDocs")
    // verified jaccard really is high for reported pairs
    assert(pairs.forall(_.getDouble(2) >= 0.5))
  }

  test("simhash hamming distance is small for planted near-dups") {
    val planted = docs.limit(20).select((col("doc_id") + 1000L).as("doc_id"),
      expr("concat_ws(' ', slice(split(text,' '), 2, size(split(text,' '))))").as("text"))
    val corpus = docs.limit(20).select($"doc_id", $"text").unionByName(planted)
    val sims = Dedup.simhashTable(corpus, "doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(sims, maxHamming = 7).collect()
    assert(pairs.count(p => p.getLong(1) == p.getLong(0) + 1000L) >= 10)
  }

  test("simhash banding refuses radii beyond the probe guarantee") {
    val sims = Seq((1L, 0L), (2L, 1L)).toDF("id", "simhash")
    intercept[IllegalArgumentException] {
      Dedup.simhashNearDupPairs(sims, maxHamming = 8)
    }
  }

  test("simhash multi-probe banding: FULL recall at hamming 4-7 planted worst-case flips") {
    // 100 planted pairs flipping h = 4 + i%4 bits, positions spread so
    // EVERY 16-bit chunk differs (pigeonhole alone finds none of these) —
    // the 1-bit probes must still find every pair, since ⌊7/4⌋ ≤ 1 bit
    // differs in some chunk.
    val rows = (0 until 100).flatMap { i =>
      val base = i.toLong * 0x9E3779B97F4A7C15L + 12345L
      val h = 4 + i % 4
      // chunk (j % 4), offset (i + j*5) % 16: distinct bits by construction
      val positions = (0 until h).map(j => (j % 4) * 16 + ((i + j * 5) % 16))
      val flipped = positions.foldLeft(base)((v, b) => v ^ (1L << b))
      Seq((i.toLong, base), (i.toLong + 1000L, flipped))
    }
    val sims = rows.toDF("id", "simhash")
    val pairs = Dedup.simhashNearDupPairs(sims, maxHamming = 7).collect()
    val planted = pairs.filter(p => p.getLong(1) == p.getLong(0) + 1000L)
    assert(planted.length == 100, s"multi-probe recall hole: ${planted.length}/100 found")
    planted.foreach { p =>
      val expected = 4 + (p.getLong(0) % 4).toInt
      assert(p.getAs[Number]("hamming").intValue == expected,
        s"pair ${p.getLong(0)}: hamming ${p.get(2)} != planted $expected")
    }
  }

  test("hammingProbe: asymmetric probe equals brute-force within radius, cap bounds matches") {
    // seeded random index + probes that are worst-case flips of index
    // entries (every chunk differs for h >= 4, like the multi-probe
    // planting above): the asymmetric banding must return EXACTLY the
    // brute-force match set at radius 7
    val rnd = new scala.util.Random(81)
    val index = (0 until 200).map(i => (i.toLong, rnd.nextLong()))
    val probes = (0 until 60).map { i =>
      val (_, base) = index(i * 3)
      val h = i % 9 // 0..8 flipped bits; h=8 must NOT match at radius 7
      val positions = (0 until h).map(j => (j % 4) * 16 + ((i + j * 5) % 16))
      (1000L + i, positions.foldLeft(base)((v, b) => v ^ (1L << b)))
    }
    val got = Dedup.hammingProbe(probes.toDF("id", "simhash"),
        index.toDF("id", "simhash"), maxHamming = 7)
      .select("batch_id", "match_id", "hamming")
      .as[(Long, Long, Int)].collect().toSet
    val brute = (for {
      (pid, pv) <- probes
      (mid, mv) <- index
      h = java.lang.Long.bitCount(pv ^ mv) if h <= 7
    } yield (pid, mid, h)).toSet
    assert(got == brute, s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    // per-probe cap keeps only the lowest-hamming matches
    val capped = Dedup.hammingProbe(probes.toDF("id", "simhash"),
        index.toDF("id", "simhash"), maxHamming = 7, maxMatchesPerProbe = 1)
      .select("batch_id", "hamming").as[(Long, Int)].collect()
    assert(capped.map(_._1).distinct.length == capped.length, "cap must bound per probe")
    val bestByProbe = brute.groupBy(_._1).view.mapValues(_.map(_._3).min).toMap
    capped.foreach { case (pid, h) =>
      assert(h == bestByProbe(pid), s"probe $pid kept hamming $h, best is ${bestByProbe(pid)}")
    }
  }

  test("cosine: self-similarity 1, quantized close to float path") {
    val emb = Tables.embeddings(spark, sf())
    val self = emb.select(Similarity.cosine($"embedding", $"embedding").as("c"))
      .agg(min($"c"), max($"c")).head()
    assert(math.abs(self.getDouble(0) - 1.0) < 1e-9)
    assert(math.abs(self.getDouble(1) - 1.0) < 1e-9)

    val both = emb.limit(50)
      .withColumn("q", Similarity.quantize($"embedding"))
      .crossJoin(broadcast(emb.limit(1).select($"embedding".as("e2"),
        Similarity.quantize($"embedding").as("q2"))))
      .select(Similarity.cosine($"embedding", $"e2").as("f"),
        Similarity.quantizedCosine($"q", $"q2").as("qc"))
      .collect()
    assert(both.forall(r => math.abs(r.getDouble(0) - r.getDouble(1)) < 0.01),
      "quantized cosine within 0.01 of float cosine")
  }

  test("integer-exact IVF (sum-centroids) recalls most true top-5 neighbours") {
    val emb = Tables.embeddings(spark, sf())
    val cents = Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val qvecs = emb.select($"vec_id".as("id"), Similarity.quantize($"embedding").as("qv"))
    val index = Similarity.ivfExactAssign(qvecs, cents)
    val q = qvecs.filter($"id" === 0).select($"qv".as("q"))
    val got = Similarity.ivfExactTopK(index.filter($"id" =!= 0), cents,
      q, k = 5, nProbe = 3).select($"id").as[Long].collect().toSet
    val qf = emb.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(qf))
      .select($"vec_id", Similarity.cosine($"embedding", $"q").as("c"))
      .orderBy($"c".desc).limit(5).select($"vec_id").as[Long].collect().toSet
    assert(got.intersect(top).size >= 3,
      s"exact IVF(nProbe=3/8) should recall >=3 of true top-5; got ${got.intersect(top)} of $top")
    // sum-centroid invariance: scaling a centroid must not change assignment
    val scaled = cents.select($"cell", transform($"cv", x => x * 2).as("cv"))
    val a = Similarity.ivfExactAssign(qvecs, cents).select($"id", $"cell")
    val b = Similarity.ivfExactAssign(qvecs, scaled).select($"id", $"cell")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      "cosine assignment must be centroid-scale-invariant")
  }

  test("ivfNearestCells picks the cells of the crossJoin + window probe: random probes, ties, NaN, nProbe 1-8") {
    import org.apache.spark.sql.expressions.Window
    val ivf = graft.service.GraftService.ivfIndexFor(spark, sf())
    val built = Similarity.ivfCentroidRows(spark.read.parquet(s"$ivf/centroids"))
    assert(built.size == 8)
    val rnd = new scala.util.Random(17)
    def randVec() = Seq.fill(64)(rnd.nextInt(2001).toLong - 1000)
    val v = randVec()
    // equal similarities: a repeated vector and its double (cosine is
    // scale-invariant, bit for bit) under several cells, plus an all-zero
    // centroid whose similarity is NaN for every probe
    val tied = Seq((9L, v), (3L, v), (7L, v.map(_ * 2)), (1L, randVec()),
      (5L, Seq.fill(64)(0L)), (4L, randVec()), (8L, v), (2L, randVec()))
    val probes = Seq.fill(12)(randVec()) ++ Seq(v, Seq.fill(64)(0L)) ++
      Tables.embeddings(spark, sf()).filter($"vec_id" < 6)
        .select(Similarity.quantize($"embedding")).as[Seq[Long]].collect().toSeq
    for (cents <- Seq(built, tied)) {
      // the window selection ivfExactTopKMany runs, every rank kept
      val ranked = probes.zipWithIndex.map { case (q, i) => (i.toLong, q) }
        .toDF("query_id", "q")
        .crossJoin(broadcast(cents.toDF("cell", "cv")))
        .withColumn("sim", graft.functions.NativeExpressions.longCosine($"cv", $"q"))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"query_id").orderBy($"sim".desc, $"cell".asc)))
        .select($"query_id", $"rk", $"cell").as[(Long, Int, Long)].collect()
      for ((q, i) <- probes.zipWithIndex; nProbe <- 1 to 8) {
        val want = ranked.filter(r => r._1 == i && r._2 <= nProbe).sortBy(_._2).map(_._3).toSeq
        assert(Similarity.ivfNearestCells(cents, q, nProbe) == want,
          s"probe $i nProbe $nProbe over ${cents.map(_._1)}")
      }
    }
    // the tie order is the lowest cell first, NaN (the zero centroid)
    // above every number
    assert(Similarity.ivfNearestCells(tied, v, 5) == Seq(5L, 3L, 7L, 8L, 9L))
  }

  test("PQ codes: 4-bit range, ADC(query doc) == its own SSE, distortion sane") {
    val emb = Tables.embeddings(spark, sf())
    val qvecs = emb.select($"vec_id".as("id"), Similarity.quantize($"embedding").as("qv"))
    val cb = Similarity.pqCodebook(qvecs, m = 8, dsub = 8, ksub = 16)
    assert(cb.count() == 8L * 16, "one entry per (subspace, code)")
    val enc = Similarity.pqEncode(qvecs, cb, m = 8, dsub = 8)
    val codes = enc.select($"code").as[Long].collect()
    assert(codes.forall(c => c >= 0 && c < 16), "codes must fit 4 bits")
    // every doc gets exactly m codes
    val perDoc = enc.groupBy($"id").count().select($"count").distinct().as[Long].collect()
    assert(perDoc.sameElements(Array(8L)), s"expected 8 codes per doc, got ${perDoc.toSeq}")
    val q46 = graft.queries.SimilarityQueries.pqCompression(spark, sf())
    val row0 = q46.filter($"id" === 0).head()
    // ADC distance of the query against ITSELF is exactly its quantization
    // distortion: same codes, same per-subspace distances
    assert(row0.getLong(3) == row0.getLong(2),
      s"adc(query,query) ${row0.getLong(3)} != sse ${row0.getLong(2)}")
    // a seed doc reconstructs itself exactly through its own codebook entry
    assert(q46.filter($"sse" === 0).count() >= 16,
      "each codebook seed doc must have zero reconstruction error")
  }

  test("native MinHash kernel matches the SQL double-hash formulation exactly") {
    val k = 32
    val shingled = docs.limit(40)
      .select($"doc_id".as("id"), Dedup.wordShingles($"text", 3).as("shingles"))
      .persist()
    val kernel = shingled.select($"id",
      graft.functions.NativeExpressions.portableMinHashSigs($"shingles", k).as("sig"))
    val sqlPath = Dedup.minhashSignatures(shingled, k, Dedup.portableBase)
    assert(kernel.except(sqlPath).isEmpty && sqlPath.except(kernel).isEmpty,
      "kernel signatures diverge from the md5 double-hash SQL path")
    shingled.unpersist()
  }

  test("sq8 quantization: codes in [0,255], reconstruction within one step") {
    val emb = Tables.embeddings(spark, sf()).persist()
    val coded = Similarity.scalarQuantize(emb, "vec_id", "embedding")
    val joined = coded.join(emb.select($"vec_id".as("id"), $"embedding"), Seq("id"))
      .select(posexplode(arrays_zip($"codes", $"embedding")).as(Seq("d", "z")))
      .select($"z.codes".as("code"), $"z.embedding".cast("double").as("x"), $"d")
    val stats = emb.select(posexplode($"embedding").as(Seq("d", "x")))
      .groupBy($"d").agg(min($"x").cast("double").as("lo"), max($"x").cast("double").as("hi"))
    val checked = joined.join(stats, Seq("d"))
      .select($"code", $"x", $"lo", $"hi",
        ($"lo" + ($"code".cast("double") / 255) * ($"hi" - $"lo")).as("recon"),
        (($"hi" - $"lo") / 255).as("step"))
    assert(checked.filter($"code" < 0 || $"code" > 255).isEmpty)
    // |x - recon| <= one quantization step (floor coding reconstructs the
    // cell's lower edge, so the true value sits within [recon, recon+step])
    assert(checked.filter(abs($"x" - $"recon") > $"step" * 1.000001).isEmpty)
    emb.unpersist()
  }

  test("Rademacher signatures match the portable SQL formulation (oracle convention)") {
    import graft.functions.NativeExpressions
    val tables = 3; val planes = 5; val dim = 64
    val emb = Tables.embeddings(spark, sf()).limit(25)
      .select($"vec_id", $"embedding").persist()
    val kernel = emb.select($"vec_id",
      posexplode(NativeExpressions.rademacherSigs($"embedding", tables, planes, dim))
        .as(Seq("t", "sig")))
      .select($"vec_id", $"t".cast("long").as("t"), $"sig")
    // pure-SQL replay of the exact convention the DuckDB oracle uses:
    // sign = parity of first md5 hex nibble of "t:p:d"; integer projection
    val planesDf = spark.range(tables).select($"id".as("t"))
      .crossJoin(spark.range(planes).select($"id".as("p")))
      .crossJoin(spark.range(dim).select($"id".as("d")))
      .select($"t", $"p", $"d",
        when(conv(substring(md5(concat_ws(":", $"t", $"p", $"d")), 1, 1), 16, 10)
          .cast("long") % 2 === 1, 1L).otherwise(-1L).as("s"))
    val qv = emb.select($"vec_id",
      posexplode(Similarity.quantize($"embedding")).as(Seq("d", "q")))
    val sql = qv.join(planesDf, Seq("d"))
      .groupBy($"vec_id", $"t", $"p").agg(sum($"s" * $"q").as("proj"))
      .groupBy($"vec_id", $"t")
      .agg(sum(when($"proj" > 0,
        expr("cast(shiftleft(1L, cast(p as int)) as long)")).otherwise(0L)).as("sig"))
    assert(kernel.except(sql).isEmpty && sql.except(kernel).isEmpty,
      "kernel signatures diverge from the md5-derived SQL formulation")
    emb.unpersist()
  }

  test("multi-table hyperplane LSH recalls most true top-5 neighbours") {
    val emb = Tables.embeddings(spark, sf())
    val pairs = Similarity.lshNearDupPairs(emb, "vec_id", "embedding",
      dim = 64, planes = 5, tables = 24, cosineThreshold = -1.0)
    // ground truth: top-5 exact neighbours of vec 0
    val q = emb.filter($"vec_id" === 0).select($"embedding".as("q"))
    val top = emb.filter($"vec_id" =!= 0).crossJoin(broadcast(q))
      .select($"vec_id", Similarity.cosine($"embedding", $"q").as("c"))
      .orderBy($"c".desc).limit(5).select($"vec_id").as[Long].collect().toSet
    val cands = pairs.filter($"id_a" === 0 || $"id_b" === 0)
      .select(when($"id_a" === 0, $"id_b").otherwise($"id_a").as("other"))
      .as[Long].collect().toSet
    assert(top.intersect(cands).size >= 3,
      s"LSH candidates for vec 0 should recall >=3 of true top-5; got ${top.intersect(cands)} of $top")
  }

  test("per-node degree cap: union top-k semantics on a clique, no drop on a star") {
    import graft.ops.Dedup
    // clique of 10: every node has degree 9, quality = -(a+b) so the
    // ranking is deterministic; with k=2 a pair must survive iff it is in
    // the top-2 of either endpoint — brute-force that predicate here
    val n = 10
    val clique = (for {
      a <- 0 until n; b <- a + 1 until n
    } yield (a.toLong, b.toLong, -(a + b).toDouble)).toDF("id_a", "id_b", "q")
    val kept = Dedup.capPairDegree(clique, 2, "q", ascending = false)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val pairsOf = (v: Long) => (0 until n).map(_.toLong)
      .filter(_ != v).map(o => if (v < o) (v, o) else (o, v))
    val topk = (v: Long) => pairsOf(v)
      .sortBy { case (a, b) => (-(-(a + b).toDouble), if (v == a) b else a) }.take(2).toSet
    val expected = (0 until n).map(_.toLong).flatMap(topk).toSet
    assert(kept == expected, s"union-top-2 mismatch: got ${kept.toSeq.sorted}")
    assert(kept.size < n * (n - 1) / 2, "cap must drop on a clique")
    // every node keeps at least its own top-2
    (0 until n).map(_.toLong).foreach(v =>
      assert(topk(v).subsetOf(kept), s"node $v lost one of its top-2"))

    // star of 1 hub + 20 leaves: every leaf has degree 1, so EVERY pair
    // is in the leaf's top-k — union semantics must drop nothing
    val star = (1 to 20).map(i => (0L, i.toLong, i.toDouble)).toDF("id_a", "id_b", "q")
    assert(Dedup.capPairDegree(star, 2, "q", ascending = false).count() == 20L,
      "union cap must keep all star edges (each is its leaf's best)")
  }

  test("degree cap equals brute-force union top-k on seeded random graphs") {
    import graft.ops.Dedup
    // the engine form (explode-symmetrize + window + group-limit) against
    // an independent in-memory computation of the same spec, across random
    // shapes, both quality directions, and tie-heavy qualities
    for (seed <- 1 to 8) {
      val rnd = new scala.util.Random(seed)
      val k = 1 + rnd.nextInt(3)
      val asc = rnd.nextBoolean()
      val pairs = Seq.fill(120)((rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter(p => p._1 != p._2)
        .map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
        .distinct
        // integer-valued doubles force ties; the id tie-break must decide
        .map { case (a, b) => (a, b, rnd.nextInt(4).toDouble) }
      val df = pairs.toDF("id_a", "id_b", "q")
      val got = Dedup.capPairDegree(df, k, "q", ascending = asc)
        .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
      // brute force: per node, rank its pairs by (quality, other id)
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val expected = nodes.flatMap { v =>
        pairs.filter(p => p._1 == v || p._2 == v)
          .sortBy { case (a, b, q) =>
            (if (asc) q else -q, if (v == a) b else a)
          }
          .take(k).map(p => (p._1, p._2))
      }.toSet
      assert(got == expected,
        s"seed=$seed k=$k asc=$asc: got ${got.size} pairs, expected ${expected.size}")
    }
  }

  test("incremental dedup: batch probes the corpus index without corpus text") {
    // corpus = the documents table; batch = near-dup variants of every
    // 3rd doc (first word dropped, +5000 ids) plus one exact duplicate of
    // a batch member (+9000) for the batch-vs-batch path
    val corpus = docs.select($"doc_id", $"text")
    val index = Dedup.minhashIndex(corpus, "doc_id", "text").localCheckpoint(true)
    val variants = docs.filter($"doc_id" % 3 === 0)
      .select(($"doc_id" + 5000L).as("doc_id"),
        expr("concat_ws(' ', slice(split(text,' '), 2, size(split(text,' '))))").as("text"))
    val echo = variants.filter($"doc_id" === 5000L)
      .select(($"doc_id" + 4000L).as("doc_id"), $"text")
    val batch = variants.unionByName(echo)
    val out = Dedup.incrementalNearDups(batch, "doc_id", "text", index,
      minMatches = 16).collect()
    // every variant should hit its source doc in the corpus index
    val corpusHits = out.filter(r => r.getString(3) == "corpus"
      && r.getLong(1) == r.getLong(0) - 5000L)
    val nVariants = variants.count()
    assert(corpusHits.length >= nVariants * 0.8,
      s"expected >=80% of planted variants to hit the index, got ${corpusHits.length}/$nVariants")
    // the exact duplicate inside the batch must surface as src='batch',
    // reported by the NEWER id against the earlier one, with all 32
    // positions agreeing
    val batchHits = out.filter(r => r.getString(3) == "batch")
    assert(batchHits.exists(r => r.getLong(0) == 9000L && r.getLong(1) == 5000L
        && r.getInt(2) == 32),
      s"batch-vs-batch echo not found: ${batchHits.mkString(", ")}")
    // matches is an exact integer in [minMatches, k]
    assert(out.forall(r => r.getInt(2) >= 16 && r.getInt(2) <= 32))
  }

  test("incremental dedup: maxMatchesPerProbe bounds output per probe") {
    // one probe colliding with many indexed docs: 30 identical corpus
    // docs + an identical batch doc → uncapped 30 matches, capped 5
    val corpus = (1L to 30L).map(i => (i, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val index = Dedup.minhashIndex(corpus, "doc_id", "text")
    val batch = Seq((100L, "alpha beta gamma delta epsilon zeta"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.incrementalNearDups(batch, "doc_id", "text", index,
      minMatches = 16)
    assert(uncapped.count() == 30)
    val capped = Dedup.incrementalNearDups(batch, "doc_id", "text", index,
      minMatches = 16, maxMatchesPerProbe = 5).collect()
    // deterministic winners: ties on matches=32 break by lowest match_id
    assert(capped.map(_.getLong(1)).sorted.toSeq == (1L to 5L),
      s"capped winners: ${capped.mkString(", ")}")
  }

  test("paragraph dedup keeps first occurrence corpus-wide, reassembles in order") {
    import spark.implicits._
    // boilerplate footer 'f' repeats in docs 1/2/3; doc 2 also repeats its
    // own paragraph 'b' internally; 'u1'/'u2'/'u3' are unique prose
    val paras = Seq(
      (1L, 0, "u1"), (1L, 1, "f"),
      (2L, 0, "b"), (2L, 1, "f"), (2L, 2, "b"), (2L, 3, "u2"),
      (3L, 0, "f"), (3L, 1, "u3")).toDF("doc_id", "idx", "para")
    val res = graft.ops.Dedup.paragraphDedup(paras).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(res(1L) == ((2L, 2L, "u1 f")), s"doc 1: ${res(1L)}") // owns f's first use
    assert(res(2L) == ((4L, 2L, "b u2")), s"doc 2: ${res(2L)}") // loses f AND its self-repeat
    assert(res(3L) == ((2L, 1L, "u3")), s"doc 3: ${res(3L)}")   // f dropped entirely
  }

  test("paragraph dedup plan: two exchanges, map-side first-occurrence limit") {
    import spark.implicits._
    val paras = Seq((1L, 0, "x")).toDF("doc_id", "idx", "para")
    val plan = graft.ops.Dedup.paragraphDedup(paras)
      .queryExecution.executedPlan.toString
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 2, s"expected exactly 2 hash exchanges, got $shuffles in:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"no join expected — first-occurrence is a window, not a dictionary join:\n$plan")
  }

  test("sorted-neighborhood ER: window bounds candidates, blocks isolate, distances exact") {
    import spark.implicits._
    val recs = Seq(
      // block 1: smith/smyth/smithe cluster sorted adjacently; zzz far away
      (1, 10L, "smith"), (1, 11L, "smyth"), (1, 12L, "smithe"), (1, 13L, "zzz"),
      // block 2: identical name to block 1 — must NOT pair across blocks
      (2, 20L, "smith")
    ).toDF("blk", "key", "name")
    val out = graft.ops.Dedup.sortedNeighborhoodPairs(recs, "blk", "key", "name",
      window = 2, maxDist = 2)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // sort order in block 1: smith(10) < smithe(12) < smyth(11) < zzz(13)
    // pairs within lead 2: (10,12) d1, (10,11) d1, (12,11) d2, (12,13) d>2,
    // (11,13) d>2 — zzz matches nothing; block 2 emits nothing (no neighbor)
    assert(out === Set((1, 10L, 12L, 1L), (1, 10L, 11L, 1L), (1, 12L, 11L, 2L)))

    // plan: one exchange on the block key, no self-join
    val plan = graft.ops.Dedup.sortedNeighborhoodPairs(recs, "blk", "key", "name")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      s"sorted neighborhood must not plan a join:\n$plan")
  }

  test("containment: excerpt fully contained, reverse direction low, jaccard blind to it") {
    // doc 2 is a strict 6-word excerpt of the 20-word doc 1
    val words = (1 to 20).map(i => s"w$i").mkString(" ")
    val excerpt = (1 to 6).map(i => s"w$i").mkString(" ")
    val corpus = Seq((1L, words, "s"), (2L, excerpt, "s"), (3L, "x y z q r t", "s"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramContainmentPairs(corpus, "doc_id", "text", "source",
      minPermille = 500)
      .select("id_a", "id_b", "n_shingles_a", "common", "containment_permille")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // excerpt has 2 distinct 5-gram shingles, both inside doc 1 -> 1000 permille;
    // the reverse direction (doc 1 in doc 2) is 2/16 = 125 permille -> cut;
    // doc 3 shares nothing
    assert(pairs == Seq((2L, 1L, 2L, 2L, 1000L)), s"got $pairs")
    // symmetric Jaccard on the same corpus misses the excerpt (2/16 = 0.125)
    val j = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", "source",
      shingleN = 5, threshold = 0.5)
    assert(j.count() === 0L, "jaccard at 0.5 must be blind to the excerpt")
  }

  test("binaryCode packs sign bits 32 dims per word, exactly") {
    // dims 0 and 33 positive, dim 1 negative, rest zero: bit set iff qv > 0
    val v = Array.fill(64)(0.0f)
    v(0) = 0.5f; v(1) = -0.5f; v(33) = 0.25f
    val df = Seq((1L, v.toSeq)).toDF("id", "vec")
      .withColumn("qv", Similarity.quantize(col("vec")))
    val code = Similarity.binaryCode(df, "qv", dim = 64, outCol = "code")
      .select($"code").as[Seq[Long]].head()
    assert(code == Seq(1L, 2L), s"got $code") // bit 0 of word 0, bit 1 of word 1
    // hamming: [1,2] vs [3,2] differ in exactly bit 1 of word 0
    val h = Seq((Seq(1L, 2L), Seq(3L, 2L))).toDF("a", "b")
      .select(Similarity.hammingDistance($"a", $"b")).as[Long].head()
    assert(h == 1L)
  }

  test("binaryAnnTopK with m covering the corpus equals exact brute-force top-k") {
    val emb = Tables.embeddings(spark, sf())
    val probes = emb.filter($"vec_id" % 100 === 0)
    val binary = Similarity.binaryAnnTopK(emb, "vec_id", "embedding",
        probes, dim = 64, m = 1000, k = 10)
      .select($"probe_id", $"rank", $"vec_id")
      .as[(Long, Long, Long)].collect().toSet
    // exact reference: quantized cosine over all candidates per probe
    import org.apache.spark.sql.expressions.Window
    val qv = Similarity.quantize($"embedding")
    val exact = emb.select($"vec_id", qv.as("qv"))
      .crossJoin(broadcast(probes.select($"vec_id".as("probe_id"), qv.as("pqv"))))
      .filter($"vec_id" =!= $"probe_id")
      .withColumn("cos", Similarity.quantizedCosine($"qv", $"pqv"))
      .withColumn("rank", row_number().over(Window.partitionBy($"probe_id")
        .orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"rank" <= 10)
      .select($"probe_id", $"rank".cast("long"), $"vec_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(binary == exact,
      "prefilter covering the whole corpus must reproduce exact ranking")
    // and a REAL prefilter (m=64) keeps useful recall on the same probes
    val pre = Similarity.binaryAnnTopK(emb, "vec_id", "embedding",
        probes, dim = 64, m = 64, k = 10)
      .select($"probe_id", $"vec_id").as[(Long, Long)].collect().toSet
    val exactIds = exact.map(t => (t._1, t._3))
    val recall = pre.count(exactIds.contains).toDouble / exactIds.size
    assert(recall >= 0.3, f"binary prefilter recall@10 $recall%.2f below floor")
  }

  test("exactSubstringCensus: first occurrence kept, overlapping dup windows merge, short docs zero") {
    // w=3. doc 1 is first everywhere; doc 2 shares the run "a b c d"
    // (2 overlapping dup windows -> ONE 4-token span, not 6); doc 3 is a
    // verbatim copy of doc 1 (all 4 windows dup -> whole 6 tokens
    // removed once); doc 4 is shorter than w
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "x a b c d y"),
      (3L, "a b c d e f"),
      (4L, "p q")).toDF("id", "t")
    val got = Dedup.exactSubstringCensus(docs, "id", "t", w = 3)
      .orderBy($"id")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == Seq(
      (1L, 4L, 0L, 0L),   // first occurrence: nothing removed
      (2L, 4L, 2L, 4L),   // spans [1,4)+[2,5) merge to [1,5): 4 tokens
      (3L, 4L, 4L, 6L),   // verbatim copy: [0,6) covered once
      (4L, 0L, 0L, 0L)),  // no window fits
      s"got $got")
  }

  test("bucketPairs = capped bucket self-join with id_a < id_b, each pair once") {
    val rnd = new scala.util.Random(17)
    // ~25 rows per bucket, with repeated ids inside a bucket
    val df = (1 to 3000).map(_ => (rnd.nextInt(3), rnd.nextInt(40).toLong, rnd.nextInt(400).toLong))
      .toDF("band", "band_hash", "id").repartition(4)
    val keys = Seq("band", "band_hash")
    for (cap <- Seq(20, 25, 30, 1000)) {
      val capped = Dedup.dropOversizedBuckets(df, keys, cap)
      val selfJoin = capped.select(col("band"), col("band_hash"), col("id").as("id_a"))
        .join(capped.select(col("band"), col("band_hash"), col("id").as("id_b")), keys)
        .filter(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
        .as[(Long, Long)].collect().toSet
      val grouped = Dedup.bucketPairs(df, keys, cap).as[(Long, Long)].collect()
      assert(grouped.length == grouped.toSet.size, s"cap=$cap: duplicate pairs")
      assert(grouped.toSet == selfJoin, s"cap=$cap")
      if (cap == 1000) assert(selfJoin.size > 1000)
    }
  }

  test("bucket cap: an oversized all-null bucket is dropped by both caps and counted alike") {
    val cap = 5
    val keys = Seq("band", "band_hash")
    def bucket(band: Option[Int], hash: Option[Long], ids: Seq[Long]) =
      ids.map(id => (band.map(Int.box).orNull, hash.map(Long.box).orNull, id))
    val df = (bucket(None, None, 0L until cap + 3L) ++ bucket(Some(1), Some(7L), Seq(100L, 101L, 102L)))
      .toDF("band", "band_hash", "id")
    assert(Dedup.dropOversizedBuckets(df, keys, cap).select("id").as[Long].collect().toSet ==
      Set(100L, 101L, 102L))
    assert(Dedup.bucketPairs(df, keys, cap).as[(Long, Long)].collect().toSet ==
      Set((100L, 101L), (100L, 102L), (101L, 102L)))
    assert(Dedup.bucketCapStats(df, keys, cap) == ((1L, cap + 3L, cap + 6L)))
    // within the cap, the null key is a bucket like any other
    val small = bucket(None, None, Seq(1L, 2L)).toDF("band", "band_hash", "id")
    assert(Dedup.dropOversizedBuckets(small, keys, cap).count() == 2)
    assert(Dedup.bucketPairs(small, keys, cap).as[(Long, Long)].collect().toSeq == Seq((1L, 2L)))
  }

  test("connected components: the loop session carries the caller's confs; the caller's stay put") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.autoBroadcastJoinThreshold", "1234567")
    caller.conf.set("spark.sql.shuffle.partitions", "7")
    val loop = Dedup.loopSession(caller, 3)
    assert(loop.conf.get("spark.sql.autoBroadcastJoinThreshold") == "1234567")
    assert(loop.conf.get("spark.sql.adaptive.enabled") == "false")
    assert(loop.conf.get("spark.sql.shuffle.partitions") == "3")
    val before = caller.conf.getAll
    val pairs = caller.createDataFrame(Seq((1L, 2L), (2L, 3L), (5L, 6L))).toDF("id_a", "id_b")
    val labels = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    assert(caller.conf.getAll == before)
    assert(caller.conf.get("spark.sql.adaptive.enabled") == "true")
  }
}
