package graft

import org.apache.spark.sql.functions._
import graft.functions.{GraftFunctions, NativeExpressions, TextFunctions}

/** The graft_* SQL function surface must agree with the Column API. */
class GraftFunctionsSpec extends SparkSpec {
  import spark.implicits._

  test("graft_* SQL functions agree with the Column API kernels") {
    GraftFunctions.register(spark)
    Seq((1L, "alpha beta gamma delta", Array(1.0f, 2.0f, 3.0f)))
      .toDF("id", "text", "vec").createOrReplaceTempView("gf_docs")

    val row = spark.sql(
      """SELECT
        |  graft_word_shingles(text, 2) AS sh,
        |  graft_simhash64(transform(graft_word_shingles(text, 2), s -> xxhash64(s))) AS sim,
        |  graft_cosine(vec, vec) AS cos,
        |  graft_quantized_cosine(vec, vec) AS qcos,
        |  size(graft_rademacher_sigs(vec, 4, 6, 3)) AS n_sigs
        |FROM gf_docs""".stripMargin).head()

    val viaColumns = Seq(("alpha beta gamma delta", Array(1.0f, 2.0f, 3.0f)))
      .toDF("text", "vec")
      .select(
        NativeExpressions.wordShingles($"text", 2).as("sh"),
        NativeExpressions.simhash64(
          transform(NativeExpressions.wordShingles($"text", 2), s => xxhash64(s))).as("sim"),
        NativeExpressions.cosineSim($"vec", $"vec").as("cos"))
      .head()

    assert(row.getSeq[String](0) == viaColumns.getSeq[String](0))
    assert(row.getLong(1) == viaColumns.getLong(1))
    assert(math.abs(row.getDouble(2) - 1.0) < 1e-9 && row.getDouble(2) == viaColumns.getDouble(2))
    assert(math.abs(row.getDouble(3) - 1.0) < 1e-3)
    assert(row.getInt(4) == 4)
  }

  test("graft_canonical_url / graft_registrable_domain agree with UrlOps and stay idempotent in SQL") {
    GraftFunctions.register(spark)
    val urls = Seq("HTTP://WWW.Crawl.Site3.COM:80/page/9/?b=2&a=1",
      "http://www.www.a.com/x//?utm_source=f", "https://b.org:443/", "not a url")
    urls.toDF("u").createOrReplaceTempView("gf_urls")
    val sql = spark.sql(
      """SELECT graft_canonical_url(u) AS c,
        |  graft_canonical_url(graft_canonical_url(u)) AS c2,
        |  graft_registrable_domain(u) AS d
        |FROM gf_urls""".stripMargin).collect()
    val viaCols = urls.toDF("u").select(
      graft.ops.UrlOps.canonicalizeUrl($"u").as("c"),
      graft.ops.UrlOps.registrableDomain(graft.ops.UrlOps.urlHost($"u")).as("d"))
      .collect()
    for ((s, c) <- sql.zip(viaCols)) {
      assert(s.getString(0) == c.getString(0), "SQL vs Column canonical form")
      assert(s.getString(1) == s.getString(0), "idempotence through the SQL route")
      assert(s.getString(2) == c.getString(1), "SQL vs Column domain")
    }
    assert(sql(0).getString(0) == "http://crawl.site3.com/page/9?a=1&b=2")
    assert(sql(0).getString(2) == "site3.com")
  }

  test("graft_bounded_levenshtein runs from SQL, capped at k+1") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_bounded_levenshtein('kitten', 'sitting', 3) AS d3," +
        " graft_bounded_levenshtein('kitten', 'sitting', 2) AS d2").head()
    assert(r.getInt(0) === 3 && r.getInt(1) === 3) // exact at k=3; cap 2+1 at k=2
  }

  test("levenshtein-vs-literal comparisons rewrite to the banded kernel") {
    GraftSession.ensureRuntimeConfs(spark)
    // range-backed so ConvertToLocalRelation can't fold the filter away
    val df = spark.range(2)
      .selectExpr("concat('kitten', id) AS a", "'sitting' AS b")
      .filter("levenshtein(a, b) <= 2")
    val opt = df.queryExecution.optimizedPlan.toString
    val low = opt.toLowerCase
    assert(low.contains("boundedlevenshtein"), s"rewrite did not fire:\n$opt")
    // every levenshtein occurrence must be the bounded form
    assert("(?<!bounded)levenshtein".r.findFirstIn(low).isEmpty,
      s"built-in survived:\n$opt")
  }

  test("the bounded-lev rewrite preserves every comparison, both operand orders") {
    GraftSession.ensureRuntimeConfs(spark)
    // distances to "abc": 0, 1, 2, 3, 6 — probes both sides of every k
    val words = Seq("abc", "abd", "abde", "xbde", "xxxxxx")
    words.map(w => ("abc", w)).toDF("a", "b").createOrReplaceTempView("lev_rw")
    for (k <- 0 to 3; op <- Seq("<=", "<", "=", ">", ">=", "<=>")) {
      val fwd = spark.sql(s"SELECT b FROM lev_rw WHERE levenshtein(a, b) $op $k")
        .as[String].collect().toSet
      val rev = spark.sql(s"SELECT b FROM lev_rw WHERE $k $op levenshtein(a, b)")
        .as[String].collect().toSet
      val expect = words.filter { w =>
        val d = NativeExpressions.boundedLev("abc", w, 10)
        op match {
          case "<=" => d <= k; case "<" => d < k
          case "=" | "<=>" => d == k
          case ">" => d > k; case ">=" => d >= k
        }
      }.toSet
      assert(fwd === expect, s"lev $op $k")
      val expectRev = words.filter { w =>
        val d = NativeExpressions.boundedLev("abc", w, 10)
        op match {
          case "<=" => k <= d; case "<" => k < d
          case "=" | "<=>" => k == d
          case ">" => k > d; case ">=" => k >= d
        }
      }.toSet
      assert(rev === expectRev, s"$k $op lev")
    }
  }

  test("the bounded-lev rewrite leaves negative bounds and 3-arg forms alone") {
    GraftSession.ensureRuntimeConfs(spark)
    val neg = Seq(("a", "b")).toDF("a", "b").filter("levenshtein(a, b) <= -1")
    assert(!neg.queryExecution.optimizedPlan.toString.toLowerCase
      .contains("boundedlevenshtein"), "negative bound must not rewrite")
    // thresholded built-in (returns -1 beyond the bound) keeps its semantics
    val thr = spark.sql("SELECT levenshtein('kitten', 'sitting', 2) AS d").head()
    assert(thr.getInt(0) === -1)
  }

  test("ensureRuntimeConfs registers each optimizer rule exactly once") {
    GraftSession.ensureRuntimeConfs(spark)
    GraftSession.ensureRuntimeConfs(spark)
    val rules = spark.experimental.extraOptimizations
    assert(rules.count(_ == graft.plans.RewriteMaxBy) === 1, s"rules: $rules")
    assert(rules.count(_ == graft.plans.RewriteBoundedLevenshtein) === 1, s"rules: $rules")
  }

  test("normalizeFold: composed/decomposed agree, marks strip, casefold, idempotent") {
    import graft.functions.NativeExpressions.normalizeFold
    val rows = Seq(
      "Café",            // precomposed é
      "Café",           // decomposed e + combining acute — same fold
      "ÄRGER straße", // Ä + ß (ß must survive: not a mark)
      "naïve ÑO",
      "plain ascii").toDF("s")
    val out = rows.select(normalizeFold(col("s")).as("n"),
      normalizeFold(normalizeFold(col("s"))).as("nn"))
      .as[(String, String)].collect()
    assert(out(0)._1 === "cafe" && out(1)._1 === "cafe",
      s"composed vs decomposed must fold identically: ${out.toSeq}")
    assert(out(2)._1 === "arger straße", s"ß is not a diacritic: ${out.toSeq}")
    assert(out(3)._1 === "naive no")
    assert(out(4)._1 === "plain ascii")
    assert(out.forall(p => p._1 == p._2), s"fold must be idempotent: ${out.toSeq}")
  }

  test("graft_normalize runs from SQL and nulls propagate") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_normalize('ÉLÈVE') AS a, graft_normalize(NULL) AS b").head()
    assert(r.getString(0) === "eleve" && r.isNullAt(1))
  }

  test("graft_max_by_ord aggregates in SQL like the native argmax") {
    GraftFunctions.register(spark)
    Seq((1L, 10L, 0L, "old"), (1L, 20L, 0L, "new"), (1L, 20L, -1L, "older"),
      (2L, 5L, 0L, "only"))
      .toDF("k", "ts", "seq", "v").createOrReplaceTempView("gf_events")
    val got = spark.sql(
      "SELECT k, graft_max_by_ord(v, ts, seq) AS last FROM gf_events GROUP BY k ORDER BY k")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "new"), (2L, "only")))
  }

  test("repetition stats: counts, modal bigram, and degenerate docs") {
    val rows = Seq("aaa bbb aaa bbb aaa", "one two three", "solo", "")
      .toDF("text")
      .select(NativeExpressions.repetitionStats($"text").as("r"))
      .select($"r.n_words", $"r.n_distinct_words", $"r.n_bigrams",
        $"r.n_distinct_bigrams", $"r.top_bigram_n")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // "aaa bbb aaa bbb aaa": 5 words, 2 distinct; bigrams aaa-bbb ×2, bbb-aaa ×2
    assert(rows(0) == ((5L, 2L, 4L, 2L, 2L)))
    assert(rows(1) == ((3L, 3L, 2L, 2L, 1L)))
    assert(rows(2) == ((1L, 1L, 0L, 0L, 0L)))
    // empty string splits to one empty word (split ' ' keep-empties convention)
    assert(rows(3) == ((1L, 1L, 0L, 0L, 0L)))
  }

  // Independent reference winnower for the property test: returns the
  // SET of selected (pos, hash) — the expression only ships stats, so the
  // reference also exposes the set for the guarantee check.
  private def refWinnow(text: String, k: Int, w: Int): Set[(Int, Long)] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = text.length - k + 1
    if (n <= 0) return Set.empty
    val hs = (0 until n).map { i =>
      val d = md.digest(text.substring(i, i + k).getBytes("UTF-8"))
      (0 until 5).foldLeft(0L)((h, j) => (h << 8) | (d(j) & 0xffL))
    }
    val nWin = if (n >= w) n - w + 1 else 1
    (0 until nWin).map { s =>
      val window = (s until math.min(s + w, n))
      // min hash, rightmost position on ties
      val best = window.minBy(p => (hs(p), -p))
      (best, hs(best))
    }.toSet
  }

  test("winnowing: short-doc contract, single gram, rightmost ties") {
    def stats(texts: String*) = texts.toDF("text")
      .select(NativeExpressions.winnowStats($"text", 8, 4).as("w"))
      .select($"w.n_windows", $"w.n_selected", $"w.n_distinct_fp", $"w.fp_checksum")
      .as[(Long, Long, Long, Long)].collect().toSeq
    val Seq(short, one, ties) = stats("1234567", "12345678", "aaaaaaaaaaaa")
    assert(short == ((0L, 0L, 0L, 0L)))
    // exactly one gram: checksum = its 40-bit portable hash
    val h = refWinnow("12345678", 8, 4).head._2
    assert(one == ((1L, 1L, 1L, h)))
    // 12 a's = 5 identical grams, 2 windows; rightmost tie-break selects
    // the window's LAST gram each time → 2 selections, 1 distinct fp
    assert(ties._1 == 2L && ties._2 == 2L && ties._3 == 1L)
  }

  test("winnowing guarantee: expression matches reference; planted 11-char overlap shares a fp") {
    val rnd = new scala.util.Random(42)
    def randText(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(6)).toChar).mkString
    val planted = randText(11) // k + w - 1: must force a shared fingerprint
    val texts = (0 until 40).map { i =>
      val a = randText(5 + rnd.nextInt(40))
      val b = randText(5 + rnd.nextInt(40))
      if (i % 2 == 0) a + planted + b else a + b
    }
    val got = texts.toDF("text")
      .select(NativeExpressions.winnowStats($"text", 8, 4).as("w"))
      .select($"w.n_windows", $"w.n_selected", $"w.n_distinct_fp", $"w.fp_checksum")
      .as[(Long, Long, Long, Long)].collect().toSeq
    texts.zip(got).foreach { case (t, (nw, ns, nd, cs)) =>
      val ref = refWinnow(t, 8, 4)
      val n = t.length - 7
      val expWin = if (n >= 4) n - 3 else if (n >= 1) 1 else 0
      assert(nw == expWin.toLong, s"n_windows for '$t'")
      assert(ns == ref.size.toLong, s"n_selected for '$t'")
      val fps = ref.map(_._2)
      assert(nd == fps.size.toLong, s"n_distinct_fp for '$t'")
      assert(cs == fps.sum, s"fp_checksum for '$t'")
    }
    // the winnowing guarantee: every pair of docs containing the planted
    // 11-char substring shares at least one fingerprint
    val withPlant = texts.filter(_.contains(planted)).map(refWinnow(_, 8, 4).map(_._2))
    for (x <- withPlant; y <- withPlant)
      assert(x.intersect(y).nonEmpty, "planted overlap must share a fingerprint")
  }

  test("graft_winnow / graft_wav_qc / graft_term_counts run from SQL, agree with Column API") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT graft_winnow('abcdefghijkl', 8, 4) AS w," +
        " graft_term_counts('a b a c', 'a', 'c', 'z') AS tc")
      .selectExpr("w.n_windows", "tc[0]", "tc[1]", "tc[2]").as[(Long, Long, Long, Long)].head()
    assert(r == ((2L, 2L, 1L, 0L)))
    val col = Seq("abcdefghijkl").toDF("t")
      .select(NativeExpressions.winnowStats($"t", 8, 4).as("w"))
      .select($"w.n_windows").as[Long].head()
    assert(col == r._1)
    val qc = Seq(Tuple1(graft.multimodal.AudioWav.encode(Array[Short](0, 2000)))).toDF("c")
      .selectExpr("graft_wav_qc(c, 1000, 50) AS q").selectExpr("q.n_clipped", "q.longest_silence")
      .as[(Long, Long)].head()
    assert(qc == ((1L, 1L)))
  }

  test("aho-corasick: agrees with the naive all-occurrence scan on overlap-heavy inputs") {
    val rnd = new scala.util.Random(7)
    // 2-letter alphabet maximizes overlaps, shared prefixes/suffixes, and
    // fail-link traversal — the construction's stress case
    def rs(n: Int) = (0 until n).map(_ => ('a' + rnd.nextInt(2)).toChar).mkString
    for (_ <- 0 until 15) {
      val pats = (0 until (1 + rnd.nextInt(8))).map(_ => rs(1 + rnd.nextInt(5))).distinct
      val text = rs(30 + rnd.nextInt(60))
      var hits = 0L
      var cs = 0L
      val seen = scala.collection.mutable.Set[String]()
      for (p <- pats; i <- 0 to text.length - p.length
           if text.regionMatches(i, p, 0, p.length)) {
        hits += 1
        cs += (i + p.length).toLong * 31 + p.length // 1-based end pos
        seen += p
      }
      val got = Seq(text).toDF("text")
        .select(NativeExpressions.multiPatternStats($"text", pats).as("s"))
        .select($"s.n_hits", $"s.n_patterns_hit", $"s.hit_checksum")
        .as[(Long, Long, Long)].head()
      assert(got == ((hits, seen.size.toLong, cs)), s"pats=$pats text=$text")
    }
    // hand case: nested patterns all fire at the same end position
    val nested = Seq(Seq("ababa").toDF("text")
      .select(NativeExpressions.multiPatternStats($"text", Seq("a", "aba", "ababa", "ba")).as("s"))
      .select($"s.n_hits").as[Long].head())
    // a×3, aba×2, ababa×1, ba×2
    assert(nested.head == 8L)
  }

  test("portable hash matches its DuckDB formulation contract") {
    // conv(substring(md5(x),1,15),16,10) must be a nonnegative 60-bit value
    val hs = Seq("a", "hello world", "").toDF("t")
      .select(TextFunctions.portableHash60($"t")).as[Long].collect()
    assert(hs.forall(h => h >= 0 && h < (1L << 60)))
    // known value: md5('hello') = 5d41402abc4b2a76..., first 15 hex chars
    val h = Seq("hello").toDF("t").select(TextFunctions.portableHash60($"t")).as[Long].head()
    assert(h == java.lang.Long.parseLong("5d41402abc4b2a7", 16))
  }

  test("bounded Levenshtein: min(lev, k+1) on random strings, band edges exact") {
    import graft.functions.NativeExpressions.boundedLev
    // hand cases incl. band boundary |n-m| = k and k = 0
    assert(boundedLev("", "", 2) === 0)
    assert(boundedLev("abc", "abc", 0) === 0)
    assert(boundedLev("abc", "abd", 0) === 1) // capped at k+1
    assert(boundedLev("abc", "abcde", 2) === 2)
    assert(boundedLev("abc", "abcdef", 2) === 3) // length gap > k
    assert(boundedLev("kitten", "sitting", 3) === 3)
    assert(boundedLev("kitten", "sitting", 2) === 3) // true 3 > k → k+1
    // property vs Spark's own levenshtein: equal below cap, k+1 above
    val rnd = new scala.util.Random(0xBADC0DE)
    val alphabet = "abcd" // small alphabet → dense distance distribution
    val cases = (1 to 300).map { _ =>
      def str() = (0 until rnd.between(0, 12)).map(_ => alphabet(rnd.between(0, 4))).mkString
      (str(), str(), rnd.between(0, 5))
    }
    val df = cases.toDF("a", "b", "k")
    val sparkLev = df.select(levenshtein($"a", $"b")).as[Int].collect()
    cases.zip(sparkLev).foreach { case ((a, b, k), ref) =>
      val got = boundedLev(a, b, k)
      val want = math.min(ref, k + 1)
      assert(got === want, s"boundedLev('$a','$b',$k) = $got, want $want (lev=$ref)")
    }
    // the Column wrapper evaluates the same kernel distributed
    val viaCol = df.select(graft.functions.NativeExpressions
      .boundedLevenshtein($"a", $"b", 2)).as[Int].collect()
    cases.zip(sparkLev).zip(viaCol).foreach { case (((a, b, _), ref), got) =>
      assert(got === math.min(ref, 3), s"column kernel diverged on ('$a','$b')")
    }
  }

  test("prefixLongCosines: each cut is BIT-equal to the sliced longCosine (the q209 fusion contract)") {
    import graft.functions.NativeExpressions
    // deterministic pseudo-random quantized vectors incl. negatives and
    // zeros — the exact value domain the floor(x*1000) quantization emits
    val rnd = new scala.util.Random(41)
    val dims = Seq(8, 16, 32, 64)
    val rows = (1 to 50).map { i =>
      (i.toLong,
        Seq.fill(64)(rnd.between(-1000L, 1001L)),
        Seq.fill(64)(rnd.between(-1000L, 1001L)))
    }
    val df = rows.toDF("id", "a", "b").localCheckpoint(true)
    val fused = df.select($"id",
      PrefixCosineOracle.prefixLongCosines($"a", $"b", dims).as("pc"))
      .as[(Long, Seq[Double])].collect().toMap
    dims.zipWithIndex.foreach { case (d, i) =>
      val sliced = df.select($"id", NativeExpressions.longCosine(
          slice($"a", 1, d), slice($"b", 1, d)))
        .as[(Long, Double)].collect().toMap
      rows.foreach { case (id, _, _) =>
        // == on doubles: BIT equality is the contract (same long partials,
        // same divide), not approximate agreement
        assert(fused(id)(i) == sliced(id),
          s"cut $d diverged for row $id: ${fused(id)(i)} vs ${sliced(id)}")
      }
    }
  }

  test("prefixTopK: member sets match the window row_number over the fused kernel (the q209 ranking contract)") {
    import graft.functions.NativeExpressions
    import org.apache.spark.sql.expressions.Window
    // corpus with PLANTED exact cosine ties (duplicate vectors) so the
    // (cosine DESC, id ASC) tiebreak is actually exercised, plus a
    // zero vector so the NaN-largest double ordering is too
    val rnd = new scala.util.Random(43)
    val dims = Seq(4, 8, 16)
    val base = (1 to 40).map(i => (i.toLong, Seq.fill(16)(rnd.between(-1000L, 1001L))))
    val corpus = (base ++
      base.take(5).map { case (id, v) => (id + 100L, v) } :+ // exact dups → cosine ties
      (201L, Seq.fill(16)(0L))) // zero norm → NaN cosine
      .toDF("vec_id", "qv")
    val probes = base.filter(_._1 % 10 == 0)
      .toDF("probe_id", "pqv")
    val pairs = corpus.crossJoin(broadcast(probes))
      .filter($"vec_id" =!= $"probe_id").localCheckpoint(true)
    val viaAgg = pairs.groupBy($"probe_id")
      .agg(NativeExpressions.prefixTopK($"qv", $"pqv", $"vec_id", dims, 7).as("tk"))
      .select($"probe_id", explode($"tk").as("e"))
      .select($"e.trunc_dim", $"probe_id", $"e.vec_id")
      .as[(Long, Long, Long)].collect().toSet
    val viaWindow = pairs
      .select($"probe_id", $"vec_id",
        posexplode(PrefixCosineOracle.prefixLongCosines($"qv", $"pqv", dims))
          .as(Seq("i", "cos")))
      .withColumn("trunc_dim",
        element_at(lit(dims.map(_.toLong).toArray), $"i" + 1))
      .withColumn("r", row_number().over(
        Window.partitionBy($"trunc_dim", $"probe_id")
          .orderBy($"cos".desc, $"vec_id".asc)))
      .filter($"r" <= 7)
      .select($"trunc_dim", $"probe_id", $"vec_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(viaAgg === viaWindow)
    // the NaN (zero-norm) member must rank FIRST under Spark's
    // NaN-largest ordering — assert it survived into every top-7
    assert(dims.forall(d => probes.as[(Long, Seq[Long])].collect()
      .forall { case (p, _) => viaAgg.contains((d.toLong, p, 201L)) }))
  }

  test("ImageCodec.allStats: bit-equal to channelSums + aHash64 + qcStats (the decode-once artifact contract)") {
    import graft.multimodal.Multimodal.ImageCodec
    (0L to 250L).foreach { id =>
      val png = ImageCodec.syntheticPng(id)
      val s = ImageCodec.allStats(png)
      val (w, h, sr, sg, sb) = ImageCodec.channelSums(png)
      val (hi, lo, nSet) = ImageCodec.aHash64(png)
      val (mean, mn, mx) = ImageCodec.qcStats(png)
      assert((s.width, s.height, s.sum_r, s.sum_g, s.sum_b) === ((w, h, sr, sg, sb)))
      assert((s.hash_hi, s.hash_lo, s.n_set) === ((hi, lo, nSet.toLong)))
      assert((s.mean_gray, s.min_gray, s.max_gray) === ((mean, mn, mx)))
    }
  }

  test("VideoCodec.frameFeatures: sampleFrames and sceneCuts are exact projections/folds of it") {
    import graft.multimodal.VideoCodec
    val ids = (0L to 60L)
    val vids = ids.map { id =>
      val bytes = VideoCodec.syntheticVideo(id)
      if (id % 50 == 0) { // the q89 corruption planting
        val n = 4 + (id % 4).toInt
        val p = 13 + 8 * n + 10
        bytes(p) = (bytes(p) ^ 0x5A).toByte
      }
      (id, bytes)
    }.toDF("media_id", "content")
    val feats = VideoCodec.frameFeatures(vids).localCheckpoint(true)
    // stride-2 projection == sampleFrames(stride = 2)
    val viaArtifact = feats
      .filter($"video_error".isNotNull || $"frame_idx" % 2 === 0)
      .select($"media_id", $"frame_idx", $"width", $"height",
        $"sum_r", $"sum_g", $"sum_b", $"video_error")
      .as[(Long, Option[Long], Option[Int], Option[Int], Option[Long],
        Option[Long], Option[Long], Option[String])].collect().toSet
    val direct = VideoCodec.sampleFrames(vids, stride = 2)
      .as[(Long, Option[Long], Option[Int], Option[Int], Option[Long],
        Option[Long], Option[Long], Option[String])].collect().toSet
    assert(viaArtifact === direct)
    // hamming-lag fold == sceneCuts kernel
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"media_id").orderBy($"frame_idx")
    val foldCuts = feats.filter($"video_error".isNull)
      .withColumn("hm",
        (bit_count($"hash_hi".bitwiseXOR(lag($"hash_hi", 1).over(w))) +
          bit_count($"hash_lo".bitwiseXOR(lag($"hash_lo", 1).over(w)))).cast("long"))
      .groupBy($"media_id")
      .agg(count(lit(1)).as("n_frames"),
        count(when($"hm" > 20, 1)).as("n_cuts"),
        coalesce(max($"hm"), lit(0L)).as("max_hamming"))
      .as[(Long, Long, Long, Long)].collect().toSet
    val directCuts = VideoCodec.sceneCuts(vids, cutHamming = 20)
      .filter($"video_error".isNull)
      .select($"media_id", $"n_frames", $"n_cuts", $"max_hamming")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(foldCuts === directCuts)
  }

  test("charTrigrams = the declarative substring form, char-exact incl. multibyte") {
    import org.apache.spark.sql.functions.{col, expr}
    // the O(len) kernel must match transform(sequence, substring) BY
    // CHARACTER — ASCII, accented latin (2-byte), CJK (3-byte),
    // supplementary-plane emoji (4-byte, where a byte-offset walk could
    // silently diverge from substring()'s char indexing), and the
    // sub-3-char empty-array domain edge
    val rows = Seq("alpha beta gamma", "héllo wörld", "日本語のテキストです",
      "mixé 字x", "a😀b😀c", "😀😀😀😀", "x😀", "ab", "", "abc")
    val df = rows.toDF("text")
    val got = df.select(graft.functions.NativeExpressions.charTrigrams(col("text")))
      .as[Seq[String]].collect().toSeq
    val want = df.select(expr(
      "CASE WHEN length(text) < 3 THEN array() " +
        "ELSE transform(sequence(1, length(text) - 2), i -> substring(text, i, 3)) END"))
      .as[Seq[String]].collect().toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("hash60 kernel = conv(substring(md5)) bit-for-bit, string and long inputs") {
    import org.apache.spark.sql.functions.{col, expr}
    // the native digest-byte walk must equal the SQL hex-string form on
    // every input class the 22 call sites feed it: plain ASCII, multibyte
    // UTF-8 (incl. 4-byte emoji), empty string, and stringified ids
    val rows = Seq("", "a", "0:12345", "héllo wörld", "日本語", "a😀b",
      "epoch1:42", "the quick brown fox")
    val df = rows.toDF("s")
    val got = df.select(
      graft.functions.TextFunctions.portableHash60(col("s")).as("h"))
      .as[Long].collect().toSeq
    val want = df.select(expr(
      "cast(conv(substring(md5(cast(s as binary)), 1, 15), 16, 10) as long)"))
      .as[Long].collect().toSeq
    assert(got == want, s"got=$got want=$want")
    // long ids go through cast("string") at the call sites — same parity
    val ids = Seq(0L, 1L, -7L, 123456789012345L).toDF("id")
    val gotIds = ids.select(
      graft.functions.TextFunctions.portableHash60(col("id").cast("string")))
      .as[Long].collect().toSeq
    val wantIds = ids.select(expr(
      "cast(conv(substring(md5(cast(cast(id as string) as binary)), 1, 15), 16, 10) as long)"))
      .as[Long].collect().toSeq
    assert(gotIds == wantIds)
  }

  test("sqDiffSumLong kernel = aggregate(zip_with) squared-L2 exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L)),
      (Seq(0L, -5L, 10L), Seq(3L, 5L, -10L)),
      (Seq(1000L, -1000L), Seq(-1000L, 1000L)),
      (Seq.empty[Long], Seq.empty[Long])).toDF("a", "b")
    val got = df.select(
      graft.functions.NativeExpressions.sqDiffSumLong(col("a"), col("b")))
      .as[Long].collect().toSeq
    val want = df.select(expr(
      "aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L, (acc, v) -> acc + v)"))
      .as[Long].collect().toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("sigAgreeCount kernel = size(filter(zip_with)) agreement count exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    val rnd = new scala.util.Random(7)
    val rows = Seq(
      (Seq(1L, 2L, 3L), Seq(1L, 9L, 3L)),
      (Seq(0L, 0L), Seq(0L, 0L)),
      (Seq(5L), Seq(-5L)),
      (Seq.empty[Long], Seq.empty[Long])) ++
      (1 to 20).map { _ =>
        val k = 32
        val a = Seq.fill(k)(rnd.nextLong() & ((1L << 60) - 1))
        val b = a.zipWithIndex.map { case (v, i) => if (rnd.nextBoolean()) v else v + i + 1 }
        (a, b)
      }
    val df = rows.toDF("a", "b")
    val got = df.select(
      graft.functions.NativeExpressions.sigAgreeCount(col("a"), col("b")))
      .as[Int].collect().toSeq
    val want = df.select(expr(
      "cast(size(filter(zip_with(a, b, (x, y) -> x = y), v -> v)) as int)"))
      .as[Int].collect().toSeq
    assert(got == want, s"got=$got want=$want")
  }

  test("sigAgreeCount refuses non-BIGINT arrays at analysis instead of reading them as longs") {
    import org.apache.spark.sql.functions.col
    val df = Seq((Seq(1, 2, 3), Seq(1, 9, 3), Seq(1L, 9L, 3L))).toDF("ia", "ib", "lb")
    Seq(("ia", "ib"), ("ia", "lb"), ("lb", "ia")).foreach { case (a, b) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(graft.functions.NativeExpressions.sigAgreeCount(col(a), col(b))))
      assert(e.getMessage.contains("ARRAY<BIGINT>"), e.getMessage)
    }
    // BIGINT arrays (nullable elements or not) still analyse and count
    assert(df.select(graft.functions.NativeExpressions.sigAgreeCount(col("lb"), col("lb")))
      .as[Int].head() == 3)
  }
  test("lshBands kernel = transform(sequence, xxhash64(slice)) banding bit for bit") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.types.{ArrayType, LongType, StructField, StructType}
    val rnd = new scala.util.Random(11)
    val random = (1 to 2000).map(_ => Seq.fill(32)(rnd.nextLong() & ((1L << 60) - 1)))
    // short signatures leave trailing bands empty; null elements are
    // skipped by the array hash; a null signature hashes every band to 42
    val edges = Seq(Seq.empty[java.lang.Long], Seq[java.lang.Long](1L, 2L, 3L),
      Seq.tabulate[java.lang.Long](32)(i => if (i % 5 == 0) null else java.lang.Long.valueOf(i)), null)
    val rows = random.map(r => org.apache.spark.sql.Row(r.map(java.lang.Long.valueOf))) ++
      edges.map(org.apache.spark.sql.Row(_))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
      StructType(Seq(StructField("sig", ArrayType(LongType, containsNull = true)))))
    def expression(sig: Column, bands: Int, rows: Int): Column =
      transform(sequence(lit(0), lit(bands - 1)), b =>
        struct(b.as("band"), xxhash64(slice(sig, b * rows + 1, lit(rows))).as("band_hash")))
    for ((bands, r) <- Seq((8, 4), (4, 8), (16, 2), (3, 5))) {
      val kernel = df.select(NativeExpressions.lshBands(col("sig"), bands, r).as("b"))
      val old = df.select(expression(col("sig"), bands, r).as("b"))
      assert(kernel.schema == old.schema, s"${kernel.schema} vs ${old.schema}")
      val got = kernel.collect().toSeq
      assert(got == old.collect().toSeq, s"bands=$bands rows=$r")
      assert(got.size == rows.size && got.forall(_.getSeq[Any](0).size == bands))
    }
    val e = intercept[org.apache.spark.sql.AnalysisException](
      Seq(Seq(1, 2)).toDF("s").select(NativeExpressions.lshBands(col("s"), 1, 2)))
    assert(e.getMessage.contains("ARRAY<BIGINT>"), e.getMessage)
  }

  test("set Jaccard kernel = size(array_intersect) / size(array_union), repeats and nulls included") {
    import org.apache.spark.sql.types.{ArrayType, StringType, StructField, StructType}
    val rnd = new scala.util.Random(13)
    def draw(n: Int): Seq[String] = Seq.fill(n)(s"w${rnd.nextInt(12)}")
    val random = (1 to 500).map(_ => (draw(rnd.nextInt(15)), draw(1 + rnd.nextInt(15))))
    val edges = Seq(
      (Seq("a", "a", "b"), Seq("b", "b", "c", "c")),
      (Seq("a", null, null), Seq(null, "b")),
      (Seq("x"), Seq.empty[String]),
      (null, Seq("a")), (Seq("a"), null), (null, null))
    val schema = StructType(Seq(StructField("a", ArrayType(StringType)), StructField("b", ArrayType(StringType))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      (random ++ edges).map { case (a, b) => org.apache.spark.sql.Row(a, b) }, 3), schema)
    val got = df.select(NativeExpressions.setJaccard(col("a"), col("b"))).collect().map(_.get(0)).toSeq
    val old = df.select(size(array_intersect(col("a"), col("b"))).cast("double") /
      size(array_union(col("a"), col("b"))).cast("double")).collect().map(_.get(0)).toSeq
    assert(got == old)
    assert(got.takeRight(3).forall(_ == null) && got(random.size) == 1.0 / 3)
    // two empty sets: 0/0 is undefined — null, where the expression form divides by zero
    val empty = Seq((Seq.empty[String], Seq.empty[String])).toDF("a", "b")
    assert(empty.select(NativeExpressions.setJaccard(col("a"), col("b"))).head().isNullAt(0))
    // BIGINT sets take the same path; mixed element types fail analysis
    val longs = Seq((Seq(1L, 2L, 2L, 3L), Seq(3L, 4L))).toDF("a", "b")
    assert(longs.select(NativeExpressions.setJaccard(col("a"), col("b"))).as[Double].head() == 0.25)
    intercept[org.apache.spark.sql.AnalysisException](
      Seq((Seq(1L), Seq("1"))).toDF("a", "b").select(NativeExpressions.setJaccard(col("a"), col("b"))))
  }

  test("bucketIds: ids at maxBucket rows, null at maxBucket + 1, across partitions") {
    val cap = 50
    // spark.range splits each bucket over 4 partitions, so the cap is
    // decided in the merge of map-side partials, not in one update loop
    val df = spark.range(0, cap, 1, 4).select(lit("full").as("k"), col("id"))
      .unionByName(spark.range(100, 101 + cap, 1, 4).select(lit("over").as("k"), col("id")))
      // a null id still counts toward the cap, but is never listed
      .unionByName(spark.range(200, 200 + cap - 1, 1, 4).select(lit("nulls").as("k"), col("id")))
      .unionByName(Seq(("nulls", null.asInstanceOf[java.lang.Long]), ("over2", null),
        ("over2", null)).toDF("k", "id"))
      .unionByName(spark.range(300, 300 + cap - 1, 1, 4).select(lit("over2").as("k"), col("id")))
    val got = df.groupBy(col("k")).agg(NativeExpressions.bucketIds(col("id"), cap).as("ids"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[Long](1))).toMap
    assert(got("full").contains((0L until cap).toSeq))
    assert(got("over").isEmpty)
    assert(got("nulls").contains((200L until 200L + cap - 1).toSeq))
    assert(got("over2").isEmpty)
    // shuffled input order: the list is still ascending
    val shuffled = spark.range(0, cap, 1, 4).select(lit(1).as("k"), (lit(cap) - col("id")).as("id"))
      .repartition(3)
    val ids = shuffled.groupBy(col("k")).agg(NativeExpressions.bucketIds(col("id"), cap).as("ids"))
      .head().getSeq[Long](1)
    assert(ids == (1L to cap.toLong).toSeq)
    intercept[org.apache.spark.sql.AnalysisException](
      Seq((1, 2)).toDF("k", "id").groupBy(col("k")).agg(NativeExpressions.bucketIds(col("id"), cap)))
  }
}
