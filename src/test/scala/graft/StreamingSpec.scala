package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.model._
import graft.pipeline.Consolidate
import graft.ConsolidateOracle._
import graft.streaming.Streaming

/** Streaming parity: the stateful streaming fold must agree with the
  * batch Aggregator (same fold code, different execution), replay
  * semantics must hold, and event-time session windows must run with
  * watermarks. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val repr = DocumentRepresentation("text inline", "inline")

  private def events(id: Long): Seq[DataRecordEvent] = Seq(
    DataRecordEvent.create(id, s"doc-$id", repr, 1L, 0L),
    DataRecordEvent.upsertMeta(id, Metadata(Map("lang" -> "en"), "lang"), 2L, 0L),
    DataRecordEvent.upsertMeta(id, Metadata(Map("lang" -> "en"), "lang"), 3L, 0L),
    DataRecordEvent.upsertRepresentation(id, DocumentRepresentation(s"/o/$id", "tika"), 4L, 0L))

  test("streaming consolidation agrees with the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataRecordEvent]
    val q = Streaming.dataRecords(Streaming.consolidate(input.toDS()), "records_test")
    try {
      // two micro-batches: creates first, enrichments after — the fold
      // must consolidate across triggers via state
      input.addData((1L to 5L).flatMap(events(_).take(1)))
      q.processAllAvailable()
      input.addData((1L to 5L).flatMap(events(_).drop(1)))
      q.processAllAvailable()

      val out = spark.sql("select * from records_test").as[DataRecord].collect()
      // memory sink in update mode appends each update; latest state per id wins
      val latest = out.groupBy(_.id).map { case (_, rs) => rs.maxBy(_.meta.size) }
      val expected = (1L to 5L).map(id => Consolidate.sequentialFold(events(id)))
        .map(r => r.id -> r).toMap
      latest.foreach { r => assert(r == expected(r.id), s"record ${r.id} diverged from batch fold") }
      assert(latest.size == 5)
    } finally q.stop()
  }

  test("streaming HLL: register maxes aggregate across micro-batches") {
    // the portable HLL's merge operator is per-bucket MAX — a standard
    // streaming aggregation, so the cardinality sketch runs natively under
    // Structured Streaming with bounded state (≤ m rows per group),
    // the per-executor telemetry shape a 100 TB ingest needs
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(String, String)]
    val regs = graft.ops.Sketches.hllRegisters(
      input.toDS().toDF("g", "x"), Seq("g"), col("x"))
    val q = regs.writeStream.format("memory").queryName("hll_regs_test")
      .outputMode("complete").start()
    try {
      input.addData((1 to 3000).map(i => ("g", s"v$i")))
      q.processAllAvailable()
      input.addData((2000 to 5000).map(i => ("g", s"v$i")))
      q.processAllAvailable()
      val est = graft.ops.Sketches.hllEstimate(
        spark.table("hll_regs_test"), Seq("g"))
        .select(col("hll_est")).head().getDouble(0)
      assert(math.abs(est - 5000.0) / 5000.0 < 0.15,
        s"streaming estimate $est vs 5000 distinct")
      // must agree EXACTLY with the batch sketch over the same union
      val batch = graft.ops.Sketches.hllEstimate(
        graft.ops.Sketches.hllRegisters(
          ((1 to 3000) ++ (2000 to 5000)).map(i => ("g", s"v$i")).toDF("g", "x"),
          Seq("g"), col("x")), Seq("g"))
        .select(col("hll_est")).head().getDouble(0)
      assert(est == batch, s"streaming $est != batch $batch")
    } finally q.stop()
  }

  test("streaming Count-Min: cell sums aggregate across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[String]
    val cells = graft.ops.Sketches.cmSketch(input.toDS().toDF("x"), col("x"))
    val q = cells.writeStream.format("memory").queryName("cm_cells_test")
      .outputMode("complete").start()
    try {
      input.addData((1 to 1500).map(i => s"k${i % 40}"))
      q.processAllAvailable()
      input.addData((1 to 900).map(i => s"k${i % 25}"))
      q.processAllAvailable()
      val streaming = spark.table("cm_cells_test").select("row", "bucket", "cnt")
      val batch = graft.ops.Sketches.cmSketch(
        ((1 to 1500).map(i => s"k${i % 40}") ++ (1 to 900).map(i => s"k${i % 25}"))
          .toDF("x"), col("x")).select("row", "bucket", "cnt")
      assert(streaming.exceptAll(batch).isEmpty && batch.exceptAll(streaming).isEmpty,
        "streaming cells must equal the batch sketch of the union")
    } finally q.stop()
  }

  test("replay: a second subscription re-materializes from the source") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataRecordEvent]
    input.addData(events(9L))
    val q1 = Streaming.dataRecords(Streaming.consolidate(input.toDS()), "replay_a")
    q1.processAllAvailable(); q1.stop()
    // fresh query over the same source stream: full replay, fresh state
    val q2 = Streaming.dataRecords(Streaming.consolidate(input.toDS()), "replay_b")
    q2.processAllAvailable(); q2.stop()
    val a = spark.sql("select id from replay_a").collect().length
    val b = spark.sql("select id from replay_b").collect().length
    assert(a > 0 && b > 0)
  }

  test("streaming enrichment composes onto the consolidation stream") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataRecordEvent]
    input.addData((1L to 3L).map(id =>
      DataRecordEvent.create(id, s"doc-$id", DocumentRepresentation(s"hello spark number $id", "inline"), 1L, 0L)))
    val q = Streaming.dataRecords(
      Streaming.enriched(Streaming.consolidate(input.toDS()),
        graft.pipeline.StandardEnrichers.all()),
      "stream_enriched")
    try {
      q.processAllAvailable()
      val recs = spark.sql("select * from stream_enriched").as[DataRecord].collect()
      assert(recs.length == 3)
      assert(recs.forall(_.metaBy("lang").isDefined))
      assert(recs.forall(_.metaBy("hash").isDefined))
    } finally q.stop()
  }

  test("side-effect sink sees every consolidated record (A14)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[DataRecordEvent]
    input.addData((1L to 4L).flatMap(events))
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = Streaming.sideEffect(Streaming.consolidate(input.toDS()),
      (batch, _) => batch.collect().foreach(r => seen.add(r.id)))
    try {
      q.processAllAvailable()
      assert(seen.iterator().hasNext)
      val ids = scala.jdk.CollectionConverters.IteratorHasAsScala(seen.iterator()).asScala.toSet
      assert(ids == (1L to 4L).toSet)
    } finally q.stop()
  }

  test("stream-stream windowed equi-join within tolerance (A12)") {
    implicit val sqlCtx = spark.sqlContext
    val recs = MemoryStream[(Long, java.sql.Timestamp)]
    val chunks = MemoryStream[(Long, java.sql.Timestamp)]
    val t0 = 1704067200000L
    recs.addData(Seq((1L, new java.sql.Timestamp(t0))))
    chunks.addData(Seq(
      (1L, new java.sql.Timestamp(t0 + 500)),   // within ±1 s → joins
      (1L, new java.sql.Timestamp(t0 + 5000)))) // outside → dropped
    val joined = Streaming.windowedJoin(
      recs.toDS().toDF("key", "rts"), chunks.toDS().toDF("key", "cts"),
      "key", "rts", "cts", toleranceSec = 1)
    val q = joined.writeStream.format("memory").queryName("wjoin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.sql("select * from wjoin_test").count() == 1)
    } finally q.stop()
  }

  test("consolidation fold runs on the RocksDB state store (100 TB config)") {
    implicit val sqlCtx = spark.sqlContext
    val prev = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[DataRecordEvent]
      val q = Streaming.dataRecords(Streaming.consolidate(input.toDS()), "rocksdb_test")
      try {
        input.addData((1L to 3L).flatMap(events))
        q.processAllAvailable()
        val out = spark.sql("select * from rocksdb_test").as[DataRecord].collect()
        val latest = out.groupBy(_.id).map { case (_, rs) => rs.maxBy(_.meta.size) }
        val expected = (1L to 3L).map(id => Consolidate.sequentialFold(events(id)))
          .map(r => r.id -> r).toMap
        latest.foreach(r => assert(r == expected(r.id)))
        assert(latest.size == 3)
      } finally q.stop()
    } finally prev match {
      case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
      case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    }
  }

  test("streaming dedup drops duplicate digests within the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, java.sql.Timestamp)]
    val t0 = 1704067200000L
    input.addData(Seq(
      ("digest-a", new java.sql.Timestamp(t0)),
      ("digest-a", new java.sql.Timestamp(t0 + 1000)), // dup in-batch
      ("digest-b", new java.sql.Timestamp(t0 + 2000))))
    val deduped = Streaming.dedupWithinWatermark(
      input.toDS().toDF("digest", "ts"), Seq("digest"), "ts")
    val q = deduped.writeStream.format("memory").queryName("dedup_stream_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      input.addData(Seq(("digest-a", new java.sql.Timestamp(t0 + 3000)))) // dup across batches
      q.processAllAvailable()
      val digests = spark.sql("select digest from dedup_stream_test")
        .as[String].collect().sorted.toSeq
      assert(digests == Seq("digest-a", "digest-b"))
    } finally q.stop()
  }

  test("streaming funnel advances across micro-batches and matches the batch fold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, Long, String)]
    val stages = Seq("view", "cart", "buy")
    val q = Streaming.funnelUpdates(input.toDS(), stages, stateTtl = None)
      .toDF("key", "stage", "st")
      .writeStream.format("memory").queryName("funnel_stream_test")
      .outputMode("update").start()
    try {
      // key 1 advances in order across batches; key 2's cart/buy arrive
      // BEFORE its view (cross-batch late start — chain can't begin)
      input.addData(Seq((1L, 50L, "cart"), (1L, 100L, "view"),
        (2L, 100L, "cart"), (2L, 200L, "buy")))
      q.processAllAvailable()
      input.addData(Seq((1L, 200L, "cart"), (1L, 300L, "buy"), (2L, 50L, "view")))
      q.processAllAvailable()
      val last = spark.table("funnel_stream_test")
        .groupBy(col("key")).agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct(col("stage"), col("st"))).as("b"))
        .select(col("key"), col("b.stage"), col("b.st"))
        .as[(Long, Int, Seq[Option[Long]])].collect()
        .map { case (k, s, st) => k -> ((s, st)) }.toMap
      // key 1 saw everything in event-time order across batches -> must
      // EQUAL the batch funnel over the union
      assert(last(1L) === ((3, Seq(Some(100L), Some(200L), Some(300L)))),
        s"in-order key must match batch: $last")
      // key 2: the late view fills stage 0 but the earlier-batch cart/buy
      // are gone — prefix-monotone, no retroactive replay
      assert(last(2L) === ((1, Seq(Some(50L), None, None))), s"late-start key: $last")
      // parity check against the batch operator for the in-order key
      import spark.implicits._
      val batch = graft.ops.Sessions.funnel(
        Seq((1L, 50L, "cart"), (1L, 100L, "view"), (1L, 200L, "cart"),
          (1L, 300L, "buy")).toDF("user_id", "ts", "event_type"),
        "user_id", "ts", "event_type", stages)
        .select(col("stage"), col("st")).as[(Int, Seq[Option[Long]])].head()
      assert(batch === last(1L), s"streaming ${last(1L)} != batch $batch")
    } finally q.stop()
  }

  test("streaming CUSUM: accumulates across batches, alerts on shift, matches the scala fold") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val input = MemoryStream[(Long, Long, Long)]
    // target 10.0, slack 1.0, threshold 25.0 (all e4)
    val (target, slack, h) = (100000L, 10000L, 250000L)
    val q = Streaming.cusumUpdates(input.toDS(), target, slack, h, stateTtl = None)
      .toDF("key", "n", "s_pos", "s_neg", "alert")
      .writeStream.format("memory").queryName("cusum_stream_test")
      .outputMode("update").start()
    try {
      // key 1: on-target values -> statistics pinned at 0 by the slack;
      // key 2: shifted to 25.0 -> S+ grows by 14.0 per point, alerts on 2nd
      input.addData(Seq((1L, 1L, 100000L), (2L, 1L, 250000L)))
      q.processAllAvailable()
      input.addData(Seq((1L, 2L, 100000L), (2L, 2L, 250000L)))
      q.processAllAvailable()
      val last = spark.table("cusum_stream_test")
        .groupBy(col("key")).agg(org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.struct(
            col("n"), col("s_pos"), col("s_neg"), col("alert"))).as("b"))
        .select(col("key"), col("b.n"), col("b.s_pos"), col("b.s_neg"), col("b.alert"))
        .as[(Long, Long, Long, Long, Boolean)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
      // key 1 never moved off 0, but n is state too (the census), so every
      // batch with arrivals emits — statistics pinned at 0 by the slack
      assert(last(1L) === ((2L, 0L, 0L, false)), s"on-target key: $last")
      assert(last(2L) === ((2L, 280000L, 0L, true)), s"shifted key must alert: $last")
      // plain-scala replay of Page's recursion = the determinism contract
      def fold(ys: Seq[Long]) = ys.foldLeft((0L, 0L)) { case ((p, n), y) =>
        (math.max(0L, p + (y - target - slack)), math.max(0L, n + (target - slack - y)))
      }
      assert(fold(Seq(250000L, 250000L)) === ((280000L, 0L)))
      // downward shift drives the one-sided S- instead
      input.addData(Seq((3L, 1L, 10000L), (3L, 2L, 10000L)))
      q.processAllAvailable()
      val k3 = spark.table("cusum_stream_test").filter(col("key") === 3L)
        .select(col("s_pos"), col("s_neg"), col("alert"))
        .as[(Long, Long, Boolean)].collect().last
      assert(k3 === ((0L, 160000L, false)), s"downward shift: $k3")
    } finally q.stop()
  }

  test("event-time session windows with watermark produce sessions") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Double)] // ts-ns, user, value
    val base = 1704067200L * 1000000000L
    input.addData(Seq(
      (base, 1L, 1.0), (base + 100L * 1000000000L, 1L, 2.0), // same session (gap 100s)
      (base + 2000L * 1000000000L, 1L, 3.0),                 // new session (gap 2000s)
      (base, 2L, 5.0)))
    val df = input.toDS().toDF("ts", "user_id", "value")
    val q = Streaming.sessionAggregates(df, gap = "500 seconds")
      .writeStream.format("memory").queryName("sessions_test")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select user_id, n_events from sessions_test order by user_id, n_events")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows == Seq((1L, 1L), (1L, 2L), (2L, 1L)),
        s"expected user 1 sessions of 2+1 events and user 2 of 1, got $rows")
    } finally q.stop()
  }

  test("log-histogram quantile sketch streams natively (bounded state, batch parity)") {
    // the histogram is a plain groupBy count over (key, bucket) — ≤ 64
    // counter rows of state per key under Structured Streaming, and the
    // streamed sketch must equal the batch sketch over the same data
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double)]
    val hist = graft.ops.Sketches.logHistogram(
      input.toDS().toDF("k", "v"), Seq("k"), col("v"))
    val q = hist.writeStream.format("memory").queryName("loghist_test")
      .outputMode("complete").start()
    try {
      val data = (1 to 2000).map(i => (s"k${i % 3}", (i % 500) * 0.7 + 0.1))
      input.addData(data.take(1000)); q.processAllAvailable()
      input.addData(data.drop(1000)); q.processAllAvailable()
      val streamed = spark.sql("select k, bucket, n from loghist_test")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      val batch = graft.ops.Sketches.logHistogram(
        data.toDF("k", "v"), Seq("k"), col("v"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
      assert(streamed == batch, s"streamed sketch diverged:\n$streamed\nvs\n$batch")
    } finally q.stop()
  }

  test("streaming aggregation matches the batch aggregate across micro-batches (materialized-view parity)") {
    // the "streaming materialized view" pattern: the SAME groupBy/agg
    // plan maintained incrementally over arriving micro-batches must land
    // exactly on the batch result over the union — Spark's state store
    // holds the partials, nothing is application-managed
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Double, Long)]
    val agg = input.toDS().toDF("k", "v", "n")
      .groupBy($"k")
      .agg(count(lit(1)).as("cnt"), sum($"n").as("sum_n"))
    val q = agg.writeStream.format("memory").queryName("mv_parity_test")
      .outputMode("complete").start()
    try {
      val batch1 = (1 to 500).map(i => (s"k${i % 7}", i * 0.5, i.toLong))
      val batch2 = (501 to 900).map(i => (s"k${i % 7}", i * 0.5, i.toLong))
      input.addData(batch1); q.processAllAvailable()
      input.addData(batch2); q.processAllAvailable()
      val streamed = spark.sql("select k, cnt, sum_n from mv_parity_test")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = (batch1 ++ batch2).toDF("k", "v", "n")
        .groupBy($"k").agg(count(lit(1)).as("cnt"), sum($"n").as("sum_n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed == batch, s"incremental aggregate diverged:\n$streamed\nvs\n$batch")
    } finally q.stop()
  }

  test("streaming binary-document ingestion: crawl stream -> columnar parse -> events") {
    // the streaming twin of q69's batch pipeline: the scheduled-re-walk
    // source (A4) picks up GRFT binaries as they appear; the same
    // columnar parse (stateless projection) composes onto the stream
    // unchanged — operators never know the source (SURVEY §1.2 posture)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/1.bin"),
      graft.pipeline.BinaryDocs.encode("alpha beta gamma"))
    val corrupt = graft.pipeline.BinaryDocs.encode("delta epsilon")
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0xFF).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/2.bin"), corrupt)

    val scanned = graft.sources.DirectoryIngest.scanStream(spark, dir, glob = "*.bin")
    val parsed = graft.pipeline.BinaryDocs.parsed(scanned)
      .select(regexp_extract(col("path"), "([0-9]+)\\.bin$", 1).cast("long").as("id"),
        col("parse_error"), col("parsed_text"))
    val q = parsed.writeStream.format("memory").queryName("stream_bin_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select * from stream_bin_test order by id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(rows.toSeq == Seq(
        (1L, null, "alpha beta gamma"),
        (2L, "crc-mismatch", null)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("streaming container ingestion: crawl stream -> zip extract -> events") {
    // the streaming twin of q78: the re-walk source picks up docx-shaped
    // archives as they appear, and the container-walk kernel (a stateless
    // mapPartitions) composes onto the stream unchanged
    import spark.implicits._
    import graft.pipeline.ZipDocs
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_zip").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/1.docx"),
      ZipDocs.encode("container words here"))
    val corrupt = ZipDocs.encode("these bytes get flipped")
    val marker = "<w:t>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val at = corrupt.indices.find(i => i + marker.length < corrupt.length &&
      java.util.Arrays.equals(corrupt, i, i + marker.length, marker, 0, marker.length))
      .get + marker.length
    corrupt(at) = (corrupt(at) ^ 0x5A).toByte
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/2.docx"), corrupt)

    val scanned = graft.sources.DirectoryIngest.scanStream(spark, dir, glob = "*.docx")
    val parsed = scanned
      .select(regexp_extract(col("path"), "([0-9]+)\\.docx$", 1).cast("long").as("id"),
        col("content"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, bytes) =>
        val (err, text, _) = ZipDocs.parseZip(bytes)
        (id, err, text)
      })
      .toDF("id", "parse_error", "parsed_text")
    val q = parsed.writeStream.format("memory").queryName("stream_zip_test")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("select * from stream_zip_test order by id")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(rows.toSeq == Seq(
        (1L, null, "container words here"),
        (2L, "bad-zip", null)), s"got ${rows.toSeq}")
    } finally q.stop()
  }

  test("incremental dedup sink: each batch probes the durable index, then extends it") {
    // the streaming twin of q81: trigger 1 seeds the signature index,
    // trigger 2's arrivals must hit trigger 1's documents via the DURABLE
    // index (src='corpus') and each other via the in-batch path
    // (src='batch'), and the index must carry every signature afterwards
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inc_dedup").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/index", s"$root/matches")
    try {
      // trigger 1: two unrelated docs against an empty index -> no matches
      input.addData((1L, "alpha beta gamma delta epsilon zeta"),
        (2L, "totally different words entirely over here"))
      q.processAllAvailable()
      assert(spark.read.parquet(s"$root/matches").count() == 0)
      // trigger 2: a near-dup of doc 1 (first word dropped), an exact dup
      // of doc 2, and an exact dup of doc 3 inside the same batch
      input.addData((3L, "beta gamma delta epsilon zeta"),
        (4L, "totally different words entirely over here"),
        (5L, "beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      val out = spark.read.parquet(s"$root/matches").collect()
        .map(r => ((r.getAs[Long]("batch_id"), r.getAs[Long]("match_id")),
          (r.getAs[Int]("matches"), r.getAs[String]("src")))).toMap
      assert(out((3L, 1L))._2 == "corpus", s"near-dup missed the index: $out")
      assert(out((4L, 2L)) == ((32, "corpus")), s"exact dup vs index: $out")
      assert(out((5L, 1L))._2 == "corpus", s"echo missed the index: $out")
      assert(out((5L, 3L)) == ((32, "batch")), s"within-batch echo: $out")
      assert(out.keys.forall { case (a, b) => a != b }, s"self-match leaked: $out")
      val idx = spark.read.parquet(s"$root/index")
      assert(idx.select("id").as[Long].collect().sorted.toSeq == (1L to 5L))
    } finally q.stop()
  }

  test("incremental postings sink: per-trigger shards serve bit-identically to a full rebuild") {
    // the serving-index daily-crawl shape: trigger 1 seeds the postings
    // index, trigger 2 appends its own shard, and the STORED-index BM25
    // path over the accumulated partition tree must equal the scan-path
    // BM25 over the union corpus bit-for-bit (shared scoring tail +
    // summed per-batch stats = a from-scratch build's stats)
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inc_post").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalPostingsSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", s"$root/idx")
    val t1 = Seq((1L, "spark query engine for big data"),
      (2L, "query planning and data shuffles"),
      (3L, "totally unrelated cooking recipe"))
    val t2 = Seq((4L, "streaming query over spark data"),
      (5L, "late arriving shard with novelterm inside"))
    try {
      input.addData(t1: _*)
      q.processAllAvailable()
      input.addData(t2: _*)
      q.processAllAvailable()
    } finally q.stop()
    val terms = Seq("query", "data", "spark")
    val indexed = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", terms, k = 10).collect().toSeq
    val scan = graft.ops.TextSearch.bm25TopK(
      (t1 ++ t2).toDF("doc_id", "text"), "doc_id", "text", terms, 10)
      .collect().toSeq
    assert(indexed == scan,
      s"stored-index serving drifted from the scan path:\n$indexed\n$scan")
    // trigger-2 content is servable one trigger after landing
    val novel = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", Seq("novelterm"), k = 10).collect()
    assert(novel.map(_.getAs[Long]("doc_id")).toSeq == Seq(5L))
    // the summed per-batch stats equal the union corpus totals
    val st = spark.read.parquet(s"$root/idx/stats")
      .agg(sum("n_docs"), sum("sdl")).head()
    assert(st.getLong(0) == 5L && st.getLong(1) ==
      (t1 ++ t2).map(_._2.split(" ").length.toLong).sum)
  }

  test("incremental image dedup sink: aHash index across batches, checkpointed restart, batch parity") {
    // the q110/q81 daily-crawl shape for images: trigger 1 seeds the
    // aHash index; after a stop (crash point: offsets only in the
    // checkpoint), trigger 2's arrivals must hit trigger 1's images via
    // the DURABLE index and each other in-batch, a corrupt image must
    // isolate, and the streamed matches must equal the batch-computed
    // pair set over the same corpus
    import graft.multimodal.Multimodal.ImageCodec
    val root = java.nio.file.Files.createTempDirectory("graft_img_idx").toString
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    def start() = Streaming.incrementalImageDedupSink(
      spark.readStream.schema(schema).parquet(srcDir), "media_id", "content",
      s"$root/index", s"$root/matches", checkpointDir = Some(s"$root/ckpt"))

    // trigger 1: two unrelated images
    Seq((1L, ImageCodec.syntheticPng(11L)), (2L, ImageCodec.syntheticPng(57L)))
      .toDF("media_id", "content").write.mode("append").parquet(srcDir)
    val q1 = start()
    q1.processAllAvailable()
    assert(spark.read.parquet(s"$root/matches").count() == 0)
    q1.stop()

    // arrives while nothing runs: a byte-identical copy of image 1, a
    // fresh image 4, its in-batch copy 5, and a corrupt record
    Seq((3L, ImageCodec.syntheticPng(11L)), (4L, ImageCodec.syntheticPng(321L)),
      (5L, ImageCodec.syntheticPng(321L)), (6L, Array[Byte](1, 2, 3)))
      .toDF("media_id", "content").write.mode("append").parquet(srcDir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val m = spark.read.parquet(s"$root/matches")
        .select("batch_id", "match_id", "hamming", "src")
        .as[(Long, Long, Int, String)].collect().toSet
      assert(m == Set((3L, 1L, 0, "corpus"), (5L, 4L, 0, "batch")), s"matches: $m")
      // corrupt image isolates: no hash, no match, rest of batch lands
      val idx = spark.read.parquet(s"$root/index")
      assert(idx.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L),
        "index must carry every decodable image exactly once")
      // batch parity: the streamed matches are exactly the batch-mode
      // pair set over the full corpus (orientation: later id probes)
      val pairs = graft.ops.Dedup.simhashNearDupPairs(
          idx.select($"id", $"simhash"), maxHamming = 7)
        .select("id_b", "id_a", "hamming").as[(Long, Long, Int)].collect().toSet
      assert(m.map(t => (t._1, t._2, t._3)) == pairs, s"stream=$m batch=$pairs")
    } finally q2.stop()
  }

  test("image dedup sink: maxMatchesPerProbe caps IN-BATCH pairs too, not just corpus hits") {
    // a duplicate-heavy batch (4 byte-identical images) with cap 1 must
    // emit the degree-capped union (3 star pairs), not the quadratic 6 —
    // the cap's whole point is bounding pair volume when a crawl dumps
    // thousands of copies into one trigger
    import graft.multimodal.Multimodal.ImageCodec
    val root = java.nio.file.Files.createTempDirectory("graft_img_cap").toString
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("media_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("content", org.apache.spark.sql.types.BinaryType)))
    (1L to 4L).map(i => (i, ImageCodec.syntheticPng(99L)))
      .toDF("media_id", "content").write.mode("append").parquet(srcDir)
    val q = Streaming.incrementalImageDedupSink(
      spark.readStream.schema(schema).parquet(srcDir), "media_id", "content",
      s"$root/index", s"$root/matches", maxMatchesPerProbe = 1,
      checkpointDir = Some(s"$root/ckpt"))
    try {
      q.processAllAvailable()
      val m = spark.read.parquet(s"$root/matches")
        .select("batch_id", "match_id", "src")
        .as[(Long, Long, String)].collect().toSet
      assert(m === Set((2L, 1L, "batch"), (3L, 1L, "batch"), (4L, 1L, "batch")),
        s"cap-1 union should be the 3-pair star, got $m")
    } finally q.stop()
  }

  test("incremental paragraph dedup sink: repeats drop across and within batches, index carries hashes only") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inc_para").toString
    val input = MemoryStream[(Long, String)]
    // paraLen 3 → paragraphs are 3-word slices
    val q = Streaming.incrementalParagraphDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/index", s"$root/clean", paraLen = 3)
    try {
      // trigger 1: doc 1 = [P1, P2]; doc 2 repeats P1 in-batch + its own P3
      input.addData(
        (1L, "a b c d e f"),          // P1="a b c", P2="d e f"
        (2L, "a b c g h i"))          // P1 repeat (in-batch), P3="g h i"
      q.processAllAvailable()
      val c1 = spark.read.parquet(s"$root/clean")
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
      assert(c1(1L) === ((2L, 2L, "a b c d e f")))
      assert(c1(2L) === ((2L, 1L, "g h i")), s"in-batch repeat survived: $c1")
      // trigger 2: doc 3 repeats P2 (durable index) + new P4; doc 4 is ALL repeats
      input.addData(
        (3L, "d e f j k l"),
        (4L, "a b c g h i"))
      q.processAllAvailable()
      val c2 = spark.read.parquet(s"$root/clean")
        .collect().map(r => r.getAs[Long]("id") ->
          (r.getAs[Long]("n_paras"), r.getAs[Long]("n_kept"), r.getAs[String]("clean_text"))).toMap
      assert(c2(3L) === ((2L, 1L, "j k l")), s"durable-index repeat survived: $c2")
      assert(c2(4L) === ((2L, 0L, "")), s"all-repeat doc should be emptied: $c2")
      // index: 16 B/paragraph — exactly the 4 distinct fingerprint pairs, no text
      val idx = spark.read.parquet(s"$root/index")
      assert(idx.columns.toSet === Set("h1", "h2", "batch_run"), idx.columns.mkString(","))
      assert(idx.select("h1", "h2").distinct().count() === 4)
    } finally q.stop()
  }

  test("incremental curation-log sink: frozen-model gate, durable exact-dup attribution, replay-silent re-delivery") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_inc_curlog").toString
    // the FROZEN reference model — the batch-built artifact over sf0.001
    val modelDir = graft.queries.CurationArtifacts.lmRefModelDir(spark, sf())
    val corpus = graft.sources.Tables.documents(spark, sf())
    val Array(t0, t1) = corpus.filter($"doc_id" <= 1).orderBy($"doc_id")
      .select($"text").as[String].collect()
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalCurationLogSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      modelDir, s"$root/digests", s"$root/log")
    try {
      // trigger 1: two corpus texts, an in-batch exact copy, a 1-word doc
      input.addData((100L, t0), (101L, t1), (102L, t0), (103L, "one"))
      q.processAllAvailable()
      def log() = Streaming.curationLogRows(spark, s"$root/log")
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("verdict"), r.getAs[Long]("canon_doc"),
            r.getAs[Int]("bucket")))).toMap
      val l1 = log()
      assert(l1(102L) === (("exact_dup", 100L, -1)), s"in-batch dup: $l1")
      assert(l1(103L) === (("no_evidence", 103L, -1)), s"no-evidence: $l1")
      // gate parity: buckets must equal the batch arithmetic under the
      // same frozen model (lmSurprisalPerDoc vs the same ref slice +
      // the artifact thresholds)
      val thr = spark.read.parquet(s"$modelDir/thr").collect().head
      val (tt1, tt2) = (thr.getAs[Long]("t1"), thr.getAs[Long]("t2"))
      val expect = graft.ops.TrainingPrep.lmSurprisalPerDoc(
          Seq((100L, t0), (101L, t1)).toDF("doc_id", "text"),
          corpus.filter($"doc_id" % 3 === 0), "doc_id", "text")
        .collect().map { r =>
          val a = r.getAs[Long]("avg_micro")
          val b = if (a <= tt1) 1 else if (a <= tt2) 2 else 3
          r.getAs[Long]("doc_id") ->
            ((if (b <= 2) "kept" else "low_quality", b))
        }.toMap
      for (id <- Seq(100L, 101L))
        assert(l1(id) === ((expect(id)._1, id, expect(id)._2)),
          s"frozen-gate divergence for $id: got ${l1(id)} want ${expect(id)}")
      // trigger 2: durable dup attribution + an all-unseen-bigram doc
      input.addData((200L, t1), (201L, "zq zz"))
      q.processAllAvailable()
      val l2 = log()
      assert(l2(200L) === (("exact_dup", 101L, -1)), s"durable dup: $l2")
      assert(l2(201L) === (("low_quality", 201L, 3)),
        s"unseen bigrams must hit the 20-bit backoff tail: $l2")
      // trigger 3: at-least-once re-delivery of already-logged ids —
      // BOTH shapes must be silent: 100 is a canonical id (its digest's
      // durable canon is itself — the fresh-leg guard), 102 is a
      // DUPLICATE id (durable canon is 100, so the digest index alone
      // can't flag the re-delivery — the exact-leg log anti-join); plus
      // the same NEW id twice in one trigger collapses to one row
      input.addData((100L, t0), (102L, t0), (300L, t0), (300L, t0))
      q.processAllAvailable()
      val rows3 = Streaming.curationLogRows(spark, s"$root/log")
      assert(rows3.count() === 7, s"re-delivery double-logged: ${log()}")
      assert(rows3.filter($"id" === 102L).count() === 1,
        "re-delivered dup id got a second verdict row")
      assert(log()(300L) === (("exact_dup", 100L, -1)),
        s"in-trigger double delivery of a new id: ${log()}")
      // maintenance: digest fold is serve-invisible
      val before = spark.read.parquet(s"$root/digests")
        .select($"digest", $"canon").collect().map(_.toString).sorted.toSeq
      assert(Streaming.compactCurationDigests(spark, s"$root/digests") >= 2)
      val after = spark.read.parquet(s"$root/digests")
        .select($"digest", $"canon").collect().map(_.toString).sorted.toSeq
      assert(before === after, "digest fold changed what serves")
      assert(Streaming.compactCurationDigests(spark, s"$root/digests") === 0)
    } finally q.stop()
  }

  test("composed streaming curation chain: paragraph cleaning feeds the frozen-model gate; verdicts replay the batch chain across a checkpointed restart") {
    // the q100 fixpoint-pipeline shape as ONE streaming composition
    // (the scaladoc contract at incrementalCurationLogSink: "compose by
    // feeding this sink [the paragraph sink]'s clean output"): docs →
    // incrementalParagraphDedupSink → clean output lands as files →
    // incrementalCurationLogSink judges the CLEANED text against the
    // frozen model — exactly the batch chain's stage order (paragraph
    // dedup, then LM terciles over clean text, q100/q160). Both sinks
    // are checkpointed and the second half of the corpus arrives while
    // NOTHING runs — the crash window — so the parity below also proves
    // restart semantics of the composition.
    val root = java.nio.file.Files.createTempDirectory("graft_chain").toString
    val srcDir = s"$root/src"
    val cleanDir = s"$root/clean"
    new java.io.File(cleanDir).mkdirs()
    val modelDir = graft.queries.CurationArtifacts.lmRefModelDir(spark, sf())
    val corpus = graft.sources.Tables.documents(spark, sf())
    val texts = corpus.filter($"doc_id" <= 5).orderBy($"doc_id")
      .select($"text").as[String].collect()
    // ids increase with arrival order so the streaming first-occurrence
    // order equals the batch window's (id, idx) total order; 106 is an
    // exact raw dup of 100 (arrives later → the paragraph stage empties
    // it → the gate logs no_evidence: the composed chain's verdict for
    // content that died upstream), 107 has one word
    val half1 = Seq((100L, texts(0)), (101L, texts(1)), (102L, texts(2)))
    val half2 = Seq((103L, texts(3)), (104L, texts(4)), (105L, texts(5)),
      (106L, texts(0)), (107L, "solo"))
    def startChain() = {
      val docsStream = spark.readStream.schema("doc_id LONG, text STRING")
        .parquet(srcDir)
      val qa = Streaming.incrementalParagraphDedupSink(docsStream, "doc_id",
        "text", s"$root/para_idx", cleanDir, paraLen = 7,
        checkpointDir = Some(s"$root/ck_a"))
      val cleanStream = spark.readStream
        .schema("id LONG, n_paras LONG, n_kept LONG, clean_text STRING")
        .parquet(s"$cleanDir/batch_run=*")
      val qb = Streaming.incrementalCurationLogSink(cleanStream, "id",
        "clean_text", modelDir, s"$root/digests", s"$root/log",
        checkpointDir = Some(s"$root/ck_b"))
      (qa, qb)
    }
    half1.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val (qa1, qb1) = startChain()
    try { qa1.processAllAvailable(); qb1.processAllAvailable() }
    finally { qa1.stop(); qb1.stop() }
    // the crash window: half 2 lands while nothing runs
    half2.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val (qa2, qb2) = startChain()
    try {
      qa2.processAllAvailable(); qb2.processAllAvailable()
      val got = Streaming.curationLogRows(spark, s"$root/log")
        .collect().map(r => r.getAs[Long]("id") ->
          ((r.getAs[String]("verdict"), r.getAs[Long]("canon_doc"),
            r.getAs[Int]("bucket")))).toMap
      // batch replay of the SAME chain with the repo's own operators:
      // q87 paragraph dedup over the full doc frame, then the frozen
      // model's arithmetic (lmSurprisalPerDoc vs the model's training
      // slice + the artifact thresholds) over the CLEANED text
      val all = half1 ++ half2
      val paras = all.toDF("doc_id", "text")
        .withColumn("ws", split($"text", " "))
        .select($"doc_id", posexplode(expr(
          "transform(sequence(0, cast(ceil(size(ws)/7.0) as int) - 1)," +
            " i -> concat_ws(' ', slice(ws, i*7 + 1, 7)))")).as(Seq("idx", "para")))
      val cleanedDocs = graft.ops.Dedup.paragraphDedup(paras)
        .select($"doc_id", $"clean_text".as("text"))
      val thr = spark.read.parquet(s"$modelDir/thr").collect().head
      val (t1, t2) = (thr.getAs[Long]("t1"), thr.getAs[Long]("t2"))
      val scored = graft.ops.TrainingPrep.lmSurprisalPerDoc(
          cleanedDocs, corpus.filter($"doc_id" % 3 === 0), "doc_id", "text")
        .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("avg_micro"))
        .toMap
      val expect = all.map(_._1).map { id =>
        scored.get(id) match {
          case Some(a) =>
            val b = if (a <= t1) 1 else if (a <= t2) 2 else 3
            id -> ((if (b <= 2) "kept" else "low_quality", id, b))
          case None => id -> (("no_evidence", id, -1))
        }
      }.toMap
      assert(got == expect, s"composed chain diverged from the batch replay:" +
        s"\n got=$got\n want=$expect")
      // the q100 cut: the streaming kept set IS the batch bucket<=2 set
      assert(got.collect { case (id, ("kept", _, _)) => id } ==
        expect.collect { case (id, ("kept", _, _)) => id })
      assert(got(106L) === (("no_evidence", 106L, -1)),
        "the raw exact dup must die in the paragraph stage and log as no_evidence")
    } finally { qa2.stop(); qb2.stop() }
  }

  test("url frontier sink: canonical collapse in-batch, durable seen gate across batches, 16B index rows") {
    // the crawl-frontier production loop: surface-form variants of one
    // page must collapse BEFORE the gate, a re-crawled page must not
    // re-enter the frontier, and the durable index must carry hash
    // identities only — never URL strings
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_frontier").toString
    val input = MemoryStream[String]
    val q = Streaming.urlFrontierSink(
      input.toDF().toDF("url"), "url", s"$root/index", s"$root/frontier")
    try {
      // trigger 1: page A under four surface forms + page B
      input.addData(
        "HTTP://WWW.SiteA.COM:80/page/1/?b=2&a=1",
        "http://sitea.com/page/1?a=1&b=2#frag",
        "http://www.sitea.com/page/1?utm_source=f&b=2&a=1",
        "http://sitea.com:80/page/1/?b=2&a=1",
        "https://siteb.org/x")
      q.processAllAvailable()
      val f1 = spark.read.parquet(s"$root/frontier")
        .select("canon", "domain", "n_in_batch")
        .as[(String, String, Long)].collect().sortBy(_._1)
      assert(f1.toSeq == Seq(
        ("http://sitea.com/page/1?a=1&b=2", "sitea.com", 4L),
        ("https://siteb.org/x", "siteb.org", 1L)), f1.toSeq.toString)
      // trigger 2: A re-crawled under yet another form, B again, new C
      input.addData(
        "http://SITEA.com/page/1?b=2&a=1&utm_campaign=x",
        "https://siteb.org/x",
        "https://sitec.net/y?k=v")
      q.processAllAvailable()
      val f2 = spark.read.parquet(s"$root/frontier")
        .select("canon").as[String].collect().sorted
      assert(f2.toSeq == Seq("http://sitea.com/page/1?a=1&b=2",
        "https://siteb.org/x", "https://sitec.net/y?k=v"),
        s"re-crawled pages leaked into the frontier: ${f2.toSeq}")
      // the index: one 128-bit identity per distinct page, no strings —
      // and deliberately NOT named `id`: this index defends replay by
      // partition, and compactIndex's id-guard must refuse to fold it
      val idx = spark.read.parquet(s"$root/index")
      assert(idx.columns.filterNot(_ == "batch_run").sorted.toSeq == Seq("h1", "h2"),
        idx.columns.toSeq.toString)
      assert(idx.count() == 3 &&
        idx.select("h1", "h2").distinct().count() == 3)
      intercept[IllegalArgumentException] {
        Streaming.compactIndex(spark, s"$root/index")
      }
    } finally q.stop()
  }

  test("compactFrontierIndex folds after a clean stop; the restarted sink still gates re-crawls") {
    // file source, SAME checkpoint across the restart: batch ids continue
    // past the folded partition's (a fresh checkpoint would restart at
    // batch 0 and overwrite the fold — the clean-stop contract includes
    // restarting the same incarnation)
    val root = java.nio.file.Files.createTempDirectory("graft_frontier_compact").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    var n = 0
    def drop(urls: String*): Unit = {
      n += 1
      java.nio.file.Files.write(java.nio.file.Paths.get(in, s"u$n.txt"),
        urls.mkString("\n").getBytes("UTF-8"))
    }
    def start() = Streaming.urlFrontierSink(
      spark.readStream.text(in).withColumnRenamed("value", "url"),
      "url", s"$root/index", s"$root/frontier",
      checkpointDir = Some(s"$root/ckpt"))
    drop("http://a.com/1", "http://b.com/2")
    val q1 = start()
    try {
      q1.processAllAvailable()
      drop("http://c.com/3", "http://a.com/1") // re-crawl of a
      q1.processAllAvailable()
    } finally q1.stop() // CLEAN stop: checkpoint committed past both batches
    def partitions() = new java.io.File(s"$root/index").listFiles()
      .count(_.getName.startsWith("batch_run="))
    assert(partitions() == 2)
    assert(Streaming.compactFrontierIndex(spark, s"$root/index") == 2)
    assert(partitions() == 1, "compaction must leave ONE partition")
    assert(Streaming.compactFrontierIndex(spark, s"$root/index") == 0, "idempotent")
    assert(spark.read.parquet(s"$root/index").count() == 3) // 3 distinct pages
    // the guard pair: the id-keyed signature index is refused here
    intercept[IllegalArgumentException] {
      val sig = java.nio.file.Files.createTempDirectory("graft_wrong_idx").toString
      Seq((1L, 2L)).toDF("id", "sig").write.parquet(s"$sig/batch_run=0")
      Seq((3L, 4L)).toDF("id", "sig").write.parquet(s"$sig/batch_run=1")
      Streaming.compactFrontierIndex(spark, sig)
    }
    // restart from the same checkpoint: a re-crawl of folded history must
    // still gate; a genuinely new page must still pass
    drop("http://a.com/1", "http://d.com/4")
    val q2 = start()
    try {
      q2.processAllAvailable()
      val f = spark.read.parquet(s"$root/frontier")
        .select("canon").as[String].collect().sorted.toSeq
      assert(f == Seq("http://a.com/1", "http://b.com/2",
        "http://c.com/3", "http://d.com/4"),
        s"folded history must keep gating re-crawls: $f")
    } finally q2.stop()
  }

  test("crawl frontier sink: WARC target URIs gate the frontier across segments and restarts") {
    // the discovery loop closed: segment 1's fetched pages (one under two
    // alias surface forms, plus a warcinfo and a corrupt record that must
    // mint NO identity) seed the index; after a checkpointed restart,
    // segment 2's re-crawl of the same page under a third form must stay
    // out of the frontier while the genuinely new page enters
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_frontier").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def rec(id: Long, uri: String, wtype: String = "response",
        version: String = "WARC/1.0"): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, wtype, s"<urn:crawl:$id>",
        uri, "2026-01-01T00:00:00Z", "text/plain",
        s"payload $id".getBytes("UTF-8"), version)
      bos.toByteArray
    }
    def seg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawl, name), bytes)
    def start() = Streaming.crawlFrontierSink(spark, crawl,
      s"$root/index", s"$root/frontier", checkpointDir = Some(s"$root/ckpt"))

    seg("seg0.warc",
      rec(0L, "", wtype = "warcinfo") ++
      rec(1L, "HTTP://WWW.PageA.COM:80/x/?b=2&a=1") ++
      rec(2L, "http://pagea.com/x?a=1&b=2#frag") ++      // alias of 1
      rec(66L, "http://corrupt.example/", version = "WARC/9.9") ++
      rec(3L, "https://pageb.org/y"))
    val q1 = start()
    q1.processAllAvailable()
    val f1 = spark.read.parquet(s"$root/frontier")
      .select("canon").as[String].collect().sorted
    assert(f1.toSeq == Seq("http://pagea.com/x?a=1&b=2", "https://pageb.org/y"),
      s"segment 1 frontier: ${f1.toSeq}")
    q1.stop() // crash point: offsets live only in the checkpoint

    seg("seg1.warc",
      rec(4L, "http://PAGEA.com/x/?utm_source=f&b=2&a=1") ++ // re-crawl of 1
      rec(5L, "https://pagec.net/z"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val f2 = spark.read.parquet(s"$root/frontier")
        .select("canon").as[String].collect().sorted
      assert(f2.toSeq == Seq("http://pagea.com/x?a=1&b=2",
        "https://pageb.org/y", "https://pagec.net/z"),
        s"re-crawled page leaked (or restart reprocessed seg0): ${f2.toSeq}")
      // warcinfo + corrupt records never minted identities
      assert(spark.read.parquet(s"$root/index").count() == 3)
    } finally q2.stop()
  }

  test("crawl link-graph sink: HTML segments stream into the durable edge table, authority parity with batch") {
    import graft.ops.Graph
    val root = java.nio.file.Files.createTempDirectory("graft_link_sink").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def page(id: Long, links: Seq[(Long, String)], corrupt: Boolean = false,
        rawLinks: Seq[String] = Nil): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val html = "<html><body>" + links.map { case (t, a) =>
        // messy hrefs on purpose: canonicalization must run in-stream
        s"""<a href="http://WWW.s${t % 7}.example:80/p/$t/?utm_x=1">$a</a>"""
      }.mkString(" ") +
        rawLinks.map(u => s"""<a href="$u">x</a>""").mkString(" ") +
        "</body></html>"
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:$id>",
        s"http://s${id % 7}.example/p/$id", "2026-01-01T00:00:00Z",
        "text/html; charset=utf-8", html.getBytes("UTF-8"),
        if (corrupt) "WARC/9.9" else "WARC/1.0")
      bos.toByteArray
    }
    def seg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawl, name), bytes)
    def start() = Streaming.crawlLinkGraphSink(spark, crawl,
      s"$root/graph", checkpointDir = Some(s"$root/ckpt"))

    // segment 1: pages 1 and 2 (2 links each, one shared target), plus a
    // corrupt record whose links must NOT enter the graph
    seg("seg0.warc",
      page(1L, Seq(10L -> "alpha", 11L -> "beta")) ++
      page(66L, Seq(99L -> "poison"), corrupt = true) ++
      page(2L, Seq(10L -> "gamma", 12L -> "delta")))
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    // segment 2 lands during downtime: page 3 (whose off-page links — an
    // external site and a relative href, the shapes every real crawl
    // carries — must NOT mint null graph nodes), plus a RE-FETCH of
    // page 1 (same edges — set semantics make the duplicate harmless)
    seg("seg1.warc",
      page(3L, Seq(11L -> "eps"),
        rawLinks = Seq("http://other.example/about", "/relative/path")) ++
      page(1L, Seq(10L -> "alpha", 11L -> "beta")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = Streaming.linkGraphEdges(spark, s"$root/graph")
    assert(streamed.filter($"src".isNull || $"dst".isNull).count() == 0,
      "off-page links must not mint null graph nodes")
    val batchEdges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (2L, 12L), (3L, 11L))
    assert(streamed.distinct().as[(Long, Long)].collect().toSet == batchEdges.toSet,
      "streamed edge set must equal the good pages' links (corrupt page excluded)")
    // authority parity: PageRank over the streamed graph == over batch edges
    def ranks(e: org.apache.spark.sql.DataFrame) =
      Graph.pageRankDirected(e, iters = 2).as[(Long, Long)].collect().toMap
    assert(ranks(streamed) == ranks(batchEdges.toDF("src", "dst")),
      "authority over the streamed graph drifted from the batch build")
    // compaction folds the run tree; the duplicate re-fetch edges collapse
    def partitions() = new java.io.File(s"$root/graph").listFiles()
      .count(_.getName.startsWith("batch_run="))
    assert(partitions() == 2)
    assert(Streaming.compactLinkGraph(spark, s"$root/graph") == 2)
    assert(partitions() == 1)
    assert(Streaming.compactLinkGraph(spark, s"$root/graph") == 0, "idempotent")
    val folded = Streaming.linkGraphEdges(spark, s"$root/graph")
      .as[(Long, Long)].collect()
    assert(folded.length == folded.distinct.length && folded.length == 5,
      s"fold must dedup the re-fetched edges: ${folded.length}")
  }

  test("incremental dedup sink: checkpointed restart extends the index without reprocessing") {
    // the durable-index analog of the fold's crash-recovery guarantee: a
    // stopped sink restarted from its checkpoint must (a) NOT reprocess
    // committed batches — no duplicate index rows — and (b) probe new
    // arrivals against the index the first incarnation built
    val root = java.nio.file.Files.createTempDirectory("graft_inc_ckpt").toString
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def start() = Streaming.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(srcDir), "doc_id", "text",
      s"$root/index", s"$root/matches", checkpointDir = Some(s"$root/ckpt"))

    Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "totally different words entirely over here"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // crash point: offsets live only in the checkpoint

    // arrives while nothing runs: an exact dup of doc 2
    Seq((3L, "totally different words entirely over here"))
      .toDF("doc_id", "text").write.mode("append").parquet(srcDir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      val idx = spark.read.parquet(s"$root/index").select("id").as[Long].collect()
      assert(idx.sorted.toSeq == Seq(1L, 2L, 3L), s"index ids: ${idx.toSeq}")
      assert(idx.length == idx.distinct.length,
        s"restart reprocessed a committed batch: ${idx.toSeq}")
      val m = spark.read.parquet(s"$root/matches")
        .select("batch_id", "match_id", "matches").as[(Long, Long, Int)].collect()
      assert(m.toSeq == Seq((3L, 2L, 32)),
        s"restarted probe vs first-incarnation index: ${m.toSeq}")
    } finally q2.stop()
  }

  test("compactIndex folds the batch_run tree to one partition; a restarted sink probes and extends it unchanged") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text", org.apache.spark.sql.types.StringType)))
    def start() = Streaming.incrementalDedupSink(
      spark.readStream.schema(schema).parquet(srcDir), "doc_id", "text",
      s"$root/index", s"$root/matches", checkpointDir = Some(s"$root/ckpt"))
    def addBatch(rows: (Long, String)*) = {
      rows.toDF("doc_id", "text").write.mode("append").parquet(srcDir)
      val q = start(); q.processAllAvailable(); q.stop()
    }
    // two separate sink incarnations -> two batch_run partitions
    addBatch((1L, "alpha beta gamma delta epsilon zeta"))
    addBatch((2L, "totally different words entirely over here"))
    def partitions() = new java.io.File(s"$root/index").listFiles()
      .count(_.getName.startsWith("batch_run="))
    assert(partitions() == 2, "two triggers must leave two partitions")
    // maintenance window: fold the tree
    assert(Streaming.compactIndex(spark, s"$root/index") == 2)
    assert(partitions() == 1, "compaction must leave ONE partition")
    assert(Streaming.compactIndex(spark, s"$root/index") == 0, "idempotent")
    val idx = spark.read.parquet(s"$root/index")
    assert(idx.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    // the restarted sink probes the COMPACTED index and extends past it
    addBatch((3L, "totally different words entirely over here"))
    val m = spark.read.parquet(s"$root/matches")
      .select("batch_id", "match_id", "matches").as[(Long, Long, Int)]
      .collect().toSet
    assert(m == Set((3L, 2L, 32)), s"probe vs compacted index: $m")
    assert(spark.read.parquet(s"$root/index")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L))

    // crash-window recovery: a crash between move-aside and move-in
    // leaves the lowest partition parked under the dot-dir — the next
    // invocation must restore it BEFORE reading, losing nothing
    val idxDir = new java.io.File(s"$root/index")
    val lo = idxDir.listFiles().map(_.getName)
      .filter(_.startsWith("batch_run=")).sorted.head
    assert(new java.io.File(idxDir, lo).renameTo(
      new java.io.File(idxDir, s".compact_old_$lo")))
    assert(Streaming.compactIndex(spark, s"$root/index") == 2)
    assert(spark.read.parquet(s"$root/index")
      .select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L, 3L),
      "parked partition must be restored, then folded")
    assert(partitions() == 1)
  }

  test("incremental ANN sink: streamed IVF index serves identically to a batch build; compaction + crash recovery hold") {
    import graft.ops.Similarity
    val root = java.nio.file.Files.createTempDirectory("graft_ann_sink").toString
    val srcDir = s"$root/src"; new java.io.File(srcDir).mkdirs()
    val emb = graft.sources.Tables.embeddings(spark, sf())
      .filter($"vec_id" < 60).localCheckpoint(true)
    // offline-trained centroid artifact: fixed while the index grows
    Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 4, iters = 1)
      .write.mode("overwrite").parquet(s"$root/centroids")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("embedding",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType))))
    def start() = Streaming.incrementalAnnSink(
      spark.readStream.schema(schema).parquet(srcDir), "vec_id", "embedding",
      s"$root/centroids", s"$root/idx", checkpointDir = Some(s"$root/ckpt"))
    def land(lo: Long, hi: Long) =
      emb.filter($"vec_id" >= lo && $"vec_id" < hi)
        .select($"vec_id", $"embedding").write.mode("append").parquet(srcDir)
    def partitions() = new java.io.File(s"$root/idx").listFiles()
      .count(_.getName.startsWith("batch_run="))
    // two sink incarnations -> two batch_run partitions. The FIRST batch
    // processes two landed files with overlapping ids (20..29 arrive
    // twice IN ONE micro-batch) — the anti-join only defends against
    // other batch_runs, so the in-batch dropDuplicates must catch these
    land(0, 30); land(20, 40)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val ids1 = Streaming.annIndexVectors(spark, s"$root/idx")
      .select($"id").as[Long].collect()
    assert(ids1.length == 40 && ids1.distinct.length == 40,
      s"in-batch duplicate ids leaked into the index: ${ids1.length} rows")
    land(40, 60); val q2 = start(); q2.processAllAvailable(); q2.stop()
    assert(partitions() == 2, "two triggers must leave two partitions")

    val cents = spark.read.parquet(s"$root/centroids")
    val full = graft.sources.Tables.embeddings(spark, sf())
      .select($"vec_id", $"embedding").localCheckpoint(true)
    val queries = emb.filter($"vec_id".isin(0L, 7L, 13L))
      .select($"vec_id".as("query_id"), Similarity.quantize($"embedding").as("q"))
      .localCheckpoint(true)
    def served() = Similarity.ivfExactTopKMany(
        Streaming.annIndexVectors(spark, s"$root/idx"), cents, queries,
        k = 5, nProbe = 2)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    def batchRef(hi: Long) = Similarity.ivfExactTopKMany(
        Similarity.ivfExactAssign(full.filter($"vec_id" < hi)
          .select($"vec_id".as("id"),
            Similarity.quantize($"embedding").as("qv")), cents),
        cents, queries, k = 5, nProbe = 2)
      .select($"query_id", $"rank", $"id").as[(Long, Long, Long)].collect().toSet
    assert(served() == batchRef(60),
      "streamed index must serve bit-identically to a batch build over the union")

    // maintenance window: fold the tree — cell partitioning must survive
    // (the serving probe prunes on it), and serving must not change
    assert(Streaming.compactAnnIndex(spark, s"$root/idx") == 2)
    assert(partitions() == 1, "compaction must leave ONE partition")
    assert(Streaming.compactAnnIndex(spark, s"$root/idx") == 0, "idempotent")
    val foldedRun = new java.io.File(s"$root/idx").listFiles()
      .filter(_.getName.startsWith("batch_run=")).head
    assert(foldedRun.listFiles().exists(_.getName.startsWith("cell=")),
      "fold must preserve the cell partition dirs")
    assert(served() == batchRef(60), "compaction changed what serves")

    // at-least-once upstream: a later batch re-sends ids 20..59 alongside
    // genuinely new 60..69 — the write-time anti-join must drop the
    // duplicates BEFORE they land (serving correctness does not wait for
    // a compaction window)
    full.filter($"vec_id" >= 20 && $"vec_id" < 70)
      .write.mode("append").parquet(srcDir)
    val q3 = start(); q3.processAllAvailable(); q3.stop()
    val ids = Streaming.annIndexVectors(spark, s"$root/idx")
      .select($"id").as[Long].collect()
    assert(ids.length == ids.distinct.length && ids.length == 70,
      s"write-time dup defense: ${ids.length} rows, ${ids.distinct.length} distinct")
    assert(served() == batchRef(70), "re-sent ids must not change serving")
    assert(Streaming.compactAnnIndex(spark, s"$root/idx") == 2)

    // crash-window recovery: a crash between move-aside and move-in
    // leaves the lowest partition parked under the dot-dir — the next
    // compaction must restore it BEFORE reading, losing nothing
    full.filter($"vec_id" >= 70 && $"vec_id" < 80)
      .write.mode("append").parquet(srcDir)
    val q4 = start(); q4.processAllAvailable(); q4.stop()
    assert(partitions() == 2)
    val idxDir = new java.io.File(s"$root/idx")
    val lo = idxDir.listFiles().map(_.getName)
      .filter(_.startsWith("batch_run=")).sorted.head
    assert(new java.io.File(idxDir, lo).renameTo(
      new java.io.File(idxDir, s".compact_old_$lo")))
    assert(Streaming.compactAnnIndex(spark, s"$root/idx") == 2)
    val afterCrash = Streaming.annIndexVectors(spark, s"$root/idx")
      .select($"id").as[Long].collect()
    assert(afterCrash.length == 80 && afterCrash.distinct.length == 80,
      "parked partition must be restored, then folded")
    assert(partitions() == 1)
  }

  test("compactIndex refuses the paragraph sink's fingerprint index (partition-based replay defense)") {
    val root = java.nio.file.Files.createTempDirectory("graft_compact_para").toString
    Seq((1L, 2L)).toDF("h1", "h2").write.parquet(s"$root/idx/batch_run=0")
    Seq((3L, 4L)).toDF("h1", "h2").write.parquet(s"$root/idx/batch_run=1")
    val e = intercept[IllegalArgumentException] {
      Streaming.compactIndex(spark, s"$root/idx")
    }
    assert(e.getMessage.contains("paragraph"), e.getMessage)
  }

  test("jsonl shard stream: corrupt line isolates, unknown fields tolerated") {
    // the daily dataset-drop shape for the LLM interchange format: new
    // *.jsonl shards land per trigger; a truncated line costs one
    // null-data row with _corrupt carrying the raw bytes, and an extra
    // field the schema doesn't know parses cleanly
    val root = java.nio.file.Files.createTempDirectory("graft_jsonl_stream").toString
    val in = s"$root/in"; new java.io.File(in).mkdirs()
    def shard(name: String, lines: String*): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(in, name),
        lines.mkString("\n").getBytes("UTF-8"))
    shard("a.jsonl",
      """{"id":1,"lang":"en","text":"alpha beta"}""",
      """{"id":2,"lang":"de","text":"gamma delta","meta":{"crawl":"2026-01"}}""")
    val q = graft.sources.Jsonl.scanStream(spark, in).writeStream
      .format("memory").queryName("jsonl_stream").outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("jsonl_stream").count() == 2)
      assert(spark.table("jsonl_stream").filter(col("_corrupt").isNotNull).count() == 0)
      shard("b.jsonl",
        """{"id":3,"lang":"es","text":"epsilon zeta"}""",
        """{"id":4,"lang":"en","text":"trunc""") // unterminated string
      q.processAllAvailable()
      val all = spark.table("jsonl_stream").collect()
      assert(all.length == 4)
      val corrupt = all.filter(_.getAs[String]("_corrupt") != null)
      assert(corrupt.length == 1 && corrupt.head.isNullAt(0),
        s"exactly the truncated line must isolate: ${all.mkString(";")}")
      assert(all.filter(_.getAs[String]("_corrupt") == null)
        .map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("jsonl: GZIPPED shards ingest transparently with the same corrupt-line isolation") {
    // the other common interchange form (*.jsonl.gz — most public
    // dataset mirrors ship compressed): Spark's json source inflates
    // whole-file per task (gzip is not offset-splittable — shard-level
    // parallelism, the WARC lesson), and the A19 posture is unchanged:
    // a truncated line inside a compressed shard costs one _corrupt row
    val root = java.nio.file.Files.createTempDirectory("graft_jsonl_gz").toString
    def gzShard(name: String, lines: String*): Unit = {
      val out = new java.util.zip.GZIPOutputStream(
        new java.io.FileOutputStream(new java.io.File(root, name)))
      out.write(lines.mkString("\n").getBytes("UTF-8")); out.close()
    }
    gzShard("a.jsonl.gz",
      """{"id":1,"lang":"en","text":"alpha beta"}""",
      """{"id":2,"lang":"de","text":"gamma","meta":{"x":1}}""",
      """{"id":3,"lang":"es","text":"trunc""") // unterminated string
    val df = graft.sources.Jsonl.scan(spark, root, glob = "*.jsonl.gz")
    val rows = df.collect()
    assert(rows.length == 3)
    assert(rows.count(_.getAs[String]("_corrupt") != null) == 1,
      rows.mkString(";"))
    assert(rows.filter(_.getAs[String]("_corrupt") == null)
      .map(_.getAs[Long]("id")).sorted.toSeq == Seq(1L, 2L))
  }

  test("postings compaction folds the partition tree without changing what serves") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_post_compact").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalPostingsSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", s"$root/idx")
    try {
      input.addData((1L, "spark query engine for big data"),
        (2L, "query planning and data shuffles"))
      q.processAllAvailable()
      input.addData((3L, "streaming query over spark data"))
      q.processAllAvailable()
    } finally q.stop()
    val terms = Seq("query", "spark", "data")
    val before = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", terms, k = 10).collect().toSeq
    val folded = Streaming.compactPostingsIndex(spark, s"$root/idx")
    assert(folded == 4, s"expected 2 postings + 2 stats runs folded, got $folded")
    // one batch_run partition left in each subtree; bucket dirs preserved
    def runDirs(sub: String) = new java.io.File(s"$root/idx/$sub").listFiles()
      .map(_.getName).filter(_.startsWith("batch_run=")).toSeq
    assert(runDirs("postings") == Seq("batch_run=0"))
    assert(runDirs("stats") == Seq("batch_run=0"))
    assert(new java.io.File(s"$root/idx/postings/batch_run=0").listFiles()
      .exists(_.getName.startsWith("bucket=")), "bucket partitioning must survive")
    val after = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", terms, k = 10).collect().toSeq
    assert(after == before, s"compaction changed serving:\n$before\n$after")
    // idempotent: a second pass has nothing to fold
    assert(Streaming.compactPostingsIndex(spark, s"$root/idx") == 0)
  }

  test("postings-stats fold is crash-idempotent: a rerun over a half-deleted tree never inflates n_docs/sdl") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_post_crash").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalPostingsSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text", s"$root/idx")
    try {
      input.addData((1L, "spark query engine for big data"),
        (2L, "query planning and data shuffles"))
      q.processAllAvailable()
      input.addData((3L, "streaming query over spark data"))
      q.processAllAvailable()
    } finally q.stop()
    val truth = spark.read.parquet(s"$root/idx/postings")
      .agg(count_distinct(col("doc_id")).cast("long"),
        sum(col("tf")).cast("long")).as[(Long, Long)].head()
    // simulate the crash WINDOW of a prior fold: the staged (already
    // folded) stats row was moved into the lowest run, but the process
    // died before deleting the higher run — a summing rerun would read
    // folded-total + leftover and double-count it
    val folded = spark.read.parquet(s"$root/idx/stats")
      .agg(sum(col("n_docs")).cast("long"), sum(col("sdl")).cast("long"))
      .as[(Long, Long)].head()
    Seq(folded).toDF("n_docs", "sdl")
      .write.mode("overwrite").parquet(s"$root/idx/stats/batch_run=0")
    Streaming.compactPostingsIndex(spark, s"$root/idx")
    val after = spark.read.parquet(s"$root/idx/stats")
      .agg(sum(col("n_docs")).cast("long"), sum(col("sdl")).cast("long"))
      .as[(Long, Long)].head()
    assert(after == truth,
      s"stats fold must re-derive from postings, got $after want $truth")
  }

  test("crawl-to-searchable composition: WARC segments stream into the serving postings index") {
    // the second standing consumer of the crawl landing zone: the same
    // segment layout as the dedup composition (checkpointed restart
    // between triggers, gzipped second segment, corrupt record), but
    // the sink is the postings index and the assertion is the SERVING
    // read — a page fetched in trigger 2 must answer a BM25 query, the
    // corrupt record must index nothing, and the restart must not
    // double-post trigger 1
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_post").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def rec(id: Long, text: String, version: String = "WARC/1.0"): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:$id>",
        s"http://crawl.test/doc/$id", "2026-01-01T00:00:00Z", "text/plain",
        text.getBytes("UTF-8"), version)
      bos.toByteArray
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def start() = Streaming.crawlPostingsSink(spark, crawl, s"$root/idx",
      idExpr = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1),
      checkpointDir = Some(s"$root/ckpt"))
    java.nio.file.Files.write(java.nio.file.Paths.get(crawl, "seg0.warc"),
      rec(1L, "spark engine for big data work") ++
        rec(2L, "query planning and data shuffles"))
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(crawl, "seg1.warc.gz"),
      gz(rec(3L, "freshpage about spark data streams")) ++
        gz(rec(66L, "broken words", version = "WARC/9.9")))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    // the trigger-2 page answers a serving query one trigger after landing
    val hit = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", Seq("freshpage"), k = 5).collect()
    assert(hit.map(_.getAs[Long]("doc_id")).toSeq == Seq(3L), hit.mkString(","))
    // corrupt record indexed nothing; restart did not double-post seg0
    val st = spark.read.parquet(s"$root/idx/stats").agg(sum("n_docs")).head()
    assert(st.getLong(0) == 3L, s"stats show ${st.getLong(0)} docs, want 3")
    // trigger-1 content still ranks (both docs share 'data')
    val both = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/idx", Seq("data"), k = 5).collect()
    assert(both.map(_.getAs[Long]("doc_id")).toSet == Set(1L, 2L, 3L))
  }

  test("crawl-to-dedup composition: WARC segments stream into the durable near-dup index") {
    // the daily-crawl production loop: Warc.scanStream -> crawlDedupSink
    // across two triggers with a checkpointed restart between them; the
    // second segment is GZIPPED and carries a corrupt record that must
    // isolate before identity; the streamed matches must equal the
    // batch-mode incrementalNearDups pair set over the same corpus
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_dedup").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def rec(id: Long, text: String, version: String = "WARC/1.0"): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:$id>",
        s"http://crawl.test/doc/$id", "2026-01-01T00:00:00Z", "text/plain",
        text.getBytes("UTF-8"), version)
      bos.toByteArray
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    def seg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawl, name), bytes)
    def start() = Streaming.crawlDedupSink(spark, crawl,
      s"$root/index", s"$root/matches",
      idExpr = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1),
      checkpointDir = Some(s"$root/ckpt"))

    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "totally different words entirely over here"
    val t3 = "beta gamma delta epsilon zeta" // near-dup of t1
    // trigger 1: a plain segment with two unrelated documents
    seg("seg0.warc", rec(1L, t1) ++ rec(2L, t2))
    val q1 = start()
    q1.processAllAvailable()
    assert(spark.read.parquet(s"$root/matches").count() == 0)
    q1.stop() // crash point: offsets live only in the checkpoint

    // lands while nothing runs: a gzipped segment (per-record members)
    // with a near-dup of doc 1, an exact dup of doc 2, a CORRUPT record,
    // and an in-batch twin of the near-dup
    seg("seg1.warc.gz", gz(rec(3L, t3)) ++ gz(rec(4L, t2)) ++
      gz(rec(66L, "broken words", version = "WARC/9.9")) ++ gz(rec(5L, t3)))
    val q2 = start()
    try {
      q2.processAllAvailable()
      val idx = spark.read.parquet(s"$root/index")
      assert(idx.select("id").as[Long].collect().sorted.toSeq == (1L to 5L),
        "corrupt record must contribute nothing; restart must not reprocess seg0")
      val m = spark.read.parquet(s"$root/matches")
        .select("batch_id", "match_id", "matches", "src")
        .as[(Long, Long, Int, String)].collect().toSet
      assert(m.exists(t => t._1 == 3L && t._2 == 1L && t._4 == "corpus"),
        s"near-dup missed the durable index: $m")
      assert(m.contains((4L, 2L, 32, "corpus")), s"exact dup vs index: $m")
      assert(m.contains((5L, 3L, 32, "batch")), s"in-batch twin: $m")
      // batch parity: the same second-day batch probed against a
      // batch-computed index of day one yields the identical match set
      val day1 = Seq((1L, t1), (2L, t2)).toDF("doc_id", "text")
      val day2 = Seq((3L, t3), (4L, t2), (5L, t3)).toDF("doc_id", "text")
      val batchPairs = graft.ops.Dedup.incrementalNearDups(
          day2, "doc_id", "text",
          graft.ops.Dedup.minhashIndex(day1, "doc_id", "text"))
        .select("batch_id", "match_id", "matches", "src")
        .as[(Long, Long, Int, String)].collect().toSet
      assert(m === batchPairs, s"stream=$m batch=$batchPairs")
    } finally q2.stop()
  }

  test("composed crawl deployment: dedup + frontier + postings tail ONE landing zone and agree on the surviving doc set") {
    // the documented production pairing (three standing consumers of one
    // crawl, separate checkpoints — the Kafka consumer-group posture):
    // two triggers, a corrupt record, and a full stop/restart between
    // them, asserted on ALL THREE indexes at once — the sinks are tested
    // apart elsewhere; this is the deployment a real crawl runs
    val root = java.nio.file.Files.createTempDirectory("graft_crawl_all").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def rec(id: Long, text: String, version: String = "WARC/1.0"): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:$id>",
        s"http://crawl.test/doc/$id", "2026-01-01T00:00:00Z", "text/plain",
        text.getBytes("UTF-8"), version)
      bos.toByteArray
    }
    def gz(b: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(b); g.close(); bos.toByteArray
    }
    val idExpr = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
    def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = Seq(
      Streaming.crawlDedupSink(spark, crawl, s"$root/dedup_idx", s"$root/matches",
        idExpr = idExpr, checkpointDir = Some(s"$root/ckpt_dedup")),
      Streaming.crawlFrontierSink(spark, crawl, s"$root/frontier_idx",
        s"$root/frontier", checkpointDir = Some(s"$root/ckpt_frontier")),
      Streaming.crawlPostingsSink(spark, crawl, s"$root/postings_idx",
        idExpr = idExpr, checkpointDir = Some(s"$root/ckpt_postings")))

    val t1 = "alpha beta gamma delta epsilon zeta"
    val t2 = "totally different words entirely over here"
    val t3 = "beta gamma delta epsilon zeta" // near-dup of t1
    java.nio.file.Files.write(java.nio.file.Paths.get(crawl, "seg0.warc"),
      rec(1L, t1) ++ rec(2L, t2))
    val qs1 = startAll()
    try qs1.foreach(_.processAllAvailable()) finally qs1.foreach(_.stop())
    // restart point: a gzipped segment with a near-dup, a CORRUPT record,
    // and a fresh page lands while nothing runs
    java.nio.file.Files.write(java.nio.file.Paths.get(crawl, "seg1.warc.gz"),
      gz(rec(3L, t3)) ++ gz(rec(66L, "broken words", version = "WARC/9.9")) ++
        gz(rec(4L, "freshpage about spark data streams")))
    val qs2 = startAll()
    try qs2.foreach(_.processAllAvailable()) finally qs2.foreach(_.stop())

    val want = Set(1L, 2L, 3L, 4L) // 66 died upstream of every consumer
    val dedupIds = spark.read.parquet(s"$root/dedup_idx")
      .select("id").as[Long].collect().toSet
    val postingIds = spark.read.parquet(s"$root/postings_idx/postings")
      .select("doc_id").distinct().as[Long].collect().toSet
    val frontierIds = spark.read.parquet(s"$root/frontier")
      .select(regexp_extract(col("canon"), "/doc/([0-9]+)$", 1).cast("long"))
      .as[Long].collect().toSet
    assert(dedupIds == want, s"dedup index: $dedupIds")
    assert(postingIds == want, s"postings index: $postingIds")
    assert(frontierIds == want, s"frontier: $frontierIds")
    // the frontier's seen-URL index carries one 128-bit identity per page
    assert(spark.read.parquet(s"$root/frontier_idx")
      .select("h1", "h2").distinct().count() == 4)
    // cross-consumer behavior on the same batch: the near-dup gated (3→1
    // match recorded), yet doc 3 still SERVES (soft dedup decides later)
    val m = spark.read.parquet(s"$root/matches")
      .select("batch_id", "match_id").as[(Long, Long)].collect().toSet
    assert(m.contains((3L, 1L)), s"near-dup 3->1 missed: $m")
    val hit = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/postings_idx", Seq("freshpage"), k = 5).collect()
    assert(hit.map(_.getAs[Long]("doc_id")).toSeq == Seq(4L))
  }

  test("maintenance-window drill: stop the composed crawl, compact ALL SIX indexes, restart — behavior unchanged") {
    // the full ops cycle the six-sink deployment runs monthly: clean
    // stop, compactIndex + compactPostingsIndex + compactFrontierIndex +
    // compactLinkGraph + compactMediaFeatures + compactCurationDigests,
    // restart from the same checkpoints; gating, serving, frontier,
    // link-graph, media-feature, and decision-log semantics must be
    // indistinguishable from the uncompacted run
    val root = java.nio.file.Files.createTempDirectory("graft_maint").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    // the link sink watches the HTML landing zone (rendered pages, /p/
    // ordinals); the text sinks watch the document zone; the media sink
    // watches the binary landing zone — the zone split every real crawl
    // deployment runs
    val crawlHtml = s"$root/crawl_html"; new java.io.File(crawlHtml).mkdirs()
    val media = s"$root/media"; new java.io.File(media).mkdirs()
    val mediaFeat = s"$root/media_feat"
    def rec(id: Long, text: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:$id>",
        s"http://crawl.test/doc/$id", "2026-01-01T00:00:00Z", "text/plain",
        text.getBytes("UTF-8"), "WARC/1.0")
      bos.toByteArray
    }
    def page(id: Long, links: Seq[Long]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val html = "<html><body>" + links.map(t =>
        s"""<a href="http://WWW.s${t % 7}.example:80/p/$t/?utm_x=1">a$t</a>""")
        .mkString(" ") + "</body></html>"
      graft.sources.Warc.writeRecord(bos, "response", s"<urn:crawl:page:$id>",
        s"http://s${id % 7}.example/p/$id", "2026-01-01T00:00:00Z",
        "text/html; charset=utf-8", html.getBytes("UTF-8"), "WARC/1.0")
      bos.toByteArray
    }
    val idExpr = regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
    val modelDir = graft.queries.CurationArtifacts.lmRefModelDir(spark, sf())
    def startAll(): Seq[org.apache.spark.sql.streaming.StreamingQuery] = Seq(
      Streaming.crawlDedupSink(spark, crawl, s"$root/dedup_idx", s"$root/matches",
        idExpr = idExpr, checkpointDir = Some(s"$root/ck_d")),
      Streaming.crawlFrontierSink(spark, crawl, s"$root/frontier_idx",
        s"$root/frontier", checkpointDir = Some(s"$root/ck_f")),
      Streaming.crawlPostingsSink(spark, crawl, s"$root/postings_idx",
        idExpr = idExpr, checkpointDir = Some(s"$root/ck_p")),
      Streaming.crawlLinkGraphSink(spark, crawlHtml, s"$root/graph",
        checkpointDir = Some(s"$root/ck_g")),
      Streaming.incrementalMediaFeaturesSink(spark, media, mediaFeat,
        checkpointDir = Some(s"$root/ck_m")),
      Streaming.crawlCurationLogSink(spark, crawl, modelDir,
        s"$root/cur_digests", s"$root/cur_log", idExpr = idExpr,
        checkpointDir = Some(s"$root/ck_c")))
    def seg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawl, name), bytes)
    def hseg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawlHtml, name), bytes)
    def mseg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(media, name), bytes)
    def mediaRows() = spark.read.parquet(mediaFeat).drop("batch_run")
      .drop("modality").collect().map(_.toString).toSet
    val t1 = "alpha beta gamma delta epsilon zeta"
    // two triggers so every index accumulates two batch_run partitions
    seg("s0.warc", rec(1L, t1) ++ rec(2L, "totally different words entirely"))
    hseg("h0.warc", page(1L, Seq(10L, 11L)) ++ page(2L, Seq(10L)))
    mseg("1.png", graft.multimodal.Multimodal.ImageCodec.syntheticPng(1L))
    mseg("101.wav", graft.multimodal.AudioWav.syntheticWav(101L))
    val qs1 = startAll()
    try {
      qs1.foreach(_.processAllAvailable())
      seg("s1.warc", rec(3L, "unrelated page about spark streams"))
      hseg("h1.warc", page(3L, Seq(11L, 12L)))
      mseg("2.png", graft.multimodal.Multimodal.ImageCodec.syntheticPng(2L))
      qs1.foreach(_.processAllAvailable())
    } finally qs1.foreach(_.stop())
    // the edge, feature, decision-log, and digest tables as served
    // BEFORE the window: compaction must be bit-invisible to all four
    val edgesBefore = Streaming.linkGraphEdges(spark, s"$root/graph")
      .as[(Long, Long)].collect().toSet
    val mediaBefore = mediaRows()
    def curLog() = Streaming.curationLogRows(spark, s"$root/cur_log")
      .collect().map(_.toString).toSeq.sorted
    def curDigests() = spark.read.parquet(s"$root/cur_digests")
      .select($"digest", $"canon").collect().map(_.toString).toSeq.sorted
    val logBefore = curLog()
    val digestsBefore = curDigests()
    assert(logBefore.size == 3, s"pre-window decision log: $logBefore")
    // the maintenance window
    assert(Streaming.compactIndex(spark, s"$root/dedup_idx") == 2)
    assert(Streaming.compactPostingsIndex(spark, s"$root/postings_idx") == 4)
    assert(Streaming.compactFrontierIndex(spark, s"$root/frontier_idx") == 2)
    assert(Streaming.compactLinkGraph(spark, s"$root/graph") == 2)
    assert(Streaming.compactMediaFeatures(spark, mediaFeat) == 2)
    assert(Streaming.compactCurationDigests(spark, s"$root/cur_digests") == 2)
    assert(Streaming.linkGraphEdges(spark, s"$root/graph")
      .as[(Long, Long)].collect().toSet == edgesBefore,
      "link-graph fold must preserve the served edge set across the window")
    assert(mediaRows() == mediaBefore,
      "media-feature fold must preserve the served feature rows across the window")
    assert(curLog() == logBefore,
      "decision log must be untouched by the digest fold")
    assert(curDigests() == digestsBefore,
      "digest fold must preserve the served (digest, canon) rows across the window")
    // restart; a near-dup of doc 1, a re-crawl of doc 3, and a new page;
    // the html zone re-fetches page 1 (same edges) and lands page 4; the
    // media zone lands a new image AND an at-least-once re-delivery of
    // id 1 under a new path (the write-time anti-join must drop it)
    seg("s2.warc", rec(4L, "beta gamma delta epsilon zeta") ++
      rec(3L, "unrelated page about spark streams") ++
      rec(5L, "freshpage entirely new content here"))
    hseg("h2.warc", page(1L, Seq(10L, 11L)) ++ page(4L, Seq(12L)))
    mseg("3.png", graft.multimodal.Multimodal.ImageCodec.syntheticPng(3L))
    mseg("redelivery_1.png", graft.multimodal.Multimodal.ImageCodec.syntheticPng(1L))
    val qs2 = startAll()
    try qs2.foreach(_.processAllAvailable()) finally qs2.foreach(_.stop())
    // media after the window: folded history + the new image only — the
    // re-delivered id is invisible, every pre-window row byte-identical
    val mediaAfter = mediaRows()
    assert(mediaBefore.subsetOf(mediaAfter),
      s"pre-window media rows changed across the window")
    assert((mediaAfter -- mediaBefore).size == 1,
      s"restart must add exactly one feature row: ${mediaAfter -- mediaBefore}")
    val imgIds = spark.read.parquet(mediaFeat).drop("batch_run")
      .filter($"modality" === "image").select($"media_id")
      .as[Long].collect().toSet
    assert(imgIds == Set(1L, 2L, 3L),
      s"dup defense failed across the window: $imgIds")
    // link graph after the window: folded history + the restart batch,
    // the re-fetched page's duplicate edges invisible (set semantics)
    val edgesAfter = Streaming.linkGraphEdges(spark, s"$root/graph")
      .distinct().as[(Long, Long)].collect().toSet
    assert(edgesAfter == edgesBefore ++ Set((4L, 12L)),
      s"edge table after the window: $edgesAfter")
    // dedup: the near-dup probe still matches FOLDED history
    val m = spark.read.parquet(s"$root/matches")
      .select("batch_id", "match_id").as[(Long, Long)].collect().toSet
    assert(m.contains((4L, 1L)), s"near-dup vs folded index missed: $m")
    // frontier: the re-crawl of 3 stays gated by the folded index
    val f = spark.read.parquet(s"$root/frontier")
      .select(regexp_extract(col("canon"), "/doc/([0-9]+)$", 1).cast("long"))
      .as[Long].collect().toSet
    assert(f == Set(1L, 2L, 3L, 4L, 5L), s"frontier after compaction: $f")
    // decision log: pre-window rows byte-identical, the re-crawled doc 3
    // stays silent against the FOLDED digest index (its digest's canon
    // is itself — no second verdict row), and exactly the two genuinely
    // new docs got decisions
    val logAfter = curLog()
    assert(logBefore.forall(logAfter.contains),
      s"pre-window decision rows changed across the window: $logAfter")
    val logIds = Streaming.curationLogRows(spark, s"$root/cur_log")
      .select($"id").as[Long].collect().toSeq
    assert(logIds.sorted == Seq(1L, 2L, 3L, 4L, 5L),
      s"one verdict row per document after the window, got: $logIds")
    // serving: pre-compaction and post-compaction content both rank
    val hits = graft.ops.TextSearch.bm25TopKIndexed(
      spark, s"$root/postings_idx", Seq("freshpage", "alpha"), k = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(hits == Set(1L, 5L), s"serving after compaction: $hits")
    // the re-crawled id DOUBLE-POSTS in the postings index — the sink's
    // documented append-only-on-id contract (this is why the production
    // pairing gates fetch behind the frontier): raw stats count it twice
    val st = spark.read.parquet(s"$root/postings_idx/stats")
      .agg(sum("n_docs")).head().getLong(0)
    assert(st == 6L, s"stats show $st docs, want 6 (3 posted twice)")
    // ...and the NEXT maintenance window REPAIRS the violation: the
    // (term, doc_id) dedup folds the double post, and the
    // derive-from-postings stats fold follows it back to the truth
    assert(Streaming.compactPostingsIndex(spark, s"$root/postings_idx") > 0)
    val st2 = spark.read.parquet(s"$root/postings_idx/stats")
      .agg(sum("n_docs")).head().getLong(0)
    assert(st2 == 5L, s"stats after repair fold show $st2 docs, want 5")
  }

  test("crash recovery: fold state survives a checkpoint stop/restart (replay semantics)") {
    // The 100 TB contract: a killed stateful query restarted from its
    // checkpoint must resume the SAME fold state — reference replay/offset
    // semantics (KafkaIntelligencePipelineTests.kt:363-376). First half of
    // each key's log is processed by query #1, which is then stopped; the
    // second half arrives while nothing runs; query #2 restarts from the
    // same checkpoint dir. If state did not survive, the restarted fold
    // would emit records with no CREATE fields (name null) and the
    // batch-fold comparison below fails.
    val srcDir = java.nio.file.Files.createTempDirectory("graft_recovery_src").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_recovery_ckpt").toString
    val firstHalf = (1L to 5L).flatMap(events(_).take(2))
    val secondHalf = (1L to 5L).flatMap(events(_).drop(2))

    // the memory sink refuses checkpoint recovery; foreachBatch (the A14
    // side-effect sink, which production uses for exactly this) supports it
    val state = new java.util.concurrent.ConcurrentHashMap[Long, DataRecord]()
    def start() = Streaming.consolidate(Streaming.fileEvents(spark, srcDir))
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[DataRecord], _: Long) =>
        batch.collect().foreach(r => state.put(r.id, r))
      }
      .start()

    firstHalf.toDS().write.mode("append").parquet(srcDir)
    val q1 = start()
    q1.processAllAvailable()
    q1.stop() // crash point: offsets + fold state live only in the checkpoint
    state.clear() // forget sink output too: recovery must come from the checkpoint

    secondHalf.toDS().write.mode("append").parquet(srcDir)
    val q2 = start()
    try {
      q2.processAllAvailable()
      // the restarted query only processes batch-2 files; every key got a
      // second-half event, so each re-emits — consolidated with fold state
      // recovered from the checkpoint
      val expected = (1L to 5L).map(id => Consolidate.sequentialFold(events(id)))
        .map(r => r.id -> r).toMap
      assert(state.size == 5, s"expected 5 recovered records, got ${state.size}")
      expected.foreach { case (id, exp) =>
        assert(state.get(id) == exp,
          s"restarted fold diverged from batch fold for $id: ${state.get(id)} vs $exp")
      }
    } finally q2.stop()
  }

  test("incremental media-feature sink: landed media decode ONCE into the durable feature table (parity, dup defense, compaction)") {
    import graft.multimodal.{AudioWav, Multimodal, VideoCodec}
    val root = java.nio.file.Files.createTempDirectory("graft_media_sink").toString
    val landing = s"$root/landing"; new java.io.File(landing).mkdirs()
    val featDir = s"$root/features"
    def landBytes(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(landing, name), bytes)
    def corruptGrav(id: Long): Array[Byte] = {
      val b = VideoCodec.syntheticVideo(id)
      val n = 4 + (id % 4).toInt
      b(13 + 8 * n + 10) = (b(13 + 8 * n + 10) ^ 0x5A).toByte
      b
    }
    def start() = Streaming.incrementalMediaFeaturesSink(
      spark, landing, featDir, checkpointDir = Some(s"$root/ckpt"))

    // trigger 1: 3 images, 2 wavs, 2 videos (one corrupt), 1 rotted PNG
    // (valid magic, garbage body), 1 unknown payload
    (1L to 3L).foreach(id => landBytes(s"$id.png", Multimodal.ImageCodec.syntheticPng(id)))
    (101L to 102L).foreach(id => landBytes(s"$id.wav", AudioWav.syntheticWav(id)))
    landBytes("201.grav", VideoCodec.syntheticVideo(201L))
    landBytes("202.grav", corruptGrav(202L))
    landBytes("301.png", Multimodal.ImageCodec.syntheticPng(301L).take(12))
    landBytes("302.bin", "JUNKJUNKJUNK".getBytes)
    val q1 = start(); q1.processAllAvailable(); q1.stop()

    def feats() = spark.read.parquet(featDir).drop("batch_run")
    // image parity: hash + QC columns equal the batch kernel on the bytes
    val img = feats().filter($"modality" === "image" && $"media_error".isNull)
      .select($"media_id", $"hash_hi", $"hash_lo", $"mean_gray", $"min_gray", $"max_gray")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    val imgRef = (1L to 3L).map { id =>
      val st = Multimodal.ImageCodec.allStats(Multimodal.ImageCodec.syntheticPng(id))
      (id, st.hash_hi, st.hash_lo, st.mean_gray, st.min_gray, st.max_gray)
    }.toSet
    assert(img == imgRef, s"image features diverged: $img")
    // video parity: per-frame rows equal frameFeatures on the same bytes
    val vid = feats().filter($"modality" === "video" && $"media_error".isNull)
      .select($"media_id", $"frame_idx", $"hash_hi", $"hash_lo", $"sum_r")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val vidRef = VideoCodec.frameFeatures(
        Seq((201L, VideoCodec.syntheticVideo(201L))).toDF("media_id", "content"))
      .select($"media_id", $"frame_idx", $"hash_hi", $"hash_lo", $"sum_r")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(vid == vidRef, s"video frame features diverged: $vid")
    // audio parity: parse + QC + fingerprint columns equal the batch chain
    val aud = feats().filter($"modality" === "audio" && $"media_error".isNull)
      .select($"media_id", $"n_samples", $"n_clipped", $"longest_silence", $"fp")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val wavs = (101L to 102L).map(id => (id, AudioWav.syntheticWav(id)))
      .toDF("media_id", "content")
    val audRef = AudioWav.parsed(wavs)
      .withColumn("q", graft.functions.NativeExpressions.wavQcStats($"content", 1000, 50))
      .select($"media_id", $"n_samples", $"q.n_clipped", $"q.longest_silence",
        AudioWav.deltaFingerprint().as("fp"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(aud == audRef, s"audio features diverged: $aud")
    // error isolation (A19): the corrupt GRAV, the rotted PNG and the
    // unknown payload each cost ONE error row, never the trigger
    val errs = feats().filter($"media_error".isNotNull)
      .select($"media_id", $"modality", $"media_error")
      .as[(Long, String, String)].collect().toSet
    assert(errs == Set((202L, "video", "bad-grav"), (301L, "image", "bad-png"),
      (302L, "unknown", "unknown-magic")), s"error isolation diverged: $errs")

    // trigger 2 after a checkpointed restart: a genuinely new image
    // lands, and an at-least-once upstream re-delivers id 2 under a NEW
    // path (the file source would skip a rewritten same path; a crawler
    // re-fetch lands a new object) — the id parses from the digits
    // before the extension, and the write-time anti-join must drop it
    landBytes("4.png", Multimodal.ImageCodec.syntheticPng(4L))
    landBytes("redelivery_2.png", Multimodal.ImageCodec.syntheticPng(2L))
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val imgIds = feats().filter($"modality" === "image")
      .select($"media_id").as[Long].collect().sorted
    assert(imgIds.toSeq == Seq(1L, 2L, 3L, 4L, 301L),
      s"dup defense failed: ${imgIds.toSeq}")

    // maintenance window: fold the batch_run tree; modality partitioning
    // and the served rows must not change
    def partitions() = new java.io.File(featDir).listFiles()
      .count(_.getName.startsWith("batch_run="))
    assert(partitions() == 2)
    val before = feats().drop("modality").collect().map(_.toString).sorted
    assert(Streaming.compactMediaFeatures(spark, featDir) == 2)
    assert(partitions() == 1, "compaction must leave ONE partition")
    assert(Streaming.compactMediaFeatures(spark, featDir) == 0, "idempotent")
    val foldedRun = new java.io.File(featDir).listFiles()
      .filter(_.getName.startsWith("batch_run=")).head
    assert(foldedRun.listFiles().exists(_.getName.startsWith("modality=")),
      "fold must preserve the modality partition dirs")
    val after = feats().drop("modality").collect().map(_.toString).sorted
    assert(before.sameElements(after), "compaction changed what serves")
  }

  test("binaryFile stream sources take the format's fixed schema, not a start-up listing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_binschema").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "1.txt"), "x".getBytes("UTF-8"))
    val listed = spark.read.format("binaryFile").load(dir).schema
    assert(graft.sources.DirectoryIngest.BinaryFileSchema == listed)
    assert(graft.sources.DirectoryIngest.scanStream(spark, dir).schema == listed)
  }

  test("batch_run sinks: an unreadable committed prior run fails the trigger instead of probing an empty index") {
    implicit val sqlCtx = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft_rotten_run").toString
    val input = MemoryStream[(Long, String)]
    val q = Streaming.incrementalDedupSink(
      input.toDF().toDF("doc_id", "text"), "doc_id", "text",
      s"$root/index", s"$root/matches")
    try {
      input.addData((1L, "alpha beta gamma delta epsilon zeta"))
      q.processAllAvailable()
      // the committed run rots: its only part file becomes garbage
      val run0 = new java.io.File(s"$root/index/batch_run=0")
      run0.listFiles().foreach(_.delete())
      java.nio.file.Files.write(run0.toPath.resolve("part-00000.snappy.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      input.addData((2L, "alpha beta gamma delta epsilon zeta"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        q.processAllAvailable())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(t => String.valueOf(t.getMessage)).toList
      assert(msgs.exists(_.contains("batch_run=0")), s"failure names the rotten run: $msgs")
      assert(!new java.io.File(s"$root/matches/batch_run=1").exists(),
        "the failed trigger must not write matches probed against no index")
    } finally q.stop()
  }

  test("batch_run sinks: a first trigger's crash debris does not stop the restart reproducing its matches") {
    val docs = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "totally different words entirely over here"))
    def run(root: String): Set[(Long, Long, Int, String)] = {
      val srcDir = s"$root/src"
      docs.toDF("doc_id", "text").write.mode("overwrite").parquet(srcDir)
      val q = Streaming.incrementalDedupSink(
        spark.readStream.schema(spark.read.parquet(srcDir).schema).parquet(srcDir),
        "doc_id", "text", s"$root/index", s"$root/matches",
        checkpointDir = Some(s"$root/ckpt"))
      try q.processAllAvailable() finally q.stop()
      spark.read.parquet(s"$root/matches")
        .select("batch_id", "match_id", "matches", "src")
        .as[(Long, Long, Int, String)].collect().toSet
    }
    val clean = run(java.nio.file.Files.createTempDirectory("graft_clean_run").toString)
    assert(clean.contains((2L, 1L, 32, "batch")), s"reference run: $clean")
    // what a first trigger killed mid-write leaves: only uncommitted task
    // output under _temporary, in both trees
    val crashed = java.nio.file.Files.createTempDirectory("graft_debris_run").toString
    Seq("index", "matches").foreach { tree =>
      val attempt = java.nio.file.Paths.get(crashed, tree, "batch_run=0", "_temporary",
        "0", "_temporary", "attempt_0")
      java.nio.file.Files.createDirectories(attempt)
      java.nio.file.Files.write(attempt.resolve("part-00000.snappy.parquet"),
        "half-written".getBytes("UTF-8"))
    }
    assert(run(crashed) == clean)
  }

  test("batch_run sinks: a trigger with no good documents writes no partition in any crawl sink") {
    val root = java.nio.file.Files.createTempDirectory("graft_empty_trigger").toString
    val crawl = s"$root/crawl"; new java.io.File(crawl).mkdirs()
    def rec(id: Long, text: String, wtype: String = "response",
        version: String = "WARC/1.0"): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      graft.sources.Warc.writeRecord(bos, wtype, s"<urn:crawl:$id>",
        s"http://crawl.test/doc/$id", "2026-01-01T00:00:00Z", "text/plain",
        text.getBytes("UTF-8"), version)
      bos.toByteArray
    }
    def seg(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(crawl, name), bytes)
    seg("seg0.warc", rec(1L, "alpha beta gamma delta epsilon zeta") ++
      rec(2L, "totally different words entirely over here"))
    val qs = Seq(
      Streaming.crawlDedupSink(spark, crawl, s"$root/dedup/index", s"$root/dedup/matches",
        checkpointDir = Some(s"$root/ckpt/dedup")),
      Streaming.crawlPostingsSink(spark, crawl, s"$root/postings",
        checkpointDir = Some(s"$root/ckpt/postings")),
      Streaming.crawlFrontierSink(spark, crawl, s"$root/frontier/index",
        s"$root/frontier/pages", checkpointDir = Some(s"$root/ckpt/frontier")))
    try {
      qs.foreach(_.processAllAvailable())
      // a segment of nothing but a warcinfo and a corrupt record
      seg("seg1.warc", rec(0L, "crawl metadata", wtype = "warcinfo") ++
        rec(66L, "broken words", version = "WARC/9.9"))
      qs.foreach(_.processAllAvailable())
      qs.foreach(q => assert(q.recentProgress.map(_.batchId).max == 1,
        s"${q.name}: the second segment must run a trigger"))
      Seq("dedup/index", "dedup/matches", "postings/postings", "postings/stats",
          "frontier/index", "frontier/pages").foreach { tree =>
        val runs = new java.io.File(s"$root/$tree").list().filter(_.startsWith("batch_run="))
        assert(runs.toSeq == Seq("batch_run=0"), s"$tree: ${runs.toSeq}")
      }
    } finally qs.foreach(_.stop())
  }
}
