package graft.streaming

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import graft.model._
import graft.pipeline.Consolidate

/** Structured Streaming wiring (SURVEY.md §7.2 step 7): the reference's
  * 6-topic Kafka layout (§1.2) mapped to Spark streams.
  *
  * Sources here are file/memory-based (no Kafka broker or connector jar in
  * this environment); `kafkaEvents` documents the drop-in Kafka form —
  * the DataFrame surface is identical downstream of the source, which is
  * the point of the design: operators never know the source.
  */
object Streaming {

  /** The consolidation fold as an incrementally-maintained stateful
    * stream — the KTable analog (reference: KafkaIntelligencePipeline.kt:364-382).
    * Same fold code as the batch Aggregator (Consolidate.add/merge), so
    * batch and streaming provably agree; state is one FoldState per key
    * (bounded by metadata volume, not event count). Use RocksDB state
    * store (`spark.sql.streaming.stateStore.providerClass`) for 100 TB
    * keyspaces. Emits the updated record per trigger (OutputMode.Update),
    * like the reference's cache-disabled immediate emission (§4). */
  def consolidate(events: Dataset[DataRecordEvent]): Dataset[DataRecord] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.groupByKey(_.id)
      .flatMapGroupsWithState[Consolidate.FoldState, DataRecord](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (id: Long, evs: Iterator[DataRecordEvent], state: GroupState[Consolidate.FoldState]) =>
          val st0 = state.getOption.getOrElse(Consolidate.FoldState.zero)
          // within one trigger, apply in deterministic (timestamp, seq) order
          val st = evs.toSeq.sortBy(e => (e.timestamp, e.seq))
            .foldLeft(st0)(Consolidate.add)
          state.update(st)
          Iterator.single(Consolidate.finishState(st))
      }
  }

  /** The `dataRecords(id)` changelog-subscription analog
    * (reference: KafkaIntelligencePipeline.kt:61-76): materialize the
    * consolidated stream into an in-memory queryable table named `id`.
    * Distinct id ⇒ distinct query ⇒ full replay from the source — the
    * same replay semantics the reference gets from a fresh
    * `application.id`. */
  def dataRecords(consolidated: Dataset[DataRecord], id: String,
      availableNow: Boolean = false): StreamingQuery = {
    val w = consolidated.writeStream
      .format("memory").queryName(id)
      .outputMode("update")
    // AvailableNow snapshots offsets AT START — right for replay-and-stop
    // reads, wrong for live subscriptions (data added later is ignored)
    (if (availableNow) w.trigger(Trigger.AvailableNow()) else w).start()
  }

  /** Streaming enrichment: the same topo-sorted, idempotency-gated
    * enricher pass as batch (`Enrichers.enrich` is a narrow mapPartitions,
    * so it composes onto the stateful consolidation stream unchanged —
    * one code path for both executions). */
  def enriched(consolidated: Dataset[DataRecord],
      enrichers: Seq[graft.pipeline.Enricher]): Dataset[DataRecord] =
    graft.pipeline.Enrichers.enrich(consolidated, enrichers)

  /** Side-effect sink (reference A14: `PipelineSideEffect = (key,value) -> Unit`
    * wired via foreach, KafkaIntelligencePipeline.kt:163-185): per-batch
    * callback over the consolidated stream. foreachBatch rather than
    * foreach so the callback sees a DataFrame it can write transactionally
    * (idempotent sinks under at-least-once replay, SURVEY.md §4). */
  def sideEffect(consolidated: Dataset[DataRecord],
      f: (Dataset[DataRecord], Long) => Unit): StreamingQuery =
    consolidated.writeStream
      .outputMode("update")
      .foreachBatch(f)
      .start()

  /** File-based event source over a directory of parquet event batches —
    * the dev/test stand-in for the `datarecord-event` topic. */
  def fileEvents(spark: SparkSession, dir: String): Dataset[DataRecordEvent] = {
    import spark.implicits._
    spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[DataRecordEvent]].schema)
      .parquet(dir)
      .as[DataRecordEvent]
  }

  // ------------------------------------------------------- wire format

  /** The reference's wire layout (§1.3): messages are (key = record id,
    * value = JSON event) — JSON kept at the boundary only. `toWire` /
    * `fromWire` are exact inverses (round-trip tested), shared by the
    * Kafka source/sink forms and any other keyed transport. */
  def toWire(events: Dataset[DataRecordEvent]): DataFrame =
    events.toDF().select(
      col("id").cast("string").as("key"),
      to_json(struct(col("*"))).as("value"))

  def fromWire(wire: DataFrame): Dataset[DataRecordEvent] = {
    val spark = wire.sparkSession
    import spark.implicits._
    val schema = implicitly[org.apache.spark.sql.Encoder[DataRecordEvent]].schema
    wire.select(from_json(col("value").cast("string"), schema).as("e"))
      .select(col("e.*"))
      .as[DataRecordEvent]
  }

  /** Keyed producer send (reference A5/A6: `KeyedProducer.send(key, event)`,
    * KafkaIntelligencePipeline.kt:313-315): the event stream serialized to
    * the wire layout and written per batch. With the Kafka connector jar
    * this is `wire.writeStream.format("kafka")`; without a broker the same
    * wire rows land in a parquet "topic" directory — identical layout,
    * identical downstream `fromWire` read. */
  def keyedSink(events: Dataset[DataRecordEvent], topicDir: String): StreamingQuery =
    toWire(events).writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // one overwritten directory per microbatch: a batch retried after
        // a crash-before-checkpoint rewrites the same location instead of
        // appending duplicates (idempotent under at-least-once replay)
        batch.write.mode("overwrite").parquet(s"$topicDir/batch_id=$batchId")
      }
      .start()

  /** Kafka form of the event source (requires the spark-sql-kafka connector
    * on the classpath; not present in this container). */
  def kafkaEvents(spark: SparkSession, bootstrap: String, topic: String): Dataset[DataRecordEvent] =
    fromWire(
      spark.readStream
        .format("kafka")
        .option("kafka.bootstrap.servers", bootstrap)
        .option("subscribe", topic)
        .option("startingOffsets", "earliest")
        .load())

  /** Streaming exact dedup: first event per key set wins, duplicate
    * arrivals within the watermark horizon are dropped and state for
    * expired keys is evicted — the stream-scale form of the A8 idempotency
    * gate / B1 digest dedup (bounded state, unlike a naive dropDuplicates
    * whose state grows forever). */
  def dedupWithinWatermark(df: DataFrame, keys: Seq[String], tsCol: String,
      watermark: String = "10 minutes"): DataFrame =
    df.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  // ------------------------------------------------ batch_run sink chassis

  /** The partition column every incremental sink writes one micro-batch
    * under, and the one [[foldBatchRuns]] folds. */
  private val BatchRunCol = "batch_run"
  private def runPart(id: Any): String = s"$BatchRunCol=$id"

  /** The chassis every incremental sink below runs on — the family's
    * replay rule, stated once. It is the [[keyedSink]] posture applied
    * to durable partition trees (the reference gets the same guarantee
    * from keyed topology writes):
    *
    *  - start-up: append mode, `foreachBatch`, and `checkpointDir` as the
    *    checkpoint location when given;
    *  - empty triggers: the micro-batch is persisted for the trigger (the
    *    emptiness probe would otherwise run its whole plan, file parse
    *    included, a second time) and an empty batch writes nothing — no
    *    empty partition accumulates per idle trigger;
    *  - writes ([[BatchRun.write]]): every output goes to its tree's
    *    `batch_run=<id>` partition with overwrite, so a batch replayed
    *    after a crash before its checkpoint commit rewrites its own
    *    partitions instead of appending duplicates;
    *  - the prior-runs read ([[BatchRun.prior]]): a sink's durable state is
    *    its tree minus the current run, so a crash AFTER a write still
    *    reproduces the original output. It is `None` only when no
    *    committed run exists: an absent tree, or one holding nothing but
    *    a crashed write's `_temporary` debris (or an empty partitioned
    *    write's lone `_SUCCESS`). Any other read failure — an unreadable
    *    part file, a listing error — fails the trigger, so Spark replays
    *    it from the checkpoint instead of probing an empty state.
    *
    * Each sink's Scaladoc states only what differs: whether it defends
    * replay by partition alone or also by id, and which offline
    * compactor its tree takes. */
  private def batchRunSink(input: DataFrame, checkpointDir: Option[String])(
      body: (DataFrame, BatchRun) => Unit): StreamingQuery = {
    val writer = input.writeStream
      .outputMode("append")
      .foreachBatch { (rawBatch: DataFrame, batchId: Long) =>
        val batch = rawBatch.persist()
        try if (!batch.isEmpty) body(batch, new BatchRun(batch.sparkSession, batchId))
        finally batch.unpersist()
      }
    checkpointDir.fold(writer)(writer.option("checkpointLocation", _)).start()
  }

  /** What a tree without a committed run throws on read: the root is
    * absent, or it holds no data file to infer a schema from. */
  private val NoCommittedRun = Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")

  /** One trigger of a [[batchRunSink]]. */
  private final class BatchRun(spark: SparkSession, id: Long) {
    def write(df: DataFrame, root: String, partitionCols: String*): Unit =
      df.write.mode("overwrite").partitionBy(partitionCols: _*)
        .parquet(s"$root/${runPart(id)}")

    def prior(root: String): Option[DataFrame] =
      try Some(spark.read.parquet(root).filter(col(BatchRunCol) =!= id))
      catch { case e: AnalysisException if NoCommittedRun(e.getCondition) => None }

    /** [[prior]] on `like`'s columns; empty, with `like`'s schema, when
      * there is none (keeps a probe plan's shape on the first trigger). */
    def priorOr(root: String, like: DataFrame): DataFrame =
      prior(root).fold(like.limit(0))(_.select(like.columns.toSeq.map(col): _*))

    /** `df`'s rows whose `keys` no prior run holds. */
    def unseen(df: DataFrame, root: String, keys: String*): DataFrame =
      prior(root).fold(df)(p => df.join(p.select(keys.map(col): _*), keys, "left_anti"))
  }

  /** Continuous incremental near-dup maintenance — the production form
    * of [[graft.ops.Dedup.incrementalNearDups]] (q81): every micro-batch
    * of documents is probed against the DURABLE (id, sig) signature
    * index (exact integer signature-agreement verification, per-probe
    * cap), matches land under `matchesDir`, and the batch's own
    * signatures are then appended to the index so later batches see
    * earlier ones. The text is shingled exactly once per batch: the same
    * materialized signature frame feeds the probe and the index append.
    *
    * Replay defense is by id on top of the chassis's prior-runs read:
    * the index read broadcast-anti-joins away the batch's own ids, so a
    * replayed batch never matches a document to itself even after
    * [[compactIndex]] has folded its partition away. Index growth is
    * k·8 B per document (~256 B at k=32). */
  def incrementalDedupSink(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, matchesDir: String,
      shingleN: Int = 3, k: Int = 32, bands: Int = 8, minMatches: Int = 16,
      maxBucket: Int = 1000, maxMatchesPerProbe: Int = 0,
      checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(docs, checkpointDir) { (batch, run) =>
      val bsig = graft.ops.Dedup
        .minhashIndex(batch, idCol, textCol, shingleN, k)
        .localCheckpoint(true)
      val index = run.priorOr(indexDir, bsig)
        .join(broadcast(bsig.select(col("id"))), Seq("id"), "left_anti")
      run.write(graft.ops.Dedup.incrementalNearDupsSigs(bsig, index, k, bands,
        minMatches, maxBucket, maxMatchesPerProbe), matchesDir)
      run.write(bsig, indexDir)
    }

  /** The ONE batch_run fold choreography every offline compactor here
    * runs (the signature, frontier, ANN, link-graph, and postings
    * compactors all delegate): recovery prologue — a prior crash between
    * move-aside and move-in left the lowest partition parked under the
    * dot-dir; restore it BEFORE reading, and before the staging
    * overwrite could discard the only full copy — then `guard` the tree
    * (fail-fast schema checks), `fold` the whole tree to its compacted
    * form, stage under a dot-dir (invisible to parquet reads), and swap
    * move-aside → move-in → delete with every rename checked (a rename
    * failure aborts BEFORE any data is deleted; a crash after move-in
    * leaves only redundant copies the next invocation removes).
    * Returns partitions folded (0 = nothing to do / missing root). */
  private def foldBatchRuns(spark: SparkSession, root: String, name: String,
      guard: DataFrame => Unit, fold: DataFrame => DataFrame,
      partitionCols: Seq[String]): Int = {
    import spark.implicits._
    val rootPath = new org.apache.hadoop.fs.Path(root)
    val fs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(rootPath)) return 0
    def p(n: String) = new org.apache.hadoop.fs.Path(root, n)
    def move(src: org.apache.hadoop.fs.Path, dst: org.apache.hadoop.fs.Path): Unit =
      require(fs.rename(src, dst), s"$name: rename $src -> $dst failed")
    def glob(pattern: String) = // some Hadoop FS impls return null, not empty
      Option(fs.globStatus(p(pattern))).getOrElse(Array.empty)
    val runDirs = glob(runPart("*")).map(_.getPath.getName)
    glob(".compact_old_*").foreach { st =>
      val orig = st.getPath.getName.stripPrefix(".compact_old_")
      if (runDirs.contains(orig)) fs.delete(st.getPath, true) // redundant copy
      else move(st.getPath, p(orig))
    }
    val df = spark.read.parquet(root)
    guard(df)
    val runs = df.select(col(BatchRunCol).cast("long")).distinct()
      .as[Long].collect().sorted
    if (runs.length <= 1) return 0
    val lo = runs.head
    val staging = p(".compact_staging")
    fold(df).write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    val loName = runPart(lo)
    move(p(loName), p(s".compact_old_$loName"))
    move(staging, p(loName))
    fs.delete(p(s".compact_old_$loName"), true)
    runs.tail.foreach(r => fs.delete(p(runPart(r)), true))
    runs.length
  }

  /** OFFLINE compaction for the SIGNATURE dedup sinks' durable indexes
    * ([[incrementalDedupSink]] / [[incrementalImageDedupSink]] — (id,
    * sig/simhash) rows): folds the accumulated `batch_run=<id>`
    * partition tree (one dir per micro-batch ever run — thousands after
    * a month of triggers, and the sink re-reads the tree every trigger)
    * into ONE partition, keyed by the LOWEST existing batch id — batch
    * ids only grow from the checkpoint, so the sink can never collide
    * with it, and the replay defense is untouched because those sinks
    * anti-join the index by the replayed batch's IDS, not only by
    * partition. NOT for [[incrementalParagraphDedupSink]]'s fingerprint
    * index: that sink has no id column and defends replay BY PARTITION,
    * which folding would defeat (fail-fast require below).
    *
    * Crash safety is [[foldBatchRuns]]': rows are deduplicated by id on
    * the way through, so a crash after move-in but before the redundant-
    * partition deletes only leaves duplicates the next compaction
    * removes. Run it while the sink is stopped (a maintenance window) —
    * readers racing the swap can observe a partially-deleted tree.
    * Returns the number of partitions folded (0 = nothing to do). */
  def compactIndex(spark: SparkSession, indexDir: String): Int =
    foldBatchRuns(spark, indexDir, "compactIndex",
      guard = df => require(df.columns.contains("id"),
        "compactIndex is for the (id, sig) signature indexes; the paragraph " +
          "sink's fingerprint index defends replay by partition and must not " +
          "be folded"),
      fold = _.drop(BatchRunCol).dropDuplicates("id"),
      partitionCols = Nil)

  /** The daily-crawl production loop END-TO-END: newly-landed WARC
    * segments ([[graft.sources.Warc.scanStream]] — the A4 scheduled
    * re-walk over the crawl landing zone, reference IngestConnector.kt:
    * 33-96) parse per micro-batch, corrupt records isolate as error rows
    * and are gated out BEFORE identity assignment (A19), good records
    * become (id, text) documents, and each batch probes-then-extends the
    * durable near-dup signature index ([[incrementalDedupSink]] — q81's
    * shape). One declarative lineage from crawl bytes to dedup matches;
    * checkpoint/crash-replay semantics are the sink's.
    *
    * `idExpr` defaults to xxhash64 of the WARC-Record-ID — the record's
    * own identity header (ISO 28500 §5.2), stable across replays. Only
    * `warcTypes` records index as documents: a real crawl segment leads
    * with a warcinfo record and interleaves request/metadata records
    * whose payloads (HTTP headers, crawl telemetry) must NOT pollute the
    * corpus index (default = response; pass e.g. `Seq("response",
    * "conversion")` for WET-style archives). */
  def crawlDedupSink(spark: SparkSession, crawlDir: String, indexDir: String,
      matchesDir: String, glob: String = "*.warc*",
      idExpr: Column = xxhash64(col("record_id")),
      warcTypes: Seq[String] = Seq("response"),
      shingleN: Int = 3, k: Int = 32, bands: Int = 8, minMatches: Int = 16,
      maxBucket: Int = 1000, maxMatchesPerProbe: Int = 0,
      checkpointDir: Option[String] = None): StreamingQuery =
    incrementalDedupSink(crawlDocs(spark, crawlDir, glob, idExpr, warcTypes),
      "doc_id", "text", indexDir, matchesDir,
      shingleN, k, bands, minMatches, maxBucket, maxMatchesPerProbe,
      checkpointDir)

  /** The crawl sinks' document selection: newly-landed WARC records,
    * corrupt ones and non-`warcTypes` ones gated out before identity
    * assignment, as (doc_id, text). */
  private def crawlDocs(spark: SparkSession, crawlDir: String, glob: String,
      idExpr: Column, warcTypes: Seq[String]): DataFrame =
    graft.sources.Warc.scanStream(spark, crawlDir, glob).toDF()
      .filter(col("error").isNull && col("warc_type").isin(warcTypes: _*))
      .select(idExpr.cast("long").as("doc_id"),
        col("payload").cast("string").as("text"))

  /** INCREMENTAL POSTINGS-INDEX maintenance — the serving-index twin of
    * [[incrementalDedupSink]]: each micro-batch of newly-ingested
    * documents appends its own term-bucketed postings shard, so the
    * `/search` lexical path ([[graft.ops.TextSearch.bm25TopKIndexed]])
    * serves new content one trigger after it lands instead of waiting
    * for the next full index rebuild. Layout:
    *
    *   indexDir/postings/batch_run=<id>/bucket=<b>/…   (term, doc_id, tf, dl)
    *   indexDir/stats/batch_run=<id>/…                 (n_docs, sdl)
    *
    * — the same (bucket, term) pruning contract as the batch builder
    * ([[graft.ops.TextSearch.writePostingsIndex]]): a serving read
    * prunes to its terms' bucket dirs ACROSS all batch_run partitions,
    * and corpus stats are the SUM of the per-batch stats rows
    * (bm25TopKIndexed aggregates the stats read, so both layouts serve
    * through one code path and scores stay bit-identical to a
    * from-scratch build over the same documents).
    *
    * No prior-runs read: the chassis's partition overwrite alone keeps a
    * replayed batch from double-counting its shard, and the empty-
    * trigger rule keeps a NULL-`sdl` stats row out of the tree. Ingest
    * must be append-only on doc_id (the register path's idempotency gate
    * upstream — a re-UPSERTED document would otherwise post twice under
    * two batch_runs; content updates go through a rebuild, as in every
    * segment-merge search engine). Per-trigger cost is one shuffle of
    * the BATCH's postings — the durable index is never read, let alone
    * rewritten; shard-count growth is [[compactPostingsIndex]]'s
    * concern. */
  def incrementalPostingsSink(docs: DataFrame, idCol: String, textCol: String,
      indexDir: String, nBuckets: Int = 64,
      checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(docs, checkpointDir) { (batch, run) =>
      val post = batch
        .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("__toks"))
        .select(col("doc_id"), size(col("__toks")).cast("long").as("dl"),
          explode(col("__toks")).as("term"))
        .groupBy(col("term"), col("doc_id"), col("dl"))
        .agg(count(lit(1)).as("tf"))
        .withColumn("bucket", pmod(xxhash64(col("term")), lit(nBuckets)))
        .repartition(col("bucket")) // contiguous writers per bucket dir
        .localCheckpoint(true) // two consumers: shard write + stats
      run.write(post, s"$indexDir/postings", "bucket")
      run.write(post.agg(count_distinct(col("doc_id")).as("n_docs"),
        coalesce(sum(col("tf")), lit(0L)).as("sdl")), s"$indexDir/stats")
    }

  /** OFFLINE compaction for [[incrementalPostingsSink]]'s partition
    * trees: folds the accumulated per-trigger postings shards (every
    * `batch_run=<id>/bucket=<b>` directory) into ONE batch_run
    * (keyed by the lowest existing id — sink batch ids only grow, so no
    * collision) while PRESERVING the bucket partitioning the serving
    * read prunes on, and folds the per-batch stats rows into one row
    * DERIVED FROM THE COMPACTED POSTINGS TREE (count_distinct(doc_id),
    * sum(tf) — the writePostingsIndex construction), never by summing
    * the per-batch rows: a sum is not crash-idempotent (a crash between
    * the move-in and the higher-run deletes would leave the folded total
    * PLUS leftover runs, and a rerun would sum them again, silently
    * inflating n_docs/sdl and skewing every BM25 score served after),
    * while a derive re-reads whatever postings tree exists — which
    * self-heals via the (term, doc_id) dedup — under any interleaving.
    * Rows are deduplicated by (term, doc_id) on the way through —
    * the sink's append-only-id contract means duplicates only exist
    * after a contract violation, and folding them once is strictly
    * better than serving them twice. Same crash discipline as
    * [[compactIndex]]: stage under a dot-dir, move-aside → move-in →
    * delete with every rename checked, recovery prologue restores a
    * parked partition before anything reads. Run while the sink is
    * stopped. Returns the number of batch_run partitions folded
    * across both subtrees (0 = nothing to do). */
  def compactPostingsIndex(spark: SparkSession, indexDir: String): Int = {
    def foldTree(root: String, dedupKeys: Seq[String],
        agg: DataFrame => DataFrame, partitionCols: Seq[String]): Int =
      foldBatchRuns(spark, root, "compactPostingsIndex",
        guard = _ => (),
        fold = { df =>
          val folded = agg(df.drop(BatchRunCol))
          if (dedupKeys.nonEmpty) folded.dropDuplicates(dedupKeys) else folded
        },
        partitionCols = partitionCols)
    // cluster by bucket before the partitioned write, same as the sink;
    // postings fold FIRST so the stats derive below reads the deduped tree
    val postingsFolded = foldTree(s"$indexDir/postings", Seq("term", "doc_id"),
      df => df.repartition(col("bucket")), Seq("bucket"))
    // stats: IGNORE the accumulated per-batch rows and re-derive the one
    // folded row from the postings tree (crash-idempotent — see Scaladoc)
    val statsFolded = foldTree(s"$indexDir/stats", Nil,
      _ => spark.read.parquet(s"$indexDir/postings")
        .agg(count_distinct(col("doc_id")).as("n_docs"),
          coalesce(sum(col("tf")), lit(0L)).as("sdl")),
      Nil)
    postingsFolded + statsFolded
  }

  /** Crawl-to-SEARCHABLE end-to-end: newly-landed WARC segments parse
    * per micro-batch (the [[crawlDedupSink]] ingest shape — same record
    * gate, same identity rule) and feed the incremental postings index,
    * so a page fetched in trigger N answers `/search` queries at
    * trigger N+1. The dedup sink and this one can tail the same landing
    * zone with separate checkpoints — the crawl pipeline's two standing
    * consumers (near-dup gating and serving) stay independently
    * restartable, exactly like two consumer groups on one topic (the
    * reference's Kafka posture, KafkaIntelligencePipeline.kt:304-391). */
  def crawlPostingsSink(spark: SparkSession, crawlDir: String, indexDir: String,
      glob: String = "*.warc*",
      idExpr: Column = xxhash64(col("record_id")),
      warcTypes: Seq[String] = Seq("response"),
      nBuckets: Int = 64,
      checkpointDir: Option[String] = None): StreamingQuery =
    incrementalPostingsSink(crawlDocs(spark, crawlDir, glob, idExpr, warcTypes),
      "doc_id", "text", indexDir, nBuckets, checkpointDir)

  /** Streaming CRAWL FRONTIER — the seen-URL gate every continuous
    * crawler runs ahead of fetch scheduling (the URL-level companion of
    * [[incrementalDedupSink]]'s content-level gate; reference
    * correspondence: the ingest key IS the source URI,
    * KafkaIntelligencePipeline.kt:304-341, and the reference's directory
    * re-walk only re-ingests paths it hasn't registered): every
    * micro-batch of candidate URLs is CANONICALIZED
    * ([[graft.ops.UrlOps.canonicalizeUrl]] — so two surface forms of one
    * page cannot enter the frontier twice), collapsed to distinct
    * canonical forms within the batch, anti-joined against the DURABLE
    * seen-URL index, and only the genuinely NEW pages land under
    * `frontierDir` (canon, domain, n_in_batch) — the fetchable frontier.
    * The new pages' identities then extend the index so later batches
    * see them.
    *
    * The index carries 16 B/URL — a 128-bit identity from two
    * independently-salted xxhash64s of the canonical form, NEVER the URL
    * string (at crawl scale the frontier index is billions of rows; a
    * single 64-bit key would birthday-collide around 2³² URLs and
    * silently drop the colliding page forever, while 128 bits is
    * collision-free for any real crawl). Crash-replay defense is the
    * chassis's prior-runs read alone, by PARTITION, not by id:
    * identities here are content-derived, so a RE-CRAWLED url in a later
    * batch shares its identity with the index row that must gate it — an
    * id anti-join (the signature sinks' defense) would strip exactly
    * that evidence. Consequently NOT [[compactIndex]]-compatible
    * (folding partitions would defeat the defense — the hash columns
    * are deliberately not named `id` so its fail-fast refuses); use
    * [[compactFrontierIndex]] in a maintenance window: only after a
    * clean stop with the checkpoint committed past every written
    * partition. */
  def urlFrontierSink(urls: DataFrame, urlCol: String, indexDir: String,
      frontierDir: String, checkpointDir: Option[String] = None): StreamingQuery = {
    import graft.ops.UrlOps
    batchRunSink(urls, checkpointDir) { (batch, run) =>
      // one canonicalization pass; eager — feeds probe AND index append
      val bcanon = batch
        .select(UrlOps.canonicalizeUrl(col(urlCol)).as("canon"))
        .groupBy(col("canon")).agg(count(lit(1)).as("n_in_batch"))
        .select(col("canon"), col("n_in_batch"),
          xxhash64(col("canon")).as("h1"),
          xxhash64(col("canon"), lit(1)).as("h2"),
          UrlOps.registrableDomain(UrlOps.urlHost(col("canon"))).as("domain"))
        .localCheckpoint(true)
      // only the NEW pages extend the index: a re-crawled URL (the
      // common case in a steady-state crawl) must not regrow the index
      // with a duplicate identity every time it reappears
      val fresh = run.unseen(bcanon, indexDir, "h1", "h2").localCheckpoint(true)
      run.write(fresh.select(col("canon"), col("domain"), col("n_in_batch")), frontierDir)
      run.write(fresh.select(col("h1"), col("h2")), indexDir)
    }
  }

  /** OFFLINE compaction for [[urlFrontierSink]]'s seen-URL index — the
    * third of the three crawl indexes to get one (dedup:
    * [[compactIndex]], postings: [[compactPostingsIndex]]): folds the
    * per-trigger `batch_run=<id>` partitions into ONE (lowest id, rows
    * deduplicated by the (h1, h2) identity), same staged
    * move-aside → move-in → delete discipline and recovery prologue.
    *
    * CONTRACT — clean stop only: this index defends crash-replay BY
    * PARTITION (a replaying batch excludes its own partition from the
    * read), and folding destroys that for any batch that could still
    * replay — its rows would sit in the folded partition and gate the
    * replayed batch's own URLs, breaking frontier reproduction. After a
    * CLEAN stop (checkpoint committed past every written partition) no
    * batch can replay, the next batch id is strictly greater than every
    * folded one, and the fold is invisible to the restarted sink. The
    * sibling guard to [[compactIndex]]'s: this one REQUIRES the
    * (h1, h2) frontier schema and refuses id-keyed indexes. Returns the
    * number of partitions folded (0 = nothing to do). */
  def compactFrontierIndex(spark: SparkSession, indexDir: String): Int =
    foldBatchRuns(spark, indexDir, "compactFrontierIndex",
      guard = df => require(
        df.drop(BatchRunCol).columns.sorted.sameElements(Array("h1", "h2")),
        "compactFrontierIndex is for the frontier's (h1, h2) identity index; " +
          "id-keyed signature indexes fold with compactIndex"),
      fold = _.select(col("h1"), col("h2")).dropDuplicates("h1", "h2"),
      partitionCols = Nil)

  /** [[urlFrontierSink]] fed from the CRAWL itself — the discovery loop
    * a continuous crawler closes: newly-landed WARC segments' response
    * records carry the pages just fetched (WARC-Target-URI, ISO 28500
    * §5.12); canonicalizing THOSE into the frontier index means the next
    * crawl list is gated against everything any earlier segment already
    * fetched, under any surface form. Corrupt records isolate upstream
    * (error != null rows never reach the gate — the A19 posture), and
    * records without a target URI (warcinfo has none) are dropped before
    * canonicalization rather than minted a garbage identity. */
  def crawlFrontierSink(spark: SparkSession, crawlDir: String, indexDir: String,
      frontierDir: String, glob: String = "*.warc*",
      warcTypes: Seq[String] = Seq("response"),
      checkpointDir: Option[String] = None): StreamingQuery = {
    val urls = graft.sources.Warc.scanStream(spark, crawlDir, glob).toDF()
      .filter(col("error").isNull && col("warc_type").isin(warcTypes: _*) &&
        col("target_uri").isNotNull && col("target_uri") =!= "")
      .select(col("target_uri").as("url"))
    urlFrontierSink(urls, "url", indexDir, frontierDir, checkpointDir)
  }

  /** Continuous incremental IMAGE near-dup maintenance — the
    * [[incrementalDedupSink]] chassis applied to the aHash modality
    * (q110's daily-crawl form, mirroring q81's text index): every
    * micro-batch of images is decoded ONCE to 64-bit aHashes, probed
    * against the DURABLE (id, simhash) index with the banded
    * [[graft.ops.Dedup.hammingProbe]] (exact recall at the requested
    * radius, 8 B/image index growth), matched within the batch itself
    * via the q110 banding, and then appended to the index so later
    * batches see earlier images. Corrupt images isolate per record (the
    * A19 posture — a failed decode contributes no hash and no match).
    * Replay defense is the text sink's: by id on top of the prior-runs
    * read, so [[compactIndex]] folds this index too. Matches carry
    * src = 'corpus' (durable index hit) or 'batch' (within-batch, the
    * LATER id probes the earlier). */
  def incrementalImageDedupSink(media: DataFrame, idCol: String,
      contentCol: String, indexDir: String, matchesDir: String,
      maxHamming: Int = 7, maxBucket: Int = 5000, maxMatchesPerProbe: Int = 0,
      checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(media, checkpointDir) { (batch, run) =>
      val spark = batch.sparkSession
      import spark.implicits._
      val bsig = batch.select(col(idCol).cast("long"), col(contentCol))
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, bytes) =>
          scala.util.Try(graft.multimodal.Multimodal.ImageCodec.aHash64(bytes))
            .toOption.map { case (hi, lo, _) => (id, (hi << 32) | lo) }
        })
        .toDF("id", "simhash")
        .localCheckpoint(true) // probe + in-batch pairs + index append
      val index = run.priorOr(indexDir, bsig)
        .join(broadcast(bsig.select(col("id"))), Seq("id"), "left_anti")
      val corpus = graft.ops.Dedup.hammingProbe(bsig, index,
          maxHamming, maxBucket, maxMatchesPerProbe)
        .withColumn("src", lit("corpus"))
      // the caller's per-probe bound must hold for the UNION: uncapped
      // in-batch pairs would reintroduce the quadratic identical-hash
      // blowup on a duplicate-heavy batch even when the corpus probe
      // is capped
      val inBatch = graft.ops.Dedup.simhashNearDupPairs(bsig, maxHamming,
          maxBucket, maxDegree = maxMatchesPerProbe)
        .select(col("id_b").as("batch_id"), col("id_a").as("match_id"),
          col("hamming"), lit("batch").as("src"))
      run.write(corpus.unionByName(inBatch), matchesDir)
      run.write(bsig, indexDir)
    }

  /** Continuous CCNet-style paragraph dedup — the streaming form of
    * [[graft.ops.Dedup.paragraphDedup]] (q87), on the
    * [[incrementalDedupSink]] chassis: each micro-batch splits its
    * documents into `paraLen`-word paragraphs, drops every paragraph
    * whose 128-bit fingerprint was already seen (earlier batch via the
    * durable index, or earlier in THIS batch via the q87 first-
    * occurrence window), writes the reassembled clean documents, and
    * appends the surviving fingerprints to the index.
    *
    * The index holds ONLY (h1, h2) — 16 B per distinct paragraph ever
    * seen, never the text. Replay defense is the prior-runs read alone,
    * by partition (there is no id column), so [[compactIndex]] refuses
    * this index. */
  def incrementalParagraphDedupSink(docs: DataFrame, idCol: String,
      textCol: String, indexDir: String, cleanDir: String, paraLen: Int = 7,
      checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(docs, checkpointDir) { (batch, run) =>
      import org.apache.spark.sql.expressions.Window
      val paras = batch
        .withColumn("__ws", split(col(textCol), " "))
        .select(col(idCol).as("id"), posexplode(expr(
          s"transform(sequence(0, cast(ceil(size(__ws)/$paraLen.0) as int) - 1)," +
            s" i -> concat_ws(' ', slice(__ws, i*$paraLen + 1, $paraLen)))"))
          .as(Seq("idx", "para")))
        .withColumn("h1", xxhash64(col("para")))
        .withColumn("h2", xxhash64(lit("graft::para2"), col("para")))
        .localCheckpoint(true) // one materialization: window + index append
      val firstWin = Window.partitionBy(col("h1"), col("h2"))
        .orderBy(col("id").asc, col("idx").asc)
      val survivors = run.unseen(
          paras.withColumn("__rn", row_number().over(firstWin)).filter(col("__rn") === 1),
          indexDir, "h1", "h2")
        .localCheckpoint(true) // two consumers: clean docs + index append
      val clean = survivors
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_kept"),
          concat_ws(" ", transform(
            array_sort(collect_list(struct(col("idx"), col("para")))),
            p => p.getField("para"))).as("clean_text"))
      val counts = paras.groupBy(col("id")).agg(count(lit(1)).as("n_paras"))
      run.write(counts.join(clean, Seq("id"), "left")
        .select(col("id"), col("n_paras"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("clean_text"), lit("")).as("clean_text")), cleanDir)
      run.write(survivors.select(col("h1"), col("h2")), indexDir)
    }

  /** STREAMING CURATION DECISION LOG — the Dolma-attributes twin of the
    * batch q160 for the crawl loop: every landed document gets exactly
    * one durable verdict row explaining why it entered or missed the
    * corpus, adjudicated against durable state —
    *
    *   `exact_dup`   its md5 digest was seen before (durable digest
    *                 index, or earlier in this batch on the (id) total
    *                 order), with `canon_doc` = the FIRST occurrence it
    *                 attributes to;
    *   `no_evidence` fewer than 2 words — the LM gate has nothing to
    *                 judge;
    *   `low_quality` reference-LM surprisal in the frozen tail tercile;
    *   `kept`        with its quality bucket (1/2).
    *
    * The reference model comes from `modelDir` — the batch-built FROZEN
    * artifact ([[graft.queries.CurationArtifacts.lmRefModelDir]]: count
    * tables + tercile thresholds). The governance stance of every
    * production quality gate: score arrivals against a versioned frozen
    * model; retraining is a new model dir, not a sink concern. Scoring
    * arithmetic is bit-identical to
    * [[graft.ops.TrainingPrep.lmSurprisalPerDoc]] (exact floor-log₂
    * bits, 20-bit unseen backoff, fixed-point average), so a batch
    * replay of the same model over the same docs reproduces every
    * bucket. Unlike q160, the gate judges RAW text — paragraph cleaning
    * is [[incrementalParagraphDedupSink]]'s job; compose by feeding this
    * sink that sink's clean output when the deployment wants both.
    *
    * Replay defense is the prior-runs read of both trees, by partition.
    * An at-least-once upstream re-delivering an ALREADY-LOGGED id in a
    * later batch is dropped silently on BOTH legs: a re-delivered
    * canonical id is caught because its digest's durable canon IS itself
    * (the fresh leg's `__canon_seen.isNull` guard), and a re-delivered
    * duplicate id — one whose durable canon is ANOTHER document, so the
    * digest index alone cannot recognize it — is caught by anti-joining
    * the exact-dup leg against the ids already in the decision log. The
    * same id twice in ONE batch collapses before adjudication
    * (`dropDuplicates(id)`). Together: exactly one durable verdict row
    * per document, under any at-least-once delivery or crash replay.
    *
    * Scale: per trigger one batch-sized pass; the model tables broadcast
    * (bounded by the frozen reference vocabulary); the digest-index read
    * is a narrow (digest, canon) scan — 48 B per distinct document ever
    * seen, never the text — and the log read behind the exact-leg guard
    * prunes to the `id` column alone (8 B per document ever logged). */
  def incrementalCurationLogSink(docs: DataFrame, idCol: String,
      textCol: String, modelDir: String, digestIndexDir: String,
      logDir: String, checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(docs, checkpointDir) { (batch, run) =>
      val spark = batch.sparkSession
      import org.apache.spark.sql.expressions.Window
      val rows = batch
        .select(col(idCol).cast("long").as("id"), col(textCol).as("text"))
        .dropDuplicates("id") // same id twice in one trigger = one decision
        .withColumn("digest", md5(col("text").cast("binary")))
        .withColumn("__canon_batch",
          min(col("id")).over(Window.partitionBy(col("digest"))))
        .localCheckpoint(true) // consumers: dup split + scoring + index append
      val adjudicated = run.prior(digestIndexDir)
        .fold(rows.withColumn("__canon_seen", lit(null).cast("long"))) { seen =>
          rows.join(seen.select(col("digest"), col("canon").as("__canon_seen")),
            Seq("digest"), "left")
        }
        .withColumn("__canon", coalesce(col("__canon_seen"), col("__canon_batch")))
        .localCheckpoint(true) // dup rows + fresh rows + index append
      // the exact-dup leg's re-delivery guard: a duplicate id that
      // was ALREADY logged (its durable canon is another doc, so the
      // digest index can't flag it) must not get a second verdict row
      val exact = run.unseen(adjudicated.filter(col("__canon") =!= col("id")), logDir, "id")
        .select(col("id"), lit("exact_dup").as("verdict"),
          col("__canon").as("canon_doc"), lit(-1).as("bucket"))
      // canon == id AND never seen durably: the decision to make.
      // canon == id AND seen durably: a re-delivery of an
      // already-logged id — dropped (see scaladoc).
      val fresh = adjudicated
        .filter(col("__canon") === col("id") && col("__canon_seen").isNull)
      val uni = broadcast(spark.read.parquet(s"$modelDir/uni"))
      val bgT = broadcast(spark.read.parquet(s"$modelDir/bg"))
      val thr = broadcast(spark.read.parquet(s"$modelDir/thr"))
      val scored = fresh
        .withColumn("__ws", split(col("text"), " "))
        .filter(size(col("__ws")) >= 2)
        .select(col("id"), explode(expr(
          "transform(sequence(0, size(__ws) - 2)," +
            " i -> struct(element_at(__ws, i + 1) AS w1," +
            " concat(element_at(__ws, i + 1), ' ', element_at(__ws, i + 2)) AS bg))"))
          .as("__b"))
        .select(col("id"), col("__b.w1").as("w1"), col("__b.bg").as("bg"))
        .join(bgT, Seq("bg"), "left")
        .join(uni, Seq("w1"), "left")
        .withColumn("bits", when(col("c12").isNull, lit(20L))
          .otherwise((length(bin(col("c1"))) - length(bin(col("c12")))).cast("long")))
        .groupBy(col("id"))
        .agg(sum(col("bits")).as("bits_total"), count(lit(1)).as("n_bigrams"))
        .withColumn("avg_micro", expr("bits_total * 1000000 div n_bigrams"))
        .crossJoin(thr)
        .select(col("id"),
          when(col("avg_micro") <= col("t2"), "kept")
            .otherwise("low_quality").as("verdict"),
          col("id").as("canon_doc"),
          when(col("avg_micro") <= col("t1"), 1)
            .when(col("avg_micro") <= col("t2"), 2).otherwise(3).as("bucket"))
      val noEvidence = fresh
        .filter(size(split(col("text"), " ")) < 2)
        .select(col("id"), lit("no_evidence").as("verdict"),
          col("id").as("canon_doc"), lit(-1).as("bucket"))
      run.write(exact.unionByName(scored).unionByName(noEvidence)
        .select(col("id"), col("verdict"), col("canon_doc"),
          col("bucket").cast("int").as("bucket")), logDir)
      run.write(fresh.select(col("digest"), col("id").as("canon")), digestIndexDir)
    }

  /** The served curation log / digest index (batch_run stripped). */
  def curationLogRows(spark: SparkSession, logDir: String): DataFrame =
    spark.read.parquet(logDir).drop(BatchRunCol)

  /** OFFLINE compaction for [[incrementalCurationLogSink]]'s digest
    * index: digests are unique across batch_runs by construction (later
    * occurrences never append), so the fold is storage reclamation with
    * a defensive per-digest min — same crash discipline as
    * [[compactIndex]]. Run in a maintenance window (sink stopped). */
  def compactCurationDigests(spark: SparkSession, digestIndexDir: String): Int =
    foldBatchRuns(spark, digestIndexDir, "compactCurationDigests",
      guard = df => require(df.columns.contains("digest"),
        "compactCurationDigests is for the (digest, canon) exact-dup index"),
      fold = _.groupBy(col("digest")).agg(min(col("canon")).as("canon")),
      partitionCols = Nil)

  /** The crawl-zone form of [[incrementalCurationLogSink]] — the sixth
    * standing index of the composed crawl deployment (near-dup
    * signatures, postings, frontier, link graph, media features, and
    * now the curation decision log): newly-landed WARC segments parse
    * per micro-batch (corrupt records isolate and are gated out before
    * identity assignment — the A19 posture shared with
    * [[crawlDedupSink]]), good records become (id, text) documents, and
    * each batch is adjudicated against the frozen reference model and
    * the durable digest index. Same `idExpr`/`warcTypes` contract as
    * the other crawl sinks, so one landing zone feeds all six. */
  def crawlCurationLogSink(spark: SparkSession, crawlDir: String,
      modelDir: String, digestIndexDir: String, logDir: String,
      glob: String = "*.warc*",
      idExpr: Column = xxhash64(col("record_id")),
      warcTypes: Seq[String] = Seq("response"),
      checkpointDir: Option[String] = None): StreamingQuery =
    incrementalCurationLogSink(crawlDocs(spark, crawlDir, glob, idExpr, warcTypes),
      "doc_id", "text", modelDir, digestIndexDir, logDir, checkpointDir)

  /** INCREMENTAL ANN (IVF) index sink — the embedding-side standing
    * index, completing the durable-index family (near-dup signatures,
    * postings, frontier, and now vectors): newly-arrived embeddings are
    * quantized and assigned to their nearest centroid per micro-batch
    * ([[graft.ops.Similarity.ivfExactAssign]] — centroid table broadcast,
    * map-only, zero shuffle of the arrivals), then appended as (id, qv)
    * rows PARTITIONED BY cell under `batch_run=<id>`, so the serving
    * probe ([[graft.ops.Similarity.ivfExactTopKMany]] over
    * `annIndexVectors`) partition-prunes to its nProbe cells exactly as
    * it does against the offline-built artifact.
    *
    * Centroids come from `centroidsDir` — the OFFLINE-TRAINED artifact
    * (real deployments train centroids on a corpus sample and hold them
    * fixed while the index grows online; retraining is a reindex, not a
    * sink concern). The per-batch read of the k-row centroid table is
    * negligible against the assignment it parameterizes.
    *
    * Duplicate defense happens AT WRITE TIME, because serving
    * correctness depends on id uniqueness (a duplicate id would occupy
    * two rank slots in every probe): arrivals anti-join the ids of the
    * prior runs (narrow scan — ids only), so an at-least-once upstream
    * re-sending an id in a LATER batch is dropped before it lands, while
    * a replayed batch still rewrites its own partition identically.
    * Index growth is (8·dim + 16) B/vector — bounded, content never
    * stored; [[compactAnnIndex]] folds the tree. */
  def incrementalAnnSink(vecs: DataFrame, idCol: String, vecCol: String,
      centroidsDir: String, indexDir: String,
      checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(vecs, checkpointDir) { (batch, run) =>
      // dropDuplicates FIRST: two landed files carrying the same id
      // can share one micro-batch, and the anti-join below only
      // defends against OTHER batch_runs — without this, both
      // in-batch copies land and the id occupies two rank slots in
      // every probe until a compaction window
      val assigned = graft.ops.Similarity.ivfExactAssign(
        batch.select(col(idCol).as("id"),
          graft.ops.Similarity.quantize(col(vecCol)).as("qv"))
          .dropDuplicates("id"),
        batch.sparkSession.read.parquet(centroidsDir))
      run.write(run.unseen(assigned, indexDir, "id")
        .repartition(col("cell")), // contiguous writers per cell dir
        indexDir, "cell")
    }

  /** The streamed ANN index as a serving-ready (cell, id, qv) frame —
    * feed straight into [[graft.ops.Similarity.ivfExactTopK]]/
    * [[graft.ops.Similarity.ivfExactTopKMany]] with the SAME centroids
    * the sink assigns by. batch_run stays out of the schema: serving
    * must not care how many triggers built the index. */
  def annIndexVectors(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).select(col("cell"), col("id"), col("qv"))

  /** OFFLINE compaction for [[incrementalAnnSink]]'s partition tree:
    * folds every `batch_run=<id>/cell=<c>` dir into ONE batch_run
    * (lowest existing id — sink ids only grow, no collision) while
    * PRESERVING the cell partitioning the serving probe prunes on, and
    * deduplicating by id (at-least-once upstream defense; last write
    * wins is unnecessary — a re-sent id carries the same vector, any
    * copy is correct). Same crash discipline as [[compactIndex]]:
    * stage under a dot-dir, move-aside → move-in → delete with every
    * rename checked, recovery prologue restores a parked partition
    * before anything reads. Run in a maintenance window (sink
    * stopped). Returns partitions folded (0 = nothing to do). */
  def compactAnnIndex(spark: SparkSession, indexDir: String): Int =
    foldBatchRuns(spark, indexDir, "compactAnnIndex",
      guard = _ => (),
      fold = _.select(col("cell"), col("id"), col("qv")).dropDuplicates("id")
        .repartition(col("cell")),
      partitionCols = Seq("cell"))

  /** Crawl → LINK GRAPH: newly-landed WARC segments parse per
    * micro-batch ([[graft.sources.Warc.scanStream]], the A4 re-walk),
    * good text/html records yield (src, dst) edges through the SAME
    * extraction the batch link-graph queries use
    * ([[graft.sources.Warc.htmlLinkEdges]]), and each batch appends its
    * in-batch-distinct edge set under `batch_run=<id>` — the durable
    * web-graph the authority/anchor operators (q211/q212/q215) read.
    *
    * No prior-runs read, deliberately: edges carry no per-row identity
    * and every downstream consumer is set-semantied —
    * [[graft.ops.Graph]]'s pageRankDirected/hits/undirected all
    * `.distinct()` their edge input — so a re-fetched page landing the
    * same (src, dst) twice is CORRECTNESS-neutral and costs only storage
    * until [[compactLinkGraph]] folds the tree (dropDuplicates(src,
    * dst)). No per-trigger index scan: the cheapest sink in the family. */
  def crawlLinkGraphSink(spark: SparkSession, crawlDir: String,
      indexDir: String, checkpointDir: Option[String] = None): StreamingQuery =
    batchRunSink(graft.sources.Warc.htmlLinkEdges(
        graft.sources.Warc.scanStream(spark, crawlDir).toDF()), checkpointDir) {
      (batch, run) => run.write(batch.select(col("src"), col("dst")).distinct(), indexDir)
    }

  /** The streamed link graph as an edge frame for
    * [[graft.ops.Graph]] — batch_run stays out of the schema. Consumers
    * dedup by construction (Graph ops distinct their input). */
  def linkGraphEdges(spark: SparkSession, indexDir: String): DataFrame =
    spark.read.parquet(indexDir).select(col("src"), col("dst"))

  /** OFFLINE compaction for [[crawlLinkGraphSink]]'s partition tree:
    * folds every batch_run into ONE, deduplicating by (src, dst) —
    * storage reclamation, not a correctness event (consumers are
    * set-semantied, see the sink Scaladoc). Same crash discipline as
    * [[compactIndex]]. Run while the sink is stopped. */
  def compactLinkGraph(spark: SparkSession, indexDir: String): Int =
    foldBatchRuns(spark, indexDir, "compactLinkGraph",
      guard = _ => (),
      fold = _.select(col("src"), col("dst")).dropDuplicates("src", "dst"),
      partitionCols = Nil)

  /** The unified media-feature row every modality's decode lands in —
    * per-modality columns are null where not applicable (the classic
    * wide feature-store layout; parquet stores the nulls for free). */
  private val MediaFeatureCols: Seq[(String, String)] = Seq(
    "media_id" -> "bigint", "frame_idx" -> "bigint",
    "width" -> "int", "height" -> "int",
    "sum_r" -> "bigint", "sum_g" -> "bigint", "sum_b" -> "bigint",
    "hash_hi" -> "bigint", "hash_lo" -> "bigint", "n_set" -> "bigint",
    "mean_gray" -> "bigint", "min_gray" -> "bigint", "max_gray" -> "bigint",
    "sample_rate" -> "bigint", "n_samples" -> "bigint",
    "duration_ms" -> "bigint", "sum_abs" -> "bigint", "peak_abs" -> "bigint",
    "n_clipped" -> "bigint", "longest_silence" -> "bigint",
    "energy" -> "bigint", "fp" -> "bigint",
    "media_error" -> "string")

  private def toMediaFeatureSchema(df: DataFrame, modality: String): DataFrame =
    df.select(lit(modality).as("modality") +: MediaFeatureCols.map {
      case (n, t) =>
        (if (df.columns.contains(n)) col(n) else lit(null)).cast(t).as(n)
    }: _*)

  /** LANDED MEDIA → the durable feature table: the streaming increment
    * of the batch decode-once artifacts (queries/MediaArtifacts.scala).
    * Newly-landed binary files (`binaryFile` source over the landing
    * zone — the A4 re-walk for media) are typed by MAGIC bytes and
    * decoded ONCE through the exact batch kernels — PNG →
    * [[graft.multimodal.Multimodal.ImageCodec.allStats]] (channel sums +
    * aHash + QC grays), GRAV → [[graft.multimodal.VideoCodec.frameFeatures]]
    * (per-frame sums + hashes), WAV → the parse + QC + delta-fingerprint
    * columns — into one wide per-modality-partitioned feature table.
    * Together with the batch artifact this is the lambda pair the
    * dedup/postings/ANN/link indexes already have: bootstrap the corpus
    * once, then every new media file is decoded exactly once, at landing
    * time, and every downstream consumer (QC gates, perceptual dedup,
    * curation, sampling) reads features, never bytes.
    *
    * Identity/replay posture is the ANN sink's: media_id parses from the
    * landed file name (`<id>.<ext>`, the landing-zone convention),
    * in-batch dropDuplicates catches two copies sharing one trigger, and
    * a write-time anti-join against the prior runs' media ids drops
    * at-least-once re-deliveries before they land. Corrupt
    * payloads isolate as `media_error` rows (A19) — a rotted PNG costs
    * one error row, never the trigger. Unreadable magic → 'unknown'
    * modality error row, so nothing lands silently. */
  def incrementalMediaFeaturesSink(spark: SparkSession, landingDir: String,
      featuresDir: String, checkpointDir: Option[String] = None): StreamingQuery = {
    import spark.implicits._
    val landed = spark.readStream.format("binaryFile")
      .schema(graft.sources.DirectoryIngest.BinaryFileSchema).load(landingDir)
      .select(
        regexp_extract(col("path"), "([0-9]+)\\.[a-z]+$", 1).cast("long").as("media_id"),
        col("content"))
    batchRunSink(landed, checkpointDir) { (batch, run) =>
      val fresh = run.unseen(batch.dropDuplicates("media_id"), featuresDir, "media_id")
        .localCheckpoint(true) // 4 modality branches read it
      def magic(bytes: Column, m: String) =
        bytes.substr(1, m.length) === lit(m.getBytes("ISO-8859-1"))
      val png = magic(col("content"), "PNG")
      val grav = magic(col("content"), "GRAV")
      val wav = magic(col("content"), "RIFF")
      val images = toMediaFeatureSchema(
        fresh.filter(png).select(col("media_id"), col("content"))
          .as[(Long, Array[Byte])]
          .mapPartitions(_.map { case (id, bytes) =>
            scala.util.Try(
              graft.multimodal.Multimodal.ImageCodec.allStats(bytes)).toOption match {
              case Some(st) => (id, Option(st), Option.empty[String])
              case None =>
                (id, Option.empty[graft.multimodal.ImageStatsRow], Option("bad-png"))
            }
          })
          .select(col("_1").as("media_id"), col("_2.*"),
            col("_3").as("media_error")),
        "image")
      val videos = toMediaFeatureSchema(
        graft.multimodal.VideoCodec.frameFeatures(
          fresh.filter(grav).select(col("media_id"), col("content")))
          .withColumnRenamed("video_error", "media_error"),
        "video")
      val qc = graft.functions.NativeExpressions.wavQcStats(col("content"), 1000, 50)
      val audios = toMediaFeatureSchema(
        graft.multimodal.AudioWav.parsed(
          fresh.filter(wav).select(col("media_id"), col("content")))
          .withColumn("q", qc)
          .select(col("media_id"), col("sample_rate"), col("n_samples"),
            col("duration_ms"), col("sum_abs"), col("peak_abs"),
            col("q.n_clipped").as("n_clipped"),
            col("q.longest_silence").as("longest_silence"),
            col("q.energy").as("energy"),
            graft.multimodal.AudioWav.deltaFingerprint().as("fp"),
            col("wav_error").as("media_error")),
        "audio")
      val unknown = toMediaFeatureSchema(
        fresh.filter(!png && !grav && !wav)
          .select(col("media_id"),
            lit("unknown-magic").as("media_error")),
        "unknown")
      run.write(images.unionByName(videos).unionByName(audios).unionByName(unknown)
        .repartition(col("modality")), featuresDir, "modality")
    }
  }

  /** OFFLINE compaction for [[incrementalMediaFeaturesSink]]'s tree:
    * folds every batch_run into ONE while PRESERVING the modality
    * partitioning, deduplicating by (media_id, frame_idx) — the
    * write-time anti-join already keeps re-deliveries out, so this is
    * storage reclamation with the same crash discipline as
    * [[compactIndex]]. Run in a maintenance window (sink stopped). */
  def compactMediaFeatures(spark: SparkSession, featuresDir: String): Int =
    foldBatchRuns(spark, featuresDir, "compactMediaFeatures",
      guard = _ => (),
      fold = _.dropDuplicates("media_id", "frame_idx")
        .repartition(col("modality")),
      partitionCols = Seq("modality"))

  /** Per-key funnel progress: the per-stage hit timestamps (ns), with
    * Long.MinValue = stage not reached (Option-free so the product
    * encoder stays flat for the RocksDB state store). */
  case class FunnelState(st: Seq[Long])

  /** Streaming twin of the batch k-stage funnel (Sessions.funnel, q90):
    * per key, maintain the earliest greedy chain of `stages` events
    * ACROSS micro-batches and emit the key's progress whenever it
    * advances. State is exactly k timestamps per key — constant-size
    * regardless of event volume, the property that lets a 100 TB event
    * stream track funnels with a keyspace-sized store.
    *
    * Semantics: each micro-batch's events are sorted by (ts, type) and
    * folded with the SAME greedy step as the batch operator; stage slots
    * only ever fill forward. When events arrive in event-time order
    * across batches (per key), the final state EQUALS the batch funnel
    * over the union — the StreamingSpec parity property. A cross-batch
    * late event can fill a still-empty earlier slot but never retracts a
    * later chain built without it (prefix-monotone approximation; exact
    * late-data replay would need per-key event retention, which is the
    * batch operator's job).
    *
    * Input columns: key (long), ts (epoch-ns long), et (stage name). */
  def funnelUpdates(events: Dataset[(Long, Long, String)],
      stages: Seq[String],
      stateTtl: Option[String] = Some("1 hour")): Dataset[(Long, Int, Seq[Option[Long]])] = {
    require(stages.nonEmpty && stages.size <= 8, "1..8 funnel stages")
    val spark = events.sparkSession
    import spark.implicits._
    val Unset = Long.MinValue
    val timeoutConf = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, (Long, Int, Seq[Option[Long]])](
        OutputMode.Update, timeoutConf) {
        (key: Long, rows: Iterator[(Long, Long, String)], state: GroupState[FunnelState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val st = state.getOption.map(_.st.toArray)
              .getOrElse(Array.fill(stages.size)(Unset))
            val before = st.toSeq
            // same greedy step as the batch fold, batch-sorted by (ts, et)
            rows.map(r => (r._2, r._3)).toSeq.sortBy(identity).foreach {
              case (ts, et) =>
                // first ELIGIBLE slot whose stage name matches — repeated
                // stage names fall through to their next slot, exactly the
                // batch fold's when-cascade
                stages.indices
                  .find(i => stages(i) == et && st(i) == Unset &&
                    (i == 0 || (st(i - 1) != Unset && ts > st(i - 1))))
                  .foreach(i => st(i) = ts)
            }
            if (st.toSeq == before) Iterator.empty
            else {
              state.update(FunnelState(st.toSeq))
              stateTtl.foreach(state.setTimeoutDuration)
              val stage = st.takeWhile(_ != Unset).length
              Iterator.single((key, stage,
                st.toSeq.map(t => if (t == Unset) None else Some(t))))
            }
          }
      }
  }

  case class CusumState(pos: Long, neg: Long, n: Long)

  /** STREAMING mean-shift monitor — Page's CUSUM test (Page, Biometrika
    * 1954) as constant-size keyed state, the online companion to the
    * batch change-point localizer (q113, which finds WHERE a shift was;
    * this fires WHILE one is happening):
    *
    *   S⁺ ← max(0, S⁺ + (y − target − slack))
    *   S⁻ ← max(0, S⁻ + (target − slack − y))    alert when either > h
    *
    * All quantities are e-4 fixed-point longs (the q105/q113 y
    * convention), so the recursion is exact integer arithmetic and the
    * spec replays it in plain Scala for batch parity. Page's statistic is
    * arrival-order-dependent; rows are folded in (ts, y) order within
    * each micro-batch — the funnelUpdates determinism contract — so any
    * ORDER-RESPECTING batch split of the same rows (every batch's rows ≥
    * the previous batch's in (ts, y)) yields the same final state. A
    * late row arriving in a later batch folds after larger timestamps,
    * and the max(0, ·) recursion then yields a genuinely different
    * statistic than the single-batch fold — cross-batch late data
    * changes the alert sequence, exactly as in any online CUSUM. State is
    * three longs per key regardless of stream length; TTL expiry drops
    * idle keys. Emits (key, n, sPos, sNeg, alert) whenever the state
    * moves. */
  def cusumUpdates(points: Dataset[(Long, Long, Long)], targetE4: Long,
      slackE4: Long, thresholdE4: Long,
      stateTtl: Option[String] = Some("1 hour")): Dataset[(Long, Long, Long, Long, Boolean)] = {
    val spark = points.sparkSession
    import spark.implicits._
    val timeoutConf = if (stateTtl.isDefined) GroupStateTimeout.ProcessingTimeTimeout
      else GroupStateTimeout.NoTimeout
    points
      .groupByKey(_._1)
      .flatMapGroupsWithState[CusumState, (Long, Long, Long, Long, Boolean)](
        OutputMode.Update, timeoutConf) {
        (key: Long, rows: Iterator[(Long, Long, Long)], state: GroupState[CusumState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L))
            val before = st
            rows.map(r => (r._2, r._3)).toSeq.sortBy(identity).foreach { case (_, y) =>
              st = CusumState(
                math.max(0L, st.pos + (y - targetE4 - slackE4)),
                math.max(0L, st.neg + (targetE4 - slackE4 - y)),
                st.n + 1)
            }
            if (st == before) Iterator.empty
            else {
              state.update(st)
              stateTtl.foreach(state.setTimeoutDuration)
              Iterator.single((key, st.n, st.pos, st.neg,
                st.pos > thresholdE4 || st.neg > thresholdE4))
            }
          }
      }
  }

  /** Event-time session windows with watermarking — the upgrade over the
    * reference's processing-time SessionWindows (SURVEY.md §4 calls this
    * out as free in Spark). Input: the `events` table shape with ns-Long
    * `ts`. */
  def sessionAggregates(events: DataFrame, gap: String = "500 seconds",
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ets", timestamp_micros(expr("ts div 1000")))
      .withWatermark("ets", watermark)
      .groupBy(session_window(col("ets"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"), col("sum_value"))

  /** Windowed stream-stream equi-join (reference A12: records⋈chunks
    * within ±1 s, KafkaIntelligencePipelineTests.kt:272-275): generic
    * form over two keyed, timestamped streams. */
  def windowedJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, toleranceSec: Int,
      watermark: String = "1 hour"): DataFrame = {
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark)
    l.join(r, l(key) === r(key) &&
      r(rightTs) >= l(leftTs) - expr(s"interval $toleranceSec seconds") &&
      r(rightTs) <= l(leftTs) + expr(s"interval $toleranceSec seconds"))
  }
}
