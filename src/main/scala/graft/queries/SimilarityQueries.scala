package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.ops.Similarity
import graft.multimodal.Multimodal

/** Embedding-similarity + multimodal query surface (north-star Q12). */
object SimilarityQueries {

  /** Exact top-20 cosine neighbours of the vec_id=0 embedding, computed on
    * floor(x*1000) quantized ints so the double cosine is bit-identical to
    * the SQL oracle. Corpus scan is narrow; single-row query side is
    * broadcast; top-k is TakeOrdered (no global sort). */
  def embeddingTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val query = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))
    emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("embedding"), col("q")))
      .select(col("vec_id"), col("label"), col("cosine"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
      .limit(20)
  }

  val embeddingTopKSql: String =
    """WITH q AS (
      |  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id = 0),
      |c AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id <> 0),
      |scored AS (
      |  SELECT c.vec_id, c.label,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM c CROSS JOIN q)
      |SELECT vec_id, label, cosine FROM scored
      |ORDER BY cosine DESC, vec_id ASC
      |LIMIT 20""".stripMargin

  /** Q154 — HARD-NEGATIVE mining (Similarity.hardNegatives), the
    * contrastive-training data-prep verb: for every probe
    * (vec_id % 50 == 0, the bounded broadcast side), the 3 most-similar
    * corpus vectors with a DIFFERENT label, by the exact quantized
    * cosine of the q15 convention. The oracle replays quantization, dot
    * products, the label gate, and the (cosine desc, id) rank per probe
    * — a drifted 4th neighbour or a same-label leak fails the compare. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // the probe set must be BOUNDED (a serving batch), not a corpus
    // fraction: % 50 alone scales probes WITH the corpus and turns the
    // probe x corpus product quadratic — caught by the 10x scale probe
    // (2.1 s -> 17.0 s); the id cap pins probe cardinality at any scale
    Similarity.hardNegatives(emb, "vec_id", "embedding", "label",
        emb.filter(col("vec_id") % 50 === 0 && col("vec_id") < 100000), k = 3)
      .orderBy(col("probe_id"), col("rank"))
  }

  /** Q208 — BINARY-QUANTIZED ANN (Similarity.binaryAnnTopK): 1-bit
    * sign codes packed 32 dims/word (16 bytes/vector — the 16×
    * compression that keeps a 100 TB corpus's code table memory-resident),
    * Hamming prefilter to each probe's 64 nearest codes, exact
    * quantized-cosine rerank to top-10. Probe set is the bounded q154
    * batch. The oracle replays pack → XOR popcount → prefilter cut →
    * vector fetch → rerank bit-for-bit, so a drifted bit in the packing
    * or an off-by-one at the Hamming cut fails the hash compare. */
  def binaryAnn(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Similarity.binaryAnnTopK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000),
        dim = 64, m = 64, k = 10)
      .orderBy(col("probe_id"), col("rank"))
  }

  val binaryAnnSql: String =
    """WITH v AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |codes AS (
      |  SELECT vec_id, qv,
      |    list_transform(range(0, 2), w -> CAST(list_sum(list_transform(range(0, 32),
      |      i -> CASE WHEN qv[w * 32 + i + 1] > 0 THEN (CAST(1 AS BIGINT) << i)
      |                ELSE CAST(0 AS BIGINT) END)) AS BIGINT)) AS code
      |  FROM v),
      |p AS (SELECT vec_id AS probe_id, qv AS pqv, code AS pcode
      |      FROM codes WHERE vec_id % 100 = 0 AND vec_id < 100000),
      |ham AS (
      |  SELECT p.probe_id, c.vec_id,
      |    CAST(list_sum(list_transform(range(1, 3),
      |      w -> bit_count(xor(c.code[w], p.pcode[w])))) AS BIGINT) AS hamming
      |  FROM codes c CROSS JOIN p WHERE c.vec_id <> p.probe_id),
      |pre AS (
      |  SELECT probe_id, vec_id, hamming,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY hamming, vec_id) AS hrank
      |  FROM ham),
      |surv AS (SELECT probe_id, vec_id, hamming FROM pre WHERE hrank <= 64),
      |rr AS (
      |  SELECT s.probe_id, s.vec_id, s.hamming,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> v.qv[i] * v.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> p.pqv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM surv s JOIN v ON v.vec_id = s.vec_id JOIN p ON p.probe_id = s.probe_id),
      |rk AS (
      |  SELECT probe_id, vec_id, hamming, cosine,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, vec_id) AS rank
      |  FROM rr)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, vec_id, hamming, cosine
      |FROM rk WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin

  /** Q209 — MATRYOSHKA DIMENSION-TRUNCATION recall curve (Kusupati 2022
    * MRL / adaptive-retrieval posture): exact top-10 per probe using only
    * the first d ∈ {8,16,32,64} dimensions, scored against the full-dim
    * top-10 — recall@10 per truncation width. At 100 TB, retrieving at
    * d=16 and reranking at d=64 cuts the scan bandwidth 4×; this query
    * measures exactly what that costs in recall, the number a capacity
    * plan needs before committing to truncated serving. Integer-exact
    * prefix cosines with (cosine, id) tie-breaks: the oracle replays all
    * four ranking passes and the overlap join. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val dims = Seq(8, 16, 32, 64)
    val emb = Tables.embeddings(spark, dir)
    val corpus = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("__qv"))
    val probes = broadcast(
      emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 100000)
        .select(col("vec_id").as("probe_id"),
          Similarity.quantize(col("embedding")).as("__pqv")))
    // ONE corpus×probes pass, SORT-FREE: the PrefixTopKAgg aggregate
    // fuses the prefix-cosine kernel (running integer partials snapshot
    // all four truncation cosines — 64 element-multiplies per pair, not
    // 120 over four sliced passes) with per-(probe, width) bounded top-10
    // heaps under ObjectHashAggregate. The exploded-rows + window shape
    // this replaces had to locally SORT corpus×probes×4 rows under
    // WindowGroupLimit before any pruning — 17 of its 20 s at the 50×
    // probe; here map-side partials shuffle only |probes| buffers and
    // nothing is ever sorted. Heap ordering (cosine DESC, vec_id ASC,
    // Spark double semantics) makes the member sets bit-identical to the
    // window's row_number — spec-pinned against the sliced kernel.
    val all = corpus.crossJoin(probes)
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy(col("probe_id"))
      .agg(graft.functions.NativeExpressions.prefixTopK(
        col("__qv"), col("__pqv"), col("vec_id"), dims, 10).as("__tk"))
      .select(col("probe_id"), explode(col("__tk")).as("__e"))
      .select(col("__e.trunc_dim").as("trunc_dim"), col("probe_id"),
        col("__e.vec_id").as("vec_id"))
      // materialize once: the d=64 slice below doubles as the truth set
      .localCheckpoint(true)
    val full = all.filter(col("trunc_dim") === 64L)
      .select(col("probe_id"), col("vec_id"))
      .withColumn("__hit", lit(1L))
    all.join(full, Seq("probe_id", "vec_id"), "left")
      .groupBy(col("trunc_dim"))
      .agg(count_distinct(col("probe_id")).as("n_probes"),
        sum(coalesce(col("__hit"), lit(0L))).as("hits"))
      .withColumn("recall_at_10",
        round(col("hits").cast("double") / (col("n_probes") * 10), 4))
      .select(col("trunc_dim"), col("n_probes"), col("hits"), col("recall_at_10"))
      .orderBy(col("trunc_dim"))
  }

  val matryoshkaRecallSql: String = {
    val dims = Seq(8, 16, 32, 64)
    val rankCtes = dims.map { d =>
      s"""rank_d$d AS (
         |  SELECT probe_id, vec_id FROM (
         |    SELECT p.probe_id, c.vec_id,
         |      row_number() OVER (PARTITION BY p.probe_id ORDER BY
         |        CAST(CAST(list_sum(list_transform(range(1, ${d + 1}), i -> c.qv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE) /
         |        (sqrt(CAST(CAST(list_sum(list_transform(range(1, ${d + 1}), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
         |         sqrt(CAST(CAST(list_sum(list_transform(range(1, ${d + 1}), i -> p.pqv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE))) DESC,
         |        c.vec_id) AS r
         |    FROM v c CROSS JOIN p WHERE c.vec_id <> p.probe_id)
         |  WHERE r <= 10)""".stripMargin
    }.mkString(",\n")
    val unionAll = dims.map(d =>
      s"SELECT CAST($d AS BIGINT) AS trunc_dim, probe_id, vec_id FROM rank_d$d")
      .mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |p AS (SELECT vec_id AS probe_id, qv AS pqv FROM v
       |      WHERE vec_id % 100 = 0 AND vec_id < 100000),
       |$rankCtes,
       |all_trunc AS (
       |  $unionAll)
       |SELECT a.trunc_dim, CAST(count(DISTINCT a.probe_id) AS BIGINT) AS n_probes,
       |  CAST(count(f.vec_id) AS BIGINT) AS hits,
       |  round(CAST(count(f.vec_id) AS DOUBLE) / (count(DISTINCT a.probe_id) * 10), 4) AS recall_at_10
       |FROM all_trunc a LEFT JOIN rank_d64 f
       |  ON f.probe_id = a.probe_id AND f.vec_id = a.vec_id
       |GROUP BY a.trunc_dim ORDER BY a.trunc_dim""".stripMargin
  }

  val hardNegativesSql: String =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |p AS (SELECT vec_id AS probe_id, label AS pl, qv AS pqv
      |      FROM v WHERE vec_id % 50 = 0 AND vec_id < 100000),
      |scored AS (
      |  SELECT p.probe_id, c.vec_id AS neg_id, c.label,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> p.pqv[i] * p.pqv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM v c CROSS JOIN p
      |  WHERE c.vec_id <> p.probe_id AND c.label <> p.pl),
      |rk AS (
      |  SELECT probe_id, neg_id, label, cosine,
      |    row_number() OVER (PARTITION BY probe_id ORDER BY cosine DESC, neg_id) AS rank
      |  FROM scored)
      |SELECT probe_id, CAST(rank AS BIGINT) AS rank, neg_id, label, cosine
      |FROM rk WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  /** Multi-table sign-projection-LSH candidate pairs with quantized-cosine
    * scoring — the ANN scale path. Rademacher planes are md5-derived and
    * projections integer-exact (NativeExpressions.RademacherSigs), so the
    * DuckDB oracle replays the ENTIRE pipeline — signatures, bucket cap,
    * candidate join, verification — bit-for-bit in SQL. Recall vs true
    * neighbours additionally asserted in DedupSimilaritySpec. */
  def annLshPairs(spark: SparkSession, dir: String): DataFrame =
    Similarity.lshNearDupPairs(Tables.embeddings(spark, dir),
      "vec_id", "embedding", dim = 64, planes = 8, tables = 12,
      cosineThreshold = 0.3, maxDegree = 4)
      .orderBy(col("id_a"), col("id_b"))

  /** SQL replay of lshNearDupPairs(planes=8, tables=12, maxBucket=5000,
    * threshold=0.3, maxDegree=4): quantize → ±1-projection signs → packed
    * signatures → oversized-bucket drop → any-table collision pairs →
    * quantized cosine → per-node top-4 union cap (a pair survives if it
    * is among the 4 strongest of EITHER endpoint — replayed with a
    * symmetrize + deterministic row_number window). The CTE chain is
    * shared with q80's cluster closure. */
  private[queries] val lshPairCtes: String =
    """c AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |planes AS (
      |  SELECT t.t, p.p, list(
      |      CASE WHEN CAST('0x' || substring(md5(concat(t.t, ':', p.p, ':', d.d)), 1, 1) AS BIGINT) % 2 = 1
      |           THEN 1 ELSE -1 END ORDER BY d.d) AS sv
      |  FROM range(0, 12) t(t), range(0, 8) p(p), range(0, 64) d(d)
      |  GROUP BY t.t, p.p),
      |sigs AS (
      |  SELECT c.id, pl.t,
      |    CAST(SUM(CASE WHEN CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * pl.sv[i])) AS BIGINT) > 0
      |             THEN (CAST(1 AS BIGINT) << pl.p) ELSE 0 END) AS BIGINT) AS sig
      |  FROM c CROSS JOIN planes pl
      |  GROUP BY c.id, pl.t),
      |big AS (SELECT t, sig FROM sigs GROUP BY t, sig HAVING count(*) > 5000),
      |kept AS (SELECT s.id, s.t, s.sig FROM sigs s LEFT JOIN big b USING (t, sig) WHERE b.t IS NULL),
      |cand AS (
      |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
      |  FROM kept a JOIN kept b USING (t, sig)
      |  WHERE a.id < b.id),
      |scored AS (
      |  SELECT cand.id_a, cand.id_b,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * cb.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> ca.qv[i] * ca.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> cb.qv[i] * cb.qv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM cand JOIN c ca ON ca.id = cand.id_a JOIN c cb ON cb.id = cand.id_b),
      |thresh AS (SELECT id_a, id_b, cosine FROM scored WHERE cosine >= 0.3),
      |sym AS (
      |  SELECT id_a AS node, id_b AS other, cosine FROM thresh
      |  UNION ALL SELECT id_b AS node, id_a AS other, cosine FROM thresh),
      |rk AS (
      |  SELECT node, other, cosine,
      |    row_number() OVER (PARTITION BY node ORDER BY cosine DESC, other) AS r
      |  FROM sym),
      |lshpairs AS (
      |  SELECT DISTINCT LEAST(node, other) AS id_a, GREATEST(node, other) AS id_b, cosine
      |  FROM rk WHERE r <= 4)""".stripMargin

  val annLshPairsSql: String =
    s"WITH $lshPairCtes\nSELECT id_a, id_b, cosine FROM lshpairs ORDER BY id_a, id_b"

  /** Multimodal plumbing end-to-end: binary payload column + typed
    * metadata through the partition-batched (stub-decoded) feature
    * extractor. Oracle covers the engine-independent columns. */
  def multimodalFeatures(spark: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.syntheticMediaFrom(
      Tables.documents(spark, dir), "doc_id", "text")
    Multimodal.extractFeatures(spark, media, Multimodal.DeterministicFakeDecoder)
      .toDF()
      .select(col("media_id"), col("mime"), col("n_bytes"))
      .orderBy(col("media_id"))
  }

  val multimodalFeaturesSql: String =
    """SELECT doc_id AS media_id, 'text/plain' AS mime,
      |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes
      |FROM documents ORDER BY media_id""".stripMargin

  /** Q73 — REAL image codec round-trip (Multimodal.ImageCodec, JDK
    * javax.imageio): one 8×8 PNG per document, pixel channels closed-form
    * in (id, x, y); ENCODED with the real PNG writer on executors,
    * DECODED with the real PNG reader, per-channel pixel sums emitted as
    * exact integers. The oracle computes the same sums from the formula
    * alone — if the codec path corrupted a single pixel anywhere, the
    * hash compare fails. This moves image decode / feature-extract out of
    * the stub tier: only exotic codecs (video/audio) remain pluggable. */
  def imageDecode(spark: SparkSession, dir: String): DataFrame =
    // the channel-sum projection of the decode-once doc-image feature
    // artifact (MediaArtifacts) — q73 and q186 share the single decode
    MediaArtifacts.imageDocFeatures(spark, dir)
      .select(col("media_id"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("media_id"))

  val imageDecodeSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
      |  CAST(SUM(((doc_id % 1009) * 31 + x.x * 7 + y.y * 13) % 256) AS BIGINT) AS sum_r,
      |  CAST(SUM(((doc_id % 1013) * 17 + x.x * 11 + y.y * 3) % 256) AS BIGINT) AS sum_g,
      |  CAST(SUM(((doc_id % 997) * 23 + x.x * 5 + y.y * 19) % 256) AS BIGINT) AS sum_b
      |FROM documents, range(0, 8) x(x), range(0, 8) y(y)
      |GROUP BY doc_id ORDER BY media_id""".stripMargin

  /** Q76 — Tika-shaped content-type detection (multimodal.MimeDetect):
    * a mixed corpus (PNG / WAV / GRFT / ZIP-docx / PDF / GRAV video /
    * plain text by doc_id mod 7) is sniffed by magic bytes and each
    * format's HEADER parsed columnar — PNG dims from IHDR, WAV
    * rate/duration from RIFF, GRFT version/length, ZIP entry count from
    * the end-of-central-directory tail, PDF version digits after the
    * %PDF- magic, GRAV frame count + duration from its big-endian
    * header. The oracle recomputes every field from the generators'
    * closed forms — the ZIP archive is STORED-entry and the PDF layout
    * fixed-width, so even their total byte sizes are the exact
    * constant-plus-text-length the oracle replays (PNG and GRAV byte
    * sizes are the encoder-specific values, nulled on both sides). This
    * is the B2 detect+parse capability with real formats — two
    * real-world document formats and a frame-indexed AV container, not
    * a stand-in. */
  def mimeDetect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // spread before the per-row encoders: PNG deflate + container
    // assembly is CPU-dense and the compact documents scan arrives in
    // 1-2 splits, serializing the whole encode onto as many tasks
    // (guide §2.5 input-skew family; conditional — corpus-scale inputs
    // pass through exchange-free)
    val mixed = graft.ops.Dedup.spread(Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val content = (id % 7) match {
          case 0 => Multimodal.ImageCodec.syntheticPng(id)
          case 1 => graft.multimodal.AudioWav.syntheticWav(id)
          case 2 => graft.pipeline.BinaryDocs.encode(text)
          case 3 => graft.pipeline.ZipDocs.encode(text)
          case 4 => graft.pipeline.PdfDocs.encode(text)
          case 5 => graft.multimodal.VideoCodec.syntheticVideo(id)
          case _ => text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        }
        (id, content)
      })
      .toDF("media_id", "content")
    graft.multimodal.MimeDetect.detected(mixed)
      .select(col("media_id"), col("mime"),
        when(col("mime") =!= "image/png" && col("mime") =!= "video/x-grav",
          col("n_bytes")).as("n_bytes"),
        col("width"), col("height"), col("sample_rate"), col("duration_ms"),
        col("version"), col("payload_bytes"), col("zip_entries"), col("pdf_version"),
        col("video_frames"), col("video_duration_ms"))
      .orderBy(col("media_id"))
  }

  val mimeDetectSql: String =
    s"""SELECT doc_id AS media_id,
      |  CASE doc_id % 7 WHEN 0 THEN 'image/png' WHEN 1 THEN 'audio/wav'
      |       WHEN 2 THEN 'application/x-grft' WHEN 3 THEN 'application/zip'
      |       WHEN 4 THEN 'application/pdf' WHEN 5 THEN 'video/x-grav'
      |       ELSE 'text/plain' END AS mime,
      |  CASE doc_id % 7
      |       WHEN 0 THEN NULL
      |       WHEN 1 THEN 44 + 2 * (32 + doc_id % 32)
      |       WHEN 2 THEN octet_length(CAST(text AS BLOB)) + 13
      |       WHEN 3 THEN octet_length(CAST(text AS BLOB)) + ${graft.pipeline.ZipDocs.fixedOverheadBytes}
      |       WHEN 4 THEN octet_length(CAST(text AS BLOB)) + ${graft.pipeline.PdfDocs.fixedOverheadBytes}
      |       WHEN 5 THEN NULL
      |       ELSE octet_length(CAST(text AS BLOB)) END AS n_bytes,
      |  CASE WHEN doc_id % 7 = 0 THEN 8 END AS width,
      |  CASE WHEN doc_id % 7 = 0 THEN 8 END AS height,
      |  CASE WHEN doc_id % 7 = 1 THEN 8000 END AS sample_rate,
      |  CASE WHEN doc_id % 7 = 1 THEN (32 + doc_id % 32) * 1000 // 8000 END AS duration_ms,
      |  CASE WHEN doc_id % 7 = 2 THEN 1 END AS version,
      |  CASE WHEN doc_id % 7 = 2 THEN octet_length(CAST(text AS BLOB)) END AS payload_bytes,
      |  CASE WHEN doc_id % 7 = 3 THEN CAST(3 AS BIGINT) END AS zip_entries,
      |  CASE WHEN doc_id % 7 = 4 THEN '1.4' END AS pdf_version,
      |  CASE WHEN doc_id % 7 = 5 THEN CAST(4 + doc_id % 4 AS BIGINT) END AS video_frames,
      |  CASE WHEN doc_id % 7 = 5 THEN CAST((4 + doc_id % 4) * 100 AS BIGINT) END AS video_duration_ms
      |FROM documents ORDER BY media_id""".stripMargin

  /** Q89 — REAL video-container frame sampling + decode
    * (multimodal.VideoCodec): one GRAV container per document — 4-7
    * genuine PNG frames behind an (offset, length) index and a payload
    * CRC32 — with every 50th container payload-corrupted. The kernel
    * seeks the index, slices every 2nd frame WITHOUT touching the rest,
    * decodes through the JDK PNG codec, and emits integer-exact channel
    * sums per sampled frame; corrupt containers isolate as ONE
    * `bad-grav` row (A19). The oracle replays the frame-id closed form,
    * the stride, and which containers are corrupt — a wrong index
    * offset, CRC slip, or off-by-one in the stride fails the hash. */
  def videoFrames(spark: SparkSession, dir: String): DataFrame =
    // stride-2 sampling as an exact filter+projection of the decode-once
    // frame-feature artifact (sampleFrames walks 0, 2, 4, …; error rows
    // pass through) — the container walk happens once per CORPUS, not
    // once per query (MediaArtifacts)
    MediaArtifacts.videoDocFrames(spark, dir)
      .filter(col("video_error").isNotNull || col("frame_idx") % 2 === 0)
      .select(col("media_id"), col("frame_idx"), col("width"), col("height"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("video_error"))
      .orderBy(col("media_id"), col("frame_idx"))

  val videoFramesSql: String =
    """WITH vids AS (SELECT doc_id AS media_id, 4 + doc_id % 4 AS n FROM documents),
      |f AS (
      |  SELECT media_id, i.i AS frame_idx, media_id * 100 + i.i AS fid
      |  FROM (SELECT * FROM vids WHERE media_id % 50 <> 0), range(0, 8) i(i)
      |  WHERE i.i < n AND i.i % 2 = 0),
      |sums AS (
      |  SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
      |    CAST(8 AS INTEGER) AS width, CAST(8 AS INTEGER) AS height,
      |    CAST(SUM(((fid % 1009) * 31 + x.x * 7 + y.y * 13) % 256) AS BIGINT) AS sum_r,
      |    CAST(SUM(((fid % 1013) * 17 + x.x * 11 + y.y * 3) % 256) AS BIGINT) AS sum_g,
      |    CAST(SUM(((fid % 997) * 23 + x.x * 5 + y.y * 19) % 256) AS BIGINT) AS sum_b,
      |    CAST(NULL AS VARCHAR) AS video_error
      |  FROM f, range(0, 8) x(x), range(0, 8) y(y)
      |  GROUP BY media_id, frame_idx, fid)
      |SELECT * FROM sums
      |UNION ALL
      |SELECT media_id, CAST(NULL AS BIGINT), CAST(NULL AS INTEGER),
      |  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
      |  CAST(NULL AS BIGINT), 'bad-grav'
      |FROM vids WHERE media_id % 50 = 0
      |ORDER BY media_id, frame_idx""".stripMargin

  /** Q74 — REAL audio decode, fully columnar (multimodal.AudioWav): one
    * PCM mono 16-bit WAV clip per document (canonical RIFF writer on
    * executors), then the DECODE side runs as pure Spark expressions —
    * header magics/format validated, sample rate and length extracted
    * from the little-endian fields, and per-sample |s| sum/peak folded
    * over the data section. The oracle recomputes everything from the
    * closed-form sample formula, so one wrong byte offset, endianness
    * slip, or sign error anywhere fails the hash gate. */
  def audioDecode(spark: SparkSession, dir: String): DataFrame = {
    // a projection of the decode-once doc-audio feature artifact
    // (MediaArtifacts) — q74 and q119 previously each re-synthesized and
    // re-parsed every WAV
    MediaArtifacts.audioDocFeatures(spark, dir)
      .select(col("media_id"), col("sample_rate"), col("n_samples"),
        col("duration_ms"), col("sum_abs"), col("peak_abs"))
      .orderBy(col("media_id"))
  }

  val audioDecodeSql: String =
    """WITH clips AS (
      |  SELECT doc_id AS media_id, 32 + doc_id % 32 AS n FROM documents),
      |s AS (
      |  SELECT media_id, n, abs((media_id * 97 + i.i * 31) % 2048 - 1024) AS a
      |  FROM clips, range(0, 64) i(i) WHERE i.i < n)
      |SELECT media_id,
      |  CAST(8000 AS BIGINT) AS sample_rate,
      |  CAST(MAX(n) AS BIGINT) AS n_samples,
      |  CAST(MAX(n) * 1000 // 8000 AS BIGINT) AS duration_ms,
      |  CAST(SUM(a) AS BIGINT) AS sum_abs,
      |  CAST(MAX(a) AS BIGINT) AS peak_abs
      |FROM s GROUP BY media_id ORDER BY media_id""".stripMargin

  /** Q121 — ANN retrieval EVALUATION (the q120 move for the similarity
    * stack: index → query → MEASURE): for each of the four q79 probe
    * vectors, rank the corpus by exact quantized cosine and score the
    * ranking against label relevance (candidate.label == probe.label) —
    * reciprocal rank of the first relevant hit as `1e6 div rank` and
    * precision@10 in permille, both exact integers. Top-100 cut per
    * probe bounds the window; the broadcast probe set keeps the corpus
    * un-shuffled (the q79 serving posture, one scan for all probes). */
  def annEval(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val probes = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("probe_id"), col("embedding").as("q"),
        col("label").as("probe_label"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    emb.crossJoin(broadcast(probes))
      .filter(col("vec_id") =!= col("probe_id"))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("embedding"), col("q")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 100)
      .withColumn("rel", (col("label") === col("probe_label")).cast("long"))
      .groupBy(col("probe_id"), col("probe_label"))
      .agg(
        min(when(col("rel") === 1, col("rank"))).cast("long").as("first_rel_rank"),
        sum(when(col("rank") <= 10, col("rel")).otherwise(0L)).as("rel_at_10"))
      .withColumn("rr_e6", expr("1000000 div first_rel_rank"))
      .withColumn("p_at_10_permille", expr("rel_at_10 * 100"))
      .orderBy(col("probe_id"))
  }

  val annEvalSql: String =
    """WITH p AS (
      |  SELECT vec_id AS probe_id, label AS probe_label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 4),
      |c AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |scored AS (
      |  SELECT p.probe_id, p.probe_label, c.vec_id, c.label,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * p.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> p.qv[i] * p.qv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM c CROSS JOIN p WHERE c.vec_id <> p.probe_id),
      |rk AS (
      |  SELECT probe_id, probe_label, vec_id, label, cosine,
      |    row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, vec_id ASC) AS rank
      |  FROM scored),
      |top AS (SELECT * FROM rk WHERE rank <= 100),
      |agg AS (
      |  SELECT probe_id, probe_label,
      |    CAST(MIN(CASE WHEN label = probe_label THEN rank END) AS BIGINT) AS first_rel_rank,
      |    CAST(SUM(CASE WHEN rank <= 10 AND label = probe_label THEN 1 ELSE 0 END) AS BIGINT) AS rel_at_10
      |  FROM top GROUP BY 1, 2)
      |SELECT probe_id, probe_label, first_rel_rank, rel_at_10,
      |  CAST(1000000 // first_rel_rank AS BIGINT) AS rr_e6,
      |  CAST(rel_at_10 * 100 AS BIGINT) AS p_at_10_permille
      |FROM agg ORDER BY probe_id""".stripMargin

  /** Q119 — audio QC gating (NativeExpressions.WavQcStats): the
    * corpus-hygiene pass over the synthetic WAV clips — clipping census
    * (|s| ≥ 1000), the longest dead-air run (|s| < 50), and exact
    * energy Σ|s|², all in one byte-level kernel pass per clip. The
    * oracle regenerates every sample closed-form from the q74 clip
    * formula and replays the longest run with the gaps-and-islands
    * window construction — the kernel's sequential run counter against
    * an independent relational formulation. */
  def audioQc(spark: SparkSession, dir: String): DataFrame =
    // the QC projection of the same decode-once doc-audio artifact as q74
    MediaArtifacts.audioDocFeatures(spark, dir)
      .select(col("media_id"), col("qc_n_samples").as("n_samples"),
        col("n_clipped"), col("longest_silence"), col("energy"))
      .orderBy(col("media_id"))

  val audioQcSql: String =
    """WITH clips AS (
      |  SELECT doc_id AS media_id, 32 + doc_id % 32 AS n FROM documents),
      |s AS (
      |  SELECT media_id, i.i AS i,
      |    abs((media_id * 97 + i.i * 31) % 2048 - 1024) AS a
      |  FROM clips, range(0, 64) i(i) WHERE i.i < n),
      |sil AS (
      |  SELECT media_id, i,
      |    i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS grp
      |  FROM s WHERE a < 50),
      |runs AS (
      |  SELECT media_id, CAST(COUNT(*) AS BIGINT) AS run
      |  FROM sil GROUP BY media_id, grp),
      |longest AS (
      |  SELECT media_id, MAX(run) AS longest_silence FROM runs GROUP BY media_id)
      |SELECT s.media_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_samples,
      |  CAST(SUM(CASE WHEN a >= 1000 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
      |  CAST(COALESCE(MAX(l.longest_silence), 0) AS BIGINT) AS longest_silence,
      |  CAST(SUM(a * a) AS BIGINT) AS energy
      |FROM s LEFT JOIN longest l USING (media_id)
      |GROUP BY s.media_id ORDER BY s.media_id""".stripMargin

  /** IVF-flat approximate top-k, INTEGER-EXACT build (Similarity.ivfExact*):
    * 8 md5-seeded cells, one Lloyd iteration with sum-centroids (cosine is
    * scale-invariant ⇒ sum ≡ mean, and integer sums are engine-exact),
    * 3-cell probe for the vec_id=0 query — the partition-pruning ANN scale
    * path (index stored partitioned by cell ⇒ scan touches nProbe/cells of
    * the corpus). The DuckDB oracle replays the ENTIRE index build —
    * seeding, assignment, Lloyd update, probe, ranking — bit-for-bit.
    * (Its recall against exact top-k is asserted in DedupSimilaritySpec.) */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val qvecs = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val index = Similarity.ivfExactAssign(qvecs, cents)
    val q = qvecs.filter(col("id") === 0).select(col("qv").as("q"))
    Similarity.ivfExactTopK(index.filter(col("id") =!= 0), cents, q, k = 20, nProbe = 3)
      .orderBy(col("cosine").desc, col("id").asc)
  }

  /** SQL replay of the integer-exact IVF: quantize → md5-ordered seeds →
    * argmax-cosine assignment (ties to lowest cell) → per-cell component
    * sums → re-assignment → probe top-3 cells → exact cosine ranking. */
  val ivfTopKSql: String = {
    def cos(a: String, b: String): String =
      s"""CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE) /
         |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])) AS BIGINT) AS DOUBLE)) *
         |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])) AS BIGINT) AS DOUBLE)))""".stripMargin
    s"""WITH c AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |seeds AS (
       |  SELECT id AS cell, qv AS cv FROM c
       |  ORDER BY CAST('0x'||substring(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT) ASC, id ASC
       |  LIMIT 8),
       |a1 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "s.cv")} DESC, s.cell ASC) AS rn
       |    FROM c CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sums AS (
       |  SELECT a1.cell, r.d, CAST(sum(c.qv[r.d + 1]) AS BIGINT) AS sc
       |  FROM a1 JOIN c USING (id) CROSS JOIN range(0, 64) r(d)
       |  GROUP BY a1.cell, r.d),
       |cents1 AS (SELECT cell, list(sc ORDER BY d) AS sv FROM sums GROUP BY cell),
       |cents AS (
       |  SELECT s.cell, coalesce(c1.sv, s.cv) AS cv
       |  FROM seeds s LEFT JOIN cents1 c1 USING (cell)),
       |a2 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "ct.cv")} DESC, ct.cell ASC) AS rn
       |    FROM c CROSS JOIN cents ct)
       |  WHERE rn = 1),
       |q AS (SELECT qv FROM c WHERE id = 0),
       |probe AS (
       |  SELECT cell FROM (
       |    SELECT ct.cell,
       |      ROW_NUMBER() OVER (ORDER BY ${cos("ct.cv", "q.qv")} DESC, ct.cell ASC) AS rn
       |    FROM cents ct CROSS JOIN q)
       |  WHERE rn <= 3)
       |SELECT id, ${cos("c.qv", "q.qv")} AS cosine
       |FROM a2 JOIN probe USING (cell) JOIN c USING (id) CROSS JOIN q
       |WHERE id <> 0
       |ORDER BY cosine DESC, id ASC
       |LIMIT 20""".stripMargin
  }

  /** Q79 — BATCHED IVF probe (Similarity.ivfExactTopKMany): four query
    * vectors against the shared integer-exact IVF index in ONE job — the
    * ANN serving shape (a query batch, not a query loop). The probe set
    * broadcasts onto the index, both rankings are per-query
    * WindowGroupLimits, and the oracle replays the entire batch
    * (assignment → per-query probe → per-query exact ranking) — wrong
    * cell pruning, a cross-query leak, or a tie mis-break anywhere fails
    * the hash gate. Self-matches rank first (cosine 1.0) by design. */
  def ivfTopKBatch(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val qvecs = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val index = Similarity.ivfExactAssign(qvecs, cents)
    val queries = qvecs.filter(col("id") < 4)
      .select(col("id").as("query_id"), col("qv").as("q"))
    Similarity.ivfExactTopKMany(index, cents, queries, k = 10, nProbe = 3)
      .orderBy(col("query_id"), col("rank"))
  }

  val ivfTopKBatchSql: String = {
    def cos(a: String, b: String): String =
      s"""CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE) /
         |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])) AS BIGINT) AS DOUBLE)) *
         |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])) AS BIGINT) AS DOUBLE)))""".stripMargin
    s"""WITH c AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |seeds AS (
       |  SELECT id AS cell, qv AS cv FROM c
       |  ORDER BY CAST('0x'||substring(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT) ASC, id ASC
       |  LIMIT 8),
       |a1 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "s.cv")} DESC, s.cell ASC) AS rn
       |    FROM c CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sums AS (
       |  SELECT a1.cell, r.d, CAST(sum(c.qv[r.d + 1]) AS BIGINT) AS sc
       |  FROM a1 JOIN c USING (id) CROSS JOIN range(0, 64) r(d)
       |  GROUP BY a1.cell, r.d),
       |cents1 AS (SELECT cell, list(sc ORDER BY d) AS sv FROM sums GROUP BY cell),
       |cents AS (
       |  SELECT s.cell, coalesce(c1.sv, s.cv) AS cv
       |  FROM seeds s LEFT JOIN cents1 c1 USING (cell)),
       |a2 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "ct.cv")} DESC, ct.cell ASC) AS rn
       |    FROM c CROSS JOIN cents ct)
       |  WHERE rn = 1),
       |qs AS (SELECT id AS query_id, qv AS q FROM c WHERE id < 4),
       |probe AS (
       |  SELECT query_id, q, cell FROM (
       |    SELECT qs.query_id, qs.q, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |        ${cos("ct.cv", "qs.q")} DESC, ct.cell ASC) AS rn
       |    FROM cents ct CROSS JOIN qs)
       |  WHERE rn <= 3),
       |cand AS (
       |  SELECT p.query_id, a2.id, ${cos("c.qv", "p.q")} AS cosine
       |  FROM a2 JOIN probe p USING (cell) JOIN c ON c.id = a2.id)
       |SELECT query_id, id, cosine, CAST(rn AS INTEGER) AS rank FROM (
       |  SELECT query_id, id, cosine,
       |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, id ASC) AS rn
       |  FROM cand)
       |WHERE rn <= 10
       |ORDER BY query_id, rank""".stripMargin
  }

  /** Q80 — embedding duplicate clusters: connected components over the
    * degree-capped LSH pair set (q15b's edges) — the embedding-side twin
    * of q33's text dup clusters, and the composition a 100 TB curation
    * run executes (near-dup vectors → one canonical per cluster). The
    * oracle replays pair generation AND the transitive closure with a
    * recursive CTE, so the capped edge set and the fixpoint labels must
    * both be exact. */
  def embeddingClusters(spark: SparkSession, dir: String): DataFrame = {
    // labels READ from the shared cluster artifact — built once per
    // corpus (graft.queries.ClusterArtifacts), consumed by q80/q98/q136/q138
    val labels = graft.queries.ClusterArtifacts.embeddingLabels(spark, dir)
    val sizes = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, Seq("cluster_id"))
      .select(col("id").as("vec_id"), col("cluster_id"), col("cluster_size"))
      .orderBy(col("vec_id"))
  }

  val embeddingClustersSql: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM lshpairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM lshpairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, r.r AS r FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id)
       |SELECT l.id AS vec_id, l.cluster_id, z.n AS cluster_size
       |FROM labels l JOIN (SELECT cluster_id, COUNT(*) AS n FROM labels
       |                    GROUP BY cluster_id) z ON l.cluster_id = z.cluster_id
       |ORDER BY vec_id""".stripMargin

  /** Q98 — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): within
    * each q80 embedding cluster, keep the canonical representative
    * (min id) and drop every member whose quantized cosine to it
    * reaches the threshold — semantically-redundant-but-not-identical
    * items document-level dedup can't see. Composition of the audited
    * pieces: capped LSH pairs → connected components → one broadcast-
    * sized representative table → per-member integer-quantized cosine
    * (bit-identical across engines). The oracle replays pair
    * generation, the transitive closure, representative election, and
    * every cosine. */
  /** Q163 — D4 PROTOTYPE PRUNING (Tirumala et al. 2023, "D4: Improving
    * LLM Pretraining via Document De-Duplication and Diversification"):
    * SemDeDup (q98) removes semantic near-duplicates; D4's second stage
    * then prunes each k-means cluster's most PROTOTYPICAL points — the
    * items closest to their own centroid carry the least marginal
    * information, and dropping them diversifies what the model trains
    * on. Reuses the q15c integer-exact IVF build verbatim (md5-seeded
    * cells, one Lloyd step with sum-centroids, argmax-cosine
    * assignment), so index build and selection share one artifact the
    * way the paper's pipeline does. Per vector: exact cosine to its OWN
    * centroid, prototypicality rank within its cell (a CELL-partitioned
    * window — no global sort; cells are the IVF partitioning, so at
    * 100 TB the rank runs inside each index partition), and
    * keep = rank past the top quarter of the cell (exact integer floor
    * division). Output is the per-vector decision artifact, q160-style:
    * every vector exactly once with its verdict. */
  def d4Pruning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val qvecs = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val index = Similarity.ivfExactAssign(qvecs, cents)
    val withCos = index
      .join(broadcast(cents), Seq("cell"))
      .withColumn("proto_cosine",
        graft.functions.NativeExpressions.longCosine(col("qv"), col("cv")))
    val sizes = withCos.groupBy(col("cell")).agg(count(lit(1)).as("n_cell"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("proto_cosine").desc, col("id").asc)
    withCos
      .withColumn("proto_rank", row_number().over(w).cast("long"))
      .join(broadcast(sizes), Seq("cell"))
      .select(col("id").as("vec_id"), col("cell"), col("proto_cosine"),
        col("proto_rank"), expr("proto_rank > n_cell div 4").as("keep"))
      .orderBy(col("vec_id"))
  }

  val d4PruningSql: String = {
    def cos(a: String, b: String): String =
      s"""CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE) /
         |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])) AS BIGINT) AS DOUBLE)) *
         |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])) AS BIGINT) AS DOUBLE)))""".stripMargin
    s"""WITH c AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |seeds AS (
       |  SELECT id AS cell, qv AS cv FROM c
       |  ORDER BY CAST('0x'||substring(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT) ASC, id ASC
       |  LIMIT 8),
       |a1 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "s.cv")} DESC, s.cell ASC) AS rn
       |    FROM c CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sums AS (
       |  SELECT a1.cell, r.d, CAST(sum(c.qv[r.d + 1]) AS BIGINT) AS sc
       |  FROM a1 JOIN c USING (id) CROSS JOIN range(0, 64) r(d)
       |  GROUP BY a1.cell, r.d),
       |cents1 AS (SELECT cell, list(sc ORDER BY d) AS sv FROM sums GROUP BY cell),
       |cents AS (
       |  SELECT s.cell, coalesce(c1.sv, s.cv) AS cv
       |  FROM seeds s LEFT JOIN cents1 c1 USING (cell)),
       |a2 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "ct.cv")} DESC, ct.cell ASC) AS rn
       |    FROM c CROSS JOIN cents ct)
       |  WHERE rn = 1),
       |sizes AS (SELECT cell, COUNT(*) AS n_cell FROM a2 GROUP BY cell),
       |r AS (
       |  SELECT a2.id, a2.cell, ${cos("c.qv", "ct.cv")} AS proto_cosine
       |  FROM a2 JOIN c USING (id) JOIN cents ct ON ct.cell = a2.cell),
       |rk AS (
       |  SELECT id, cell, proto_cosine,
       |    ROW_NUMBER() OVER (PARTITION BY cell
       |      ORDER BY proto_cosine DESC, id ASC) AS proto_rank
       |  FROM r)
       |SELECT rk.id AS vec_id, rk.cell, proto_cosine,
       |  CAST(proto_rank AS BIGINT) AS proto_rank,
       |  proto_rank > n_cell // 4 AS keep
       |FROM rk JOIN sizes USING (cell)
       |ORDER BY vec_id""".stripMargin
  }

  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val labels = graft.queries.ClusterArtifacts.embeddingLabels(spark, dir)
    // representatives are one row per cluster — broadcastable at any scale
    val reps = labels.groupBy(col("cluster_id")).agg(min(col("id")).as("rep_id"))
    val v = emb.select(col("vec_id"), col("embedding"))
    labels.join(broadcast(reps), Seq("cluster_id"))
      .join(v, col("id") === col("vec_id"))
      .drop("vec_id")
      .join(broadcast(v.select(col("vec_id").as("rep_vid"), col("embedding").as("rep_emb"))
        .join(broadcast(reps.select(col("rep_id"))), col("rep_vid") === col("rep_id"), "left_semi")),
        col("rep_id") === col("rep_vid"))
      .withColumn("cosine", graft.functions.NativeExpressions
        .quantizedCosine(col("embedding"), col("rep_emb")))
      .select(col("id").as("vec_id"), col("cluster_id"), col("rep_id"), col("cosine"),
        (col("id") === col("rep_id") || col("cosine") < lit(0.35)).as("keep"))
      .orderBy(col("vec_id"))
  }

  val semanticDedupSql: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM lshpairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM lshpairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, r.r AS r FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |reps AS (SELECT cluster_id, MIN(id) AS rep_id FROM labels GROUP BY 1),
       |qvt AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |j AS (
       |  SELECT l.id AS vec_id, l.cluster_id, r.rep_id, a.qv AS va, b.qv AS vb
       |  FROM labels l JOIN reps r USING (cluster_id)
       |  JOIN qvt a ON a.vec_id = l.id JOIN qvt b ON b.vec_id = r.rep_id),
       |semscored AS (
       |  SELECT vec_id, cluster_id, rep_id,
       |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> va[i] * vb[i])) AS BIGINT) AS DOUBLE) /
       |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> va[i] * va[i])) AS BIGINT) AS DOUBLE)) *
       |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> vb[i] * vb[i])) AS BIGINT) AS DOUBLE))) AS cosine
       |  FROM j)
       |SELECT vec_id, cluster_id, rep_id, cosine,
       |  (vec_id = rep_id OR cosine < 0.35) AS keep
       |FROM semscored ORDER BY vec_id""".stripMargin

  /** Q40 — int8 scalar quantization of the embedding corpus
    * (Similarity.scalarQuantize): the driver gate cannot hash array
    * columns, so the query emits exact integer summaries — total, range,
    * and a position-weighted checksum that pins EVERY per-dimension code. */
  def sq8Compression(spark: SparkSession, dir: String): DataFrame =
    Similarity.scalarQuantize(Tables.embeddings(spark, dir), "vec_id", "embedding")
      .select(col("id").as("vec_id"),
        aggregate(col("codes"), lit(0L), _ + _).as("sum_code"),
        array_min(col("codes")).as("min_code"),
        array_max(col("codes")).as("max_code"),
        aggregate(zip_with(col("codes"), sequence(lit(1L), lit(64L)), (c, i) => c * i),
          lit(0L), _ + _).as("code_checksum"))
      .orderBy(col("vec_id"))

  val sq8CompressionSql: String =
    """WITH e AS (
      |  SELECT vec_id, r.d, embedding[r.d + 1] AS x
      |  FROM embeddings CROSS JOIN range(0, 64) r(d)),
      |stats AS (SELECT d, min(x) AS lo, max(x) AS hi FROM e GROUP BY d),
      |codes AS (
      |  SELECT e.vec_id, e.d,
      |    CASE WHEN s.hi = s.lo THEN 0
      |         ELSE CAST(floor((CAST(e.x AS DOUBLE) - CAST(s.lo AS DOUBLE)) /
      |                (CAST(s.hi AS DOUBLE) - CAST(s.lo AS DOUBLE)) * 255) AS BIGINT)
      |    END AS code
      |  FROM e JOIN stats s USING (d))
      |SELECT vec_id,
      |  CAST(sum(code) AS BIGINT) AS sum_code,
      |  CAST(min(code) AS BIGINT) AS min_code,
      |  CAST(max(code) AS BIGINT) AS max_code,
      |  CAST(sum(code * (d + 1)) AS BIGINT) AS code_checksum
      |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Q46 — product quantization (m=8 subspaces × 8 dims, 16 codes each):
    * the 64-byte-vector → 8×4-bit-code compression that makes a 100 TB
    * float corpus hold an in-RAM ANN index (16× smaller than even sq8).
    * Emits the ENTIRE index per doc — codes packed into one BIGINT (4 bits
    * per subspace), total squared reconstruction error, and the
    * asymmetric-distance (ADC) score against the vec_id=0 query — all
    * exact integers, so the oracle pins every code of every doc. */
  def pqCompression(spark: SparkSession, dir: String): DataFrame = {
    val qvecs = Tables.embeddings(spark, dir)
      .select(col("vec_id").as("id"), Similarity.quantize(col("embedding")).as("qv"))
    val cb = Similarity.pqCodebook(qvecs, m = 8, dsub = 8, ksub = 16)
    val enc = Similarity.pqEncode(qvecs, cb, m = 8, dsub = 8)
    val packed = enc.groupBy(col("id"))
      .agg(sum(col("code") * expr("shiftleft(CAST(1 AS BIGINT), 4 * s)")).as("code_packed"),
        sum(col("d2")).as("sse"))
    val qsub = Similarity.pqSubvectors(qvecs.filter(col("id") === 0), m = 8, dsub = 8)
      .select(col("s"), col("sv").as("qsv"))
    val dist = cb.join(broadcast(qsub), Seq("s"))
      .withColumn("qd2", aggregate(
        zip_with(col("cv"), col("qsv"), (x, y) => (x - y) * (x - y)), lit(0L), _ + _))
      .select(col("s"), col("code").cast("long").as("code"), col("qd2"))
    val adc = enc.join(broadcast(dist), Seq("s", "code"))
      .groupBy(col("id")).agg(sum(col("qd2")).as("adc_d2"))
    packed.join(adc, Seq("id")).orderBy(col("id"))
  }

  val pqCompressionSql: String =
    """WITH c AS (
      |  SELECT vec_id AS id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |sub AS (
      |  SELECT id, s.s, list_slice(qv, s.s * 8 + 1, s.s * 8 + 8) AS sv
      |  FROM c CROSS JOIN range(0, 8) s(s)),
      |seeds AS (
      |  SELECT id, rn - 1 AS code FROM (
      |    SELECT id, ROW_NUMBER() OVER (ORDER BY
      |      CAST('0x'||substring(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT) ASC, id ASC) AS rn
      |    FROM c)
      |  WHERE rn <= 16),
      |cb AS (SELECT sub.s, seeds.code, sub.sv AS cv FROM seeds JOIN sub USING (id)),
      |d AS (
      |  SELECT sub.id, sub.s, cb.code,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (sub.sv[i] - cb.cv[i]) * (sub.sv[i] - cb.cv[i]))) AS BIGINT) AS d2
      |  FROM sub JOIN cb USING (s)),
      |enc AS (
      |  SELECT id, s, code, d2 FROM (
      |    SELECT id, s, code, d2,
      |      ROW_NUMBER() OVER (PARTITION BY id, s ORDER BY d2 ASC, code ASC) AS rn
      |    FROM d)
      |  WHERE rn = 1),
      |packed AS (
      |  SELECT id, CAST(sum(code * (1::BIGINT << (4 * s))) AS BIGINT) AS code_packed,
      |    CAST(sum(d2) AS BIGINT) AS sse
      |  FROM enc GROUP BY id),
      |qs AS (SELECT s, sv AS qsv FROM sub WHERE id = 0),
      |dist AS (
      |  SELECT cb.s, cb.code,
      |    CAST(list_sum(list_transform(range(1, 9),
      |      i -> (cb.cv[i] - qs.qsv[i]) * (cb.cv[i] - qs.qsv[i]))) AS BIGINT) AS qd2
      |  FROM cb JOIN qs USING (s)),
      |adc AS (
      |  SELECT enc.id, CAST(sum(dist.qd2) AS BIGINT) AS adc_d2
      |  FROM enc JOIN dist ON enc.s = dist.s AND enc.code = dist.code
      |  GROUP BY enc.id)
      |SELECT id, code_packed, sse, adc_d2
      |FROM packed JOIN adc USING (id)
      |ORDER BY id""".stripMargin

  /** The planted-duplicate media corpus shared by every modality's
    * dedup family (q109/q110/q128/q131 images, q145 audio): every
    * document's synthetic media plus a
    * PLANTED byte-identical copy for every 7th doc at +2M ids (the
    * generator is keyed by gen_id, so the planted copy decodes to the
    * same pixels — guaranteed hamming-0 pairs). */
  private[queries] def plantedMedia(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id").as("media_id"), col("doc_id").as("gen_id"))
      .unionByName(docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 2000000L).as("media_id"), col("doc_id").as("gen_id")))
  }

  private val plantedMediaSql: String =
    """SELECT doc_id AS media_id, doc_id AS gen_id FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS media_id, doc_id AS gen_id
      |  FROM documents WHERE doc_id % 7 = 0""".stripMargin

  /** Shared oracle CTEs: closed-form grayscale, per-image mean, aHash
    * halves (a SQL BIGINT cannot hold bit 63 via shift — 32-bit halves
    * sidestep the sign bit; the engine packs them into one long). */
  private def aHashCtes(media: String): String =
    s"""media AS ($media),
       |px AS (
       |  SELECT media_id, y.y * 8 + x.x AS p,
       |    ((((gen_id % 1009) * 31 + x.x * 7 + y.y * 13) % 256)
       |     + (((gen_id % 1013) * 17 + x.x * 11 + y.y * 3) % 256)
       |     + (((gen_id % 997) * 23 + x.x * 5 + y.y * 19) % 256)) // 3 AS gray
       |  FROM media, range(0, 8) x(x), range(0, 8) y(y)),
       |mn AS (SELECT media_id, SUM(gray) // 64 AS mean FROM px GROUP BY 1),
       |ah AS (
       |  SELECT px.media_id,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p >= 32
       |      THEN (1::BIGINT << (px.p - 32)) END), 0) AS BIGINT) AS hash_hi,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p < 32
       |      THEN (1::BIGINT << px.p) END), 0) AS BIGINT) AS hash_lo,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean THEN 1 END), 0) AS BIGINT) AS n_set
       |  FROM px JOIN mn USING (media_id)
       |  GROUP BY px.media_id)""".stripMargin

  /** Q109 — image perceptual hashing (ImageCodec.aHash64): the REAL
    * decode path (javax.imageio) reduced to the 64-bit average-hash that
    * makes images dedup-able; the oracle recomputes every gray value,
    * the floor-mean and every bit closed-form from the generator — one
    * corrupted pixel anywhere flips the hash compare (the q73 trust
    * model, extended from channel sums to a per-pixel threshold
    * signature). */
  def imagePhash(spark: SparkSession, dir: String): DataFrame =
    // a projection of the decode-once planted-image feature artifact —
    // q109/q110/q128/q131 previously each re-decoded the fixture (q131
    // twice, via imageQc + imagePhash); now one decode per corpus
    MediaArtifacts.imagePlantedFeatures(spark, dir)
      .select(col("media_id"), col("hash_hi"), col("hash_lo"), col("n_set"))
      .orderBy(col("media_id"))

  val imagePhashSql: String =
    s"""WITH ${aHashCtes(plantedMediaSql)}
       |SELECT media_id, hash_hi, hash_lo, n_set FROM ah ORDER BY media_id""".stripMargin

  /** Q186 — CROSS-MODAL alignment census: the LAION-style CLIP-score
    * filtering verb — for every (image, caption) pair, a similarity
    * between the image's visual feature and the caption's embedding,
    * gated at a keep threshold. No CLIP ships in this container (the
    * q91/q86 offline posture), so the visual feature is the REAL decode
    * path reduced to a deterministic 64-d ±1 vector from the aHash bits
    * (javax.imageio decode → grayscale → threshold signature — the same
    * bits q109 pins), and alignment is the exact quantized cosine
    * against the caption's 64-d embedding, shift-quantized to
    * align_micro = floor((cos+1)·1e6) (the q165 convention). The
    * PLUMBING is the production shape end-to-end: one decode pass, a
    * broadcast-free id-keyed join of two modalities, a row-local score,
    * a threshold gate — swap the feature kernel for a real CLIP tower
    * and nothing else changes. The oracle recomputes every gray value,
    * every hash bit, every quantized product, and the gate.
    *
    * Scale: decode once per image (kernel pass), join on the shared id
    * (both sides pre-partitionable on it), score row-local — no
    * all-pairs anything; this is the linear-cost gate LAION ran at 5 B
    * pairs. */
  def crossmodalAlignment(spark: SparkSession, dir: String): DataFrame = {
    // hash bits off the same decode-once doc-image artifact as q73
    val ah = MediaArtifacts.imageDocFeatures(spark, dir)
      .select(col("media_id"), col("hash_hi"), col("hash_lo"))
    val feat = expr(
      "transform(sequence(0, 63), p -> CAST(IF(((CASE WHEN p < 32 " +
        "THEN shiftrightunsigned(hash_lo, p) " +
        "ELSE shiftrightunsigned(hash_hi, p - 32) END) & 1) = 1, " +
        "1.0, -1.0) AS FLOAT))")
    ah.withColumn("feat", feat)
      .join(Tables.embeddings(spark, dir)
        .select(col("vec_id").as("media_id"), col("embedding")), Seq("media_id"))
      .withColumn("align_micro", floor(
        (graft.functions.NativeExpressions.quantizedCosine(
          col("embedding"), col("feat")) + 1) * 1000000).cast("long"))
      .select(col("media_id"), col("align_micro"),
        (col("align_micro") >= 1050000L).as("keep"))
      .orderBy(col("media_id"))
  }

  val crossmodalAlignmentSql: String = {
    def cos(a: String, b: String): String =
      s"""CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE) /
         |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])) AS BIGINT) AS DOUBLE)) *
         |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])) AS BIGINT) AS DOUBLE)))""".stripMargin
    s"""WITH ${aHashCtes("SELECT doc_id AS media_id, doc_id AS gen_id FROM documents")},
       |feat AS (
       |  SELECT media_id, list_transform(range(0, 64), p ->
       |    CASE WHEN (CASE WHEN p < 32 THEN (hash_lo >> CAST(p AS INTEGER))
       |               ELSE (hash_hi >> CAST(p - 32 AS INTEGER)) END) % 2 = 1
       |         THEN CAST(1000 AS BIGINT) ELSE CAST(-1000 AS BIGINT) END) AS fv
       |  FROM ah),
       |qvt AS (
       |  SELECT vec_id AS media_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sc AS (
       |  SELECT f.media_id, ${cos("q.qv", "f.fv")} AS cosine
       |  FROM feat f JOIN qvt q USING (media_id))
       |SELECT media_id,
       |  CAST(floor((cosine + 1) * 1000000) AS BIGINT) AS align_micro,
       |  floor((cosine + 1) * 1000000) >= 1050000 AS keep
       |FROM sc ORDER BY media_id""".stripMargin
  }

  /** Q110 — image NEAR-DUP pairs with the EXACT-HASH COLLAPSE the q131
    * census proved out (SCALE.md's measured lesson: banding raw hashes
    * over a duplicate-heavy corpus generates quadratic candidate pairs
    * inside every identical-hash bucket — 828 s at 10× before q131
    * collapsed them): identical aHashes collapse to their min-id
    * representative FIRST, so the contract is
    *
    *   (a) a hamming-0 star pair (rep, member) for every exact
    *       duplicate — linear in corpus size, no banding involved; and
    *   (b) the q13b banded SimHash machinery (4×16-bit chunks, 1-bit
    *       multi-probe, exact recall at hamming ≤ 7, per-node degree
    *       cap 4) over the DISTINCT hashes only, whose count grows
    *       sublinearly.
    *
    * The oracle replays the same collapse: grouped hashes, star pairs,
    * the plain quadratic hamming join over distinct closed-form hashes,
    * and the degree-cap ranking. */
  def imageNearDups(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    // hash columns straight off the decode-once artifact (no q109 sort,
    // no checkpoint — both consumers FileScan the same parquet)
    val ah = MediaArtifacts.imagePlantedFeatures(spark, dir)
      .select(col("media_id"), col("hash_hi"), col("hash_lo"))
    val groups = ah.groupBy(col("hash_hi"), col("hash_lo"))
      .agg(min(col("media_id")).as("rep"))
      .localCheckpoint(true)
    val exactPairs = ah.join(groups, Seq("hash_hi", "hash_lo"))
      .filter(col("media_id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("media_id").as("id_b"),
        lit(0).as("hamming"))
    val reps = groups.select(col("rep").as("id"),
      (shiftleft(col("hash_hi"), 32).bitwiseOR(col("hash_lo"))).as("simhash"))
    // distinct hashes ⇒ every banded pair lands at hamming ≥ 1
    val nearPairs = Dedup.simhashNearDupPairs(reps, maxHamming = 7, maxDegree = 4)
    exactPairs.unionByName(nearPairs)
      .orderBy(col("id_a"), col("id_b"))
  }

  val imageNearDupsSql: String =
    s"""WITH ${aHashCtes(plantedMediaSql)},
       |grp AS (
       |  SELECT hash_hi, hash_lo, MIN(media_id) AS rep
       |  FROM ah GROUP BY 1, 2),
       |exact AS (
       |  SELECT g.rep AS id_a, a.media_id AS id_b, 0 AS hamming
       |  FROM ah a JOIN grp g USING (hash_hi, hash_lo)
       |  WHERE a.media_id <> g.rep),
       |pr AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b,
       |    bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
       |  FROM grp a JOIN grp b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) <= 7),
       |psym AS (
       |  SELECT id_a AS node, id_b AS other, hamming FROM pr
       |  UNION ALL SELECT id_b AS node, id_a AS other, hamming FROM pr),
       |prk AS (
       |  SELECT node, other, hamming,
       |    row_number() OVER (PARTITION BY node ORDER BY hamming, other) AS r
       |  FROM psym),
       |near AS (
       |  SELECT DISTINCT LEAST(node, other) AS id_a, GREATEST(node, other) AS id_b, hamming
       |  FROM prk WHERE r <= 4)
       |SELECT id_a, id_b, CAST(hamming AS INTEGER) AS hamming
       |FROM (SELECT * FROM exact UNION ALL SELECT * FROM near)
       |ORDER BY id_a, id_b""".stripMargin

  /** Q128 — image QC gating (ImageCodec.qcStats): the exposure/contrast
    * hygiene pass for an image corpus — per image the floor-gray mean,
    * min, max (the aHash64 gray convention exactly), the contrast span,
    * and the dark/bright/flat flags the curation filter drops on. One
    * decode per image inside the kernel; the oracle recomputes every
    * gray value closed-form and replays mean, extremes, and every flag
    * threshold. */
  def imageQc(spark: SparkSession, dir: String): DataFrame = {
    // a projection of the same decode-once artifact as imagePhash — the
    // QC gray stats came out of the same decoded pixels all along
    MediaArtifacts.imagePlantedFeatures(spark, dir)
      .select(col("media_id"), col("mean_gray"), col("min_gray"), col("max_gray"))
      .withColumn("contrast", col("max_gray") - col("min_gray"))
      .withColumn("too_dark", (col("mean_gray") < 64).cast("int"))
      .withColumn("too_bright", (col("mean_gray") > 192).cast("int"))
      .withColumn("low_contrast", (col("contrast") < 48).cast("int"))
      .orderBy(col("media_id"))
  }

  /** Q220 — MEDIA DATASET CARD (the q140 governance verb extended to
    * binary modalities): one census row per (modality, source) over the
    * three DOC-KEYED decode-once feature artifacts — items, QC-flagged
    * share (image exposure/contrast gates, audio clipping/silence gates,
    * video corrupt containers), and the exact-duplicate pressure of the
    * modality's perceptual unit (image aHash, audio delta-fingerprint,
    * video frame aHash) as a permille. This is the table a data-mixture
    * owner reads before weighting a source's media: every number is
    * integer-exact and derived from features, never bytes — the
    * artifact-feeds-governance posture. At 100 TB: three FileScans of
    * narrow feature tables + one broadcast of the doc source map + hash
    * aggs; the codec never runs.
    *
    * Oracle replays every decoded pixel/sample statistic closed-form
    * (the q73/q109/q119/q127 trust model) plus the flags, distinct
    * counts, and permille divisions. */
  def mediaCensus(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id").as("media_id"), col("source"))
    def shaped(df: DataFrame, modality: String): DataFrame =
      df.select(lit(modality).as("modality"), col("source"),
        col("n_items"), col("n_flagged"),
        expr("(n_flagged * 1000) div n_items").as("flagged_permille"),
        col("n_units"), col("distinct_units"),
        expr("((n_units - distinct_units) * 1000) div n_units").as("dup_permille"))
    val img = shaped(MediaArtifacts.imageDocFeatures(spark, dir)
      .join(docs, Seq("media_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("mean_gray") < 64 || col("mean_gray") > 192 ||
            col("max_gray") - col("min_gray") < 48, 1L).otherwise(0L))
          .as("n_flagged"),
        count(lit(1)).as("n_units"),
        count_distinct(col("hash_hi"), col("hash_lo")).as("distinct_units")),
      "image")
    val aud = shaped(MediaArtifacts.audioDocFeatures(spark, dir)
      .join(docs, Seq("media_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_items"),
        sum(when(col("n_clipped") >= 2 || col("longest_silence") >= 4, 1L)
          .otherwise(0L)).as("n_flagged"),
        count(lit(1)).as("n_units"),
        count_distinct(col("fp")).as("distinct_units")),
      "audio")
    val vid = shaped(MediaArtifacts.videoDocFrames(spark, dir)
      .join(docs, Seq("media_id"))
      .groupBy(col("source"))
      .agg(count_distinct(col("media_id")).as("n_items"),
        count_distinct(when(col("video_error").isNotNull, col("media_id")))
          .as("n_flagged"),
        count(col("frame_idx")).as("n_units"),
        count_distinct(when(col("video_error").isNull,
          struct(col("hash_hi"), col("hash_lo")))).as("distinct_units")),
      "video")
    img.unionByName(aud).unionByName(vid)
      .orderBy(col("modality"), col("source"))
  }

  val mediaCensusSql: String =
    s"""WITH ${aHashCtes("SELECT doc_id AS media_id, doc_id AS gen_id FROM documents")},
       |st AS (
       |  SELECT media_id, SUM(gray) // 64 AS mean_gray,
       |    MIN(gray) AS mng, MAX(gray) AS mxg
       |  FROM px GROUP BY 1),
       |img AS (
       |  SELECT d.source,
       |    CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(SUM(CASE WHEN st.mean_gray < 64 OR st.mean_gray > 192
       |      OR st.mxg - st.mng < 48 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |    CAST(COUNT(*) AS BIGINT) AS n_units,
       |    CAST(COUNT(DISTINCT (a.hash_hi, a.hash_lo)) AS BIGINT) AS distinct_units
       |  FROM ah a JOIN st USING (media_id)
       |  JOIN documents d ON d.doc_id = a.media_id
       |  GROUP BY 1),
       |clips AS (SELECT doc_id AS media_id, 32 + doc_id % 32 AS n FROM documents),
       |smp AS (
       |  SELECT media_id, i.i AS i,
       |    ((media_id * 97 + i.i * 31) % 2048) - 1024 AS sv,
       |    abs((media_id * 97 + i.i * 31) % 2048 - 1024) AS a, n
       |  FROM clips, range(0, 64) i(i) WHERE i.i < n),
       |sil AS (
       |  SELECT media_id, i,
       |    i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS isl
       |  FROM smp WHERE a < 50),
       |runs AS (SELECT media_id, COUNT(*) AS run FROM sil GROUP BY media_id, isl),
       |longest AS (SELECT media_id, MAX(run) AS ls FROM runs GROUP BY media_id),
       |aqc AS (
       |  SELECT smp.media_id,
       |    SUM(CASE WHEN a >= 1000 THEN 1 ELSE 0 END) AS nc,
       |    COALESCE(MAX(l.ls), 0) AS ls
       |  FROM smp LEFT JOIN longest l USING (media_id)
       |  GROUP BY smp.media_id),
       |dd AS (
       |  SELECT media_id, i, sv, n,
       |    lead(sv) OVER (PARTITION BY media_id ORDER BY i) AS nx
       |  FROM smp),
       |afp AS (
       |  SELECT media_id,
       |    CAST(COALESCE(SUM(CASE WHEN nx > sv THEN (1::BIGINT << i) END), 0) AS BIGINT) AS f
       |  FROM dd WHERE i <= n - 2 GROUP BY 1),
       |aud AS (
       |  SELECT d.source,
       |    CAST(COUNT(*) AS BIGINT) AS n_items,
       |    CAST(SUM(CASE WHEN q.nc >= 2 OR q.ls >= 4 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
       |    CAST(COUNT(*) AS BIGINT) AS n_units,
       |    CAST(COUNT(DISTINCT f.f) AS BIGINT) AS distinct_units
       |  FROM aqc q JOIN afp f USING (media_id)
       |  JOIN documents d ON d.doc_id = q.media_id
       |  GROUP BY 1),
       |vframes AS (
       |  SELECT doc_id, doc_id * 100 + i.i AS fid
       |  FROM (SELECT doc_id, 4 + doc_id % 4 AS n FROM documents
       |        WHERE doc_id % 50 <> 0) v, range(0, 8) i(i)
       |  WHERE i.i < n),
       |vpx AS (
       |  SELECT doc_id, fid, y.y * 8 + x.x AS p,
       |    ((((fid % 1009) * 31 + x.x * 7 + y.y * 13) % 256)
       |     + (((fid % 1013) * 17 + x.x * 11 + y.y * 3) % 256)
       |     + (((fid % 997) * 23 + x.x * 5 + y.y * 19) % 256)) // 3 AS gray
       |  FROM vframes, range(0, 8) x(x), range(0, 8) y(y)),
       |vmn AS (SELECT fid, SUM(gray) // 64 AS mean FROM vpx GROUP BY 1),
       |vah AS (
       |  SELECT vpx.doc_id, vpx.fid,
       |    CAST(COALESCE(SUM(CASE WHEN vpx.gray > vmn.mean AND vpx.p >= 32
       |      THEN (1::BIGINT << (vpx.p - 32)) END), 0) AS BIGINT) AS hh,
       |    CAST(COALESCE(SUM(CASE WHEN vpx.gray > vmn.mean AND vpx.p < 32
       |      THEN (1::BIGINT << vpx.p) END), 0) AS BIGINT) AS hl
       |  FROM vpx JOIN vmn USING (fid)
       |  GROUP BY vpx.doc_id, vpx.fid),
       |vid AS (
       |  SELECT d.source,
       |    CAST(COUNT(DISTINCT d.doc_id) AS BIGINT) AS n_items,
       |    CAST(COUNT(DISTINCT CASE WHEN d.doc_id % 50 = 0 THEN d.doc_id END) AS BIGINT) AS n_flagged,
       |    CAST(COUNT(v.fid) AS BIGINT) AS n_units,
       |    CAST(COUNT(DISTINCT CASE WHEN v.fid IS NOT NULL THEN (v.hh, v.hl) END) AS BIGINT) AS distinct_units
       |  FROM documents d LEFT JOIN vah v ON v.doc_id = d.doc_id
       |  GROUP BY 1),
       |uni AS (
       |  SELECT 'image' AS modality, * FROM img
       |  UNION ALL SELECT 'audio' AS modality, * FROM aud
       |  UNION ALL SELECT 'video' AS modality, * FROM vid)
       |SELECT modality, source, n_items, n_flagged,
       |  (n_flagged * 1000) // n_items AS flagged_permille,
       |  n_units, distinct_units,
       |  ((n_units - distinct_units) * 1000) // n_units AS dup_permille
       |FROM uni ORDER BY modality, source""".stripMargin

  /** Q221 — CROSS-MODALITY SAMPLE GATE (the interleaved-dataset curation
    * verb, OBELICS/LAION-style): every document carries one image, one
    * audio clip and one video; a training SAMPLE survives only if EVERY
    * modality passes its QC gate (image exposure/contrast, audio
    * clipping/silence, video container integrity). Output is the full
    * 2×2×2 flag-combination census with the keep/drop verdict — the
    * table that says where joint-modality yield is lost (e.g. samples
    * failing ONLY audio are recoverable by re-encoding; samples failing
    * all three are rot). Three feature-artifact FileScans joined on the
    * shared id — the q186 join posture — flags row-local, one hash agg;
    * the codec never runs. Oracle replays all three closed-form gates
    * and the combination census. */
  def sampleGate(spark: SparkSession, dir: String): DataFrame = {
    val img = MediaArtifacts.imageDocFeatures(spark, dir)
      .select(col("media_id"),
        (col("mean_gray") < 64 || col("mean_gray") > 192 ||
          col("max_gray") - col("min_gray") < 48).cast("long").as("img_bad"))
    val aud = MediaArtifacts.audioDocFeatures(spark, dir)
      .select(col("media_id"),
        (col("n_clipped") >= 2 || col("longest_silence") >= 4)
          .cast("long").as("aud_bad"))
    val vid = MediaArtifacts.videoDocFrames(spark, dir)
      .groupBy(col("media_id"))
      .agg(max(col("video_error").isNotNull.cast("long")).as("vid_bad"))
    img.join(aud, Seq("media_id")).join(vid, Seq("media_id"))
      .groupBy(col("img_bad"), col("aud_bad"), col("vid_bad"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("verdict",
        when(col("img_bad") + col("aud_bad") + col("vid_bad") === 0, "keep")
          .otherwise("drop"))
      .select(col("img_bad"), col("aud_bad"), col("vid_bad"),
        col("verdict"), col("n_docs"))
      .orderBy(col("img_bad"), col("aud_bad"), col("vid_bad"))
  }

  val sampleGateSql: String =
    s"""WITH ${aHashCtes("SELECT doc_id AS media_id, doc_id AS gen_id FROM documents")},
       |st AS (
       |  SELECT media_id, SUM(gray) // 64 AS mean_gray,
       |    MIN(gray) AS mng, MAX(gray) AS mxg
       |  FROM px GROUP BY 1),
       |imgf AS (
       |  SELECT media_id,
       |    CASE WHEN mean_gray < 64 OR mean_gray > 192 OR mxg - mng < 48
       |         THEN 1 ELSE 0 END AS img_bad
       |  FROM st),
       |clips AS (SELECT doc_id AS media_id, 32 + doc_id % 32 AS n FROM documents),
       |smp AS (
       |  SELECT media_id, i.i AS i,
       |    abs((media_id * 97 + i.i * 31) % 2048 - 1024) AS a
       |  FROM clips, range(0, 64) i(i) WHERE i.i < n),
       |sil AS (
       |  SELECT media_id, i,
       |    i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS isl
       |  FROM smp WHERE a < 50),
       |runs AS (SELECT media_id, COUNT(*) AS run FROM sil GROUP BY media_id, isl),
       |longest AS (SELECT media_id, MAX(run) AS ls FROM runs GROUP BY media_id),
       |audf AS (
       |  SELECT smp.media_id,
       |    CASE WHEN SUM(CASE WHEN a >= 1000 THEN 1 ELSE 0 END) >= 2
       |           OR COALESCE(MAX(l.ls), 0) >= 4 THEN 1 ELSE 0 END AS aud_bad
       |  FROM smp LEFT JOIN longest l USING (media_id)
       |  GROUP BY smp.media_id),
       |vidf AS (
       |  SELECT doc_id AS media_id,
       |    CASE WHEN doc_id % 50 = 0 THEN 1 ELSE 0 END AS vid_bad
       |  FROM documents)
       |SELECT CAST(i.img_bad AS BIGINT) AS img_bad,
       |  CAST(a.aud_bad AS BIGINT) AS aud_bad,
       |  CAST(v.vid_bad AS BIGINT) AS vid_bad,
       |  CASE WHEN i.img_bad + a.aud_bad + v.vid_bad = 0 THEN 'keep'
       |       ELSE 'drop' END AS verdict,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM imgf i JOIN audf a USING (media_id) JOIN vidf v USING (media_id)
       |GROUP BY 1, 2, 3, 4
       |ORDER BY img_bad, aud_bad, vid_bad""".stripMargin

  /** Q222 — PERCEPTUAL-HASH ROBUSTNESS eval: does the image near-dup
    * chain (q110's detector: exact-aHash collapse → banded hamming ≤ 7
    * pairs, degree-capped → connected components) actually catch the
    * perturbed copies a crawl re-serves? Planted truth
    * ([[MediaArtifacts.imageRobustFeatures]]): a global brightness
    * shift (+60 clamped), local pixel corruption (red channel rotated at
    * 3 fixed pixels), and an UNRELATED control that must not match.
    * Output: per family, planted pairs vs pairs landing in the SAME
    * final cluster as their base — recall in micro. The eval corpus is
    * PINNED to a spec-fixed sample (450 bases, 50 planted — see
    * [[MediaArtifacts.imageRobustFeatures]]): an eval does not ride
    * corpus size, so the detector chain and its CC fixpoint — the one
    * super-linear curve in round 11's SCALE table, because the planted
    * radius-7 chains grew a diameter with the corpus — are now
    * constant-cost at any scale, like q196's fixed 200-vector sample
    * and q203's pinned truth set. The numbers are the eval (q150's
    * posture for images) and carry a real finding: noise catches fully,
    * shift loses the images where +60 clamping bends the gray ordering,
    * and the UNRELATED control lands far above 0 — radius-7 hamming
    * over this hash space chains clusters transitively (the q184
    * threshold-sensitivity lesson, measured for images: CC merges
    * unrelated bases through intermediate near-neighbours). That is
    * precisely what a control family is for — the eval table exposes
    * the over-chaining a bare recall number would hide. The oracle
    * replays every perturbed pixel, the hash, the banded+capped
    * candidate generation, and the CC fixpoint. */
  def phashRobustness(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    val feats = MediaArtifacts.imageRobustFeatures(spark, dir)
    val groups = feats.groupBy(col("hash_hi"), col("hash_lo"))
      .agg(min(col("media_id")).as("rep"))
      .localCheckpoint(true)
    val reps = groups.select(col("rep").as("id"),
      (shiftleft(col("hash_hi"), 32).bitwiseOR(col("hash_lo"))).as("simhash"))
    val pairs = Dedup.simhashNearDupPairs(reps, maxHamming = 7, maxDegree = 4)
    val labels = Dedup.connectedComponents(pairs)
    val cluster = feats.join(groups, Seq("hash_hi", "hash_lo"))
      .join(labels.withColumnRenamed("id", "rep"), Seq("rep"), "left")
      .select(col("media_id"), col("family"),
        coalesce(col("cluster_id"), col("rep")).as("cid"))
      .localCheckpoint(true) // variant + base sides both read it
    val planted = cluster.filter(col("family") =!= "base")
      .withColumn("base_id", col("media_id") - (
        when(col("family") === "shift", 3000000L)
          .when(col("family") === "noise", 4000000L)
          .otherwise(5000000L)))
    planted.join(cluster.filter(col("family") === "base")
        .select(col("media_id").as("base_id"), col("cid").as("base_cid")),
      Seq("base_id"))
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_planted"),
        sum((col("cid") === col("base_cid")).cast("long")).as("n_detected"))
      .withColumn("recall_micro", expr("n_detected * 1000000 div n_planted"))
      .orderBy(col("family"))
  }

  val phashRobustnessSql: String = {
    def ch(genExpr: String): (String, String, String) = (
      s"((($genExpr) % 1009) * 31 + x.x * 7 + y.y * 13) % 256",
      s"((($genExpr) % 1013) * 17 + x.x * 11 + y.y * 3) % 256",
      s"((($genExpr) % 997) * 23 + x.x * 5 + y.y * 19) % 256")
    val (br, bg, bb) = ch("doc_id")
    val (ur, ug, ub) = ch("doc_id + 777777")
    s"""WITH RECURSIVE docs9 AS (
       |  SELECT doc_id FROM documents WHERE doc_id % 9 = 0 AND doc_id < 450),
       |px AS (
       |  SELECT doc_id AS media_id, y.y * 8 + x.x AS p,
       |    (($br) + ($bg) + ($bb)) // 3 AS gray
       |  FROM documents, range(0, 8) x(x), range(0, 8) y(y)
       |  WHERE doc_id < 450
       |  UNION ALL
       |  SELECT doc_id + 3000000 AS media_id, y.y * 8 + x.x AS p,
       |    (LEAST(255, ($br) + 60) + LEAST(255, ($bg) + 60)
       |     + LEAST(255, ($bb) + 60)) // 3 AS gray
       |  FROM docs9, range(0, 8) x(x), range(0, 8) y(y)
       |  UNION ALL
       |  SELECT doc_id + 4000000 AS media_id, y.y * 8 + x.x AS p,
       |    ((CASE WHEN y.y * 8 + x.x IN (0, 35, 63)
       |           THEN (($br) + 128) % 256 ELSE ($br) END)
       |     + ($bg) + ($bb)) // 3 AS gray
       |  FROM docs9, range(0, 8) x(x), range(0, 8) y(y)
       |  UNION ALL
       |  SELECT doc_id + 5000000 AS media_id, y.y * 8 + x.x AS p,
       |    (($ur) + ($ug) + ($ub)) // 3 AS gray
       |  FROM docs9, range(0, 8) x(x), range(0, 8) y(y)),
       |mn AS (SELECT media_id, SUM(gray) // 64 AS mean FROM px GROUP BY 1),
       |ah AS (
       |  SELECT px.media_id,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p >= 32
       |      THEN (1::BIGINT << (px.p - 32)) END), 0) AS BIGINT) AS hash_hi,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p < 32
       |      THEN (1::BIGINT << px.p) END), 0) AS BIGINT) AS hash_lo
       |  FROM px JOIN mn USING (media_id) GROUP BY px.media_id),
       |grp AS (
       |  SELECT hash_hi, hash_lo, MIN(media_id) AS rep FROM ah GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b,
       |    bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
       |  FROM grp a JOIN grp b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) <= 7),
       |psym AS (
       |  SELECT id_a AS node, id_b AS other, hamming FROM pr
       |  UNION ALL SELECT id_b AS node, id_a AS other, hamming FROM pr),
       |prk AS (
       |  SELECT node, other,
       |    row_number() OVER (PARTITION BY node ORDER BY hamming, other) AS r
       |  FROM psym),
       |pairs AS (SELECT DISTINCT LEAST(node, other) AS id_a,
       |                 GREATEST(node, other) AS id_b
       |          FROM prk WHERE r <= 4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS rt FROM edges
       |  UNION
       |  SELECT e.src AS id, r.rt AS rt FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(rt) AS cluster_id FROM reach GROUP BY id),
       |fam AS (
       |  SELECT media_id,
       |    CASE WHEN media_id >= 5000000 THEN 'unrelated'
       |         WHEN media_id >= 4000000 THEN 'noise'
       |         WHEN media_id >= 3000000 THEN 'shift'
       |         ELSE 'base' END AS family
       |  FROM ah),
       |clu AS (
       |  SELECT a.media_id, f.family, COALESCE(l.cluster_id, g.rep) AS cid
       |  FROM ah a JOIN grp g USING (hash_hi, hash_lo)
       |  JOIN fam f ON f.media_id = a.media_id
       |  LEFT JOIN labels l ON l.id = g.rep),
       |planted AS (
       |  SELECT media_id, family,
       |    media_id - (CASE family WHEN 'shift' THEN 3000000
       |                WHEN 'noise' THEN 4000000 ELSE 5000000 END) AS base_id,
       |    cid
       |  FROM clu WHERE family <> 'base')
       |SELECT p.family,
       |  CAST(COUNT(*) AS BIGINT) AS n_planted,
       |  CAST(SUM(CASE WHEN p.cid = b.cid THEN 1 ELSE 0 END) AS BIGINT) AS n_detected,
       |  (CAST(SUM(CASE WHEN p.cid = b.cid THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
       |    // COUNT(*) AS recall_micro
       |FROM planted p JOIN (SELECT media_id AS base_id, cid FROM clu
       |                     WHERE family = 'base') b USING (base_id)
       |GROUP BY 1 ORDER BY p.family""".stripMargin
  }

  val imageQcSql: String =
    s"""WITH media AS ($plantedMediaSql),
       |px AS (
       |  SELECT media_id,
       |    ((((gen_id % 1009) * 31 + x.x * 7 + y.y * 13) % 256)
       |     + (((gen_id % 1013) * 17 + x.x * 11 + y.y * 3) % 256)
       |     + (((gen_id % 997) * 23 + x.x * 5 + y.y * 19) % 256)) // 3 AS gray
       |  FROM media, range(0, 8) x(x), range(0, 8) y(y)),
       |st AS (
       |  SELECT media_id, SUM(gray) // 64 AS mean_gray,
       |    MIN(gray) AS min_gray, MAX(gray) AS max_gray
       |  FROM px GROUP BY 1)
       |SELECT media_id, CAST(mean_gray AS BIGINT) AS mean_gray,
       |  CAST(min_gray AS BIGINT) AS min_gray,
       |  CAST(max_gray AS BIGINT) AS max_gray,
       |  CAST(max_gray - min_gray AS BIGINT) AS contrast,
       |  CAST(CASE WHEN mean_gray < 64 THEN 1 ELSE 0 END AS INTEGER) AS too_dark,
       |  CAST(CASE WHEN mean_gray > 192 THEN 1 ELSE 0 END AS INTEGER) AS too_bright,
       |  CAST(CASE WHEN max_gray - min_gray < 48 THEN 1 ELSE 0 END AS INTEGER) AS low_contrast
       |FROM st ORDER BY media_id""".stripMargin

  /** Q137 — embedding-corpus QC census (the vector modality's hygiene
    * gate, completing text q17 / audio q119 / image q128): per-vector
    * quantized squared norm (integer Σ floor(x·1000)², the engine-exact
    * convention), then the corpus census — zero vectors, norms outside
    * the exact p01/p99 order statistics (the q124 rank discipline), and
    * the bounds themselves. One narrow kernel pass + the OrderStats
    * histogram rank (no row-table window: the value at row-rank k of
    * the (norm, vec_id) total order is the min distinct norm with
    * cum ≥ k — the vec_id tie-break cannot change the VALUE at a rank)
    * + one census aggregate. */
  def embeddingQc(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.OrderStats
    val q = Tables.embeddings(spark, dir)
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("norm2_q", expr(
        "aggregate(qv, cast(0 as bigint), (acc, x) -> acc + x * x)"))
    val hist = OrderStats.cumHistogram(q.select("norm2_q"), "norm2_q")
    val bounds = hist
      .crossJoin(broadcast(hist.agg(sum(col("nv")).as("n")))) // 1-row total
      .agg(
        max(col("n")).as("n_vectors"),
        min(when(col("cum") >= expr("(1 * n + 99) div 100"), col("norm2_q"))).as("p01_q"),
        min(when(col("cum") >= expr("(99 * n + 99) div 100"), col("norm2_q"))).as("p99_q"))
    q.crossJoin(broadcast(bounds))
      .agg(
        max(col("n_vectors")).as("n_vectors"),
        sum(when(col("norm2_q") === 0, 1L).otherwise(0L)).as("n_zero"),
        sum(when(col("norm2_q") < col("p01_q"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("norm2_q") > col("p99_q"), 1L).otherwise(0L)).as("n_high"),
        max(col("p01_q")).as("p01_q"), max(col("p99_q")).as("p99_q"))
  }

  val embeddingQcSql: String =
    """WITH q AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)
      |           * CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))) AS BIGINT) AS norm2_q
      |  FROM embeddings),
      |rk AS (
      |  SELECT vec_id, norm2_q,
      |    row_number() OVER (ORDER BY norm2_q, vec_id) AS r,
      |    COUNT(*) OVER () AS n
      |  FROM q),
      |b AS (
      |  SELECT MAX(n) AS n_vectors,
      |    MIN(CASE WHEN r = (1 * n + 99) // 100 THEN norm2_q END) AS p01_q,
      |    MIN(CASE WHEN r = (99 * n + 99) // 100 THEN norm2_q END) AS p99_q
      |  FROM rk)
      |SELECT CAST(b.n_vectors AS BIGINT) AS n_vectors,
      |  CAST(SUM(CASE WHEN q.norm2_q = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
      |  CAST(SUM(CASE WHEN q.norm2_q < b.p01_q THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
      |  CAST(SUM(CASE WHEN q.norm2_q > b.p99_q THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
      |  CAST(b.p01_q AS BIGINT) AS p01_q, CAST(b.p99_q AS BIGINT) AS p99_q
      |FROM q, b
      |GROUP BY b.n_vectors, b.p01_q, b.p99_q""".stripMargin

  /** Q138 — cluster PURITY evaluation (the q121 move for clustering:
    * cluster → MEASURE): each of the 10 largest q80 clusters scored by
    * how well it respects the embeddings' ground-truth labels —
    * majority-label share in exact permille, with the majority label
    * itself (ties to the smallest label). High purity = the LSH/CC
    * pipeline recovers real structure; the oracle replays the full
    * clustering chain plus the tie-broken majority vote. */
  def clusterPurity(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.NativeExpressions.argMaxBy
    val emb = Tables.embeddings(spark, dir)
    val labels = graft.queries.ClusterArtifacts.embeddingLabels(spark, dir)
    val lab = emb.select(col("vec_id"), col("label"))
      .join(labels.select(col("id").as("vec_id"), col("cluster_id")),
        Seq("vec_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("vec_id")))
    val top = lab.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("cluster_size").desc, col("cluster_id").asc)
      .limit(10)
    lab.join(broadcast(top), Seq("cluster_id"))
      .groupBy(col("cluster_id"), col("cluster_size"), col("label"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("cluster_id"), col("cluster_size"))
      .agg(
        argMaxBy(col("label").cast("long"), col("n"), -col("label").cast("long"))
          .as("majority_label"),
        max(col("n")).as("n_majority"))
      .withColumn("purity_permille", expr("n_majority * 1000 div cluster_size"))
      .orderBy(col("cluster_id"))
  }

  val clusterPuritySql: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM lshpairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM lshpairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, r.r AS r FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |lab AS (
       |  SELECT e.vec_id, e.label, COALESCE(l.cluster_id, e.vec_id) AS cluster_id
       |  FROM embeddings e LEFT JOIN labels l ON l.id = e.vec_id),
       |szs AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size,
       |    row_number() OVER (ORDER BY COUNT(*) DESC, cluster_id ASC) AS szrn
       |  FROM lab GROUP BY 1),
       |top AS (SELECT cluster_id, cluster_size FROM szs WHERE szrn <= 10),
       |cnt AS (
       |  SELECT lab.cluster_id, top.cluster_size, lab.label, COUNT(*) AS n
       |  FROM lab JOIN top USING (cluster_id) GROUP BY 1, 2, 3),
       |mj AS (
       |  SELECT cluster_id, cluster_size, label, n,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY n DESC, label ASC) AS mrn,
       |    MAX(n) OVER (PARTITION BY cluster_id) AS n_majority
       |  FROM cnt)
       |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(label AS BIGINT) AS majority_label,
       |  CAST(n_majority AS BIGINT) AS n_majority,
       |  CAST(n_majority * 1000 // cluster_size AS BIGINT) AS purity_permille
       |FROM mj WHERE mrn = 1 ORDER BY cluster_id""".stripMargin

  /** Q136 — cluster TOPIC labeling (the BERTopic c-TF-IDF move): the 10
    * largest q80 embedding clusters (doc_id ≡ vec_id) summarized by
    * their top-3 characteristic terms — in-cluster document frequency ×
    * the integer RSJ idf over clusters (the q86 discipline: how many of
    * the 10 clusters contain the term), score = cdf · idf_e6, all exact
    * integers. This is the "what IS this cluster" verb that makes
    * embedding clustering auditable. The oracle stitches the whole
    * chain: LSH pairs, the recursive closure, singleton census, size
    * ranking, tokenization, both frequency tables and the tie-broken
    * top-3. */
  def clusterTopics(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = graft.queries.ClusterArtifacts.embeddingLabels(spark, dir)
    val docs = Tables.documents(spark, dir)
    val lab = docs.select(col("doc_id"))
      .join(labels.select(col("id").as("doc_id"), col("cluster_id")),
        Seq("doc_id"), "left_outer")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col("doc_id")))
    val top = lab.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"))
      .orderBy(col("cluster_size").desc, col("cluster_id").asc)
      .limit(10)
    val words = docs.join(lab, Seq("doc_id"))
      .join(broadcast(top), Seq("cluster_id"))
      .select(col("cluster_id"), col("cluster_size"), col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("term"))
    val cdf = words.groupBy(col("cluster_id"), col("cluster_size"), col("term"))
      .agg(count(lit(1)).as("cdf"))
    val df = cdf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("score").desc, col("term").asc)
    cdf.join(df, Seq("term"))
      .withColumn("idf_e6", expr("(2 * (10 - df) + 1) * 1000000 div (2 * df + 1)"))
      .withColumn("score", expr("cdf * idf_e6"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("cluster_id"), col("cluster_size"),
        col("rank").cast("long").as("rank"), col("term"), col("cdf"), col("score"))
      .orderBy(col("cluster_id"), col("rank"))
  }

  val clusterTopicsSql: String =
    s"""WITH RECURSIVE $lshPairCtes,
       |edges AS (SELECT id_a AS src, id_b AS dst FROM lshpairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM lshpairs),
       |reach AS (
       |  SELECT src AS id, src AS r FROM edges
       |  UNION
       |  SELECT e.src AS id, r.r AS r FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
       |lab AS (
       |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
       |szs AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size,
       |    row_number() OVER (ORDER BY COUNT(*) DESC, cluster_id ASC) AS szrn
       |  FROM lab GROUP BY 1),
       |top AS (SELECT cluster_id, cluster_size FROM szs WHERE szrn <= 10),
       |words AS (
       |  SELECT lab.cluster_id, top.cluster_size, lab.doc_id,
       |    unnest(list_distinct(string_split(d.text, ' '))) AS term
       |  FROM lab JOIN top USING (cluster_id) JOIN documents d USING (doc_id)),
       |cdf AS (
       |  SELECT cluster_id, cluster_size, term, COUNT(*) AS cdf
       |  FROM words GROUP BY 1, 2, 3),
       |dft AS (SELECT term, COUNT(*) AS df FROM cdf GROUP BY 1),
       |sc AS (
       |  SELECT c.cluster_id, c.cluster_size, c.term, c.cdf,
       |    c.cdf * ((2 * (10 - d.df) + 1) * 1000000 // (2 * d.df + 1)) AS score
       |  FROM cdf c JOIN dft d USING (term)),
       |trk AS (
       |  SELECT cluster_id, cluster_size, term, cdf, score,
       |    row_number() OVER (PARTITION BY cluster_id
       |      ORDER BY score DESC, term ASC) AS rank
       |  FROM sc)
       |SELECT cluster_id, CAST(cluster_size AS BIGINT) AS cluster_size,
       |  CAST(rank AS BIGINT) AS rank, term, CAST(cdf AS BIGINT) AS cdf,
       |  CAST(score AS BIGINT) AS score
       |FROM trk WHERE rank <= 3
       |ORDER BY cluster_id, rank""".stripMargin

  /** Q131 — end-to-end MULTIMODAL curation census (the q100 move for
    * the image corpus): QC gate first (q128's exposure/contrast flags),
    * then near-dup canonicalization among the SURVIVORS (q110's banded
    * aHash pairs → connected components → min-id canonical) — each image
    * lands in exactly one cell of the keep/drop × reason matrix
    * (qc, near_dup, canonical, unique). Composed from the audited
    * operators so Catalyst sees one lineage; the oracle stitches the
    * whole chain: every gray value, every flag, the hamming pairs over
    * the qc-passing set, the degree cap, the recursive closure, and the
    * final census. */
  /** Shared keep/drop verdict + census tail of the per-modality curation
    * queries (q131 image / q145 audio / q146 video). Inputs: the full
    * media id set, the QC-failed ids (`bad`: media_id, is_bad=1), the
    * survivor→exact-group map (`members`: media_id, rep, gsize), and the
    * near-dup cluster labels over group reps (`labels`: id, cluster_id).
    * Verdict ladder (first match wins): QC-failed → drop/qc; non-rep of
    * an exact group → drop/near_dup; rep whose cluster canonical is
    * another id → drop/near_dup; rep of a multi-member group or cluster
    * → keep/canonical; else keep/unique. One broadcast + two key joins,
    * then a 10-cell aggregate — the tie logic lives HERE once, so the
    * three modalities cannot diverge. */
  private def curationCensus(media: DataFrame, bad: DataFrame,
      members: DataFrame, labels: DataFrame, countName: String): DataFrame =
    media.select(col("media_id"))
      .join(broadcast(bad), Seq("media_id"), "left_outer")
      .join(members, Seq("media_id"), "left_outer")
      .join(labels.select(col("id").as("rep"), col("cluster_id")), Seq("rep"), "left_outer")
      .withColumn("decision",
        when(col("is_bad") === 1, lit("drop"))
          .when(col("media_id") =!= col("rep"), lit("drop"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("media_id"),
            lit("drop"))
          .otherwise(lit("keep")))
      .withColumn("reason",
        when(col("is_bad") === 1, lit("qc"))
          .when(col("media_id") =!= col("rep"), lit("near_dup"))
          .when(col("cluster_id").isNotNull && col("cluster_id") =!= col("media_id"),
            lit("near_dup"))
          .when(col("cluster_id").isNotNull || col("gsize") > 1, lit("canonical"))
          .otherwise(lit("unique")))
      .groupBy(col("decision"), col("reason"))
      .agg(count(lit(1)).as(countName))
      .orderBy(col("decision"), col("reason"))

  def multimodalCuration(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Dedup
    // QC flags and hashes both come off the ONE decode-once artifact
    // (previously imageQc + imagePhash = two more full decode passes,
    // guarded by checkpoints; now every consumer is a FileScan + cheap
    // row-local flags, and the q109 sorts never enter this plan)
    val feats = MediaArtifacts.imagePlantedFeatures(spark, dir)
    val bad = feats.filter(col("mean_gray") < 64 || col("mean_gray") > 192 ||
        col("max_gray") - col("min_gray") < 48)
      .select(col("media_id"), lit(1).as("is_bad"))
    val surv = feats
      .join(bad.select(col("media_id")), Seq("media_id"), "left_anti")
      .select(col("media_id"), col("hash_hi"), col("hash_lo"))
    // EXACT-hash collapse BEFORE any pairwise work — the production
    // near-dup discipline (and the measured scale fix: the synthetic
    // corpus is duplicate-HEAVY — one hash repeats thousands of times at
    // 10× — so banding raw images generates quadratic pairs inside each
    // identical-hash group; 19 s → sub-second at 1×, 828 s → seconds at
    // 10×). Banding then runs over DISTINCT hashes only, whose count
    // grows sublinearly.
    val groups = surv.groupBy(col("hash_hi"), col("hash_lo"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("gsize"))
      .localCheckpoint(true)
    val reps = groups.select(col("rep").as("id"),
      (shiftleft(col("hash_hi"), 32).bitwiseOR(col("hash_lo"))).as("simhash"))
    val pairs = Dedup.simhashNearDupPairs(reps, maxHamming = 7, maxDegree = 4)
    val labels = Dedup.connectedComponents(pairs)
    curationCensus(plantedMedia(spark, dir), bad,
      surv.join(groups, Seq("hash_hi", "hash_lo"))
        .select(col("media_id"), col("rep"), col("gsize")),
      labels, "n_images")
  }

  val multimodalCurationSql: String =
    s"""WITH RECURSIVE ${aHashCtes(plantedMediaSql)},
       |qc AS (
       |  SELECT media_id, SUM(gray) // 64 AS mean_gray,
       |    MIN(gray) AS mn_g, MAX(gray) AS mx_g
       |  FROM px GROUP BY 1),
       |bad AS (
       |  SELECT media_id FROM qc
       |  WHERE mean_gray < 64 OR mean_gray > 192 OR mx_g - mn_g < 48),
       |surv AS (
       |  SELECT media_id, hash_hi, hash_lo FROM ah
       |  WHERE media_id NOT IN (SELECT media_id FROM bad)),
       |grp AS (
       |  SELECT hash_hi, hash_lo, MIN(media_id) AS rep, COUNT(*) AS gsize
       |  FROM surv GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b,
       |    bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) AS hamming
       |  FROM grp a JOIN grp b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.hash_hi, b.hash_hi)) + bit_count(xor(a.hash_lo, b.hash_lo)) <= 7),
       |psym AS (
       |  SELECT id_a AS node, id_b AS other, hamming FROM pr
       |  UNION ALL SELECT id_b AS node, id_a AS other, hamming FROM pr),
       |prk AS (
       |  SELECT node, other,
       |    row_number() OVER (PARTITION BY node ORDER BY hamming, other) AS r
       |  FROM psym),
       |pairs AS (SELECT DISTINCT LEAST(node, other) AS id_a,
       |                 GREATEST(node, other) AS id_b
       |          FROM prk WHERE r <= 4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS rt FROM edges
       |  UNION
       |  SELECT e.src AS id, r.rt AS rt FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(rt) AS cluster_id FROM reach GROUP BY id),
       |sg AS (
       |  SELECT s.media_id, g.rep, g.gsize
       |  FROM surv s JOIN grp g USING (hash_hi, hash_lo)),
       |verdict AS (
       |  SELECT m.media_id,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'drop'
       |         WHEN m.media_id <> sg.rep THEN 'drop'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'drop'
       |         ELSE 'keep' END AS decision,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'qc'
       |         WHEN m.media_id <> sg.rep THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL OR sg.gsize > 1 THEN 'canonical'
       |         ELSE 'unique' END AS reason
       |  FROM media m
       |  LEFT JOIN bad b ON b.media_id = m.media_id
       |  LEFT JOIN sg ON sg.media_id = m.media_id
       |  LEFT JOIN labels l ON l.id = sg.rep)
       |SELECT decision, reason, CAST(COUNT(*) AS BIGINT) AS n_images
       |FROM verdict GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q145 — end-to-end AUDIO curation census, completing the
    * per-modality trio (text q100, image q131, audio here): QC gate
    * first (q119's clipping + dead-air thresholds over the real WAV
    * parse), then near-dup canonicalization among the SURVIVORS via the
    * delta-sign fingerprint (AudioWav.deltaFingerprint) with the q131
    * exact-hash-collapse discipline — identical fingerprints collapse
    * to a min-id representative before any banding, DISTINCT
    * fingerprints band at hamming ≤ 1 with the q110 degree cap, and
    * connected components pick the min-id canonical. Each clip lands in
    * exactly one cell of the keep/drop × reason matrix (qc, near_dup,
    * canonical, unique). The oracle stitches the whole chain
    * closed-form from the clip formula: every sample, both QC stats
    * (gaps-and-islands for the silence run), every fingerprint bit, the
    * hamming pairs, the degree cap, the recursive closure, the census. */
  def audioCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Dedup
    val media = plantedMedia(spark, dir)
    // decode-once planted-audio artifact: bad + survivors FileScan it —
    // the per-query decode-and-fingerprint pass (and its checkpoint) is gone
    val stats = MediaArtifacts.audioPlantedFeatures(spark, dir)
    val bad = stats
      .filter(col("n_clipped") >= 2 || col("longest_silence") >= 4)
      .select(col("media_id"), lit(1).as("is_bad"))
    val surv = stats.join(bad.select(col("media_id")), Seq("media_id"), "left_anti")
      .select(col("media_id"), col("fp"))
    // exact-fingerprint collapse BEFORE banding (the q131/q110 move):
    // 81 exact-dup groups at sf0.01 and the planted copies guarantee
    // identical fingerprints repeat — banding raw clips would be
    // quadratic inside every identical-fp bucket
    val groups = surv.groupBy(col("fp"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("gsize"))
      .localCheckpoint(true)
    // hamming ≤ 1 (not the image family's 7): the delta-sign space is
    // low-entropy by construction — a wider radius chains every wrap
    // position into one cluster and the census degenerates
    val pairs = Dedup.simhashNearDupPairs(
      groups.select(col("rep").as("id"), col("fp").as("simhash")),
      maxHamming = 1, maxDegree = 4)
    val labels = Dedup.connectedComponents(pairs)
    curationCensus(media, bad,
      surv.join(groups, Seq("fp"))
        .select(col("media_id"), col("rep"), col("gsize")),
      labels, "n_clips")
  }

  val audioCurationSql: String =
    s"""WITH RECURSIVE media AS ($plantedMediaSql),
       |clips AS (SELECT media_id, gen_id, 32 + gen_id % 32 AS n FROM media),
       |smp AS (
       |  SELECT media_id, i.i AS i,
       |    ((gen_id * 97 + i.i * 31) % 2048) - 1024 AS sv,
       |    abs((gen_id * 97 + i.i * 31) % 2048 - 1024) AS a, n
       |  FROM clips, range(0, 64) i(i) WHERE i.i < n),
       |sil AS (
       |  SELECT media_id, i,
       |    i - row_number() OVER (PARTITION BY media_id ORDER BY i) AS isl
       |  FROM smp WHERE a < 50),
       |runs AS (SELECT media_id, COUNT(*) AS run FROM sil GROUP BY media_id, isl),
       |longest AS (SELECT media_id, MAX(run) AS ls FROM runs GROUP BY media_id),
       |qc AS (
       |  SELECT smp.media_id,
       |    SUM(CASE WHEN a >= 1000 THEN 1 ELSE 0 END) AS nc,
       |    COALESCE(MAX(l.ls), 0) AS ls
       |  FROM smp LEFT JOIN longest l USING (media_id)
       |  GROUP BY smp.media_id),
       |bad AS (SELECT media_id FROM qc WHERE nc >= 2 OR ls >= 4),
       |dd AS (
       |  SELECT media_id, i, sv, n,
       |    lead(sv) OVER (PARTITION BY media_id ORDER BY i) AS nx
       |  FROM smp),
       |fp AS (
       |  SELECT media_id,
       |    CAST(COALESCE(SUM(CASE WHEN nx > sv THEN (1::BIGINT << i) END), 0) AS BIGINT) AS f
       |  FROM dd WHERE i <= n - 2 GROUP BY 1),
       |surv AS (
       |  SELECT media_id, f FROM fp
       |  WHERE media_id NOT IN (SELECT media_id FROM bad)),
       |fgrp AS (SELECT f, MIN(media_id) AS rep, COUNT(*) AS gsize FROM surv GROUP BY 1),
       |pr AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b, bit_count(xor(a.f, b.f)) AS hamming
       |  FROM fgrp a JOIN fgrp b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.f, b.f)) <= 1),
       |psym AS (
       |  SELECT id_a AS node, id_b AS other, hamming FROM pr
       |  UNION ALL SELECT id_b AS node, id_a AS other, hamming FROM pr),
       |prk AS (
       |  SELECT node, other,
       |    row_number() OVER (PARTITION BY node ORDER BY hamming, other) AS r
       |  FROM psym),
       |pairs AS (SELECT DISTINCT LEAST(node, other) AS id_a,
       |                 GREATEST(node, other) AS id_b
       |          FROM prk WHERE r <= 4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS rt FROM edges
       |  UNION
       |  SELECT e.src AS id, r.rt AS rt FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(rt) AS cluster_id FROM reach GROUP BY id),
       |sg AS (
       |  SELECT s.media_id, g.rep, g.gsize
       |  FROM surv s JOIN fgrp g USING (f)),
       |verdict AS (
       |  SELECT m.media_id,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'drop'
       |         WHEN m.media_id <> sg.rep THEN 'drop'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'drop'
       |         ELSE 'keep' END AS decision,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'qc'
       |         WHEN m.media_id <> sg.rep THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL OR sg.gsize > 1 THEN 'canonical'
       |         ELSE 'unique' END AS reason
       |  FROM media m
       |  LEFT JOIN bad b ON b.media_id = m.media_id
       |  LEFT JOIN sg ON sg.media_id = m.media_id
       |  LEFT JOIN labels l ON l.id = sg.rep)
       |SELECT decision, reason, CAST(COUNT(*) AS BIGINT) AS n_clips
       |FROM verdict GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q146 — end-to-end VIDEO curation census, closing the per-modality
    * curation set (text q100, image q131, audio q145, video here): one
    * kernel pass (VideoCodec.videoSignature) yields per container the
    * frame count, the q127 scene-cut count, and the majority-vote
    * SimHash of the frame aHashes; the QC gate drops corrupt containers
    * (the q127 CRC-flip planting) and unstable ones (n_cuts ≥ 4), then
    * the q131 discipline: exact-fingerprint collapse, DISTINCT
    * fingerprints banded at hamming ≤ 3 (pigeonhole regime) with degree
    * cap 4, connected components, min-id canonical, keep/drop census.
    * The oracle recomputes every frame's aHash closed-form, every
    * consecutive hamming, every majority bit, and replays the collapse,
    * cap, closure and census. */
  def videoCuration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.ops.Dedup
    val media = plantedMedia(spark, dir)
    // decode-once signature artifact: bad + survivors FileScan it — the
    // per-query decode-and-sign pass (and its checkpoint) is gone
    val sig = MediaArtifacts.videoPlantedSignatures(spark, dir)
    val bad = sig.filter(col("video_error").isNotNull || col("n_cuts") >= 4)
      .select(col("media_id"), lit(1).as("is_bad"))
    val surv = sig.join(bad.select(col("media_id")), Seq("media_id"), "left_anti")
      .select(col("media_id"), col("fp_hi"), col("fp_lo"))
    val groups = surv.groupBy(col("fp_hi"), col("fp_lo"))
      .agg(min(col("media_id")).as("rep"), count(lit(1)).as("gsize"))
      .localCheckpoint(true)
    val reps = groups.select(col("rep").as("id"),
      (shiftleft(col("fp_hi"), 32).bitwiseOR(col("fp_lo"))).as("simhash"))
    val pairs = Dedup.simhashNearDupPairs(reps, maxHamming = 3, maxDegree = 4)
    val labels = Dedup.connectedComponents(pairs)
    curationCensus(media, bad,
      surv.join(groups, Seq("fp_hi", "fp_lo"))
        .select(col("media_id"), col("rep"), col("gsize")),
      labels, "n_videos")
  }

  val videoCurationSql: String =
    s"""WITH RECURSIVE media AS ($plantedMediaSql),
       |fmedia AS (
       |  SELECT m.media_id * 100 + i.i AS media_id, m.gen_id * 100 + i.i AS gen_id
       |  FROM media m, range(0, 8) i(i)
       |  WHERE i.i < 4 + m.gen_id % 4 AND m.gen_id % 50 <> 0),
       |px AS (
       |  SELECT media_id, y.y * 8 + x.x AS p,
       |    ((((gen_id % 1009) * 31 + x.x * 7 + y.y * 13) % 256)
       |     + (((gen_id % 1013) * 17 + x.x * 11 + y.y * 3) % 256)
       |     + (((gen_id % 997) * 23 + x.x * 5 + y.y * 19) % 256)) // 3 AS gray
       |  FROM fmedia, range(0, 8) x(x), range(0, 8) y(y)),
       |mn AS (SELECT media_id, SUM(gray) // 64 AS mean FROM px GROUP BY 1),
       |ah AS (
       |  SELECT px.media_id,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p >= 32
       |      THEN (1::BIGINT << (px.p - 32)) END), 0) AS BIGINT) AS hash_hi,
       |    CAST(COALESCE(SUM(CASE WHEN px.gray > mn.mean AND px.p < 32
       |      THEN (1::BIGINT << px.p) END), 0) AS BIGINT) AS hash_lo
       |  FROM px JOIN mn USING (media_id) GROUP BY px.media_id),
       |fh AS (SELECT media_id // 100 AS vid, media_id % 100 AS idx,
       |       hash_hi, hash_lo FROM ah),
       |hamr AS (
       |  SELECT vid, bit_count(xor(hash_hi, lag(hash_hi) OVER w))
       |       + bit_count(xor(hash_lo, lag(hash_lo) OVER w)) AS hm
       |  FROM fh WINDOW w AS (PARTITION BY vid ORDER BY idx)),
       |cuts AS (SELECT vid, COUNT(CASE WHEN hm > 20 THEN 1 END) AS n_cuts
       |         FROM hamr GROUP BY 1),
       |bits AS (
       |  SELECT vid, b.b,
       |    SUM(CASE WHEN b.b < 32 THEN (hash_lo >> b.b) & 1
       |        ELSE (hash_hi >> (b.b - 32)) & 1 END) AS c,
       |    COUNT(*) AS nf
       |  FROM fh, range(0, 64) b(b) GROUP BY 1, 2),
       |fp AS (
       |  SELECT vid AS media_id,
       |    CAST(COALESCE(SUM(CASE WHEN 2 * c > nf AND b >= 32
       |      THEN (1::BIGINT << (b - 32)) END), 0) AS BIGINT) AS fp_hi,
       |    CAST(COALESCE(SUM(CASE WHEN 2 * c > nf AND b < 32
       |      THEN (1::BIGINT << b) END), 0) AS BIGINT) AS fp_lo
       |  FROM bits GROUP BY 1),
       |bad AS (
       |  SELECT media_id FROM media WHERE gen_id % 50 = 0
       |  UNION ALL SELECT vid FROM cuts WHERE n_cuts >= 4),
       |surv AS (SELECT f.media_id, fp_hi, fp_lo FROM fp f
       |         WHERE f.media_id NOT IN (SELECT media_id FROM bad)),
       |grpv AS (SELECT fp_hi, fp_lo, MIN(media_id) AS rep, COUNT(*) AS gsize
       |         FROM surv GROUP BY 1, 2),
       |pr AS (
       |  SELECT a.rep AS id_a, b.rep AS id_b,
       |    bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) AS hamming
       |  FROM grpv a JOIN grpv b ON a.rep < b.rep
       |  WHERE bit_count(xor(a.fp_hi, b.fp_hi)) + bit_count(xor(a.fp_lo, b.fp_lo)) <= 3),
       |psym AS (
       |  SELECT id_a AS node, id_b AS other, hamming FROM pr
       |  UNION ALL SELECT id_b AS node, id_a AS other, hamming FROM pr),
       |prk AS (
       |  SELECT node, other,
       |    row_number() OVER (PARTITION BY node ORDER BY hamming, other) AS r
       |  FROM psym),
       |pairs AS (SELECT DISTINCT LEAST(node, other) AS id_a,
       |                 GREATEST(node, other) AS id_b
       |          FROM prk WHERE r <= 4),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b AS src, id_a AS dst FROM pairs),
       |reach AS (
       |  SELECT src AS id, src AS rt FROM edges
       |  UNION
       |  SELECT e.src AS id, r.rt AS rt FROM edges e JOIN reach r ON e.dst = r.id),
       |labels AS (SELECT id, MIN(rt) AS cluster_id FROM reach GROUP BY id),
       |sg AS (
       |  SELECT s.media_id, g.rep, g.gsize
       |  FROM surv s JOIN grpv g USING (fp_hi, fp_lo)),
       |verdict AS (
       |  SELECT m.media_id,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'drop'
       |         WHEN m.media_id <> sg.rep THEN 'drop'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'drop'
       |         ELSE 'keep' END AS decision,
       |    CASE WHEN b.media_id IS NOT NULL THEN 'qc'
       |         WHEN m.media_id <> sg.rep THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.media_id THEN 'near_dup'
       |         WHEN l.cluster_id IS NOT NULL OR sg.gsize > 1 THEN 'canonical'
       |         ELSE 'unique' END AS reason
       |  FROM media m
       |  LEFT JOIN (SELECT DISTINCT media_id FROM bad) b ON b.media_id = m.media_id
       |  LEFT JOIN sg ON sg.media_id = m.media_id
       |  LEFT JOIN labels l ON l.id = sg.rep)
       |SELECT decision, reason, CAST(COUNT(*) AS BIGINT) AS n_videos
       |FROM verdict GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** Q127 — video SCENE-CUT detection (VideoCodec.sceneCuts): every
    * frame of every q89 container decoded and aHashed inside one kernel
    * pass, consecutive-frame hamming distances counted against the cut
    * threshold (20 of 64 bits) — the shot-boundary signal a video
    * pipeline samples keyframes by. Same corruption planting and error
    * isolation as q89. The oracle recomputes every frame's aHash
    * closed-form (each frame id IS the pixel-generator seed), replays
    * every hamming lag and the per-video census — one wrong bit in any
    * frame's hash, or a stride slip, fails the compare. */
  def sceneCuts(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the hamming-lag fold over the decode-once frame-feature artifact —
    // an exact replay of the in-kernel sliding(2) pass (consecutive
    // frames within each video, bit_count of the XORed aHash halves);
    // the per-video window is ≤ 8 frames, partitioned on media_id
    val frames = MediaArtifacts.videoDocFrames(spark, dir)
    val w = Window.partitionBy(col("media_id")).orderBy(col("frame_idx"))
    val good = frames.filter(col("video_error").isNull)
      .withColumn("__hm",
        (bit_count(col("hash_hi").bitwiseXOR(lag(col("hash_hi"), 1).over(w))) +
          bit_count(col("hash_lo").bitwiseXOR(lag(col("hash_lo"), 1).over(w))))
          .cast("long"))
      .groupBy(col("media_id"))
      .agg(count(lit(1)).as("n_frames"),
        count(when(col("__hm") > 20, 1)).as("n_cuts"),
        coalesce(max(col("__hm")), lit(0L)).as("max_hamming"))
      .select(col("media_id"), col("n_frames"), col("n_cuts"),
        col("max_hamming"), lit(null).cast("string").as("video_error"))
    val bad = frames.filter(col("video_error").isNotNull)
      .select(col("media_id"), lit(null).cast("long").as("n_frames"),
        lit(null).cast("long").as("n_cuts"),
        lit(null).cast("long").as("max_hamming"), col("video_error"))
    good.unionByName(bad).orderBy(col("media_id"))
  }

  val sceneCutsSql: String = {
    val frameMedia =
      """SELECT doc_id * 100 + i.i AS media_id, doc_id * 100 + i.i AS gen_id
        |  FROM (SELECT doc_id, 4 + doc_id % 4 AS n FROM documents
        |        WHERE doc_id % 50 <> 0) v, range(0, 8) i(i)
        |  WHERE i.i < n""".stripMargin
    s"""WITH ${aHashCtes(frameMedia)},
       |h AS (
       |  SELECT media_id // 100 AS vid, media_id % 100 AS idx, hash_hi, hash_lo
       |  FROM ah),
       |ham AS (
       |  SELECT vid, idx,
       |    bit_count(xor(hash_hi, lag(hash_hi) OVER w))
       |      + bit_count(xor(hash_lo, lag(hash_lo) OVER w)) AS hm
       |  FROM h
       |  WINDOW w AS (PARTITION BY vid ORDER BY idx)),
       |agg AS (
       |  SELECT vid AS media_id,
       |    CAST(COUNT(*) AS BIGINT) AS n_frames,
       |    CAST(COUNT(CASE WHEN hm > 20 THEN 1 END) AS BIGINT) AS n_cuts,
       |    CAST(COALESCE(MAX(hm), 0) AS BIGINT) AS max_hamming
       |  FROM ham GROUP BY 1)
       |SELECT media_id, n_frames, n_cuts, max_hamming,
       |  CAST(NULL AS VARCHAR) AS video_error
       |FROM agg
       |UNION ALL
       |SELECT doc_id, CAST(NULL AS BIGINT), CAST(NULL AS BIGINT),
       |  CAST(NULL AS BIGINT), 'bad-grav'
       |FROM documents WHERE doc_id % 50 = 0
       |ORDER BY media_id""".stripMargin
  }

  /** Q114 — hybrid retrieval by reciprocal-rank fusion (TextSearch.
    * rrfFuse): the modern two-tower search verb — a LEXICAL ranking
    * (q45's integer BM25 over the standard term bag, top-100) fused with
    * a SEMANTIC ranking (q15's quantized-cosine neighbours of the
    * vec_id=0 probe, top-100; doc_id ≡ vec_id in the corpus) via
    * RRF = Σ 1e6 div (60 + rank). Ranks come from total orders
    * (score desc, id asc), contributions are integer divisions, so the
    * oracle replays both lists, both rank assignments, the full-outer
    * fusion and the tie-broken top-20 exactly. The re-rank windows run
    * over the two 100-row lists only — the corpus is never re-sorted. */
  def rrfFusion(spark: SparkSession, dir: String): DataFrame =
    // lexical leg from the stored postings index (the `/search` serving
    // path, score-bit-equal to the corpus rescan) — q114 and the facade
    // now run the SAME lexical plan
    rrfFusionFrom(spark, dir, graft.ops.TextSearch.bm25TopKIndexed(
      spark, ClusterArtifacts.postingsIndex(spark, dir),
      TextQueries.Bm25Terms, 100))

  /** The q114 fusion with the LEXICAL top-100 supplied by the caller —
    * the service facade feeds the stored-postings ranking
    * (TextSearch.bm25TopKIndexed) here; q114 itself feeds the scan-path
    * ranking. Both produce identical (score_e12, doc_id) rows, so the
    * fused result is one contract either way. `extraLegs` appends
    * further (ranked-list, rank-col) pairs to the fusion — the facade's
    * anchor-surrogate leg (q217's BM25 over the anchor-document
    * artifact) rides here; RRF composes legs without rescaling, so the
    * two-leg contract is untouched when the seq is empty. */
  def rrfFusionFrom(spark: SparkSession, dir: String, lexTop: DataFrame,
      extraLegs: Seq[(DataFrame, String)] = Nil): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val listN = 100
    val lex = lexTop
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_e12").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val emb = Tables.embeddings(spark, dir)
    val probe = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val sem = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(probe))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("embedding"), col("q")))
      .orderBy(col("cosine").desc, col("vec_id").asc).limit(listN)
      .withColumn("sem_rank", row_number().over(
        Window.orderBy(col("cosine").desc, col("vec_id").asc)).cast("long"))
      .select(col("vec_id").as("doc_id"), col("sem_rank"))
    graft.ops.TextSearch.rrfFuse(
      Seq(lex, sem) ++ extraLegs.map(_._1), "doc_id",
      Seq("lex_rank", "sem_rank") ++ extraLegs.map(_._2), kConst = 60, topN = 20)
  }

  /** Q224 — THREE-LEG retrieval fusion: body BM25 (the stored postings
    * index), semantic neighbours (q114's fixed probe), and the
    * ANCHOR-SURROGATE BM25 (q217's anchor-document artifact — what other
    * pages' link text says about each target), RRF-composed. This is
    * `/search?mode=hybrid&anchors=1`'s exact ranking, put under the hash
    * gate: the classic web-relevance serving stack (body + vector +
    * anchor) as ONE oracle-replayed contract. RRF composes legs without
    * rescaling, so the oracle is q114's two lists plus q217's list and a
    * three-way full-outer fusion — every rank, every integer
    * contribution, and the tie-broken top-20 replay exactly.
    *
    * Scale: the lexical leg partition-prunes the postings index, the
    * anchor leg scans the bounded anchor-doc artifact (one row per
    * linked-to page, never the pages), the semantic leg is the q114
    * shape; the fusion joins three ≤100-row lists. */
  def rrfFusionAnchor(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val lexTop = graft.ops.TextSearch.bm25TopKIndexed(
      spark, ClusterArtifacts.postingsIndex(spark, dir), TextQueries.Bm25Terms, 100)
    val anchorTop = graft.ops.TextSearch.bm25TopK(
        ClusterArtifacts.anchorDocs(spark, dir), "dst", "anchor_text",
        TextQueries.Bm25Terms, 100)
      .withColumn("anchor_rank", row_number().over(
        Window.orderBy(col("score_e12").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("anchor_rank"))
    rrfFusionFrom(spark, dir, lexTop, Seq((anchorTop, "anchor_rank")))
  }

  val rrfFusionAnchorSql: String = {
    val termList = TextQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
    // q114's lex+sem CTE chain verbatim (the shared val), plus q217's
    // anchor chain (a-prefixed to avoid CTE collisions), fused three ways
    s"""WITH $lexSemCtes,
       |n AS (SELECT count(*) AS n FROM documents),
       |asrc AS (
       |  SELECT doc_id AS d, string_split(text, ' ') AS w
       |  FROM documents WHERE doc_id % 5 = 0),
       |alinks AS (
       |  SELECT s.d, j.j,
       |    CASE WHEN j.j = 0 THEN (s.d // 5) % 10
       |         ELSE ((s.d * 31 + j.j * 17) % n.n) END AS t,
       |    array_to_string(w[CAST(3 * j.j + 1 AS BIGINT):CAST(3 * j.j + 2 AS BIGINT)], ' ') AS anchor
       |  FROM asrc s CROSS JOIN n CROSS JOIN range(0, 4) j(j)
       |  WHERE j.j < (s.d % 4) + 1),
       |atoks AS (
       |  SELECT t AS doc_id, unnest(string_split(anchor, ' ')) AS term FROM alinks),
       |abase AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS dl FROM atoks GROUP BY doc_id),
       |astats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM abase),
       |atfrows AS (
       |  SELECT a.doc_id, b.dl, a.term, CAST(count(*) AS BIGINT) AS tf
       |  FROM atoks a JOIN abase b USING (doc_id)
       |  WHERE a.term IN ($termList)
       |  GROUP BY a.doc_id, b.dl, a.term),
       |adft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM atfrows GROUP BY term),
       |ascored AS (
       |  SELECT doc_id,
       |    CAST(round(((2.0 * CAST((n_docs - df) AS DOUBLE) + 1.0)
       |                / (2.0 * CAST(df AS DOUBLE) + 1.0)) * 1000000.0, 0) AS BIGINT)
       |    * CAST(round(((CAST(tf AS DOUBLE) * 2.2)
       |                  / (CAST(tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                                             / CAST(sdl AS DOUBLE))))) * 1000000.0, 0) AS BIGINT)
       |      AS term_score
       |  FROM atfrows JOIN adft USING (term) CROSS JOIN astats),
       |alist AS (
       |  SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e12
       |  FROM ascored GROUP BY doc_id
       |  ORDER BY score_e12 DESC, doc_id LIMIT 100),
       |anc AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score_e12 DESC, doc_id) AS BIGINT) AS anchor_rank
       |  FROM alist),
       |f3 AS (
       |  SELECT COALESCE(lex.doc_id, sem.doc_id, anc.doc_id) AS doc_id,
       |    lex_rank, sem_rank, anchor_rank,
       |    COALESCE(1000000 // (60 + lex_rank), 0)
       |      + COALESCE(1000000 // (60 + sem_rank), 0)
       |      + COALESCE(1000000 // (60 + anchor_rank), 0) AS rrf_e6
       |  FROM lex
       |  FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id
       |  FULL OUTER JOIN anc ON COALESCE(lex.doc_id, sem.doc_id) = anc.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, anchor_rank, CAST(rrf_e6 AS BIGINT) AS rrf_e6
       |FROM f3 ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin
  }

  /** The fusion with a USER-SUPPLIED probe vector, the semantic leg
    * served from the per-corpus IVF ARTIFACT
    * (GraftService.ivfIndexFor: `centroids` + cell-partitioned `index`)
    * instead of a brute-force corpus scan: the probe's nProbe nearest
    * cells are ranked on the driver, the index read prunes to those cell
    * partitions ([[graft.ops.Similarity.ivfProbeTopK]] — the cells
    * [[graft.ops.Similarity.ivfExactTopKMany]] would probe), and the
    * top-100 fuses with the caller's lexical leg exactly like
    * [[rrfFusionFrom]]. `excludeId` drops the probe's own corpus row
    * (cosine 1.0 by construction) when the probe IS a corpus member.
    * This overload collects the centroids on every call.
    *
    * Scale: the corpus index is never shuffled and unprobed cells are
    * never read; the semantic ranking is a top-100 over the probed cells. */
  def rrfFusionIvfProbe(spark: SparkSession, ivfDir: String, lexTop: DataFrame,
      probeQv: Seq[Long], nProbe: Int, excludeId: Option[Long],
      extraLegs: Seq[(DataFrame, String)] = Nil): DataFrame =
    rrfFusionIvfProbe(spark.read.parquet(s"$ivfDir/index"),
      Similarity.ivfCentroidRows(spark.read.parquet(s"$ivfDir/centroids")),
      lexTop, probeQv, nProbe, excludeId, extraLegs)

  /** [[rrfFusionIvfProbe]] over an already-resolved IVF `index` and its
    * collected centroid rows (the serving facade's per-corpus handle). */
  def rrfFusionIvfProbe(index: DataFrame, cents: Seq[(Long, Seq[Long])],
      lexTop: DataFrame, probeQv: Seq[Long], nProbe: Int, excludeId: Option[Long],
      extraLegs: Seq[(DataFrame, String)]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val listN = 100
    val lex = lexTop
      .withColumn("lex_rank", row_number().over(
        Window.orderBy(col("score_e12").desc, col("doc_id").asc)).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val sem = Similarity.ivfProbeTopK(index, cents, probeQv, nProbe, listN, excludeId)
      .select(col("id").as("doc_id"), col("rank").as("sem_rank"))
    graft.ops.TextSearch.rrfFuse(
      Seq(lex, sem) ++ extraLegs.map(_._1), "doc_id",
      Seq("lex_rank", "sem_rank") ++ extraLegs.map(_._2), kConst = 60, topN = 20)
  }

  /** q114's lexical + semantic CTE chain (everything up to the fusion
    * clause), shared verbatim with q224's three-leg oracle so the two
    * cannot drift. */
  // lazy: referenced by rrfFusionAnchorSql, which initializes earlier in
  // the object — a strict val here would embed "null" into that SQL
  private lazy val lexSemCtes: String = {
    val termList = TextQueries.Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""base AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
       |  FROM documents),
       |stats AS (
       |  SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(dl) AS BIGINT) AS sdl
       |  FROM base),
       |tfrows AS (
       |  SELECT doc_id, dl, term,
       |    CAST(len(list_filter(toks, x -> x = term)) AS BIGINT) AS tf
       |  FROM base CROSS JOIN (SELECT unnest([$termList]) AS term)
       |  WHERE len(list_filter(toks, x -> x = term)) > 0),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tfrows GROUP BY term),
       |scored AS (
       |  SELECT doc_id,
       |    CAST(round(((2.0 * CAST((n_docs - df) AS DOUBLE) + 1.0)
       |                / (2.0 * CAST(df AS DOUBLE) + 1.0)) * 1000000.0, 0) AS BIGINT)
       |    * CAST(round(((CAST(tf AS DOUBLE) * 2.2)
       |                  / (CAST(tf AS DOUBLE)
       |                     + 1.2 * (0.25 + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE)
       |                                             / CAST(sdl AS DOUBLE))))) * 1000000.0, 0) AS BIGINT)
       |      AS term_score
       |  FROM tfrows JOIN dft USING (term) CROSS JOIN stats),
       |lexlist AS (
       |  SELECT doc_id, CAST(sum(term_score) AS BIGINT) AS score_e12
       |  FROM scored GROUP BY doc_id
       |  ORDER BY score_e12 DESC, doc_id LIMIT 100),
       |lex AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score_e12 DESC, doc_id) AS BIGINT) AS lex_rank
       |  FROM lexlist),
       |q AS (
       |  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id = 0),
       |c AS (
       |  SELECT vec_id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id <> 0),
       |semscored AS (
       |  SELECT c.vec_id,
       |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE) /
       |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
       |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE))) AS cosine
       |  FROM c CROSS JOIN q),
       |semlist AS (
       |  SELECT vec_id, cosine FROM semscored
       |  ORDER BY cosine DESC, vec_id LIMIT 100),
       |sem AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(row_number() OVER (ORDER BY cosine DESC, vec_id) AS BIGINT) AS sem_rank
       |  FROM semlist)""".stripMargin
  }

  val rrfFusionSql: String =
    s"""WITH $lexSemCtes,
       |f AS (
       |  SELECT COALESCE(lex.doc_id, sem.doc_id) AS doc_id, lex_rank, sem_rank,
       |    COALESCE(1000000 // (60 + lex_rank), 0)
       |      + COALESCE(1000000 // (60 + sem_rank), 0) AS rrf_e6
       |  FROM lex FULL OUTER JOIN sem ON lex.doc_id = sem.doc_id)
       |SELECT doc_id, lex_rank, sem_rank, CAST(rrf_e6 AS BIGINT) AS rrf_e6
       |FROM f ORDER BY rrf_e6 DESC, doc_id LIMIT 20""".stripMargin

  /** Q165 — BITEXT MINING by margin scoring (the Artetxe & Schwenk
    * ratio-margin criterion, the standard parallel-corpus mining verb
    * behind CCMatrix/WikiMatrix-style training sets): for a bounded
    * batch of non-English probes, find the English document whose
    * embedding cosine BEATS both sides' neighborhood averages —
    * margin(x,y) = cos(x,y) / ((avg₄(x→EN) + avg₄(y→batch)) / 2) — and
    * keep matches with margin ≥ 1 (above-neighborhood, the hubness
    * filter that plain cosine thresholds lack). Integer-exact: cosines
    * shift-quantize to qc = floor((cos+1)·1e6) ∈ [0, 2e6] (nonnegative,
    * so truncating and flooring division agree between engines) and the
    * margin is one BIGINT division. The backward neighborhood avg₄(y) is
    * computed against the probe batch — the standard mine-against-batch
    * approximation when the EN side is corpus-sized.
    *
    * Scale: probes are a bounded broadcast batch (a mining shard), the
    * EN corpus streams through the broadcast join unshuffled; both
    * top-4 windows run over the |batch|×|EN| candidate table partitioned
    * on ids (WindowGroupLimit prunes to the rank cap before the sums),
    * and the final best-match rank is per-probe. No corpus self-join
    * ever happens. */
  def bitextMining(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val lang = Tables.documents(spark, dir)
      .select(col("doc_id").as("vec_id"), col("lang"))
    val v = emb.join(lang, Seq("vec_id"))
    val x = v.filter(col("lang") =!= "en" &&
        col("vec_id") % 20 === 0 && col("vec_id") < 100000)
      .select(col("vec_id").as("probe_id"), col("lang").as("probe_lang"),
        col("embedding").as("__xv"))
    val y = v.filter(col("lang") === "en")
      .select(col("vec_id").as("match_id"), col("embedding").as("__yv"))
    val pairs = y.crossJoin(broadcast(x))
      .withColumn("qc", floor(
        (graft.functions.NativeExpressions.quantizedCosine(
          col("__yv"), col("__xv")) + lit(1.0d)) * lit(1000000.0d)).cast("long"))
    // NOT checkpointed despite three consumers: the candidate table is a
    // broadcast join + codegen'd integer cosine, and re-running it costs
    // less than materializing |batch|×|EN| rows (measured: checkpointing
    // REGRESSED 4.1 s -> 8.0 s at 1x, 12.0 s -> 18.1 s at 50x)
      .select(col("probe_id"), col("probe_lang"), col("match_id"), col("qc"))
    val wx = Window.partitionBy(col("probe_id"))
      .orderBy(col("qc").desc, col("match_id").asc)
    val wy = Window.partitionBy(col("match_id"))
      .orderBy(col("qc").desc, col("probe_id").asc)
    val sumx = pairs.withColumn("rx", row_number().over(wx))
      .filter(col("rx") <= 4).groupBy(col("probe_id"))
      .agg(sum(col("qc")).as("sumk_x"), count(lit(1)).as("kx"))
    val sumy = pairs.withColumn("ry", row_number().over(wy))
      .filter(col("ry") <= 4).groupBy(col("match_id"))
      .agg(sum(col("qc")).as("sumk_y"), count(lit(1)).as("ky"))
    val scored = pairs
      .join(sumx, Seq("probe_id")).join(sumy, Seq("match_id"))
      .withColumn("margin_micro", expr(
        "CAST((2 * qc * kx * ky * 1000000) DIV (sumk_x * ky + sumk_y * kx) AS BIGINT)"))
    val best = Window.partitionBy(col("probe_id"))
      .orderBy(col("margin_micro").desc, col("match_id").asc)
    scored.withColumn("rb", row_number().over(best))
      .filter(col("rb") === 1 && col("margin_micro") >= 1000000L)
      .select(col("probe_id"), col("probe_lang"), col("match_id"),
        col("qc").as("qcos_shift_micro"), col("margin_micro"))
      .orderBy(col("probe_id"))
  }

  val bitextMiningSql: String =
    """WITH v AS (
      |  SELECT e.vec_id, d.lang,
      |    list_transform(e.embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
      |x AS (SELECT vec_id AS probe_id, lang AS probe_lang, qv AS xqv
      |      FROM v WHERE lang <> 'en' AND vec_id % 20 = 0 AND vec_id < 100000),
      |y AS (SELECT vec_id AS match_id, qv AS yqv FROM v WHERE lang = 'en'),
      |pairs AS (
      |  SELECT x.probe_id, x.probe_lang, y.match_id,
      |    CAST(floor((
      |      CAST(CAST(list_sum(list_transform(range(1, 65), i -> y.yqv[i] * x.xqv[i])) AS BIGINT) AS DOUBLE) /
      |      (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> y.yqv[i] * y.yqv[i])) AS BIGINT) AS DOUBLE)) *
      |       sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.xqv[i] * x.xqv[i])) AS BIGINT) AS DOUBLE)))
      |      + 1.0) * 1000000.0) AS BIGINT) AS qc
      |  FROM y CROSS JOIN x),
      |rx AS (SELECT probe_id, qc,
      |         row_number() OVER (PARTITION BY probe_id ORDER BY qc DESC, match_id) AS r
      |       FROM pairs),
      |sumx AS (SELECT probe_id, CAST(SUM(qc) AS BIGINT) AS sumk_x,
      |                CAST(COUNT(*) AS BIGINT) AS kx
      |         FROM rx WHERE r <= 4 GROUP BY probe_id),
      |ry AS (SELECT match_id, qc,
      |         row_number() OVER (PARTITION BY match_id ORDER BY qc DESC, probe_id) AS r
      |       FROM pairs),
      |sumy AS (SELECT match_id, CAST(SUM(qc) AS BIGINT) AS sumk_y,
      |                CAST(COUNT(*) AS BIGINT) AS ky
      |         FROM ry WHERE r <= 4 GROUP BY match_id),
      |scored AS (
      |  SELECT p.probe_id, p.probe_lang, p.match_id, p.qc,
      |    CAST((2 * p.qc * sx.kx * sy.ky * 1000000) //
      |         (sx.sumk_x * sy.ky + sy.sumk_y * sx.kx) AS BIGINT) AS margin_micro
      |  FROM pairs p
      |  JOIN sumx sx ON p.probe_id = sx.probe_id
      |  JOIN sumy sy ON p.match_id = sy.match_id),
      |best AS (
      |  SELECT probe_id, probe_lang, match_id, qc, margin_micro,
      |    row_number() OVER (PARTITION BY probe_id
      |                       ORDER BY margin_micro DESC, match_id) AS rb
      |  FROM scored)
      |SELECT probe_id, probe_lang, match_id, qc AS qcos_shift_micro, margin_micro
      |FROM best WHERE rb = 1 AND margin_micro >= 1000000
      |ORDER BY probe_id""".stripMargin

  /** Q168 — SEMANTIC eval-set decontamination: the embedding-space
    * member of the decontamination family (exact-hash q41, bloom q88,
    * n-gram overlap q162 are the lexical members — paraphrased leakage
    * slips past all three). Eval set = a bounded id-capped slice; train
    * docs whose max cosine to ANY eval vector clears 0.9 are flagged
    * (planted exact copies of eval vectors at +30M ids guarantee the
    * detector has true positives to find). Output is the per-label
    * census: train size, flagged count, and the worst contamination
    * score (µ-quantized).
    *
    * Scale: the eval side of a decontamination pass is FIXED and small
    * (a benchmark suite) — it broadcasts; the train corpus streams
    * through the join once and the per-doc max aggregates with map-side
    * combine on the train id, so shuffle volume is one row per train
    * doc, not per pair. */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val isEval = (col("vec_id") % 97 === 0) && (col("vec_id") < 100000)
    val evalSide = emb.filter(isEval)
      .select(col("vec_id").as("eval_id"), col("embedding").as("__ev"))
    val planted = emb.filter(isEval)
      .select((col("vec_id") + 30000000L).as("vec_id"),
        col("embedding"), col("label"))
    val train = emb.filter(!isEval)
      .select(col("vec_id"), col("embedding"), col("label"))
      .unionByName(planted)
    train.crossJoin(broadcast(evalSide))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("embedding"), col("__ev")))
      .groupBy(col("vec_id"), col("label"))
      .agg(max(col("cosine")).as("max_cos"))
      .withColumn("contam_micro", floor(col("max_cos") * lit(1000000.0d)).cast("long"))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_train"),
        sum(when(col("contam_micro") >= 900000L, 1L).otherwise(0L)).as("n_flagged"),
        max(col("contam_micro")).as("worst_contam_micro"))
      .orderBy(col("label"))
  }

  val semanticDecontamSql: String =
    """WITH v AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings),
      |ev AS (SELECT vec_id AS eval_id, qv AS eqv
      |       FROM v WHERE vec_id % 97 = 0 AND vec_id < 100000),
      |train AS (
      |  SELECT vec_id, label, qv FROM v
      |  WHERE NOT (vec_id % 97 = 0 AND vec_id < 100000)
      |  UNION ALL
      |  SELECT e.vec_id + 30000000 AS vec_id, e.label, e.qv
      |  FROM v e WHERE e.vec_id % 97 = 0 AND e.vec_id < 100000),
      |perdoc AS (
      |  SELECT t.vec_id, t.label,
      |    MAX(CAST(CAST(list_sum(list_transform(range(1, 65), i -> t.qv[i] * ev.eqv[i])) AS BIGINT) AS DOUBLE) /
      |        (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> t.qv[i] * t.qv[i])) AS BIGINT) AS DOUBLE)) *
      |         sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> ev.eqv[i] * ev.eqv[i])) AS BIGINT) AS DOUBLE)))) AS max_cos
      |  FROM train t CROSS JOIN ev
      |  GROUP BY t.vec_id, t.label),
      |q AS (SELECT vec_id, label,
      |        CAST(floor(max_cos * 1000000.0) AS BIGINT) AS contam_micro
      |      FROM perdoc)
      |SELECT label,
      |  CAST(COUNT(*) AS BIGINT) AS n_train,
      |  CAST(SUM(CASE WHEN contam_micro >= 900000 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
      |  CAST(MAX(contam_micro) AS BIGINT) AS worst_contam_micro
      |FROM q GROUP BY label ORDER BY label""".stripMargin

  /** Q175 — IVF TUNING CURVE: recall@10 versus probe breadth (nprobe ∈
    * {1, 2, 4, 8}) against the exact full-scan truth, with the candidate
    * volume each setting actually examined — the recall/cost table every
    * IVF deployment is tuned from (completing the eval set: q121 =
    * relevance, q150 = dedup banding, this = ANN pruning). Same
    * integer-exact index build as q15c/q79, so the oracle replays
    * build + per-query cell ranking + the nprobe sweep + both rankings
    * bit-for-bit; recall is exact integer µ.
    *
    * Scale: the query batch is bounded and broadcasts with its probed
    * cells; the index is scanned once with candidates ≈ Σₚ(p/cells)·n —
    * linear with a constant ≈ |batch|·avg(nprobe)/cells; both rankings
    * are WindowGroupLimit per (query, nprobe). The corpus never
    * shuffles. */
  def ivfTuning(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, dir)
    val cents = Similarity.ivfExactCentroids(emb, "vec_id", "embedding", k = 8, iters = 1)
    val qvecs = emb.select(col("vec_id").as("id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val index = Similarity.ivfExactAssign(qvecs, cents)
    val queries = qvecs.filter(col("id") < 4)
      .select(col("id").as("query_id"), col("qv").as("q"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("id").asc)
    val truth = qvecs.crossJoin(broadcast(queries))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.NativeExpressions.longCosine(
        col("qv"), col("q")))
      .withColumn("rank", row_number().over(wq)).filter(col("rank") <= 10)
      .select(col("query_id"), col("id"))
    val cellRank = queries.crossJoin(broadcast(cents))
      .withColumn("sim", graft.functions.NativeExpressions.longCosine(
        col("cv"), col("q")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("query_id"))
        .orderBy(col("sim").desc, col("cell").asc)))
      .select(col("query_id"), col("q"), col("cell"), col("rk"))
    val probed = cellRank
      .withColumn("nprobe", explode(array(Seq(1, 2, 4, 8).map(lit): _*)))
      .filter(col("rk") <= col("nprobe"))
      .select(col("query_id"), col("q"), col("cell"), col("nprobe"))
    val approx = index.join(broadcast(probed), Seq("cell"))
      .filter(col("id") =!= col("query_id"))
      .withColumn("cosine", graft.functions.NativeExpressions.longCosine(
        col("qv"), col("q")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("query_id"), col("nprobe"))
          .orderBy(col("cosine").desc, col("id").asc)))
    // ONE pass over the approx candidates for both metrics: the previous
    // scanned/hits pair consumed `approx` twice, re-running the index
    // join + rank windows per aggregate (guide §7.2 duplicate subtrees).
    // truth is unique per (query_id, id), so a left join preserves the
    // row count (candidates_scanned) while flagging the recall hits —
    // identical values to the inner-join count, with absent nprobe hits
    // arriving as the sum's natural 0 instead of the outer-join coalesce.
    val flagged = approx
      .join(truth.withColumn("__hit", lit(1)), Seq("query_id", "id"), "left")
    val perProbe = flagged.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("candidates_scanned"),
        sum(when(col("rank") <= 10 && col("__hit").isNotNull, 1L)
          .otherwise(0L)).as("hits_at_10"))
    val denom = queries.agg(count(lit(1)).as("n_queries"))
    perProbe
      .crossJoin(broadcast(denom))
      .select(col("nprobe").cast("long").as("nprobe"), col("n_queries"),
        col("hits_at_10"), col("candidates_scanned"))
      .withColumn("recall_micro",
        expr("CAST(hits_at_10 * 1000000 DIV (n_queries * 10) AS BIGINT)"))
      .orderBy(col("nprobe"))
  }

  val ivfTuningSql: String = {
    def cos(a: String, b: String): String =
      s"""CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $b[i])) AS BIGINT) AS DOUBLE) /
         |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $a[i] * $a[i])) AS BIGINT) AS DOUBLE)) *
         |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> $b[i] * $b[i])) AS BIGINT) AS DOUBLE)))""".stripMargin
    s"""WITH c AS (
       |  SELECT vec_id AS id,
       |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
       |  FROM embeddings),
       |seeds AS (
       |  SELECT id AS cell, qv AS cv FROM c
       |  ORDER BY CAST('0x'||substring(md5(CAST(id AS VARCHAR)),1,15) AS BIGINT) ASC, id ASC
       |  LIMIT 8),
       |a1 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, s.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "s.cv")} DESC, s.cell ASC) AS rn
       |    FROM c CROSS JOIN seeds s)
       |  WHERE rn = 1),
       |sums AS (
       |  SELECT a1.cell, r.d, CAST(sum(c.qv[r.d + 1]) AS BIGINT) AS sc
       |  FROM a1 JOIN c USING (id) CROSS JOIN range(0, 64) r(d)
       |  GROUP BY a1.cell, r.d),
       |cents1 AS (SELECT cell, list(sc ORDER BY d) AS sv FROM sums GROUP BY cell),
       |cents AS (
       |  SELECT s.cell, coalesce(c1.sv, s.cv) AS cv
       |  FROM seeds s LEFT JOIN cents1 c1 USING (cell)),
       |a2 AS (
       |  SELECT id, cell FROM (
       |    SELECT c.id, ct.cell,
       |      ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY
       |        ${cos("c.qv", "ct.cv")} DESC, ct.cell ASC) AS rn
       |    FROM c CROSS JOIN cents ct)
       |  WHERE rn = 1),
       |qs AS (SELECT id AS query_id, qv AS q FROM c WHERE id < 4),
       |truth AS (
       |  SELECT query_id, id FROM (
       |    SELECT qs.query_id, c.id,
       |      ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |        ${cos("c.qv", "qs.q")} DESC, c.id ASC) AS rn
       |    FROM c CROSS JOIN qs WHERE c.id <> qs.query_id)
       |  WHERE rn <= 10),
       |cellrank AS (
       |  SELECT qs.query_id, qs.q, ct.cell,
       |    ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |      ${cos("ct.cv", "qs.q")} DESC, ct.cell ASC) AS rk
       |  FROM qs CROSS JOIN cents ct),
       |probed AS (
       |  SELECT query_id, q, cell, nprobe
       |  FROM cellrank, (SELECT UNNEST([1, 2, 4, 8]) AS nprobe)
       |  WHERE rk <= nprobe),
       |approx AS (
       |  SELECT p.query_id, p.nprobe, a2.id,
       |    ROW_NUMBER() OVER (PARTITION BY p.query_id, p.nprobe ORDER BY
       |      ${cos("c.qv", "p.q")} DESC, a2.id ASC) AS rank
       |  FROM a2 JOIN probed p USING (cell) JOIN c ON a2.id = c.id
       |  WHERE a2.id <> p.query_id),
       |scanned AS (
       |  SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS candidates_scanned
       |  FROM approx GROUP BY nprobe),
       |hits AS (
       |  SELECT a.nprobe, CAST(COUNT(*) AS BIGINT) AS hits_at_10
       |  FROM approx a JOIN truth t ON a.query_id = t.query_id AND a.id = t.id
       |  WHERE a.rank <= 10 GROUP BY a.nprobe),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qs)
       |SELECT CAST(s.nprobe AS BIGINT) AS nprobe, nq.n_queries,
       |  CAST(COALESCE(h.hits_at_10, 0) AS BIGINT) AS hits_at_10,
       |  s.candidates_scanned,
       |  CAST(COALESCE(h.hits_at_10, 0) * 1000000 // (nq.n_queries * 10) AS BIGINT)
       |    AS recall_micro
       |FROM scanned s LEFT JOIN hits h ON s.nprobe = h.nprobe
       |CROSS JOIN nq
       |ORDER BY nprobe""".stripMargin
  }

  /** Q194 — MMR-diversified top-k ([[Similarity.mmrRerank]], Carbonell &
    * Goldstein 1998): retrieve the top-8 exact-cosine candidates for the
    * q15 probe (vec_id = 0), then greedily re-rank 4 results by
    * λ·rel − (1−λ)·max-sim-to-selected with λ = 0.7 — the page a
    * retrieval UI should actually show, where the 2nd-4th hits are
    * penalized for redundancy with what's already on the page. The
    * oracle unrolls all four greedy steps (argmax + anti-membership +
    * max-sim-to-selected) in SQL, so a drifted pick at ANY step fails
    * the compare. NB the λ constants are CAST(... AS DOUBLE) in the SQL:
    * DuckDB folds bare `1.0 - 0.7` in DECIMAL (exactly 0.3), while Scala's
    * `1.0 - 0.7` is the double 0.30000000000000004 — a one-ulp score skew
    * that flipped a greedy pick until the casts pinned both engines to
    * the identical IEEE constants.
    *
    * Scale: the candidate page is a bounded serving artifact — one
    * corpus scan produces it (WindowGroupLimit top-8), after which every
    * greedy step is arithmetic over ≤ 8² checkpointed rows. */
  def mmrRerank(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val query = emb.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val cand = emb.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(query))
      .withColumn("rel", graft.functions.NativeExpressions.quantizedCosine(
        col("embedding"), col("q")))
      .select(col("vec_id"), col("embedding"), col("rel"))
      .orderBy(col("rel").desc, col("vec_id").asc)
      .limit(8)
    Similarity.mmrRerank(cand, "vec_id", "embedding", "rel", k = 4, lambda = 0.7)
      .withColumnRenamed("id", "vec_id")
      .orderBy(col("rank"))
  }

  /** SQL replay of q194: quantize → top-8 candidates → pairwise sims →
    * four unrolled greedy MMR steps. */
  val mmrRerankSql: String =
    """WITH q AS (
      |  SELECT list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id = 0),
      |c AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id <> 0),
      |cand AS (
      |  SELECT c.vec_id, c.qv,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * c.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> q.qv[i] * q.qv[i])) AS BIGINT) AS DOUBLE))) AS rel
      |  FROM c CROSS JOIN q
      |  ORDER BY rel DESC, vec_id ASC LIMIT 8),
      |sims AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.qv[i] * y.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.qv[i] * x.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> y.qv[i] * y.qv[i])) AS BIGINT) AS DOUBLE))) AS sim
      |  FROM cand x JOIN cand y ON x.vec_id <> y.vec_id),
      |s1 AS (
      |  SELECT vec_id, rel, CAST(0.7 AS DOUBLE) * rel AS mmr_score FROM cand
      |  ORDER BY mmr_score DESC, vec_id ASC LIMIT 1),
      |s2 AS (
      |  SELECT cd.vec_id, cd.rel, CAST(0.7 AS DOUBLE) * cd.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms.m AS mmr_score
      |  FROM cand cd JOIN (
      |    SELECT a, MAX(sim) AS m FROM sims WHERE b IN (SELECT vec_id FROM s1) GROUP BY a) ms
      |    ON cd.vec_id = ms.a
      |  WHERE cd.vec_id NOT IN (SELECT vec_id FROM s1)
      |  ORDER BY mmr_score DESC, cd.vec_id ASC LIMIT 1),
      |sel2 AS (SELECT vec_id FROM s1 UNION ALL SELECT vec_id FROM s2),
      |s3 AS (
      |  SELECT cd.vec_id, cd.rel, CAST(0.7 AS DOUBLE) * cd.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms.m AS mmr_score
      |  FROM cand cd JOIN (
      |    SELECT a, MAX(sim) AS m FROM sims WHERE b IN (SELECT vec_id FROM sel2) GROUP BY a) ms
      |    ON cd.vec_id = ms.a
      |  WHERE cd.vec_id NOT IN (SELECT vec_id FROM sel2)
      |  ORDER BY mmr_score DESC, cd.vec_id ASC LIMIT 1),
      |sel3 AS (SELECT vec_id FROM sel2 UNION ALL SELECT vec_id FROM s3),
      |s4 AS (
      |  SELECT cd.vec_id, cd.rel, CAST(0.7 AS DOUBLE) * cd.rel - (CAST(1.0 AS DOUBLE) - CAST(0.7 AS DOUBLE)) * ms.m AS mmr_score
      |  FROM cand cd JOIN (
      |    SELECT a, MAX(sim) AS m FROM sims WHERE b IN (SELECT vec_id FROM sel3) GROUP BY a) ms
      |    ON cd.vec_id = ms.a
      |  WHERE cd.vec_id NOT IN (SELECT vec_id FROM sel3)
      |  ORDER BY mmr_score DESC, cd.vec_id ASC LIMIT 1)
      |SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel, mmr_score FROM s1
      |UNION ALL SELECT CAST(2 AS BIGINT), vec_id, rel, mmr_score FROM s2
      |UNION ALL SELECT CAST(3 AS BIGINT), vec_id, rel, mmr_score FROM s3
      |UNION ALL SELECT CAST(4 AS BIGINT), vec_id, rel, mmr_score FROM s4
      |ORDER BY rank""".stripMargin

  /** Q196 — HUBNESS diagnostic (Radovanović 2010): the k-occurrence
    * distribution of an embedding space — for each vector in a bounded
    * diagnostic sample, how many other sample vectors list it among
    * their 5 exact-cosine nearest neighbours. High-dimensional spaces
    * grow "hubs" (vectors that appear in everyone's neighbour lists) and
    * "anti-hubs" (in-degree 0); a skewed k-occurrence histogram predicts
    * degraded ANN recall and biased kNN classification, which is why the
    * census belongs next to q121/q175 in the index-tuning loop.
    *
    * Scale: the sample is FIXED (vec_id < 200 — the q150 bounded-truth
    * convention), so the all-pairs step is a constant 200² quantized
    * cosines at any corpus size; the histogram is ≤ 200 rows. */
  def hubness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = Tables.embeddings(spark, dir).filter(col("vec_id") < 200)
      .select(col("vec_id"), col("embedding"))
    val neigh = s.select(col("vec_id").as("a"), col("embedding").as("__va"))
      .crossJoin(broadcast(
        s.select(col("vec_id").as("b"), col("embedding").as("__vb"))))
      .filter(col("a") =!= col("b"))
      .withColumn("cosine", graft.functions.NativeExpressions.quantizedCosine(
        col("__va"), col("__vb")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("cosine").desc, col("b").asc)))
      .filter(col("__rk") <= 5)
    val indeg = neigh.groupBy(col("b")).agg(count(lit(1)).as("in_degree"))
    val perVec = s.select(col("vec_id"))
      .join(indeg.withColumnRenamed("b", "vec_id"), Seq("vec_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .localCheckpoint(true) // consumers: histogram + total
    val tot = perVec.agg(count(lit(1)).as("__n"))
    perVec.groupBy(col("in_degree")).agg(count(lit(1)).as("n_vecs"))
      .crossJoin(broadcast(tot))
      .withColumn("share_micro", expr("CAST(n_vecs * 1000000 DIV __n AS BIGINT)"))
      .drop("__n")
      .orderBy(col("in_degree"))
  }

  val hubnessSql: String =
    """WITH s AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 200),
      |pairs AS (
      |  SELECT x.vec_id AS a, y.vec_id AS b,
      |    CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.qv[i] * y.qv[i])) AS BIGINT) AS DOUBLE) /
      |    (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> x.qv[i] * x.qv[i])) AS BIGINT) AS DOUBLE)) *
      |     sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> y.qv[i] * y.qv[i])) AS BIGINT) AS DOUBLE))) AS cosine
      |  FROM s x JOIN s y ON x.vec_id <> y.vec_id),
      |ranked AS (
      |  SELECT a, b, row_number() OVER (PARTITION BY a ORDER BY cosine DESC, b ASC) AS rk
      |  FROM pairs),
      |indeg AS (
      |  SELECT b AS vec_id, CAST(COUNT(*) AS BIGINT) AS in_degree
      |  FROM ranked WHERE rk <= 5 GROUP BY b),
      |pervec AS (
      |  SELECT COALESCE(i.in_degree, 0) AS in_degree
      |  FROM s LEFT JOIN indeg i USING (vec_id)),
      |tot AS (SELECT COUNT(*) AS n FROM pervec)
      |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vecs,
      |  CAST(COUNT(*) * 1000000 // (SELECT n FROM tot) AS BIGINT) AS share_micro
      |FROM pervec GROUP BY in_degree ORDER BY in_degree""".stripMargin

  /** Q202 — EMBEDDING-CENTROID DRIFT between ingestion snapshots (the
    * embedding-space twin of q101's token drift: when an encoder is
    * retrained or an upstream filter shifts, the per-class centroid
    * MOVES, and downstream ANN indexes / classifiers silently degrade —
    * this census is the monitoring gate): snapshot A = even vec_ids,
    * snapshot B = odd (the two-epoch convention of q156), and per label
    * the cosine between the two snapshots' centroids. Centroids are
    * exact integers end-to-end: per-dimension sums of the q15-quantized
    * values, then a fixed-point mean (s·1000 DIV n per dimension) so the
    * final 64-dim dot/norms are BOUNDED BIGINTs at ANY corpus size —
    * the sum-then-square of raw totals would overflow at ~1e12 vectors,
    * the divided centroid never does. cosine = 1.0 means no drift.
    *
    * Scale: one posexplode (×64) into a (label, snap, dim) hash
    * aggregate — map-side combine reduces the exchange to cells ×
    * partitions, the reduce side holds |labels|·2·64 rows, and the
    * centroid join is bounded. The corpus shuffles nothing row-sized. */
  def embeddingDrift(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.embeddings(spark, dir)
      .select(pmod(col("vec_id"), lit(2)).as("snap"), col("label"),
        posexplode(col("embedding")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("snap"), col("dim"))
      .agg(sum(floor(col("x").cast("double") * 1000).cast("long")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("c", expr("CAST(s * 1000 DIV n AS BIGINT)"))
    val packed = cells.groupBy(col("label"), col("snap"))
      .agg(max(col("n")).as("n"),
        expr("transform(sort_array(collect_list(struct(dim, c))), p -> p.c)")
          .as("cv"))
    val a = packed.filter(col("snap") === 0)
      .select(col("label"), col("n").as("n_a"), col("cv").as("ca"))
    val b = packed.filter(col("snap") === 1)
      .select(col("label"), col("n").as("n_b"), col("cv").as("cb"))
    a.join(b, Seq("label"))
      .withColumn("drift_cosine", graft.functions.NativeExpressions.longCosine(
        col("ca"), col("cb")))
      .select(col("label"), col("n_a"), col("n_b"), col("drift_cosine"))
      .orderBy(col("label"))
  }

  val embeddingDriftSql: String =
    """WITH cells AS (
      |  SELECT label, vec_id % 2 AS snap, t.i AS dim,
      |    CAST(SUM(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT)) AS BIGINT) AS s,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM embeddings, UNNEST(range(1, 65)) AS t(i)
      |  GROUP BY label, vec_id % 2, t.i),
      |cent AS (
      |  SELECT label, snap, MAX(n) AS n,
      |    list(CAST(s * 1000 // n AS BIGINT) ORDER BY dim) AS cv
      |  FROM cells GROUP BY label, snap),
      |a AS (SELECT label, n AS n_a, cv AS ca FROM cent WHERE snap = 0),
      |b AS (SELECT label, n AS n_b, cv AS cb FROM cent WHERE snap = 1)
      |SELECT a.label, a.n_a, b.n_b,
      |  CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.ca[i] * b.cb[i])) AS BIGINT) AS DOUBLE) /
      |  (sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> a.ca[i] * a.ca[i])) AS BIGINT) AS DOUBLE)) *
      |   sqrt(CAST(CAST(list_sum(list_transform(range(1, 65), i -> b.cb[i] * b.cb[i])) AS BIGINT) AS DOUBLE))) AS drift_cosine
      |FROM a JOIN b USING (label)
      |ORDER BY a.label""".stripMargin

  def defs: Seq[QueryDef] = Seq(
    QueryDef("q202_embedding_drift", embeddingDrift, Some(embeddingDriftSql)),
    QueryDef("q194_mmr_rerank", mmrRerank, Some(mmrRerankSql)),
    QueryDef("q196_hubness", hubness, Some(hubnessSql)),
    QueryDef("q186_crossmodal_alignment", crossmodalAlignment,
      Some(crossmodalAlignmentSql)),
    QueryDef("q175_ivf_tuning", ivfTuning, Some(ivfTuningSql)),
    QueryDef("q165_bitext_mining", bitextMining, Some(bitextMiningSql)),
    QueryDef("q168_semantic_decontam", semanticDecontam, Some(semanticDecontamSql)),
    QueryDef("q114_rrf_fusion", rrfFusion, Some(rrfFusionSql)),
    QueryDef("q224_anchor_fusion", rrfFusionAnchor, Some(rrfFusionAnchorSql)),
    QueryDef("q119_audio_qc", audioQc, Some(audioQcSql)),
    QueryDef("q121_ann_eval", annEval, Some(annEvalSql)),
    QueryDef("q127_scene_cuts", sceneCuts, Some(sceneCutsSql)),
    QueryDef("q220_media_census", mediaCensus, Some(mediaCensusSql)),
    QueryDef("q221_sample_gate", sampleGate, Some(sampleGateSql)),
    QueryDef("q222_phash_robustness", phashRobustness, Some(phashRobustnessSql)),
    QueryDef("q128_image_qc", imageQc, Some(imageQcSql)),
    QueryDef("q131_multimodal_curation", multimodalCuration, Some(multimodalCurationSql)),
    QueryDef("q145_audio_curation", audioCuration, Some(audioCurationSql)),
    QueryDef("q146_video_curation", videoCuration, Some(videoCurationSql)),
    QueryDef("q136_cluster_topics", clusterTopics, Some(clusterTopicsSql)),
    QueryDef("q137_embedding_qc", embeddingQc, Some(embeddingQcSql)),
    QueryDef("q138_cluster_purity", clusterPurity, Some(clusterPuritySql)),
    QueryDef("q109_image_phash", imagePhash, Some(imagePhashSql)),
    QueryDef("q110_image_neardup", imageNearDups, Some(imageNearDupsSql)),
    QueryDef("q15_embedding_topk", embeddingTopK, Some(embeddingTopKSql)),
    QueryDef("q154_hard_negatives", hardNegatives, Some(hardNegativesSql)),
    QueryDef("q208_binary_ann", binaryAnn, Some(binaryAnnSql)),
    QueryDef("q209_matryoshka_recall", matryoshkaRecall, Some(matryoshkaRecallSql)),
    QueryDef("q15b_ann_lsh", annLshPairs, Some(annLshPairsSql)),
    QueryDef("q15c_ann_ivf", ivfTopK, Some(ivfTopKSql)),
    QueryDef("q79_ann_ivf_batch", ivfTopKBatch, Some(ivfTopKBatchSql)),
    QueryDef("q80_embedding_clusters", embeddingClusters, Some(embeddingClustersSql)),
    QueryDef("q98_semantic_dedup", semanticDedup, Some(semanticDedupSql)),
    QueryDef("q163_d4_pruning", d4Pruning, Some(d4PruningSql)),
    QueryDef("q20_multimodal_features", multimodalFeatures, Some(multimodalFeaturesSql)),
    QueryDef("q73_image_decode", imageDecode, Some(imageDecodeSql)),
    QueryDef("q74_audio_decode", audioDecode, Some(audioDecodeSql)),
    QueryDef("q76_mime_detect", mimeDetect, Some(mimeDetectSql)),
    QueryDef("q89_video_frames", videoFrames, Some(videoFramesSql)),
    QueryDef("q40_sq8_compression", sq8Compression, Some(sq8CompressionSql)),
    QueryDef("q46_pq_codes", pqCompression, Some(pqCompressionSql)))
}
