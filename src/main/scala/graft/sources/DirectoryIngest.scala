package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, LongType, StringType, StructField, StructType, TimestampType}
import graft.model._

/** Raw-file directory ingestion — the reference's entry point
  * (DirectoryIngestor, reference: participants/implementations.kt:334-341;
  * scheduled re-walk connector, reference: IngestConnector.kt:33-96).
  *
  * Spark-first shape: the `binaryFile` source replaces the hand-rolled
  * directory walker (batch) and the scheduled re-walk (streaming — the
  * file source's incremental listing picks up new files per microbatch).
  * Files become CREATE events carrying a path-keyed
  * DocumentRepresentation; content stays on the filesystem and is resolved
  * lazily by FileContentResolver (the reference's "keep payloads off the
  * bus, ship pointers" posture).
  *
  * Scale: listing is distributed by the source; content bytes ride as one
  * binary column, never through the driver; `maxPartitionBytes` governs
  * split packing of many small files.
  */
object DirectoryIngest {

  /** The `binaryFile` source's fixed schema. A streaming file source
    * refuses schema inference even for a fixed-schema format, and
    * learning it from a batch load would list the whole landing zone at
    * every stream start. */
  val BinaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("modificationTime", TimestampType),
    StructField("length", LongType), StructField("content", BinaryType)))

  /** Batch directory scan: (path, modificationTime, length, content). */
  def scan(spark: SparkSession, dir: String, glob: String = "*.txt"): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", glob)
      .load(dir)

  /** Streaming directory scan — the analog of the reference's scheduled
    * directory re-walk (IngestConnector.kt:33-96): each microbatch ingests
    * newly-appeared files. */
  def scanStream(spark: SparkSession, dir: String, glob: String = "*.txt"): DataFrame =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", glob)
      .schema(BinaryFileSchema)
      .load(dir)

  /** Scanned files → CREATE events. Record id is the numeric file-name
    * stem when present (join-friendly against the generating table),
    * otherwise xxhash64(path) — the stable-key discipline of SURVEY §7.4.
    * The representation points at the file (`createdBy = "directory"`);
    * FileContentResolver resolves it for downstream enrichers. */
  def asEvents(scanned: DataFrame): Dataset[DataRecordEvent] = {
    val spark = scanned.sparkSession
    import spark.implicits._
    // anchored to the WHOLE filename: 'doc7.txt' must hash, not collide
    // with '7.txt' on id=7
    val stem = regexp_extract(col("path"), "/([0-9]+)\\.[A-Za-z0-9]+$", 1)
    scanned.select(
      lit(Command.Create).as("command"),
      when(stem =!= "", stem.cast("long")).otherwise(xxhash64(col("path"))).as("id"),
      lit(1L).as("timestamp"),
      lit(0L).as("seq"),
      regexp_extract(col("path"), "([^/]+)$", 1).as("name"),
      struct(
        // strip the scheme the binaryFile source prepends so the path is
        // directly readable by FileContentResolver
        regexp_replace(col("path"), "^file:", "").as("path"),
        lit("directory").as("createdBy")).as("representation"),
      lit(null).cast("struct<values:map<string,string>,createdBy:string>").as("meta"))
      .as[DataRecordEvent]
  }

  /** Deterministic on-disk fixture for the ingest queries/tests: one
    * `<doc_id>.txt` per `documents` row with doc_id % `modulo` == 0,
    * written via foreachPartition (each task writes its partition's files —
    * the B11 file-writer side-effect shape, never the driver). Idempotent
    * via a marker file; content is a pure function of the table, so
    * re-generation is safe. */
  def ensureFixture(spark: SparkSession, sfDir: String, modulo: Int = 10): String = {
    // full-canonical-path key (Tables.dirCacheKey): two corpora sharing a
    // basename must not share a fixture (the Warc.ensureFixture fix)
    val name = Tables.dirCacheKey(sfDir)
    val out = java.nio.file.Paths.get(s"/tmp/graft_ingest_fixture/$name-m$modulo")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString // Path is not serializable; ship the string
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % modulo === 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val base = java.nio.file.Paths.get(outStr)
          rows.foreach { r =>
            java.nio.file.Files.write(
              base.resolve(s"${r.getLong(0)}.txt"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }

  /** Binary-document fixture: one GRFT-encoded `<doc_id>.bin` per
    * `documents` row with doc_id % `modulo` == 0 (BinaryDocs.encode), and
    * a DELIBERATELY CORRUPT file (last CRC byte flipped) for every
    * doc_id % (modulo*10) == 0 — the parse pipeline must isolate those as
    * `!error` records instead of failing the job. Same foreachPartition
    * writer + idempotency marker as the txt fixture. */
  def ensureBinaryFixture(spark: SparkSession, sfDir: String, modulo: Int = 7): String = {
    val name = Tables.dirCacheKey(sfDir)
    val out = java.nio.file.Paths.get(s"/tmp/graft_ingest_fixture/$name-bin-m$modulo")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString
      val corruptEvery = modulo * 10
      Tables.documents(spark, sfDir)
        .filter(org.apache.spark.sql.functions.col("doc_id") % modulo === 0)
        .select(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val base = java.nio.file.Paths.get(outStr)
          rows.foreach { r =>
            val id = r.getLong(0)
            val bytes = graft.pipeline.BinaryDocs.encode(r.getString(1))
            if (id % corruptEvery == 0)
              bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 0xFF).toByte
            java.nio.file.Files.write(base.resolve(s"$id.bin"), bytes)
          }
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }

  /** ZIP-container fixture: one docx-shaped `<doc_id>.docx` per
    * `documents` row with doc_id % `modulo` == 0 (ZipDocs.encode — a real
    * OOXML-shaped archive, the test3.docx analog), and a DELIBERATELY
    * CORRUPT archive for every doc_id % (modulo*10) == 0: one byte of the
    * stored `word/document.xml` payload is flipped, so the entry's CRC
    * check fails inside the parser and the record must isolate as
    * `!error = bad-zip` instead of failing the job. Same foreachPartition
    * writer + idempotency marker as the other fixtures. */
  def ensureZipFixture(spark: SparkSession, sfDir: String, modulo: Int = 11): String = {
    val name = Tables.dirCacheKey(sfDir)
    val out = java.nio.file.Paths.get(s"/tmp/graft_ingest_fixture/$name-zip-m$modulo")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString
      val corruptEvery = modulo * 10
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % modulo === 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val base = java.nio.file.Paths.get(outStr)
          val run = "<w:t>".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
          rows.foreach { r =>
            val id = r.getLong(0)
            val bytes = graft.pipeline.ZipDocs.encode(r.getString(1))
            if (id % corruptEvery == 0) {
              // flip the first text byte INSIDE the stored payload: the
              // archive structure stays walkable, the entry CRC does not
              var i = 0
              while (i < bytes.length - run.length &&
                !java.util.Arrays.equals(bytes, i, i + run.length, run, 0, run.length)) i += 1
              val t = i + run.length
              bytes(t) = (bytes(t) ^ 0x5A).toByte
            }
            java.nio.file.Files.write(base.resolve(s"$id.docx"), bytes)
          }
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }

  /** PDF fixture: one minimal single-page `<doc_id>.pdf` per `documents`
    * row with doc_id % `modulo` == 0 (PdfDocs.encode). ODD multiples of
    * `modulo` are `/FlateDecode`-compressed through a real zlib Deflater
    * (doc_id % (2*modulo) != 0); even multiples stay uncompressed so
    * their byte size is the oracle's closed form. Every
    * doc_id % (modulo*10) == 0 file is DELIBERATELY CORRUPT — the
    * `%PDF-` header magic is broken, so the record must isolate as
    * `!error = bad-pdf` instead of failing the job. Same
    * foreachPartition writer + idempotency marker as the other
    * fixtures. */
  def ensurePdfFixture(spark: SparkSession, sfDir: String, modulo: Int = 13): String = {
    val name = Tables.dirCacheKey(sfDir)
    val out = java.nio.file.Paths.get(s"/tmp/graft_ingest_fixture/$name-pdf-m$modulo")
    val marker = out.resolve("_COMPLETE")
    if (!java.nio.file.Files.exists(marker)) {
      java.nio.file.Files.createDirectories(out)
      val outStr = out.toString
      val corruptEvery = modulo * 10
      val flateUnless = modulo * 2
      Tables.documents(spark, sfDir)
        .filter(col("doc_id") % modulo === 0)
        .select(col("doc_id"), col("text"))
        .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
          val base = java.nio.file.Paths.get(outStr)
          rows.foreach { r =>
            val id = r.getLong(0)
            val bytes =
              graft.pipeline.PdfDocs.encode(r.getString(1), flate = id % flateUnless != 0)
            if (id % corruptEvery == 0)
              bytes(1) = (bytes(1) ^ 0x5A).toByte // break the %PDF- magic
            java.nio.file.Files.write(base.resolve(s"$id.pdf"), bytes)
          }
        }
      java.nio.file.Files.write(marker, Array.emptyByteArray)
    }
    out.toString
  }
}
