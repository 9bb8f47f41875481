package graft.ops

import org.apache.spark.sql.functions._
import graft.model.{Chunk, ChunkType}

/** One edit command against a document's chunk sequence — the relational
  * carrier of the reference's ChunkCommand union
  * (sequence_management.kt:5-27). `(ts, seq)` orders the per-document log;
  * `i`/`j` are the 0-based target indices (j only for MERGE). */
case class ChunkCommand(id: Long, ts: Long, seq: Long, op: String,
    i: Int, j: Int, payload: String)

object ChunkCommandOp {
  val Start = "START"; val Add = "ADD"; val Insert = "INSERT"
  val Update = "UPDATE"; val Merge = "MERGE"; val Delete = "DELETE"
}

/** Chunk sequence algebra (SURVEY.md §2 D): the reference's pure
  * `Sequence<T>` editing ops mirroring ChunkCommand —
  * reference: pipeline/src/main/kotlin/chunks/sequence_management.kt:5-27,
  * tested by unittests/SequenceTests.kt:8-41.
  *
  * Scala form over Seq[T]: the typed fold of a chunk-command log
  * (`foldCommandLog`, inside mapGroups) applies it per document.
  *
  * Indices are 0-based like the reference's. Out-of-bounds `update` is a
  * no-op (sequence_management.kt:14-17); `merge` collapses [from,to] into
  * one combined element (:19-22).
  */
object ChunkAlgebra {

  // ------------------------------------------------------------ Seq form

  def append[T](xs: Seq[T], x: T): Seq[T] = xs :+ x

  def insertAt[T](xs: Seq[T], i: Int, x: T): Seq[T] =
    if (i < 0 || i > xs.length) xs
    else (xs.take(i) :+ x) ++ xs.drop(i)

  def updateAt[T](xs: Seq[T], i: Int, x: T): Seq[T] =
    if (i < 0 || i >= xs.length) xs else xs.updated(i, x)

  def mergeRange[T](xs: Seq[T], from: Int, to: Int, combine: Seq[T] => T): Seq[T] =
    if (from < 0 || to >= xs.length || from > to) xs
    else (xs.take(from) :+ combine(xs.slice(from, to + 1))) ++ xs.drop(to + 1)

  def removeAt[T](xs: Seq[T], i: Int): Seq[T] =
    if (i < 0 || i >= xs.length) xs
    else xs.take(i) ++ xs.drop(i + 1)

  // ------------------------------------------------------ command-log fold

  /** Fold a per-document chunk-command log to final chunk state — the
    * batch form of the reference's per-key sequential command application
    * (Kafka gave per-key log order for free; here the order rides in the
    * data as (ts, seq), SURVEY §7.4). One shuffle on the document id;
    * each group's log is tiny (edit commands, not content), so the
    * in-group sort is per-record work. Returns (id, chunks).
    * Out-of-bounds edits are no-ops, mirroring sequence_management.kt. */
  def foldCommandLog(cmds: org.apache.spark.sql.Dataset[ChunkCommand]): org.apache.spark.sql.DataFrame = {
    val spark = cmds.sparkSession
    import spark.implicits._
    cmds.groupByKey(_.id).mapGroups { (id, it) =>
      val log = it.toSeq.sortBy(c => (c.ts, c.seq))
      val fin = log.foldLeft(Seq.empty[String]) { (acc, c) =>
        c.op match {
          case ChunkCommandOp.Start  => Seq.empty
          case ChunkCommandOp.Add    => append(acc, c.payload)
          case ChunkCommandOp.Insert => insertAt(acc, c.i, c.payload)
          case ChunkCommandOp.Update => updateAt(acc, c.i, c.payload)
          case ChunkCommandOp.Merge  => mergeRange(acc, c.i, c.j, (xs: Seq[String]) => xs.mkString(" "))
          case ChunkCommandOp.Delete => removeAt(acc, c.i)
          case other => throw new IllegalArgumentException(s"unknown chunk command: $other")
        }
      }
      (id, fin)
    }.toDF("id", "chunks")
  }

  // ----------------------------------------------------------- chunkers

  /** Word chunker: text → WORD chunks with ordinal + parent FK (the
    * reference's ChunkProducer shape, KafkaIntelligencePipeline.kt:142-145,
    * with the START/LAST framing carried by `index` boundaries). */
  def wordChunks(parentId: Long, text: String, createdBy: String): Seq[Chunk] = {
    val words = text.split(" ", -1).toSeq
    words.zipWithIndex.map { case (w, i) =>
      Chunk(ChunkType.Word, i.toLong, parentId, w, createdBy)
    }
  }

  /** Fixed-width word-window chunker (paragraph analog). */
  def windowChunks(parentId: Long, text: String, width: Int, createdBy: String): Seq[Chunk] = {
    val words = text.split(" ", -1).toSeq
    words.grouped(width).zipWithIndex.map { case (ws, i) =>
      Chunk(ChunkType.Paragraph, i.toLong, parentId, ws.mkString(" "), createdBy)
    }.toSeq
  }

  /** Punctuation-aware sentence chunker with START/LAST framing
    * (reference: participants/implementations.kt:56-89 — the sentence
    * producer emits framed SENTENCE chunks so consumers can detect
    * document boundaries in the chunk stream).
    *
    * Columnar: one narrow projection + posexplode, no shuffle, no UDF.
    * Split is on ". " (sentence-period + space); the terminal period of
    * non-final sentences is restored after the split so every chunk is a
    * complete sentence. `frame` ∈ START | MID | LAST | ONLY. Returns
    * (id, idx, frame, sentence). */
  def sentenceChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame =
    df.withColumn("parts", split(col(textCol), "\\. "))
      .withColumn("n", size(col("parts")))
      .select(col(idCol), col("n"), posexplode(col("parts")).as(Seq("idx", "part")))
      .select(
        col(idCol),
        col("idx").cast("long").as("idx"),
        when(col("n") === 1, "ONLY")
          .when(col("idx") === 0, "START")
          .when(col("idx") === col("n") - 1, "LAST")
          .otherwise("MID").as("frame"),
        when(col("idx") < col("n") - 1, concat(col("part"), lit(".")))
          .otherwise(col("part")).as("sentence"))
}
