package graft.pipeline

import graft.model.DataRecord
import graft.functions.TextFunctions

/** The standard enricher library — row-level ports of the reference's
  * participants (SURVEY.md §2 B), computing the same values as the
  * columnar TextFunctions so pipeline output stays oracle-checkable.
  *
  * All heuristic logic MUST mirror graft.functions.TextFunctions exactly
  * (same tokenization, same double op order) — q22 verifies the whole
  * pipeline against a SQL oracle built from those formulas.
  */
object StandardEnrichers {

  private def contentOf(record: DataRecord, resolver: ContentResolver): Option[String] =
    Option(record.representation).flatMap(resolver.resolve)

  /** SHA-256 content digest — the reference's HashMetadataProducer used
    * SHA-1 (participants/implementations.kt:41-52); SHA-256 here (same
    * role, stronger hash, available in every oracle engine). */
  class HashEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "hash"
    override def provides: Set[String] = Set("digest")
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        val d = java.security.MessageDigest.getInstance("SHA-256")
          .digest(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        Map("sha256" -> d.map("%02x".format(_)).mkString)
      }.getOrElse(Map.empty)
  }

  /** Stopword-profile language ID — mirror of TextFunctions.langId
    * (reference analog: TikaMetadataProducer's `lang`,
    * implementations.kt:224-226). */
  class LangEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "lang"
    override def provides: Set[String] = Set("languageDetection")
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        Map("lang" -> StandardEnrichers.langIdScala(text))
      }.getOrElse(Map.empty)
  }

  /** Quality score ×1e6 as integer string (engine-exact; mirror of
    * TextFunctions.qualityScoreRaw). Requires language detection first —
    * exercising the dependency ordering (any real scorer gates on lang). */
  class QualityEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "quality"
    override def requires: Set[String] = Set("languageDetection")
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        Map("quality_micro" -> StandardEnrichers.qualityMicro(text).toString)
      }.getOrElse(Map.empty)
  }

  /** Token counts (whitespace + BPE-ish) — mirror of TextFunctions. */
  class TokenEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "tokens"
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        Map(
          "n_tokens" -> text.split(" ", -1).length.toString,
          "n_bpe" -> TextFunctions.BpePattern.r.findAllIn(text).size.toString)
      }.getOrElse(Map.empty)
  }

  /** Rolling-hash fingerprint — mirror of TextFunctions.fingerprint. */
  class FingerprintEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "fingerprint"
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        Map("fp" -> StandardEnrichers.fingerprintScala(text).toString)
      }.getOrElse(Map.empty)
  }

  /** Key phrases = top-k most frequent non-stopword tokens — the offline
    * stand-in for the reference's Azure keyPhrases REST producer
    * (participants/implementations.kt:287-332), including its language
    * gate. Deterministic: ties break by token. */
  class KeyPhraseEnricher(resolver: ContentResolver = ContentResolver.default,
      k: Int = 3) extends Enricher {
    override def name: String = "keyphrases"
    override def requires: Set[String] = Set("languageDetection")
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        val stop = graft.functions.TextFunctions.Stopwords.flatMap(_._2).toSet
        val freq = text.split(" ", -1).filterNot(stop.contains)
          .groupBy(identity).view.mapValues(_.length).toSeq
        val top = freq.sortBy { case (tok, n) => (-n, tok) }.take(k)
        top.zipWithIndex.map { case ((tok, _), i) => s"keyPhrase_$i" -> tok }.toMap
      }.getOrElse(Map.empty)
  }

  /** Entity extraction behind the reference's `Map(entityName →
    * entityType)` contract (Google NLP producer,
    * participants/implementations.kt:264-284). Two evidence sources,
    * same capability name:
    *   - surface patterns (numbers / identifiers) — the always-on
    *     offline floor;
    *   - an optional TRAINED gazetteer (ops/Ner.gazetteer collected to a
    *     driver map — bounded by vocabulary × categories, so it
    *     broadcasts with the enricher closure). A trained type overrides
    *     a pattern type for the same token.
    * Build the trained form with [[EntityEnricher.trained]]. */
  class EntityEnricher(resolver: ContentResolver = ContentResolver.default,
      gazetteer: Map[String, String] = Map.empty) extends Enricher {
    override def name: String = "entities"
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        val toks = text.split(" ", -1).distinct.toSeq.sorted
        val ruled = toks.collect {
          case t if t.matches("^[0-9]+$") => t -> "NUMBER"
          case t if t.matches("^[a-z]+[0-9]+$") => t -> "IDENT"
        }.toMap
        val learned = toks.flatMap(t => gazetteer.get(t).map(t -> _)).toMap
        ruled ++ learned
      }.getOrElse(Map.empty)
  }

  object EntityEnricher {
    /** Swap the stand-in for a corpus-trained model: `gaz` is
      * ops/Ner.gazetteer output — (tok, ner_type, votes). The collect is
      * safe by construction: the gazetteer is bounded by vocabulary ×
      * categories, not corpus size. */
    def trained(gaz: org.apache.spark.sql.DataFrame,
        resolver: ContentResolver = ContentResolver.default): EntityEnricher =
      new EntityEnricher(resolver,
        gaz.select("tok", "ner_type").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap)
  }

  def all(resolver: ContentResolver = ContentResolver.default): Seq[Enricher] = Seq(
    new HashEnricher(resolver), new LangEnricher(resolver),
    new QualityEnricher(resolver), new TokenEnricher(resolver),
    new FingerprintEnricher(resolver))

  /** NLP parse-map producer (B6): the reference's CoreNLP producer
    * flattens per-sentence parses into map keys `sentence_i`, `word_i_j`,
    * `pos_i_j`, `ne_i_j` (implementations.kt:92-146). Offline stand-in:
    * 7-word sentences, rule-based tags (TextFunctions.posTag/neTag) — the
    * map SHAPE is the reference's contract; the tagger is pluggable. */
  class ParseEnricher(resolver: ContentResolver = ContentResolver.default) extends Enricher {
    override def name: String = "parse"
    override def values(record: DataRecord): Map[String, String] =
      contentOf(record, resolver).map { text =>
        val words = text.split(" ", -1)
        val wordKeys = words.zipWithIndex.flatMap { case (w, idx) =>
          val (i, j) = (idx / 7, idx % 7)
          Seq(s"word_${i}_$j" -> w,
            s"pos_${i}_$j" -> TextFunctions.posTagScala(w),
            s"ne_${i}_$j" -> TextFunctions.neTagScala(w))
        }
        val sentKeys = words.grouped(7).zipWithIndex.map { case (ws, i) =>
          s"sentence_$i" -> ws.mkString(" ")
        }
        (wordKeys ++ sentKeys).toMap
      }.getOrElse(Map.empty)
  }

  /** The extended set incl. the offline NLP-service stand-ins. */
  def extended(resolver: ContentResolver = ContentResolver.default): Seq[Enricher] =
    all(resolver) ++ Seq(new KeyPhraseEnricher(resolver), new EntityEnricher(resolver),
      new ParseEnricher(resolver))

  // ------------------------------------------------- mirrored heuristics
  // All tokenization uses split(" ", -1): Java's 1-arg split drops trailing
  // empty tokens, while Spark's split() and DuckDB's string_split keep them.

  def langIdScala(text: String): String = {
    val distinct = text.split(" ", -1).distinct.toSet
    val h = TextFunctions.Stopwords.map { case (l, ws) =>
      l -> ws.count(distinct.contains)
    }.toMap
    if (h("en") == 0 && h("de") == 0 && h("es") == 0 && h("fr") == 0) "und"
    else if (h("en") >= h("de") && h("en") >= h("es") && h("en") >= h("fr")) "en"
    else if (h("de") >= h("es") && h("de") >= h("fr")) "de"
    else if (h("es") >= h("fr")) "es"
    else "fr"
  }

  /** round(quality*1e6) with the exact double op order of
    * TextFunctions.qualityScoreRaw / the q17 SQL. */
  def qualityMicro(text: String): Long = {
    val toks = text.split(" ", -1)
    val n = toks.length.toDouble
    val nd = toks.distinct.length.toDouble
    val dig = toks.count(_.matches("^[0-9]+$")).toDouble
    val lenSat = math.min(1.0, n / 50)
    val avgLen = (text.length - (toks.length - 1)).toDouble / n
    val q = 0.3 * lenSat + 0.3 * (nd / n) + 0.2 * (1.0 - dig / n) +
      0.2 * math.min(1.0, avgLen / 8)
    math.round(q * 1000000)
  }

  def fingerprintScala(text: String): Long = {
    var acc = 0L
    var i = 0
    while (i < text.length) {
      acc = (acc * 31 + text.charAt(i).toLong) % TextFunctions.FingerprintMod
      i += 1
    }
    acc
  }
}
