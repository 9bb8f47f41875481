package graft

import graft.model._
import graft.pipeline._

/** Enricher-framework behaviors from the reference test suite:
  * idempotent re-enrichment (KafkaIntelligencePipeline.kt:227-233) and
  * rogue-producer fault isolation (KafkaIntelligencePipelineTests.kt:176-195).
  */
class EnricherSpec extends SparkSpec {
  import spark.implicits._

  private def records(n: Int): Seq[DataRecord] = (1 to n).map { i =>
    DataRecord(i.toLong, s"doc-$i", 1L,
      DocumentRepresentation(s"hello world number $i", "inline"), Seq.empty, Seq.empty)
  }

  test("enrichment adds one metadata entry per enricher") {
    val out = Enrichers.enrich(spark.createDataset(records(5)), StandardEnrichers.all())
      .collect()
    assert(out.forall(_.meta.size == StandardEnrichers.all().size))
    assert(out.forall(_.metaBy("lang").exists(_.values.contains("lang"))))
  }

  test("re-running the pipeline is a no-op (idempotency gate)") {
    val once = Enrichers.enrich(spark.createDataset(records(5)), StandardEnrichers.all())
    val twice = Enrichers.enrich(once, StandardEnrichers.all()).collect()
    assert(twice.forall(_.meta.size == StandardEnrichers.all().size))
  }

  test("a rogue enricher poisons only its own metadata (fault isolation)") {
    val enrichers = StandardEnrichers.all() :+ new RogueEnricher()
    val out = Enrichers.enrich(spark.createDataset(records(3)), enrichers).collect()
    // every record still got all healthy enrichments...
    assert(out.forall(_.meta.count(!_.createdBy.endsWith("!error")) ==
      StandardEnrichers.all().size))
    // ...plus an isolated error marker, and the error does not re-fire on re-run
    assert(out.forall(_.metaBy("rogue!error").exists(_.values("error").contains("rogue"))))
    val rerun = Enrichers.enrich(spark.createDataset(out.toSeq), enrichers).collect()
    assert(rerun.forall(_.meta.size == StandardEnrichers.all().size + 1))
  }

  test("extended enrichers: key phrases and entities are deterministic") {
    val rec = DataRecord(1L, "d", 1L,
      DocumentRepresentation("spark spark spark the fast fast join x9 7 42", "inline"),
      Seq.empty, Seq.empty)
    val out = Enrichers.enrich(
      spark.createDataset(Seq(rec)), StandardEnrichers.extended()).collect().head
    val kp = out.metaBy("keyphrases").get.values
    assert(kp("keyPhrase_0") == "spark") // 3 hits
    assert(kp("keyPhrase_1") == "fast")  // 2 hits
    val ents = out.metaBy("entities").get.values
    assert(ents("42") == "NUMBER" && ents("x9") == "IDENT")
  }

  test("topoSort orders by capability dependencies and rejects cycles") {
    val ordered = Enrichers.topoSort(StandardEnrichers.all())
    val names = ordered.map(_.name)
    assert(names.indexOf("lang") < names.indexOf("quality"),
      "quality requires languageDetection which lang provides")

    val a = new Enricher {
      override def name = "a"; override def requires = Set("x"); override def provides = Set("y")
      override def values(r: DataRecord) = Map.empty
    }
    val b = new Enricher {
      override def name = "b"; override def requires = Set("y"); override def provides = Set("x")
      override def values(r: DataRecord) = Map.empty
    }
    intercept[IllegalStateException](Enrichers.topoSort(Seq(a, b)))
  }

  test("first-match content resolution follows provider order (C3)") {
    val inline = DocumentRepresentation("the payload", "inline")
    assert(ContentResolver.default.resolve(inline).contains("the payload"))
    val missing = DocumentRepresentation("/no/such/file", "file")
    assert(ContentResolver.default.resolve(missing).isEmpty)
  }
}

/** The reference's rogue-producer test double (A19): every call throws. */
class RogueEnricher(override val name: String = "rogue") extends Enricher {
  override def values(record: DataRecord): Map[String, String] =
    throw new RuntimeException("rogue producer")
}
