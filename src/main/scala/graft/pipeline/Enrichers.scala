package graft.pipeline

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model._

/** Enrichment framework (SURVEY.md §3.2): the reference runs each
  * "participant" as its own Kafka Streams topology feeding metadata events
  * back into the consolidation aggregate until a fixpoint
  * (reference: pipeline/impl/KafkaIntelligencePipeline.kt:215-258).
  *
  * Spark-first redesign: the feedback loop is replaced by an explicit
  * dependency-ordered composition. Each enricher declares what capability
  * names it `requires` and `provides` (the reference's
  * `@RequiresCapabilities` / `@HasCapabilities`,
  * reference: pipeline/capabilities/interfaces.kt:15-25); registration
  * topologically sorts the graph and fuses all enrichers into ONE Spark
  * stage pipeline — what the reference pays N Kafka round-trips for,
  * Catalyst pipelines in a single pass (SURVEY.md §3.2 note).
  *
  * Reference behaviors preserved:
  *   - idempotency: an enricher never fires on a record it already
  *     annotated (`meta.any { createdBy == name }` gate,
  *     KafkaIntelligencePipeline.kt:227-233) — so re-running the pipeline
  *     over already-enriched output is a no-op;
  *   - fault isolation: a throwing enricher poisons only its own metadata
  *     (error recorded under `createdBy = "<name>!error"`), never the
  *     record or sibling enrichers (A19,
  *     KafkaIntelligencePipelineTests.kt:176-195).
  */
trait Enricher extends Serializable {
  def name: String
  def requires: Set[String] = Set.empty
  def provides: Set[String] = Set.empty

  /** Row-level enrichment — the reference's `metadataFor(DataRecord)`
    * (participants/interfaces.kt:35-37). Return empty map to skip.
    * Runs inside executors via mapPartitions; heavyweight resources
    * should live in a lazy transient field so they initialize once per
    * executor JVM (SURVEY.md §7.4 "Heavy UDFs"). */
  def values(record: DataRecord): Map[String, String]
}

object Enrichers {

  /** Topological order of enrichers by requires/provides; fails fast on a
    * cycle (the reference's runtime fixpoint can loop forever on one —
    * we prove acyclicity at registration, SURVEY.md §7.4). */
  def topoSort(enrichers: Seq[Enricher]): Seq[Enricher] = {
    val providers: Map[String, Seq[Enricher]] =
      enrichers.flatMap(e => e.provides.map(_ -> e))
        .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val visiting = scala.collection.mutable.Set[String]()
    val done = scala.collection.mutable.LinkedHashSet[String]()
    val byName = enrichers.map(e => e.name -> e).toMap
    def visit(e: Enricher): Unit = {
      if (done.contains(e.name)) return
      if (!visiting.add(e.name))
        throw new IllegalStateException(s"enricher dependency cycle at ${e.name}")
      e.requires.flatMap(providers.getOrElse(_, Seq.empty)).foreach(visit)
      visiting.remove(e.name)
      done.add(e.name)
    }
    enrichers.foreach(visit)
    done.toSeq.map(byName)
  }

  /** Apply enrichers in dependency order within one pass. Single
    * mapPartitions — no shuffle, no Kafka round-trips, one task per input
    * partition regardless of enricher count. */
  def enrich(records: Dataset[DataRecord], enrichers: Seq[Enricher]): Dataset[DataRecord] = {
    val ordered = topoSort(enrichers)
    val spark = records.sparkSession
    import spark.implicits._
    records.mapPartitions { it =>
      it.map { rec0 =>
        ordered.foldLeft(rec0) { (rec, e) =>
          val already = rec.meta.exists(m =>
            m.createdBy == e.name || m.createdBy == e.name + "!error")
          if (already) rec
          else Try(e.values(rec)) match {
            case Success(vs) if vs.isEmpty => rec
            case Success(vs) =>
              rec.copy(meta = rec.meta :+ Metadata(vs, e.name))
            case Failure(ex) =>
              rec.copy(meta = rec.meta :+ Metadata(
                Map("error" -> String.valueOf(ex.getMessage)), e.name + "!error"))
          }
        }
      }
    }
  }
}
