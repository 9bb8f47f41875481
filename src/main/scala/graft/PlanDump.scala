package graft

import org.apache.spark.sql.execution.ExplainMode
import java.nio.file.{Files, Paths}

/** Physical-plan snapshot dump: one `plans/<query>.txt` per selected
  * query (formatted explain). The snapshots are committed so plan-shape
  * changes show up in review diffs — the `.explain`-and-iterate loop the
  * scale design depends on, made persistent. The committed snapshots
  * were produced at 8 cores; regenerate with:
  *   SPARK_GRAFT_CPUS=8 tools/run_graft.sh graft.PlanDump /root/testdata/sf0.001 plans
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val outDir = if (args.length > 1) args(1) else "plans"
    val spark = Runner.session()
    Files.createDirectories(Paths.get(outDir))
    val mode = ExplainMode.fromString("formatted")
    Runner.selected().foreach { q =>
      try {
        val plan = q.run(spark, sfDir).queryExecution.explainString(mode)
        Files.writeString(Paths.get(s"$outDir/${q.name}.txt"), scrub(plan))
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] ${q.name} failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** Strips run-specific noise (paths, plan ids, expression ids, lambda
    * and call-site numbering) so diffs show only real shape changes. */
  def scrub(plan: String): String =
    canonicalExpands(plan)
      .replaceAll("file:[^\\s,\\]]*", "<path>")
      .replaceAll("plan_id=\\d+", "plan_id=#")
      .replaceAll("#\\d+", "#N")
      .replaceAll("MapPartitionsRDD\\[\\d+\\]", "MapPartitionsRDD[#]")
      // JVM lambda class ids + identity hashes churn per run
      .replaceAll("Lambda\\$\\d+/0x[0-9a-f]+(@[0-9a-f]+)?", "Lambda\\$#")
      .replaceAll("@[0-9a-f]{6,}", "@#")
      // the lambda-variable counter is global: an unrelated new query
      // shifts every later query's x_NN/y_NN names
      .replaceAll("lambda ([a-z]+)_\\d+", "lambda $1_#")
      // localCheckpoint call-site line numbers churn on unrelated
      // edits to the same source file
      .replaceAll("at ([A-Za-z]+\\.scala):\\d+", "at $1:#")

  private val ExpandArgs = "(?m)^Arguments: (\\[\\[.*)$".r

  /** Puts every distinct-aggregate Expand in one fixed order. Spark orders
    * the rewrite's distinct groups, and their columns, by a hash over
    * JVM-global expression ids, so two runs of one tree can list them, and
    * number their `gid` literals, differently. Here the distinct columns
    * (the ones some projection nulls out, before `gid`) are sorted by name
    * and that run of columns is rewritten in the new order wherever it
    * appears; the projections follow their columns, the regular group
    * (gid 0) stays first, the distinct groups follow in the order of
    * their columns and take the gid values in order, and every `(gid#<id> = n)` test is
    * renumbered to match. Runs before the `#N` scrub: the raw ids tell
    * each Expand's columns and gid apart. */
  private[graft] def canonicalExpands(plan: String): String = {
    def noIds(s: String): String = s.replaceAll("#\\d+", "#N")
    val edits = Seq.newBuilder[String => String]
    val rewritten = ExpandArgs.replaceAllIn(plan, { m =>
      val whole = m.group(1)
      val args = topLevel(whole)
      val canonical = if (args.size != 2 || !args.forall(a => a.startsWith("[") && a.endsWith("]"))) None else {
        val projs = topLevel(unwrap(args(0))).map(p => topLevel(unwrap(p)))
        val outs = topLevel(unwrap(args(1)))
        val g = outs.indexWhere(_.startsWith("gid#"))
        if (g < 0 || projs.exists(_.size != outs.size)) None else {
          val distinct = (0 until g).filter(c => projs.exists(_(c) == "null"))
          val perm = distinct.sortBy(c => noIds(outs(c)))
          val at = (0 until outs.size).map(c => distinct.indexOf(c) match {
            case -1 => c
            case i => perm(i)
          })
          def permuted(row: Seq[String]): Seq[String] = at.map(row)
          val (regular, groups) = projs.map(permuted).partition(_(g) == "0")
          // groups in the order of their columns, then by text
          val order = regular ++ groups.sortBy(p => (distinct.map(c => if (p(c) == "null") '1' else '0').mkString,
            noIds(p.patch(g, Nil, 1).mkString(","))))
          val values = regular.map(_(g)) ++ groups.map(_(g)).sortBy(v => (v.length, v))
          val renumber = order.map(_(g)).zip(values).toMap
          val gid = outs(g)
          val run = distinct.map(outs).mkString(", ")
          val newRun = perm.map(outs).mkString(", ")
          if (run != newRun) edits += (_.replace(run, newRun))
          edits += (text => s"${java.util.regex.Pattern.quote(gid)} = (\\d+)".r.replaceAllIn(text, n =>
            scala.util.matching.Regex.quoteReplacement(s"$gid = ${renumber.getOrElse(n.group(1), n.group(1))}")))
          val listed = order.zip(values).map { case (p, v) => p.updated(g, v).mkString("[", ", ", "]") }
          Some(s"[${listed.mkString(", ")}], [${permuted(outs).mkString(", ")}]")
        }
      }
      scala.util.matching.Regex.quoteReplacement(s"Arguments: ${canonical.getOrElse(whole)}")
    })
    edits.result().foldLeft(rewritten)((text, edit) => edit(text))
  }

  private def unwrap(bracketed: String): String = bracketed.substring(1, bracketed.length - 1)

  /** Splits `a, f(b, c), [d]` into its top-level items `a`, `f(b, c)`,
    * `[d]`. */
  private def topLevel(body: String): Seq[String] = {
    val items = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < body.length) {
      body.charAt(i) match {
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 =>
          items += body.substring(start, i).trim
          start = i + 1
        case _ =>
      }
      i += 1
    }
    items += body.substring(start).trim
    items.result()
  }
}
