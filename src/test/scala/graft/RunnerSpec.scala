package graft

import java.io.File
import java.nio.file.Files

import org.json4s.{JObject, JString}
import org.json4s.jackson.JsonMethods.parse
import graft.queries.{QueryDef, Registry}

/** The shared runner rules, driven through the mains' session-taking
  * bodies: Verify's dump layout, the timing rule's failure isolation, and
  * Bench's ledger-destination and validity decisions. */
class RunnerSpec extends SparkSpec {

  private val named = Seq("q3_word_chunks", "q1_latest_state")

  private def oracleJson(dir: File): Map[String, String] =
    parse(Files.readString(new File(dir, "oracle_sql.json").toPath)) match {
      case JObject(fields) => fields.collect { case (k, JString(v)) => k -> v }.toMap
      case other => fail(s"oracle_sql.json is not an object: $other")
    }

  private def withTempDir(body: File => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-runner").toFile
    try body(dir) finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("selection: SPARK_GRAFT_ONLY names, in name order") {
    assert(Runner.selected(Some(named.toSet)).map(_.name) == named.sorted)
    assert(Runner.selected(None).size == Registry.all.size)
  }

  test("Verify dump of two named queries: exactly their dirs plus oracle_sql.json") {
    withTempDir { out =>
      Verify.dump(spark, sf(), out.getPath, Runner.selected(Some(named.toSet)))
      assert(out.list.toSet == named.toSet + "oracle_sql.json")
      named.foreach { n =>
        assert(new File(out, n).list.exists(_.endsWith(".parquet")), s"$n has no parquet")
      }
      val expected = SparkEntry.oracleSql.filter { case (k, _) => named.contains(k) }
      assert(expected.size == 2 && expected.values.forall(_.contains('\n')))
      assert(oracleJson(out) == expected)
    }
  }

  test("oracle_sql.json round-trips tabs, quotes, backslashes and control chars") {
    val sql = "SELECT\t\"id\" -- a\\b\r\n\u0001FROM t"
    val q = QueryDef("t_escape", (s, _) => s.range(3).toDF("id"), Some(sql))
    withTempDir { out =>
      Verify.dump(spark, sf(), out.getPath, Seq(q))
      assert(oracleJson(out) == Map("t_escape" -> sql))
    }
  }

  test("a throwing query records -1 and its exception class; the loop goes on") {
    val boom = QueryDef("a_boom", (_, _) => throw new IllegalStateException("planted"), None)
    val picked = boom +: Runner.selected(Some(named.toSet))
    val results = Bench.measure(spark, sf(), picked)
    assert(results.map(_.name) == picked.map(_.name))
    val failed = results.head
    assert(failed.cold == -1.0 && failed.warm == -1.0)
    assert(failed.error.contains("IllegalStateException"))
    results.tail.foreach { t =>
      assert(t.error.isEmpty, t.name)
      assert(t.cold > 0 && t.warm > 0 && t.warm <= t.cold, t.toString)
    }
  }

  test("ledger destination: only a full, full-machine sf0.1 run takes the repo slot") {
    val sf01 = "testdata/sf0.1"
    val tmp = new File("/tmp")
    assert(Bench.ledgerDir(sf01, None, cpus = 32, cores = 32) != tmp)
    assert(Bench.ledgerDir(sf01 + "/", None, cpus = 32, cores = 32) != tmp)
    // the 8-core scaling capture that took BENCH_local_r15.json's slot
    assert(Bench.ledgerDir(sf01, None, cpus = 8, cores = 32) == tmp)
    assert(Bench.ledgerDir(sf01, Some(Set("q12_minhash_neardup")), cpus = 32, cores = 32) == tmp)
    assert(Bench.ledgerDir("testdata/sf0.01", None, cpus = 4, cores = 4) == tmp)
  }

  test("validity: loadBusy and heapMismatch are judged apart") {
    assert(!Bench.loadBusy(0.87) && Bench.loadBusy(3.9))
    assert(!Bench.heapMismatch(8192) && !Bench.heapMismatch(8192 + 512))
    // r14's official capture: loadavg 0.87 with a 91 GiB heap
    assert(Bench.heapMismatch(8192 + 513) && Bench.heapMismatch(91136))
  }
}
