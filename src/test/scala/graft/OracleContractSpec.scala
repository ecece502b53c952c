package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funsuite.AnyFunSuite

/** Pins the driver contract: every query name in `SparkEntry.queries` and the
  * exact text of its `oracleSql`. `oracle_contract.tsv` holds one line per
  * query — the name, a tab, then the SHA-256 of its oracle text with the JVM
  * temp dir replaced by `$TMP` (or `-` when the query has no oracle). A
  * refactor of the gates must leave every line unchanged; a deliberate oracle
  * change updates its line and says why in CHANGES.md.
  *
  * Regenerate with `sbt "Test/runMain graft.OracleContract"`, which prints the
  * lines for `src/test/resources/oracle_contract.tsv`. */
object OracleContract {
  def lines: Seq[String] = {
    val tmp = System.getProperty("java.io.tmpdir")
    val oracles = SparkEntry.oracleSql
    SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val digest = oracles.get(name).fold("-") { sql =>
        MessageDigest.getInstance("SHA-256")
          .digest(sql.replace(tmp, "$TMP").getBytes(UTF_8))
          .map(b => f"${b & 0xff}%02x").mkString
      }
      s"$name\t$digest"
    }
  }

  def main(args: Array[String]): Unit = lines.foreach(println)
}

class OracleContractSpec extends AnyFunSuite {

  test("query names and oracle texts match oracle_contract.tsv") {
    val src = scala.io.Source.fromResource("oracle_contract.tsv")(scala.io.Codec.UTF8)
    val pinned = try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, h) = l.split('\t'); n -> h
    }.toMap finally src.close()
    val now = OracleContract.lines.map { l =>
      val Array(n, h) = l.split('\t'); n -> h
    }.toMap
    val differ = (pinned.keySet ++ now.keySet).toSeq.sorted.filter(n => pinned.get(n) != now.get(n))
    assert(differ.isEmpty, s"${differ.size} queries differ from oracle_contract.tsv: " +
      differ.map(n => s"$n (pinned ${pinned.getOrElse(n, "absent")}, now ${now.getOrElse(n, "absent")})")
        .mkString(", "))
  }
}
