package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.scalatest.funspec.AnyFunSpec
import org.scalatest.matchers.should.Matchers

/** Pins every DuckDB oracle text byte for byte: each
  * `SparkEntry.oracleSql` entry must hash (SHA-256 of its UTF-8 bytes)
  * to its line in the golden `oracle_sql.sha256` resource, one
  * `<hex>  <query>` line per entry in `sha256sum` layout, sorted by
  * name. A refactor of the shared oracle text helpers therefore cannot
  * move a single byte of any gate's reference SQL unnoticed. An
  * intended oracle change regenerates the file from the
  * `oracle_sql.json` that `graft.Verify` writes:
  * {{{
  * python3 -c 'import hashlib,json,sys; d=json.load(open(sys.argv[1]))
  * print("".join(f"{hashlib.sha256(d[k].encode()).hexdigest()}  {k}\n" for k in sorted(d)), end="")' \
  *   <out>/oracle_sql.json > src/test/resources/oracle_sql.sha256
  * }}}
  */
class OracleSqlSpec extends AnyFunSpec with Matchers {

  private def sha256(text: String): String =
    MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  private lazy val golden: Map[String, String] = {
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(hash, name) = line.split("  ", 2)
      name -> hash
    }.toMap
    finally src.close()
  }

  describe("SparkEntry.oracleSql") {
    it("names exactly the queries of the golden hash file") {
      SparkEntry.oracleSql.keySet shouldBe golden.keySet
    }

    it("hashes every oracle text to its golden SHA-256") {
      val drifted = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
        case (name, sql) if golden.get(name).exists(_ != sha256(sql)) => name
      }
      drifted shouldBe empty
    }
  }
}
