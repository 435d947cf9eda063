package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins every DuckDB oracle string, so a refactor of the query modules
  * provably changes no correctness check. `oracle_sql.md5` holds one
  * `name<TAB>md5` line per registered row; the md5 is taken over
  * [[OracleSqlPinSpec.normalise]]d SQL. A deliberate oracle change
  * re-pins by replacing that row's resource line and naming the row and
  * the reason in CHANGES.md. Pure JVM-side, no SparkSession.
  */
class OracleSqlPinSpec extends AnyFunSuite {
  import OracleSqlPinSpec._

  private lazy val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/graft/oracle_sql.md5")
    assert(in != null, "missing resource graft/oracle_sql.md5")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map { l =>
        val Array(name, md5) = l.split('\t')
        name -> md5
      }.toMap
    finally in.close()
  }

  test("the registered rows are exactly the pinned rows") {
    val names = SparkEntry.queries.keySet
    assert(names == pinned.keySet,
      s"unpinned: ${(names -- pinned.keySet).toSeq.sorted.mkString(", ")}; " +
        s"pinned but gone: ${(pinned.keySet -- names).toSeq.sorted.mkString(", ")}")
  }

  test("every oracle hashes to its pinned md5 (whitespace-normalised)") {
    val drifted = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (name, sql) if !pinned.get(name).contains(md5(normalise(sql))) =>
        s"$name\t${md5(normalise(sql))}"
    }
    if (drifted.nonEmpty)
      fail(s"oracle SQL drifted from its pin (row<TAB>new md5):\n${drifted.mkString("\n")}")
  }

  test("normalisation collapses whitespace only outside quoted literals") {
    assert(normalise("  SELECT\n  a ,\tb  ") == "SELECT a , b")
    assert(normalise("x = 'a  b'  AND  y = \"c\n d\"") == "x = 'a  b' AND y = \"c\n d\"")
    assert(normalise("'it''s  x'") == "'it''s  x'")
    assert(normalise("a(b") != normalise("a( b"))
  }
}

object OracleSqlPinSpec {

  /** Runs of whitespace outside `'…'`/`"…"` literals become one space,
    * then trim; literal contents stay byte-exact. DuckDB's tokenizer
    * ignores that whitespace, so equal normal forms are the same
    * statement.
    */
  def normalise(sql: String): String = {
    val sb = new StringBuilder
    var quote = 0.toChar
    var gap = false
    sql.foreach { c =>
      if (quote != 0) {
        sb += c
        if (c == quote) quote = 0.toChar
      } else if (c.isWhitespace) gap = true
      else {
        if (gap && sb.nonEmpty) sb += ' '
        gap = false
        sb += c
        if (c == '\'' || c == '"') quote = c
      }
    }
    sb.toString
  }

  def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString
}
