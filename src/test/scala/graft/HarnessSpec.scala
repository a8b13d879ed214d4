package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Specs for what the graft mains share: the one session factory, the
  * one JSON writer and the query/oracle split Verify dumps against.
  */
class HarnessSpec extends AnyFunSuite {

  test("Json.str round-trips quotes, backslashes, every control char and non-ASCII") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val samples = Seq("\"", "\\", "a\"b\\c", "päth/ünïcode ✓ \uD83D\uDE00") ++
      (0 until 0x20).map(c => s"x${c.toChar}y")
    samples.foreach { s =>
      val lit = Json.str(s)
      assert(!lit.exists(_ < ' '), s"raw control char left in $lit")
      assert(mapper.readValue(lit, classOf[String]) == s, s"round trip of $lit")
    }
    val obj = "{" + Json.str("k\n") + ":" + Json.str("C:\\dir\"x") + "}"
    assert(mapper.readTree(obj).get("k\n").asText() == "C:\\dir\"x")
  }

  test("Json.rootCause names the innermost cause with its top frames") {
    val e = new RuntimeException("outer",
      new IllegalStateException("inner\n\tdetail"))
    val r = Json.rootCause(e)
    assert(r.startsWith("IllegalStateException: inner detail @ "), r)
    assert(!r.exists(_ < ' '), r)
  }

  test("graft.Session is the only place a SparkSession is built") {
    // split so this file does not match itself
    val needle = "SparkSession" + ".builder"
    val root = java.nio.file.Paths.get(sys.props("user.dir"))
    val allowed = root.resolve("src/main/scala/graft/Session.scala")
    val hits = Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val files = java.nio.file.Files.walk(root.resolve(dir))
      try files.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => p != allowed &&
          java.nio.file.Files.readString(p).contains(needle))
        .map(root.relativize(_).toString).toList
      finally files.close()
    }
    assert(java.nio.file.Files.readString(allowed).contains(needle))
    assert(hits.isEmpty, s"session built outside graft.Session: ${hits.mkString(", ")}")
  }

  test("every Verify query has an oracle or a declared rows-only reason, not both") {
    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    val rowsOnly = SparkEntry.rowsOnly.keySet
    assert(oracle.intersect(rowsOnly).isEmpty,
      s"both oracle and rows-only: ${oracle.intersect(rowsOnly)}")
    assert(queries == oracle ++ rowsOnly,
      s"no oracle and no reason: ${queries -- oracle -- rowsOnly}; " +
        s"not a query: ${(oracle ++ rowsOnly) -- queries}")
    assert(SparkEntry.rowsOnly.values.forall(_.nonEmpty))
  }
}
