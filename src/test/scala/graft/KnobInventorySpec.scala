package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf key the engine reads is listed in
  * `GraftSession`'s scaladoc, and the list names no key the engine has
  * dropped: a new knob fails here until it is documented there. No oracle
  * builder takes a default parameter: a query setting is one named
  * constant that the Spark side and its oracle both read. */
class KnobInventorySpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")
  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r
  /** A key opening a string literal: how code names a conf. */
  private val QuotedKey = ("\"(" + Key.regex + ")").r

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  private def mainSources: Seq[Path] =
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq

  private def keysInCode: Set[String] =
    mainSources.flatMap(f => QuotedKey.findAllMatchIn(read(f)).map(_.group(1)))
      .toSet

  /** The opening of an oracle builder's first parameter list. */
  private val OracleDef = """\bdef\s+(\w+(?:Oracle|OracleSql))\s*\(""".r
  /** A parameter with a default: `name: Type = value` (`=>`, `==`, `<=`,
    * `>=` and `!=` are not a default's `=`). */
  private val DefaultParam = """(?s)\s*\w+\s*:.*?(?<![=!<>])=(?![=>]).*""".r

  /** The parameters of the list whose `(` is at `open`, split on the
    * commas outside nested brackets. */
  private def params(src: String, open: Int): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = open + 1
    var i = open
    while (depth >= 0 && i + 1 < src.length) {
      i += 1
      src(i) match {
        case '(' | '[' | '{' => depth += 1
        case ')' | ']' | '}' => depth -= 1
        case ',' if depth == 0 =>
          out += src.substring(start, i); start = i + 1
        case _ =>
      }
    }
    (out += src.substring(start, i)).result().filter(_.trim.nonEmpty)
  }

  /** Keys named in the scaladoc directly above `object GraftSession`. */
  private def keysInInventory: Set[String] = {
    val src = read(mainRoot.resolve("graft/GraftSession.scala"))
    val obj = src.indexOf("object GraftSession")
    val doc = src.lastIndexOf("/**", obj)
    assert(obj > 0 && doc >= 0, "GraftSession's scaladoc not found")
    Key.findAllIn(src.substring(doc, obj)).toSet
  }

  test("every spark.graft.* key in src/main is in GraftSession's " +
      "inventory, and the inventory names no other key") {
    val code = keysInCode
    val doc = keysInInventory
    assert(code.nonEmpty)
    assert((code -- doc).isEmpty,
      s"undocumented knobs (list them in GraftSession's scaladoc): ${code -- doc}")
    assert((doc -- code).isEmpty,
      s"inventory names keys no code reads: ${doc -- code}")
  }

  test("no oracle builder (`*Oracle`, `*OracleSql`) in src/main declares " +
      "a default parameter value") {
    val defaults = for {
      f <- mainSources
      src = read(f)
      m <- OracleDef.findAllMatchIn(src)
      p <- params(src, m.end - 1) if DefaultParam.matches(p)
    } yield s"${f.getFileName}: ${m.group(1)}(${p.trim})"
    assert(defaults.isEmpty, s"${defaults.size} oracle defaults (make each " +
      "one a named constant the Spark side reads too):\n" +
      defaults.mkString("\n"))
  }
}
