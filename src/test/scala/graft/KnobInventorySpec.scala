package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf key the engine reads is listed in
  * `GraftSession`'s scaladoc, and the list names no key the engine has
  * dropped: a new knob fails here until it is documented there. */
class KnobInventorySpec extends AnyFunSuite {
  private val mainRoot = Paths.get("src/main/scala")
  private val Key = """spark\.graft\.[A-Za-z0-9_.]*[A-Za-z0-9_]""".r
  /** A key opening a string literal: how code names a conf. */
  private val QuotedKey = ("\"(" + Key.regex + ")").r

  private def read(p: Path) = new String(Files.readAllBytes(p), "UTF-8")

  private def keysInCode: Set[String] =
    Files.walk(mainRoot).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(f => QuotedKey.findAllMatchIn(read(f)).map(_.group(1)))
      .toSet

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
}
