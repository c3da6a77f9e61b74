package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source scan keeping one way to build a native expression in the
  * library: the typed builders in `graft.functions`. Fails if main code
  * looks a native expression up by SQL name, registers the SQL extension
  * on a caller's session, or grows a native/interpreted toggle again. */
class NativeBuilderGuardSpec extends AnyFunSuite {

  private val mainRoot = Paths.get("src/main/scala")

  private lazy val sources: Seq[(Path, String)] = {
    val files = Files.walk(mainRoot)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(p => p -> new String(Files.readAllBytes(p), "UTF-8"))
    finally files.close()
  }

  private def offenders(pattern: String, allowed: Path => Boolean = _ => false): Seq[String] =
    sources.collect {
      case (p, text) if !allowed(p) && text.contains(pattern) => mainRoot.relativize(p).toString
    }

  test("main sources build native expressions only through the typed builders") {
    assert(sources.size > 50, s"scanned only ${sources.size} files under $mainRoot")
    val byName = offenders("call_function(\"graft_")
    assert(byName.isEmpty, s"native expression looked up by SQL name in $byName")
    val registering = offenders("GraftExtensions.register(",
      _.getFileName.toString == "GraftExtensions.scala")
    assert(registering.isEmpty, s"SQL extension registered on a caller's session in $registering")
    val toggles = offenders("native: Boolean")
    assert(toggles.isEmpty, s"native/interpreted toggle declared in $toggles")
  }
}
