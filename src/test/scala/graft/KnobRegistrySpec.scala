package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The session-knob registry ([[Knobs]]) is the deployment surface
  * README.md's "Session knobs" section documents — this spec pins the
  * three together: every knob-convention key literal (graft.* /
  * spark.graft.*) in main source is a registry key declared in the
  * registry's own file, every registry key appears in README.md, and no
  * operator or function reads `spark.conf` itself — so a new knob cannot
  * ship undocumented or untyped.
  */
class KnobRegistrySpec extends AnyFunSuite {

  private val comments = """(?s)/\*.*?\*/|//[^\n]*""".r

  /** (file, text) of every .scala file under `dir`, comments stripped
    * when `code` is set. `Files.walk` holds directory handles open until
    * the stream is closed. */
  private def sources(dir: String, code: Boolean = false): List[(Path, String)] = {
    val walk = Files.walk(Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).map { p =>
      val text = new String(Files.readAllBytes(p), "UTF-8")
      p -> (if (code) comments.replaceAllIn(text, "") else text)
    }.toList
    finally walk.close()
  }

  // Segments start lowercase — excludes class-path literals like
  // "graft.functions.Kernels" (the codegen call target).
  private val knobRe = """"((?:spark\.)?graft\.(?:[a-z][A-Za-z0-9]*\.)*[a-z][A-Za-z0-9]*)"""".r

  private def knobLiterals: List[(Path, String)] =
    sources("src/main/scala").flatMap { case (p, text) =>
      knobRe.findAllMatchIn(text).map(m => p -> m.group(1))
    }

  private val keys = Knobs.all.map(_.key)

  test("registry covers exactly the conf keys the code declares") {
    assert(keys.distinct == keys, s"repeated registry keys: ${keys.diff(keys.distinct)}")
    assert(knobLiterals.map(_._2).toSet == keys.toSet)
  }

  test("no knob-convention key literal exists outside the registry") {
    val stray = knobLiterals.filterNot(_._1.endsWith(Paths.get("graft/Knobs.scala")))
    assert(stray.isEmpty, s"knob-convention keys outside Knobs.scala: $stray")
  }

  test("every registry knob is documented in README.md") {
    val readme = new String(Files.readAllBytes(Paths.get("README.md")), "UTF-8")
    val undocumented = keys.filterNot(readme.contains)
    assert(undocumented.isEmpty,
      s"knobs missing from README.md: ${undocumented.sorted.mkString(", ")}")
    assert(readme.contains("## Cluster deployment") && readme.contains("### Session knobs"))
  }

  test("result-affecting knobs are registry knobs; the stage-scoped one has one reader") {
    assert(Knobs.all.filter(_.stages("cur_verdict")) ==
      Seq(Knobs.approxQuantiles, Knobs.maxCentroids, Knobs.classifier))
    assert(Knobs.all.filter(_.stages("tx_gopher")) ==
      Seq(Knobs.approxQuantiles, Knobs.maxCentroids))
    // The classifier gate is scoped to cur_verdict in the signatures, so
    // its value may be read in one place only: the verdict composition.
    val readers = sources("src/main/scala", code = true).flatMap { case (p, code) =>
      """Knobs\.classifier\(""".r.findAllMatchIn(code).map(_ => p.getFileName.toString)
    }
    assert(readers == List("Curation.scala"), s"classifier gate read in: $readers")
  }

  test("every registry knob carries a non-empty deployment description") {
    assert(Knobs.all.forall(_.doc.trim.nonEmpty))
  }

  test("operators and functions read no spark.conf key themselves") {
    val call = """conf\.getOption\(|conf\.get\(""".r
    val reads = Seq("src/main/scala/graft/operators", "src/main/scala/graft/functions")
      .flatMap(sources(_, code = true)).flatMap { case (p, code) =>
        call.findAllMatchIn(code).map(_ => p.getFileName.toString)
      }
    assert(reads.isEmpty, s"spark.conf reads outside the knob registry: $reads")
  }

  test("initializing the registry loads no operator class") {
    // A class loader with no parent sees the test classpath afresh, so
    // every class the registry's initializer touches is loaded (and
    // recorded) here, whatever this JVM has already loaded.
    val urls = System.getProperty("java.class.path").split(java.io.File.pathSeparator)
      .map(p => Paths.get(p).toUri.toURL)
    val loaded = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val loader = new java.net.URLClassLoader(urls, null) {
      override def loadClass(name: String, resolve: Boolean): Class[_] = {
        loaded.add(name)
        super.loadClass(name, resolve)
      }
    }
    try {
      val registry = Class.forName("graft.Knobs$", true, loader)
      assert(registry.getField("MODULE$").get(null) != null)
    } finally loader.close()
    val names = loaded.asScala.toList
    assert(names.exists(_.startsWith("graft.Knob")), s"the probe loaded no registry class: $names")
    val operators = names.filter(_.startsWith("graft.operators."))
    assert(operators.isEmpty, s"registry initialization loaded $operators")
  }
}
