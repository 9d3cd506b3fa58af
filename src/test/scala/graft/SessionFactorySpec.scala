package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One session factory: every main builds its session through
  * `Graft.builder()`, so the engine's static confs (the codegen cache size
  * among them, which `spark.conf.set` cannot change later) reach every
  * entry point. A hand-rolled `SparkSession.builder()` in a new main would
  * silently run with Spark's defaults instead.
  */
class SessionFactorySpec extends AnyFunSuite {

  test("SparkSession.builder() appears in src/main only inside Graft.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root missing")
    val sources = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    def sites(p: Path): Seq[String] =
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if line.contains("SparkSession.builder()") => s"$p:${i + 1}"
      }.toSeq
    val (factory, others) = sources.partition(_.getFileName.toString == "Graft.scala")
    assert(factory.flatMap(sites).nonEmpty, "Graft.builder() no longer found")
    val stray = others.flatMap(sites)
    assert(stray.isEmpty, s"build sessions via Graft.session/Graft.builder: ${stray.mkString(", ")}")
  }
}
