package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Engine code takes its settings from the session conf, never from the
  * process environment: an env switch read inside an operator changes a
  * query's behaviour with no trace in its plan or conf. Mains and tools
  * (`graft.*` top level, `graft.tools`) may read the environment. */
class EngineEnvSpec extends AnyFunSuite {

  test("operators, core, functions, streaming and examples read no env vars") {
    val engineDirs = Seq("operators", "core", "functions", "streaming", "examples")
      .map(d => Paths.get("src/main/scala/graft", d))
    assert(engineDirs.forall(Files.isDirectory(_)), engineDirs.mkString(", "))
    val hits = engineDirs.flatMap(d => Files.walk(d).iterator.asScala.toSeq)
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("sys.env") || line.contains("System.getenv") =>
            s"$f:${i + 1}: ${line.trim}"
        }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
