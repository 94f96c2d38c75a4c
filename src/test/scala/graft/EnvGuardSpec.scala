package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The cascade has one code path per check: no file in the cascade or the
  * stages reads the environment, so no switch can select another path.
  */
class EnvGuardSpec extends AnyFunSuite {
  test("cascade and stage sources read no environment variables") {
    val files = Seq("cascade", "stages").flatMap { d =>
      val dir = Paths.get("src/main/scala/graft", d)
      assert(Files.isDirectory(dir), s"$dir not found (run from the repository root)")
      Files.walk(dir).iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    assert(files.nonEmpty)
    val reads = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(reads.isEmpty, reads.mkString("environment reads:\n", "\n", ""))
  }
}
