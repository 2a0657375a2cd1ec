package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.run.Sessions.local` is the only way this project builds a
  * SparkSession: a second builder is where confs start to drift (the
  * oracle grading one plan while the bench times another). */
class SessionsSpec extends AnyFunSuite {

  test("no source file but Sessions.scala builds a SparkSession") {
    val needle = "SparkSession" + ".builder" // split: this file must not match
    val root = Iterator.iterate(new java.io.File("").getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null).find(d => new java.io.File(d, "build.sbt").isFile)
      .getOrElse(fail("no build.sbt above the working directory")).toPath
    val sources = Seq("src/main/scala", "src/test/scala").flatMap { d =>
      val walk = java.nio.file.Files.walk(root.resolve(d))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    assert(sources.exists(_.getFileName.toString == "Sessions.scala"))
    val builders = sources.filter(p =>
      p.getFileName.toString != "Sessions.scala" &&
        java.nio.file.Files.readString(p).contains(needle))
    assert(builders.isEmpty, s"build sessions with graft.run.Sessions.local: $builders")
  }
}
