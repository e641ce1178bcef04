package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** One publish: stores replace paths only through
  * [[graft.sources.Publish]]. `SegmentStore` keeps its own compact swap,
  * whose root recovery rolls back and defers to a fold in flight.
  */
class OnePublishSpec extends AnyFunSuite {

  test("no source outside Publish and SegmentStore renames a path or sets partitionOverwriteMode") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }
    val allowed = Set("Publish.scala", "SegmentStore.scala")
    val files = sources(root)
    assert(files.exists(_.getName == "Publish.scala"))
    val offenders = for {
      f <- files if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if line.contains(".rename(") || line.contains("partitionOverwriteMode")
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
