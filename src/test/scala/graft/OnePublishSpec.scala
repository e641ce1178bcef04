package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** One publish: stores replace paths only through
  * [[graft.sources.Publish]], so no other source renames or moves a
  * path, through Hadoop, `java.io` or `java.nio`. Only `Publish`
  * renames through Hadoop's `FileContext`: on a local store it moves
  * paths without it.
  */
class OnePublishSpec extends AnyFunSuite {

  /** The lines of `src/main/scala` outside the `allowed` files that
    * `bad` matches.
    */
  private def offenders(allowed: Set[String])(bad: String => Boolean): Seq[String] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def sources(d: File): Seq[File] = d.listFiles().toSeq.flatMap { f =>
      if (f.isDirectory) sources(f) else Seq(f).filter(_.getName.endsWith(".scala"))
    }
    val files = sources(root)
    assert(files.exists(_.getName == "Publish.scala"))
    for {
      f <- files if !allowed(f.getName)
      src = scala.io.Source.fromFile(f, "UTF-8")
      (line, i) <- try src.getLines().toList.zipWithIndex finally src.close()
      if bad(line)
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
  }

  test("no source outside Publish renames a path or sets partitionOverwriteMode") {
    val found = offenders(Set("Publish.scala"))(line =>
      Seq(".rename(", "renameTo(", "Files.move(", "partitionOverwriteMode").exists(line.contains))
    assert(found.isEmpty, found.mkString("\n"))
  }

  test("no source outside Publish names FileContext") {
    val found = offenders(Set("Publish.scala"))(_.contains("FileContext"))
    assert(found.isEmpty, found.mkString("\n"))
  }
}
