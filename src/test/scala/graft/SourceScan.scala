package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Source scans for the tripwire specs that pin a code-structure rule
  * (one session factory, one directory protocol). Paths are relative
  * to the project root, the forked test JVM's working directory. */
object SourceScan {

  /** (file, code lines) of every Scala source under `root`, with line
    * and scaladoc comments dropped. */
  def codeLines(root: String): Seq[(Path, Seq[String])] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$dir missing (cwd=${System.getProperty("user.dir")})")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toSeq.sorted.map { f =>
      f -> Files.readAllLines(f).asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    } finally walk.close()
  }
}
