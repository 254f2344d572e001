package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-directory-protocol rule: persisted artifacts are
  * replaced only through [[graft.core.DirSwap]], which alone decides
  * which stream markers survive a swap, and the streaming loops guard
  * their micro-batches only through [[graft.streaming.AtomicIngest]]. */
class DirProtocolSpec extends AnyFunSuite {
  import SourceScan.codeLines

  private val TopDef = """^  (?:private(?:\[\w+\])? )?def (\w+).*""".r
  private val TopObject = """^object (\w+).*""".r

  /** (object, top-level def) enclosing each code line of `src/main`
    * that contains `needle`. */
  private def sites(needle: String): Seq[(String, String)] = for {
    (_, lines) <- codeLines("src/main")
    (l, i) <- lines.zipWithIndex if l.contains(needle)
  } yield {
    val before = lines.take(i + 1).reverse
    (before.collectFirst { case TopObject(o) => o }.getOrElse("?"),
      before.collectFirst { case TopDef(d) => d }.getOrElse("?"))
  }

  test("replaceDir is gone and preserveBatchMarkers is private to DirSwap") {
    assert(sites("replaceDir").isEmpty, sites("replaceDir").mkString("\n"))
    val markers = for {
      (f, lines) <- codeLines("src/main")
      l <- lines if l.contains("preserveBatchMarkers")
    } yield (f.getFileName.toString, l.trim)
    assert(markers.map(_._1).toSet == Set("DirSwap.scala"), markers.mkString("\n"))
    assert(markers.exists(_._2.startsWith("private def preserveBatchMarkers(")),
      markers.mkString("\n"))
  }

  test("the streaming loops reach the file system only inside AtomicIngest") {
    val fsSites = for {
      (f, lines) <- codeLines("src/main/scala/graft/streaming")
      (l, i) <- lines.zipWithIndex if l.contains("getFileSystem")
    } yield lines.take(i + 1).reverse.collectFirst { case TopObject(o) => o }
      .getOrElse(f.toString)
    assert(fsSites.nonEmpty && fsSites.toSet == Set("AtomicIngest"), fsSites.mkString("\n"))
  }

  test("DirSwap.swap is called directly only by replace and the five staged verbs") {
    val staged = Set(
      "DirSwap" -> "replace",
      "Dedup" -> "deleteFromSimilarityGraph",
      "Dedup" -> "deleteFromSignatureIndex",
      "Dedup" -> "compactSignatureIndex",
      "Similarity" -> "deleteVecRows",
      "Similarity" -> "compactAnnIndex")
    val swaps = (sites("DirSwap.swap(") ++
      sites("swap(fs, live, tmp)")).distinct
    assert(swaps.toSet == staged, swaps.mkString("\n"))
    // the temp-directory name is spelled only where a swap is staged
    val temps = sites("_compacting")
    assert(temps.nonEmpty && temps.toSet.subsetOf(staged), temps.mkString("\n"))
  }
}
