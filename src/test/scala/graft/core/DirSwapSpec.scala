package graft.core

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.scalatest.funsuite.AnyFunSuite

/** The marker rule and the replace protocol of [[DirSwap]], on the
  * Hadoop local FS alone (no Spark session). */
class DirSwapSpec extends AnyFunSuite {

  private val fs = FileSystem.getLocal(new Configuration())

  private def base(): String =
    java.nio.file.Files.createTempDirectory("dirswap_spec").toString

  private def touch(p: String): Unit = fs.create(new Path(p), true).close()

  private def exists(p: String): Boolean = fs.exists(new Path(p))

  private def children(p: String): Set[String] =
    fs.listStatus(new Path(p)).map(_.getPath.getName).toSet

  test("swap carries _batches marker files into the new directory") {
    val b = base()
    touch(s"$b/idx/data.parquet")
    touch(s"$b/idx/_batches/0")
    touch(s"$b/idx/_batches/7")
    touch(s"$b/idx_compacting/merged.parquet")
    DirSwap.swap(fs, new Path(s"$b/idx"), new Path(s"$b/idx_compacting"))
    assert(children(s"$b/idx/_batches") == Set("0", "7"))
    assert(exists(s"$b/idx/merged.parquet"))
    assert(!exists(s"$b/idx_compacting") && !exists(s"$b/idx_old"))
  }

  test("swap recreates a child directory missing from tmp, empty") {
    val b = base()
    touch(s"$b/idx/part-0.parquet")
    touch(s"$b/idx/batch_1/part-0.parquet")
    touch(s"$b/idx_compacting/merged.parquet")
    DirSwap.swap(fs, new Path(s"$b/idx"), new Path(s"$b/idx_compacting"))
    assert(fs.getFileStatus(new Path(s"$b/idx/batch_1")).isDirectory)
    assert(children(s"$b/idx/batch_1").isEmpty, "the carried marker kept its data")
    // files at the live root are not carried
    assert(children(s"$b/idx") == Set("merged.parquet", "batch_1"))
  }

  test("swap keeps tmp's content for a child directory tmp already has") {
    val b = base()
    touch(s"$b/idx/compacted/tokens/old.parquet")
    touch(s"$b/idx/p0/tokens/p0.parquet")
    touch(s"$b/idx_compacting/compacted/tokens/new.parquet")
    DirSwap.swap(fs, new Path(s"$b/idx"), new Path(s"$b/idx_compacting"))
    assert(children(s"$b/idx/compacted/tokens") == Set("new.parquet"))
    assert(children(s"$b/idx/p0").isEmpty)
  }

  test("swap does not carry hidden directories") {
    val b = base()
    touch(s"$b/idx/_staging_3/part-0.parquet")
    touch(s"$b/idx/_temporary/x")
    touch(s"$b/idx/.hidden/x")
    touch(s"$b/idx_compacting/merged.parquet")
    DirSwap.swap(fs, new Path(s"$b/idx"), new Path(s"$b/idx_compacting"))
    assert(children(s"$b/idx") == Set("merged.parquet"))
  }

  test("replace clears a stale _compacting and installs into a missing live dir") {
    val b = base()
    // debris of a crashed earlier replace
    touch(s"$b/idx_compacting/stale.parquet")
    DirSwap.replace(fs, s"$b/idx") { tmp =>
      assert(!exists(s"$tmp/stale.parquet"), "stale _compacting not cleared")
      touch(s"$tmp/v1.parquet")
    }
    assert(children(s"$b/idx") == Set("v1.parquet"))
    assert(!exists(s"$b/idx_compacting"))
    // a live dir exists now: the second replace swaps and keeps markers
    touch(s"$b/idx/_batches/2")
    DirSwap.replace(fs, s"$b/idx")(tmp => touch(s"$tmp/v2.parquet"))
    assert(children(s"$b/idx") == Set("v2.parquet", "_batches"))
    assert(exists(s"$b/idx/_batches/2"))
    assert(!exists(s"$b/idx_compacting") && !exists(s"$b/idx_old"))
  }
}
