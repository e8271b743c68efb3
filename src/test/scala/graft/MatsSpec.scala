package graft

import org.scalatest.funsuite.AnyFunSuite

/** `Mats` sizes the source dir through Hadoop `FileSystem`, so a dir whose
  * size cannot be read turns materialization on, not off. */
class MatsSpec extends AnyFunSuite {
  import TestSpark._

  test("a missing dir and an empty dir both materialize") {
    val empty = TempDirs.tmp("graft_mats_empty_")
    assert(Mats.inputBytes(spark, empty) == 0L)
    assert(Mats.materializeAt(spark, empty))
    assert(Mats.materializeAt(spark, s"$empty/no_such_dir"))
  }

  test("a local path and its file: URI size the same, below the threshold") {
    val uri = new java.io.File(sfDir).toURI.toString
    assert(uri.startsWith("file:"))
    val bytes = Mats.inputBytes(spark, sfDir)
    assert(bytes == new java.io.File(sfDir).listFiles().map(_.length).sum)
    assert(Mats.inputBytes(spark, uri) == bytes)
    assert(!Mats.materializeAt(spark, sfDir))
    assert(!Mats.materializeAt(spark, uri))
  }
}
