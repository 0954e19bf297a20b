package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.build.JsonFiles

/** The shared atomic metadata write: the target is replaced in one
  * rename and no temporary file is left behind.
  */
class JsonFilesSpec extends AnyFunSuite {

  test("atomic write replaces existing content and leaves no .tmp file") {
    val dir = Files.createTempDirectory("graft-jsonfiles")
    val p = dir.resolve("state.json")
    Files.write(p, "old content that is longer than the new one".getBytes)
    JsonFiles.write(p, Array(3L, 1L, 2L))
    assert(JsonFiles.read(p, classOf[Array[Long]]).toSeq == Seq(3L, 1L, 2L))
    JsonFiles.write(p, Seq(7L))
    assert(JsonFiles.read(p, classOf[Array[Long]]).toSeq == Seq(7L))
    assert(dir.toFile.list().toSeq == Seq("state.json"))
    // a missing parent directory is created
    val nested = dir.resolve("sub").resolve("x.json")
    JsonFiles.writeAtomic(nested, "42".getBytes)
    assert(new String(Files.readAllBytes(nested)) == "42")
    assert(nested.getParent.toFile.list().toSeq == Seq("x.json"))
    org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
  }
}
