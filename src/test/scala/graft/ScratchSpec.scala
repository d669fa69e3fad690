package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.util.Scratch

class ScratchSpec extends AnyFunSuite {

  test("deleting a scratch dir removes a link inside it, never the link's target") {
    // a table stored as a directory: a link to it is the case a
    // link-following delete would empty
    val data = Files.createTempDirectory("graft_scratch_target_")
    val part = data.resolve("events.parquet").resolve("part-0.parquet")
    Files.createDirectories(part.getParent)
    Files.write(part, Array[Byte](1, 2, 3))
    val d = Scratch.linked("graft_scratch_spec_", data.toString, "events.parquet")
    Files.write(Paths.get(d, "own.txt"), Array[Byte](4))
    Scratch.delete(Paths.get(d))
    assert(!Files.exists(Paths.get(d)))
    assert(Files.readAllBytes(part).toSeq == Seq[Byte](1, 2, 3))
    Scratch.delete(data)
  }
}
