package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class HarnessSessionSpec extends AnyFunSuite {
  private def fsType(p: String): String = Files.getFileStore(Paths.get(p)).`type`

  test("tmpfs is told by the filesystem type of the local dir, not its path") {
    val disk = Files.createTempDirectory("graft_local").toString
    assume(fsType(disk) != "tmpfs", s"$disk is on tmpfs")
    assert(!HarnessSession.onTmpfs(disk))
    assume(Files.isDirectory(Paths.get("/dev/shm")) && fsType("/dev/shm") == "tmpfs",
      "no tmpfs at /dev/shm")
    assert(HarnessSession.onTmpfs("/dev/shm"))
  }

  test("a local dir not created yet takes the type of its nearest existing ancestor") {
    val disk = Files.createTempDirectory("graft_local")
    assume(fsType(disk.toString) != "tmpfs", s"$disk is on tmpfs")
    assert(!HarnessSession.onTmpfs(disk.resolve("not/yet").toString))
    assume(Files.isDirectory(Paths.get("/dev/shm")) && fsType("/dev/shm") == "tmpfs",
      "no tmpfs at /dev/shm")
    assert(HarnessSession.onTmpfs("/dev/shm/graft-not-yet/spark-local"))
    // a disk path that leads to tmpfs: no path prefix tells this apart
    val link = Files.createSymbolicLink(disk.resolve("shm"), Paths.get("/dev/shm"))
    assert(HarnessSession.onTmpfs(link.resolve("graft-not-yet").toString))
  }
}
