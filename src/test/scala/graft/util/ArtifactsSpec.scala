package graft.util

import java.nio.file.{Files, Paths}

import graft.SparkSpec

class ArtifactsSpec extends SparkSpec {

  test("a body that throws leaves the previous artifact byte-identical and no temp file") {
    val d = Files.createTempDirectory("graft_artifacts").toFile
    d.deleteOnExit()
    val path = s"${d.getAbsolutePath}/model.bin"
    def bytes = Files.readAllBytes(Paths.get(path))
    def temps = d.list().filter(_.contains(".tmp-")).toSeq
    val old = Array.tabulate[Byte](10000)(i => (i * 31).toByte)
    Artifacts.write(spark, path)(_.write(old))
    val err = intercept[IllegalStateException] {
      Artifacts.write(spark, path) { out =>
        out.write(Array.fill[Byte](20000)(7)) // more than one buffer's worth reaches the file
        throw new IllegalStateException("writer died mid-file")
      }
    }
    assert(err.getMessage == "writer died mid-file")
    assert(bytes.sameElements(old))
    assert(temps.isEmpty, s"temp files left: $temps")
    // a later good write still replaces it
    Artifacts.write(spark, path)(_.write(Array[Byte](4, 5)))
    assert(bytes.sameElements(Array[Byte](4, 5)))
    assert(temps.isEmpty, s"temp files left: $temps")
  }
}
