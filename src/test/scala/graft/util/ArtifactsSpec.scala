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

  test("reads: readBytes gives back what write wrote; readJson fails with the caller's messages") {
    val d = Files.createTempDirectory("graft_artifacts_read").toFile
    d.deleteOnExit()
    val path = s"${d.getAbsolutePath}/side.json"
    val body = "{\"k\":[1,2]}".getBytes("UTF-8")
    Artifacts.write(spark, path)(_.write(body))
    assert(Artifacts.readBytes(spark, path).sameElements(body))
    assert(Artifacts.read(spark, path)(_.readAllBytes()).sameElements(body))
    assert(Artifacts.readJson(spark, path, "gone", "bad").path("k").get(1).asInt == 2)
    val missing = intercept[IllegalArgumentException](
      Artifacts.readJson(spark, s"$path.missing", "gone", "bad"))
    assert(missing.getMessage.endsWith("gone"))
    Artifacts.write(spark, path)(_.write("{\"k\": [1,".getBytes("UTF-8")))
    val torn = intercept[IllegalArgumentException](Artifacts.readJson(spark, path, "gone", "bad"))
    assert(torn.getMessage == "bad")
  }
}
