package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class IoProbeSpec extends AnyFunSuite {

  test("writeMbps measures a real write and cleans up after itself") {
    val dir = java.nio.file.Files.createTempDirectory("ioprobe_spec").toString
    val mbps = IoProbe.writeMbps(dir, totalMb = 64)
    assert(mbps > 0 && java.lang.Double.isFinite(mbps), s"got $mbps")
    val left = java.nio.file.Files.list(java.nio.file.Paths.get(dir)).count()
    assert(left == 0, s"probe left $left files behind")
  }

  test("row emits the one-line JSON contract the harness logs are parsed by") {
    val dir = java.nio.file.Files.createTempDirectory("ioprobe_spec2").toString
    val row = IoProbe.row("pre", dir, totalMb = 64)
    assert(!row.contains("\n"))
    // minimal JSON shape check without a parser dependency
    assert(row.startsWith("""{"metric":"io_probe","when":"pre","""))
    assert(row.matches(""".*"mb_per_s":\d+}"""), row)
  }

  test("localDir resolves in Spark's order: SPARK_LOCAL_DIRS, spark.local.dir, tmpdir") {
    assert(IoProbe.localDir(Some("/env/a,/env/b"), Some("/conf"), "/tmp") == "/env/a")
    assert(IoProbe.localDir(None, Some(" /conf/a , /conf/b"), "/tmp") == "/conf/a")
    assert(IoProbe.localDir(Some(""), Some("/conf"), "/tmp") == "/conf")
    assert(IoProbe.localDir(Some(", /env"), None, "/tmp") == "/env")
    assert(IoProbe.localDir(Some(","), None, "/tmp") == "/tmp")
    assert(IoProbe.localDir(None, None, "/tmp") == "/tmp")
  }
}
