package graft.tools

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardOpenOption}

/** Direct sequential-write probe of the bench scratch volume — the
  * measurement-protocol guard every published 10M-doc number carries
  * (r11). The host's I/O band swings 2-10× between sessions (the same
  * stage measured 16.5 vs 79.0 s minutes apart in r10); a probe row
  * BEFORE and AFTER each bench leg turns "was the band clean?" from
  * forensic reading into data printed next to the number it qualifies.
  *
  * The probe bypasses Spark entirely: one thread, 64 MiB direct
  * buffers, non-zero fill (a sparse-file shortcut must not flatter the
  * result), `force()` before the clock stops so the page cache cannot
  * absorb the write, file deleted afterwards. ~2 GiB keeps the probe
  * under ~3 s on a healthy volume while being large enough that a
  * degraded band (≪ the healthy ~800-900 MB/s this host shows idle)
  * is unmistakable.
  *
  * "Direct" above means direct ByteBuffers, NOT O_DIRECT — the write
  * goes through the page cache and the fsync pays buffered WRITEBACK,
  * deliberately: that is the path Spark shuffle spills take, and this
  * host throttles it specifically (r13 measured the buffered probe at
  * 26-106 MB/s in the same minutes an O_DIRECT `dd` ran 333-651).
  * An O_DIRECT spot check is therefore NOT comparable to these rows.
  */
object IoProbe {

  /** Write `totalMb` MiB to a scratch file under `dir`, fsync, delete.
    * Returns throughput in MB/s. The final chunk is trimmed to the
    * remainder, so the reported rate divides by EXACTLY the bytes
    * written for any `totalMb`. */
  def writeMbps(dir: String, totalMb: Int = 2048): Double = {
    require(totalMb > 0, s"totalMb must be positive, got $totalMb")
    val parent = Paths.get(dir)
    Files.createDirectories(parent)
    val path = parent.resolve(s"__io_probe_${System.nanoTime()}.bin")
    val chunkMb = 64
    val buf = ByteBuffer.allocateDirect(chunkMb * 1024 * 1024)
    var i = 0
    while (buf.hasRemaining) { buf.put((i * 31 + 7).toByte); i += 1 }
    val ch = FileChannel.open(path,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE,
      StandardOpenOption.TRUNCATE_EXISTING)
    try {
      val t0 = System.nanoTime()
      var writtenMb = 0
      while (writtenMb < totalMb) {
        val mb = math.min(chunkMb, totalMb - writtenMb)
        buf.clear()
        buf.limit(mb * 1024 * 1024)
        while (buf.hasRemaining) ch.write(buf)
        writtenMb += mb
      }
      ch.force(false)
      val sec = (System.nanoTime() - t0) / 1e9
      totalMb / sec
    } finally {
      ch.close()
      Files.deleteIfExists(path)
      ()
    }
  }

  /** The directory Spark writes shuffle and spill files to, resolved in
    * Spark's own order: the `SPARK_LOCAL_DIRS` environment variable, then
    * the `spark.local.dir` setting, then the JVM's `java.io.tmpdir`. Of a
    * comma list the first non-empty entry is taken — Spark round-robins
    * over them, but they are normally mounts of the same device class. A
    * value with no non-empty entry counts as unset. */
  def localDir(envLocalDirs: Option[String], confLocalDir: Option[String], tmpDir: String): String =
    Seq(envLocalDirs, confLocalDir).flatten
      .flatMap(_.split(",").map(_.trim).find(_.nonEmpty)).headOption
      .getOrElse(tmpDir)

  /** One standard JSON probe row: `when` is "pre" or "post" relative to
    * the measurement it brackets. The dir is JSON-escaped — a path with
    * a quote or backslash must not corrupt the one-line contract. */
  def row(when: String, dir: String, totalMb: Int = 2048): String = {
    val mbps = writeMbps(dir, totalMb)
    val rate = String.format(java.util.Locale.ROOT, "%.0f", Double.box(mbps))
    s"""{"metric":"io_probe","when":"$when","dir":"${BenchUtil.jsonEscape(dir)}","mb_per_s":$rate}"""
  }
}
