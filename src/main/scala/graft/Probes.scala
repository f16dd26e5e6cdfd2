package graft

import org.apache.spark.sql.SparkSession

/** Box-health probes shared by [[Bench]] and [[StoreProbe]]. This box
  * shows hour-scale weather (whole-VM throttling, and tmp-disk write
  * throughput 3× apart across boots while the CPU stayed flat), so a
  * timing series is only readable next to readings of both: a fixed
  * CPU-bound job and a fixed disk write. Each returns -1 on failure,
  * the artifacts' failed-reading sentinel, and says why on stderr.
  */
object Probes {

  /** Seconds for a fixed 400M-row sum. */
  def cpu(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    try { // double math — a long sum of id² overflows under ANSI
      spark.range(0L, 400000000L, 1, 32)
        .selectExpr("sum(cast(id AS double) * id)").collect()
      (System.nanoTime() - t0) / 1e9
    } catch { case e: Throwable =>
      System.err.println(s"[probe] cpu calibration failed: ${e.getMessage}"); -1.0
    }
  }

  /** MB/s of one 64 MiB write+fsync in `dir` (null: java.io.tmpdir). */
  def disk(dir: java.io.File): Double = {
    var f: java.io.File = null
    try {
      f = java.io.File.createTempFile("graft_disk_probe_", ".bin", dir)
      val t0 = System.nanoTime()
      val out = new java.io.FileOutputStream(f)
      val block = new Array[Byte](1 << 20)
      try {
        var i = 0
        while (i < 64) { out.write(block); i += 1 }
        out.getFD.sync()
      } finally out.close()
      64.0 / ((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[probe] disk probe failed in $dir: ${e.getMessage}"); -1.0
    } finally if (f != null) f.delete()
  }
}
