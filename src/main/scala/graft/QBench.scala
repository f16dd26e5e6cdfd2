package graft

/** Dev tool (Bench's little sibling): time just the queries named on
  * the command line against SPARK_GRAFT_SF_DIR, two passes each
  * (report both), so a single operator can be iterated on without
  * paying the full 207-query suite. Same session config as Bench
  * minus the Hive catalog (none of the streaming/dedup gates need
  * it, and skipping derby keeps concurrent use safe). Cores come from
  * `SPARK_GRAFT_CPUS` (default 4, see [[Session.cpus]]); export
  * `SPARK_GRAFT_CPUS=32` to time a query as the SCALE and STORE
  * series run it.
  */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // dev-only A/B hook: GRAFT_CONF="k=v;k=v" applies session confs so
    // a knob (e.g. store buckets) can be A/B-measured same-boot without
    // recompiling. Bench never reads it.
    sys.env.get("GRAFT_CONF").foreach(_.split(';').filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k.trim, v.trim)
      })
    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      t
    }
    args.foreach { n =>
      val a = once(n); val b = once(n)
      println(f"[qbench] $n%-32s pass1 $a%6.2f s   pass2 $b%6.2f s")
    }
    spark.stop()
  }
}
