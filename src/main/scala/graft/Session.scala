package graft

import org.apache.spark.sql.SparkSession

/** The one session every main and spec in this project runs under
  * (`ExtensionsDemo` excepted: it proves the `spark.sql.extensions`
  * route, so it builds its own). */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, default 4 (the local bench
    * series' value). The SCALE and STORE series export 32. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS")
    .fold(4)(Confs.positive("SPARK_GRAFT_CPUS", _))

  /** `local[cpus]` with one shuffle partition per core, AQE on, UTC and
    * no UI. `hive` adds the derby-backed catalog anchored at the working
    * dir: bucketed/partitioned layouts (q35/q36) are written once and
    * survive JVMs, so steady-state runs pay only the join, not the
    * layout. Embedded derby is single-process, so two `hive` sessions
    * must not run concurrently in one checkout. */
  def build(cpus: Int = Session.cpus, hive: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    if (hive) {
      val cwd = System.getProperty("user.dir")
      b.config("spark.sql.warehouse.dir", s"$cwd/spark-warehouse")
        .config("spark.hadoop.javax.jdo.option.ConnectionURL",
          s"jdbc:derby:;databaseName=$cwd/metastore_db;create=true")
        .enableHiveSupport()
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
