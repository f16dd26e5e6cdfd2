package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up a workload, then run its
  * items one after another, in a fixed order, until `--seconds` have
  * passed. The first pass times every item on its first execution in
  * this JVM; later passes only re-check answers. Prints
  * `PERFBENCH_SETUP_DONE` when the first timed item is about to start
  * and `PERFBENCH_RESULT <json>` at the end.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --run-dir D
  *   --fixture F --expected E [--trace-out T] [--record E2]
  */
object Main {
  val Cores = 4

  def main(args: Array[String]): Unit = {
    // exit explicitly: a failed set-up must not leave the JVM waiting on
    // Spark's threads until the runner's timeout
    val code = try { run(args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.exit(code)
  }

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val runDir = new File(opt("run-dir")).getAbsoluteFile
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(runDir)
    spark.sparkContext.setLogLevel("WARN")
    System.err.println(s"[perfbench] session up ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    val tracer = opt.get("trace-out").map(_ => new Tracer(spark).install())
    val wl = Workload(workload, spark, opt("seed").toLong, runDir, opt("fixture"),
      opt("expected"), opt.get("record"))
    wl.setup()
    System.err.println(s"[perfbench] set up ${System.currentTimeMillis() - jvmStart} ms after JVM start")
    println("PERFBENCH_SETUP_DONE")
    Console.out.flush()

    val seconds = opt("seconds").toDouble
    val gc0 = gcSeconds()
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    val gates = wl.items.exists(_.family == "st")
    if (gates) tracer.foreach(_.startSampling(wl.tmpDir))
    val windows = mutable.ArrayBuffer[Window]()
    val failures = mutable.ArrayBuffer[String]()
    var attempted, failed, passes = 0
    var wall, gc, heapPeakMb = 0.0
    do {
      passes += 1
      for (item <- wl.items if passes == 1 || System.nanoTime() < deadline) {
        val start = System.currentTimeMillis()
        val n0 = System.nanoTime()
        val err = try item.run() catch {
          case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - n0) / 1e9
        attempted += 1
        err.foreach { m =>
          failed += 1
          failures += s"${item.name} (pass $passes): ${m.take(300)}"
          System.err.println(s"[perfbench] FAIL ${item.name}: $m")
        }
        if (passes == 1) {
          val w = Window(windows.size, item.name, item.family, start,
            System.currentTimeMillis(), dt)
          windows += w
          System.err.println(f"[perfbench] ${item.name}%-28s $dt%8.3f s")
          if (gates) tracer.foreach(_.sample(wl.tmpDir))
        }
        spark.catalog.clearCache()
      }
      if (passes == 1) {
        wall = (System.nanoTime() - t0) / 1e9
        tracer.foreach(_.stopSampling())
        gc = gcSeconds() - gc0
        heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(_.getPeakUsage.getUsed).sum / 1024.0 / 1024.0
      }
    } while (System.nanoTime() < deadline)
    val rssMb = vmHwmMb()
    wl.finish()
    spark.stop()

    val geomean = math.exp(windows.map(w => math.log(math.max(w.seconds, 1e-6))).sum / windows.size)
    val layers = tracer.map { t =>
      val (m, spans) = t.summarize(windows.toSeq, wl.tokens,
        windows.find(_.name == "word_count").map(_.id))
      Json.write(new File(opt("trace-out")), Json.obj(
        "workload" -> Json.str(workload),
        "spans" -> Json.arr(spans.map(s => Json.obj(
          "id" -> Json.num(s.id), "name" -> Json.str(s.name), "item" -> Json.num(s.item),
          "start" -> Json.num(s.start.toDouble), "end" -> Json.num(s.end.toDouble),
          "parent" -> Json.num(s.parent))))))
      m ++ Seq("jvm.gc_s" -> gc, "jvm.heap_peak_mb" -> heapPeakMb)
    }.getOrElse(Nil)
    println("PERFBENCH_RESULT " + Json.obj(
      "wall_s" -> Json.num(wall),
      "item_geomean_s" -> Json.num(geomean),
      "peak_rss_mb" -> Json.num(rssMb),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed),
      "passes" -> Json.num(passes),
      "failures" -> Json.arr(failures.take(20).map(Json.str).toSeq),
      "items" -> Json.obj(windows.map(w => w.name -> Json.num(w.seconds)).toSeq: _*),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }: _*)))
    Console.out.flush()
  }

  /** Bench's session settings, with every directory Spark writes to
    * inside this run's own directory. The catalog is the in-memory one:
    * nothing a run registers outlives its JVM. */
  def session(runDir: File): SparkSession = {
    def dir(n: String) = { val f = new File(runDir, n); f.mkdirs(); f.getPath }
    SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("local"))
      .config("spark.sql.warehouse.dir", dir("warehouse"))
      .config("spark.hadoop.hadoop.tmp.dir", dir("hadoop"))
      .getOrCreate()
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** The process's peak resident set (`VmHWM`), in MiB. */
  private def vmHwmMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }
}

/** Minimal JSON writer for the result line and the span file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    java.nio.file.Files.writeString(f.toPath, s)
  }
}
