package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Everything one workload run needs. `tiny` shrinks every input to the
  * smoke-test size; the checks stay on.
  */
final case class Ctx(spark: SparkSession, tracer: Tracer, report: Report,
                     seed: Long, seconds: Double, tiny: Boolean, workDir: Path) {
  private var stores = 0
  /** A fresh, empty store directory under the work dir. */
  def newStoreDir(): String = {
    stores += 1
    workDir.resolve(s"store-$stores").toString
  }
}

/** Benchmark entry point:
  * `Main --workload <serve|ingest> --seed <n>
  *  --seconds <s> --trace <0|1> --work-dir <dir> [--cores <n>] [--size tiny]`.
  *
  * One JVM, Spark at local[nproc] with nproc shuffle partitions, one client
  * thread in a closed loop. The last stdout line is the run's JSON result.
  */
object Main {
  val workloads: Seq[String] = Seq("serve", "ingest")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    if (!workloads.contains(workload)) usage(s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val tiny = opts.get("size").contains("tiny")
    val workDir = Paths.get(need("work-dir")).toAbsolutePath
    Files.createDirectories(workDir)

    val cores = opts.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(workDir.resolve("checkpoints").toString)

    val tracer = new Tracer(spark, trace)
    val report = new Report
    val ctx = Ctx(spark, tracer, report, seed, seconds, tiny, workDir)
    val ok =
      try {
        workload match {
          case "serve" => Serve.run(ctx)
          case "ingest" => Ingest.run(ctx)
        }
        if (trace) {
          Layers.report(ctx)
          report.put("peak_rss_mb", peakRssMb(), "MB")
          tracer.write(workDir.resolve(s"spans-$workload-$seed.jsonl"))
        } else {
          report.put("success_frac", 1.0 - report.failed.toDouble / math.max(1L, report.attempted), "ratio")
        }
        true
      } catch {
        case e: Exception =>
          System.err.println(s"[perfbench] $workload aborted: $e")
          e.printStackTrace()
          report.check(ok = false, s"aborted: $e")
          false
      }
    tracer.close()
    spark.stop()
    println(report.json)
    System.out.flush()
    val pass = ok && report.correct
    if (!pass) System.err.println(s"[perfbench] $workload seed=$seed failed: ${report.summary}")
    sys.exit(if (pass) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.err.println("usage: Main --workload <" + workloads.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir> [--size tiny]")
    sys.exit(2)
  }

  /** Driver peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
