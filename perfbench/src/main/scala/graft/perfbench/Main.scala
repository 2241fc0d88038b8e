package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession
import scala.util.control.NonFatal

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *  --data <dir> --work <dir> --out <file>`.
  * Runs one workload on `local[<cores>]` and writes the measured metrics,
  * operation and failure counts to `--out` as JSON. `perfbench/run.py`
  * builds this, launches it, checks the battery's outputs and prints the
  * result line. */
object Main {
  val Workloads: Map[String, (SparkSession, Run, JobTracker) => Unit] = Map(
    "search-read" -> SearchRead.apply,
    "ingest-write" -> IngestWrite.apply)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = Workloads.getOrElse(opt("workload"), sys.error(s"unknown workload ${opt("workload")}"))
    val work = java.nio.file.Paths.get(opt("work"))
    val run = new Run(opt("seed").toLong, opt("seconds").toInt, opt("trace") == "1", opt("data"), work)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracker = new JobTracker(spark.sparkContext)
    try workload(spark, run, tracker)
    catch { case NonFatal(e) =>
      e.printStackTrace()
      run.fail(s"workload aborted: $e")
    }
    if (run.traced) run.tracer.writeJsonLines(work.resolve("spans.jsonl"))
    write(run, java.nio.file.Paths.get(opt("out")))
    spark.stop()
    System.exit(0)
  }

  private def write(run: Run, out: java.nio.file.Path): Unit = {
    val mapper = new ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("attempted", run.attempted.get)
    n.put("failed", run.failed.get)
    val m = n.putObject("metrics")
    run.metrics.foreach { case (k, v) => m.put(k, v) }
    val f = n.putArray("failures")
    run.failureMessages.foreach(f.add)
    val d = n.putObject("detail")
    run.detail.foreach { case (k, v) => d.put(k, v.toString) }
    mapper.writeValue(out.toFile, n)
  }
}
