package graft.perfbench

import scala.util.{Failure, Success, Try}

/** The battery slice the traced `ingest-write` run times after its
  * window: a shingle-hash dedup join on the native functions (q24) and
  * the TxLog merge with its deletion-vector twin (q147), at sf0.1, run in
  * sequence as Spark jobs with storage released between queries (the
  * battery bench's rule), after one warm-up pass at sf0.001. The queries,
  * functions and TxLog merge layers do the work here and nowhere else in
  * the benchmark. Each output is written for the DuckDB oracle, which the
  * runner applies after the run. The inputs are the fixed sf0.1 and
  * sf0.001 tables. */
object Battery {
  val Queries: Seq[String] = Seq("q24_ngram_jaccard", "q147_merge_upsert")

  def layerProbe(spark: org.apache.spark.sql.SparkSession, run: Run, tracker: JobTracker): Unit = {
    val dir = s"${run.dataDir}/sf0.1"
    val out = run.workDir.resolve("battery")
    val oracle = graft.SparkEntry.oracleSql
    val fns = graft.SparkEntry.queries
    def release(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    }
    // warm-up: each query once at sf0.001, so the timed pass measures
    // compiled code rather than the JIT's first encounter
    Queries.foreach { q =>
      Try(fns(q)(spark, s"${run.dataDir}/sf0.001").write.mode("overwrite")
        .parquet(run.workDir.resolve("battery-warmup").resolve(q).toString))
        .failed.foreach(e => run.fail(s"$q threw $e in the warm-up"))
      release()
    }
    val walls = Queries.flatMap { q =>
      release()
      val cpu0 = Proc.cpuNs()
      val t0 = System.currentTimeMillis()
      val (r, group) = tracker.grouped(q)(Try(
        fns(q)(spark, dir).write.mode("overwrite").parquet(out.resolve(q).toString)))
      val t1 = System.currentTimeMillis()
      val cpuS = (Proc.cpuNs() - cpu0) / 1e9
      run.tracer.record(s"queries.$q", run.tracer.nextRequestId(), 0L, t0 * 1000000L, t1 * 1000000L)
      r match {
        case Success(_) =>
          run.ok()
          val g = tracker.stats(group)
          val m = run.metrics
          val key = q.takeWhile(_ != '_')
          m(s"queries.$key.cpu_s") = cpuS
          m(s"queries.$key.jobs") = g.jobs.toDouble
          m(s"queries.$key.tasks") = g.tasks.toDouble
          m(s"queries.$key.shuffle_bytes") = (g.shuffleReadBytes + g.shuffleWriteBytes).toDouble
          m(s"queries.$key.driver_only_s") = Stats.driverOnly(t0, t1, g.jobIntervalsMs) / 1e3
          run.detail(s"$key.stages") = g.stages
          run.detail(s"$key.spill_bytes") = g.spillBytes
          Some((t1 - t0).toDouble)
        case Failure(e) => run.fail(s"$q threw $e"); None
      }
    }
    run.metrics("queries.wall_s") = walls.sum / 1e3
    // the oracle SQL per query, for the runner's DuckDB check
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    Queries.foreach(q => oracle.get(q).foreach(node.put(q, _)))
    mapper.writeValue(out.resolve("oracle_sql.json").toFile, node)
  }
}
