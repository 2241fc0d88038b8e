package graft.perfbench

import graft.ingest.IndexBuild
import graft.model.ChunkingConfig
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** `ingest-write`: an empty container and one closed-loop writer. Each
  * call is a `POST /containers/{id}/bulk_upload` of 20 seeded
  * multi-chunk documents, two of them (10%) re-uploading an earlier path
  * with new content. No searches: parse, chunk, embed and the TxLog
  * commit path do all the work. After the timed window the traced run
  * also times one `POST /maintain` (compaction, checkpoint, vacuum) with
  * the admin key, and the battery slice ([[Battery]]). */
object IngestWrite {
  val TimeoutS = 120
  val DocsPerCall = 20
  val MinCalls = 2
  /** Untimed calls before the window: the first calls of a fresh JVM run
    * 40-60% slower than later ones while the JIT and Spark's codegen cache
    * warm up, and a window that caught that slope would measure warm-up. */
  val WarmupCalls = 4
  /** Re-uploaded paths whose generation and content are checked. */
  val UpsertChecks = 5

  def apply(spark: org.apache.spark.sql.SparkSession, run: Run, tracker: JobTracker): Unit = {
    val texts = ServingStack.corpus(spark, run.dataDir).map(_._2)
    val stack = new ServingStack(spark, run)
    val latest = mutable.LinkedHashMap[String, String]() // path -> content last uploaded
    val uploads = mutable.Map[String, Int]().withDefaultValue(0) // path -> times uploaded
    var userBytes = 0L
    val counts = new ReplayCounts
    def uploaded(files: Seq[(String, String)]): Unit = files.foreach { case (p, c) =>
      latest(p) = c; uploads(p) += 1; userBytes += c.getBytes("UTF-8").length
    }
    /** One REST call; a timed call in a traced run is also replayed. */
    def upload(files: Seq[(String, String)], timed: Boolean = true): Option[Double] = {
      val t0 = System.nanoTime()
      val r = Try(stack.http.post(s"/containers/${stack.cid}/bulk_upload", stack.clientToken,
        stack.uploadBody(files), TimeoutS))
      val t1 = System.nanoTime()
      r match {
        case Success((201, _)) =>
          run.ok()
          uploaded(files)
          if (run.traced && timed) uploaded(replay(stack, run, tracker, counts, files, t0, t1))
          Some((t1 - t0) / 1e6)
        case Success((code, body)) => run.fail(s"bulk_upload -> $code ${body.take(200)}"); None
        case Failure(e) => run.fail(s"bulk_upload: $e"); None
      }
    }
    def maintain(): Option[Double] = {
      val t0 = System.nanoTime()
      Try(stack.http.post("/maintain", stack.adminToken, "{}", TimeoutS)) match {
        case Success((200, _)) => run.ok(); Some((System.nanoTime() - t0) / 1e6)
        case other => run.fail(s"POST /maintain: $other"); None
      }
    }
    try {
      run.note("serving stack up")
      val batches = Gen.uploadBatches(run.seed, texts, "ingest", DocsPerCall)
      // warm-up: untimed calls of the same shape; their files count in
      // the checks
      val warm = (1 to WarmupCalls).flatMap(_ => upload(batches.next(), timed = false))
      run.detail("warmup_upload_ms") = warm.map(v => f"$v%.0f").mkString(" ")
      val setupS = Proc.sinceStartS()
      val w = new Window(tracker)
      // closed loop for the run length, at least MinCalls calls: a further
      // call starts only while the last call's duration still fits, so a
      // run never overshoots by a whole call and runs of one build do the
      // same number of calls
      val start = System.nanoTime()
      val lat = mutable.ArrayBuffer[Double]()
      var docs = 0
      var calls = 0
      do {
        val b = batches.next()
        calls += 1
        upload(b).foreach { ms => lat += ms; docs += b.size }
      } while (calls < MinCalls || (lat.nonEmpty &&
        (System.nanoTime() - start) / 1e6 + lat.last <= run.seconds * 1e3))
      w.close()
      run.note("timed window closed")
      Report.ops(run, setupS, w, lat.toSeq, units = docs.toDouble, ops = lat.size)
      run.detail("docs_acknowledged") = docs
      run.detail("upload_ms") = lat.map(v => f"$v%.0f").mkString(" ")
      val maintainMs = if (run.traced) maintain() else None
      checks(stack, run, latest, uploads)
      storeReport(stack, run, counts, maintainMs, userBytes)
    } finally stack.stop()
    if (run.traced) Battery.layerProbe(spark, run, tracker)
  }

  /** `containerStats` must count every distinct path uploaded, and
    * re-uploaded paths must serve their latest content at generation 2. */
  private def checks(stack: ServingStack, run: Run, latest: mutable.LinkedHashMap[String, String],
      uploads: mutable.Map[String, Int]): Unit = {
    val docs = stack.store.containerStats(stack.cid).getOrElse("documents", -1L)
    run.check(docs == latest.size, s"containerStats documents $docs != ${latest.size} distinct paths")
    uploads.filter(_._2 == 2).keys.toSeq.sorted.take(UpsertChecks).foreach { p =>
      val details = stack.store.documentIdAt(stack.cid, p).flatMap(stack.store.fileDetails(stack.cid, _))
      val want = IndexBuild.sha256(latest(p))
      run.check(details.exists(d => d._6 == 2L && d._7 == want),
        s"re-uploaded $p: expected generation 2 with the new content, got ${details.map(d => (d._6, d._7))}")
    }
  }

  /** Spark work per replayed in-process upload, and chunks per document. */
  private final class ReplayCounts {
    val jobs, tasks, chunksPerDoc = mutable.ArrayBuffer[Double]()
  }

  /** Replay one answered upload at each entry point, outermost first:
    * REST (the call just made), in-process `KnowledgeStore.bulkUpload` of
    * an equal batch, and `IndexBuild.chunkDocs` + `IndexBuild.embedChunks`
    * of another equal batch, materialized but not committed. The equal
    * batches carry the same documents with a marker term added to every
    * joined text, so no chunk hits the embed cache the REST call filled.
    * Returns the files the replay committed. */
  private def replay(stack: ServingStack, run: Run, tracker: JobTracker, counts: ReplayCounts,
      files: Seq[(String, String)], t0: Long, t1: Long): Seq[(String, String)] = {
    import stack.spark.implicits._
    def twin(k: Int) = files.map { case (p, c) =>
      (s"/replay$k$p", c.split("\n\n").map(_ + s" replay$k").mkString("\n\n"))
    }
    val tr = run.tracer
    val rid = tr.nextRequestId()
    val rest = tr.record("api.rest_upload", rid, 0L, t0, t1)
    val committed = twin(1)
    val ((_, group), s1) = tr.span("store.bulk_upload", rid, rest.id)(
      tracker.grouped("upload")(stack.store.bulkUpload(stack.cid, committed)))
    val g = tracker.stats(group)
    counts.jobs += g.jobs.toDouble
    counts.tasks += g.tasks.toDouble
    val docs = twin(2).map { case (p, c) =>
      IndexBuild.RawDoc(stack.docId(p), stack.cid, p, p.substring(p.lastIndexOf('/') + 1), c)
    }.toDS()
    val (chunker, cfg) = chunking(stack)
    val (chunks, _) = tr.span("ingest.chunk", rid, s1.id) {
      val c = IndexBuild.chunkDocs(docs, chunker, cfg).persist(); c.count(); c
    }
    val cache = Try(stack.spark.read.parquet(s"${stack.warehouse}/embed_cache")).toOption
    val (vectors, _) = tr.span("ingest.embed", rid, s1.id) {
      val v = IndexBuild.embedChunks(chunks, cache, stack.embedder).persist(); v.count(); v
    }
    counts.chunksPerDoc += chunks.count().toDouble / files.size
    vectors.unpersist(); chunks.unpersist()
    tr.span("store.snapshot", tr.nextRequestId())(graft.store.TxLog.snapshot(stack.spark, stack.warehouse))
    committed
  }

  /** The chunker and config the store applies to this container. */
  private def chunking(stack: ServingStack): (graft.chunk.Chunker, ChunkingConfig) = {
    val eff = stack.store.effectiveSettings("chunking", Some(stack.cid))
    (graft.chunk.Chunkers.forName(eff("strategy"), stack.embedder), ChunkingConfig(
      maxChunkSize = eff("max_chunk_size").toInt, overlap = eff("overlap").toInt,
      minChunkSize = eff("min_chunk_size").toInt,
      semanticThreshold = eff("semantic_threshold").toDouble,
      semanticBufferSize = eff("semantic_buffer_size").toInt,
      breakpointMethod = eff("breakpoint_method"),
      breakpointAmount = eff("breakpoint_amount").toDouble,
      windowSize = eff("sentence_window_size").toInt,
      prependHeaderPath = eff("prepend_header_path").toBoolean))
  }

  private def storeReport(stack: ServingStack, run: Run, counts: ReplayCounts,
      maintainMs: Option[Double], userBytes: Long): Unit = {
    val m = run.metrics
    val wh = new java.io.File(stack.warehouse)
    val stored = org.apache.commons.io.FileUtils.sizeOfDirectory(wh)
    m("store.stored_bytes_per_user_byte") = stored.toDouble / math.max(userBytes, 1L)
    val snap = graft.store.TxLog.snapshot(stack.spark, stack.warehouse)
    m("store.log_versions") = snap.version.toDouble
    m("store.live_files") = snap.live.values.map(_.size).sum.toDouble
    m("store.embed_cache_files") = Option(new java.io.File(wh, "embed_cache").listFiles())
      .map(_.count(_.getName.endsWith(".parquet"))).getOrElse(0).toDouble
    maintainMs.foreach(m("store.maintain_ms") = _)
    if (!run.traced) return
    val tr = run.tracer
    def mean(xs: Seq[Double]): Option[Double] = if (xs.isEmpty) None else Some(xs.sum / xs.size)
    tr.medianSelfMs("api.rest_upload").foreach(m("api.upload_overhead_ms_p50") = _)
    tr.medianMs("store.bulk_upload").foreach(m("store.upload_ms_p50") = _)
    tr.medianSelfMs("store.bulk_upload").foreach(m("store.commit_residual_ms_p50") = _)
    mean(counts.jobs.toSeq).foreach(m("store.jobs_per_upload") = _)
    mean(counts.tasks.toSeq).foreach(m("store.tasks_per_upload") = _)
    tr.medianMs("store.snapshot").foreach(m("store.snapshot_ms") = _)
    val perDoc = DocsPerCall.toDouble
    tr.medianMs("ingest.chunk").foreach(v => m("ingest.chunk_ms_per_doc") = v / perDoc)
    tr.medianMs("ingest.embed").foreach(v => m("ingest.embed_ms_per_doc") = v / perDoc)
    mean(counts.chunksPerDoc.toSeq).foreach(m("ingest.chunks_per_doc") = _)
  }
}
