package graft.perfbench

import graft.search.HybridSearch
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** `search-read`: the sf0.1 corpus (5,000 documents, one chunk each)
  * plus seeded sentinel documents, preloaded through the first-crawl bulk
  * path; four clients run a closed loop of `POST /search`. The API,
  * store, search and embed layers do all the work and the write path does
  * none. The corpus fits the driver-side serving caches. */
object SearchRead {
  val Clients = 4
  val Sentinels = 8
  /** Every this-many responses of a client is compared with the store. */
  val CheckEvery = 50
  /** In a traced run, one request in this many is replayed per layer. */
  val ReplayOneIn = 8
  val WarmupS = 6.0
  val TimeoutS = 30

  def apply(spark: org.apache.spark.sql.SparkSession, run: Run, tracker: JobTracker): Unit = {
    val corpus = ServingStack.corpus(spark, run.dataDir)
    val texts = corpus.map(_._2)
    val vocab = Gen.vocabulary(texts)
    val stack = new ServingStack(spark, run)
    try {
      val sentinels = Gen.sentinelDocs(run.seed, Sentinels, texts, "sentinel")
      run.note("serving stack up")
      ServingStack.preload(stack, corpus, sentinels.map(s => (s._1, s._2)))
      run.note("corpus preloaded")
      // the first search after an upload builds the serving index
      val t0 = System.nanoTime()
      val (_, group) = tracker.grouped("index-build")(
        stack.store.search(stack.searchRequest(Query(texts.head.split(" ").head, "hybrid", 10))))
      run.metrics("store.index_build_ms") = (System.nanoTime() - t0) / 1e6
      run.metrics("store.index_build_jobs") = tracker.stats(group).jobs.toDouble
      // warm-up: a loop on a fixed query stream brings the JIT to steady
      // state before timing; the stream does not depend on the seed, so
      // every run starts its window from the same compiled code
      loop(stack, run, tracker, Gen.queries(0L, vocab, stream = 900), WarmupS, timed = false)
      val setupS = Proc.sinceStartS()
      val w = new Window(tracker)
      val lat = loop(stack, run, tracker, Gen.queries(run.seed, vocab), run.seconds.toDouble, timed = true)
      w.close()
      run.note("timed window closed")
      Report.ops(run, setupS, w, lat, units = lat.size.toDouble, ops = lat.size)
      // completions per 2 s of the window: a rising series means the
      // warm-up left the JIT short of steady state
      val ends = done.asScala.map(_.longValue).toSeq
      if (ends.nonEmpty) run.detail("completions_per_2s") = ends.groupBy(t => (t - ends.min) / 2000000000L)
        .toSeq.sortBy(_._1).map(_._2.size).mkString(",")
      sentinels.foreach { case (path, _, term) => sentinelCheck(stack, run, stack.docId(path), term) }
      if (run.traced) layerReport(stack, run)
    } finally stack.stop()
  }

  /** A sentinel document must rank first for its term in keyword mode,
    * where it is the term's only match, and must be among the hits in
    * hybrid mode. (Hybrid mode does not promise first place: with min-max
    * fusion at alpha 0.5 a keyword-only match scores 0.5, the same as the
    * best vector-only match.) */
  def sentinelCheck(stack: ServingStack, run: Run, docId: String, term: String): Unit =
    Seq("keyword", "hybrid").foreach { mode =>
      Try(stack.http.post("/search", stack.clientToken, stack.searchBody(Query(term, mode, 10)), TimeoutS)) match {
        case Success((200, body)) =>
          val docs = stack.hits(body).map(_._2)
          if (mode == "keyword")
            run.check(docs.headOption.contains(docId),
              s"sentinel '$term' ranked ${docs.headOption.getOrElse("nothing")} first, not $docId")
          else run.check(docs.contains(docId), s"sentinel '$term' missing from its hybrid hits")
        case other => run.fail(s"sentinel search '$term' ($mode): $other")
      }
    }

  /** Closed loop of `Clients` threads until `seconds` pass; returns the
    * latency in ms of each answered request when `timed`. */
  private def loop(stack: ServingStack, run: Run, tracker: JobTracker,
      queries: Int => Iterator[Query], seconds: Double, timed: Boolean): Seq[Double] = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val lat = new ConcurrentLinkedQueue[java.lang.Double]()
    val threads = (0 until Clients).map { i =>
      new Thread(() => {
        val qs = queries(i)
        val sample = new SplittableRandom(run.seed * 31 + i)
        var answered = 0
        while (System.nanoTime() < deadline) {
          val q = qs.next()
          val t0 = System.nanoTime()
          val r = Try(stack.http.post("/search", stack.clientToken, stack.searchBody(q), TimeoutS))
          val t1 = System.nanoTime()
          r match {
            case Success((200, body)) =>
              answered += 1
              if (timed) {
                run.ok(); lat.add((t1 - t0) / 1e6); done.add(t1)
                if (answered % CheckEvery == 0) compare(stack, run, q, body)
                if (run.traced && sample.nextInt(ReplayOneIn) == 0) replay(stack, run, tracker, q, t0, t1)
              }
            case Success((code, body)) => run.fail(s"POST /search -> $code ${body.take(200)}")
            case Failure(e) => run.fail(s"POST /search: $e")
          }
        }
      }, s"perfbench-client-$i")
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    lat.asScala.map(_.doubleValue).toSeq
  }

  /** The REST answer must equal in-process `KnowledgeStore.search` for
    * the same request: chunk ids, order, and scores to 1e-6. */
  private def compare(stack: ServingStack, run: Run, q: Query, body: String): Unit = {
    val rest = ServingStack.comparable(stack.hits(body))
    val direct = ServingStack.comparable(stack.store.search(stack.searchRequest(q))
      .map(h => (h.chunk_id, h.document_id, h.score)))
    run.check(rest == direct, s"REST answer differs from the store for '${q.text}' (${q.mode})")
  }

  private val jobsPerQuery = new ConcurrentLinkedQueue[java.lang.Long]()
  /** Completion time of each timed request. */
  private val done = new ConcurrentLinkedQueue[java.lang.Long]()

  /** Replay one answered request at each entry point, outermost first:
    * REST (the call just made), `KnowledgeStore.search`,
    * `HybridSearch.search` on the store's index, `Embedder.embed`. The
    * single-leg searches, auth and settings lookups are timed beside it. */
  private def replay(stack: ServingStack, run: Run, tracker: JobTracker, q: Query,
      t0: Long, t1: Long): Unit = {
    val tr = run.tracer
    val rid = tr.nextRequestId()
    val rest = tr.record("api.rest_search", rid, 0L, t0, t1)
    val req = stack.searchRequest(q)
    val ((_, group), s1) = tr.span("store.search", rid, rest.id)(
      tracker.grouped("search")(stack.store.search(req)))
    jobsPerQuery.add(tracker.stats(group).jobs)
    val ix = stack.store.currentIndex
    val (_, s2) = tr.span("search.hybrid", rid, s1.id)(HybridSearch.search(ix, req, stack.embedder))
    tr.span("embed.query", rid, s2.id)(stack.embedder.embed(req.query))
    tr.span("search.keyword_leg", tr.nextRequestId())(
      HybridSearch.search(ix, req.copy(mode = "keyword"), stack.embedder))
    tr.span("search.vector_leg", tr.nextRequestId())(
      HybridSearch.search(ix, req.copy(mode = "semantic"), stack.embedder))
    tr.span("api.auth", tr.nextRequestId())(stack.keys.authenticate(stack.clientToken))
    tr.span("api.settings", tr.nextRequestId())(stack.store.effectiveSettings("search", Some(stack.cid)))
  }

  private def layerReport(stack: ServingStack, run: Run): Unit = {
    val tr = run.tracer
    // the audit log's size-triggered write, timed on a side log so the
    // served trail is untouched
    val side = new graft.api.AuditLog(stack.spark, run.workDir.resolve("audit-probe").toString)
    val flushes = (1 to 5).map { i =>
      (1 to 64).foreach(k => side.record("bench-client", "search", s"probe-$i-$k"))
      tr.span("api.audit_flush", tr.nextRequestId())(side.flush())._2.durationNs / 1e6
    }
    val m = run.metrics
    tr.medianSelfMs("api.rest_search").foreach(m("api.rest_overhead_ms_p50") = _)
    tr.medianMs("api.auth").foreach(m("api.auth_ms_p50") = _)
    tr.medianMs("api.settings").foreach(m("api.settings_ms_p50") = _)
    m("api.audit_flush_ms") = Stats.median(flushes)
    tr.medianMs("store.search").foreach(m("store.search_ms_p50") = _)
    tr.medianMs("search.hybrid").foreach(m("search.hybrid_ms_p50") = _)
    tr.medianMs("search.keyword_leg").foreach(m("search.keyword_leg_ms_p50") = _)
    tr.medianMs("search.vector_leg").foreach(m("search.vector_leg_ms_p50") = _)
    tr.medianMs("embed.query").foreach(m("embed.query_ms_p50") = _)
    val jobs = jobsPerQuery.asScala.map(_.doubleValue).toSeq
    if (jobs.nonEmpty) m("search.jobs_per_query") = jobs.sum / jobs.size
    run.detail("replayed_requests") = jobs.size
  }
}
