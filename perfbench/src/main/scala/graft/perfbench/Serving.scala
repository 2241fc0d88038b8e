package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.api.{ApiKeyRegistry, AuditLog, KnowledgeStore, RestServer}
import graft.ingest.IndexBuild
import graft.model.SearchRequest
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.Duration
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Loopback HTTP client for the REST surface. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()

  /** POST a JSON body; (status, body). A timeout throws. */
  def post(path: String, token: String, body: String, timeoutS: Int): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
      .timeout(Duration.ofSeconds(timeoutS.toLong))
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(body)).build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode, resp.body)
  }
}

/** The serving stack as a deployment runs it: a transactional
  * [[KnowledgeStore]] behind [[RestServer]] with a minted key scoped
  * `write:<cid>`, an admin key for `/maintain`, the rate limiter on with a
  * limit far above the offered load (so a 429 is a failure), and the
  * audit log on. */
final class ServingStack(val spark: SparkSession, run: Run) {
  val warehouse: String = run.workDir.resolve("warehouse").toString
  val embedder: graft.embed.Embedder = graft.embed.HashEmbedder()
  val store = new KnowledgeStore(spark, warehouse, embedder = embedder, transactional = true)
  val cid: String = store.createContainer("bench")
  val keys = new ApiKeyRegistry(spark, warehouse)
  val clientToken: String = keys.create("bench-client", Seq(s"write:$cid"))._2
  val adminToken: String = keys.create("bench-admin", Seq("admin"))._2
  val audit = new AuditLog(spark, warehouse)
  private val server = new RestServer(store, keys = Some(keys), audit = Some(audit),
    requestsPerMinute = Some(ServingStack.RequestsPerMinute))
  val http = new Http(server.start())
  val mapper = new ObjectMapper()

  def stop(): Unit = server.stop()

  /** The id the store assigns a path on first upload. */
  def docId(path: String): String =
    java.util.UUID.nameUUIDFromBytes(s"$cid:$path".getBytes("UTF-8")).toString

  def searchBody(q: Query): String = {
    val n = mapper.createObjectNode()
    n.put("query", q.text); n.put("container_id", cid)
    n.put("mode", q.mode); n.put("top_k", q.topK)
    mapper.writeValueAsString(n)
  }

  /** The request `POST /search` builds for `q`: body fields win, every
    * other field comes from the container's effective search settings. */
  def searchRequest(q: Query): SearchRequest = {
    val eff = store.effectiveSettings("search", Some(cid))
    SearchRequest(query = q.text, containerId = cid, mode = q.mode, topK = q.topK,
      minScore = eff("min_score").toDouble, alpha = eff("alpha").toDouble,
      fusionMethod = eff("fusion_method"), autoCut = eff("auto_cut").toBoolean,
      crossModelSearch = eff("cross_model_search").toBoolean,
      mmrLambda = eff.get("mmr_lambda").map(_.toDouble), rankFn = eff("rank_fn"),
      snippetTokens = eff.get("snippet_tokens").map(_.toInt),
      maxsimTokens = eff.get("maxsim_tokens").map(_.toInt))
  }

  /** (chunk_id, document_id, score) per hit of a `/search` answer. */
  def hits(body: String): Seq[(String, String, Double)] = {
    mapper.readTree(body).get("hits").elements().asScala.map { h =>
      (h.get("chunk_id").asText(), h.get("document_id").asText(), h.get("score").asDouble())
    }.toSeq
  }

  def uploadBody(files: Seq[(String, String)]): String = {
    val n = mapper.createObjectNode()
    val arr = n.putArray("files")
    files.foreach { case (p, c) => arr.addObject().put("path", p).put("content", c) }
    mapper.writeValueAsString(n)
  }
}

object ServingStack {
  /** Far above any load the benchmark offers. */
  val RequestsPerMinute: Int = 6000000

  /** Rank-comparable form of a hit list: ids in order, scores to 1e-6. */
  def comparable(hits: Seq[(String, String, Double)]): Seq[(String, Long)] =
    hits.map { case (c, _, s) => (c, math.round(s * 1e6)) }

  /** The fixed corpus: sf0.1 `documents` texts by doc id. */
  def corpus(spark: SparkSession, dataDir: String): IndexedSeq[(Long, String)] = {
    import spark.implicits._
    spark.read.parquet(s"$dataDir/sf0.1/documents.parquet")
      .select($"doc_id", $"text").as[(Long, String)].collect().toIndexedSeq.sortBy(_._1)
  }

  /** Preload the corpus plus `extra` files through the first-crawl bulk
    * path, as a connector's initial sync does. */
  def preload(stack: ServingStack, corpus: IndexedSeq[(Long, String)],
      extra: Seq[(String, String)]): Unit = {
    import stack.spark.implicits._
    val files = corpus.map { case (id, t) => (s"/corpus/$id.txt", t) } ++ extra
    val docs = files.map { case (p, c) =>
      IndexBuild.RawDoc(stack.docId(p), stack.cid, p, p.substring(p.lastIndexOf('/') + 1), c)
    }
    stack.store.bulkUploadFirstCrawl(stack.cid, docs.toDS())
  }
}
