package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.Duration

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.sources.Filter

import graft.sources.GeoBound

/** Live HTTP mode for the OpenSky source — the reference's network ingest
  * (scripts/functions.py:23-50) re-expressed for the DSv2 connector:
  * an OAuth2 client-credentials POST for a bearer token (functions.py:23-38),
  * then `GET <url>?lamin&lomin&lamax&lomax` with the bbox as query params
  * (functions.py:42-50).
  *
  * The bbox is derived from the Spark filters the scan pushed down
  * ([[bboxParams]]), so `.filter($"latitude" >= x)` on the DataFrame
  * becomes `lamin=x` on the wire — source-level predicate pushdown all the
  * way to the server, the reference's manual trick made automatic. The
  * `lamin`/`lamax`/`lomin`/`lomax` options fill the sides no filter bounds.
  *
  * Everything runs on the driver at planning time (one snapshot per query
  * execution — the API returns one global state vector set, there is nothing
  * to parallelize about the fetch; parallelism starts at the partitioned
  * parse downstream). Kept behind `mode=live` so the default source stays
  * hermetic (CI reads `payload`/`path` fixtures; tests exercise this class
  * against a localhost stub, never the real network).
  *
  * Options: `url` (states endpoint), `tokenUrl`, `clientId`+`clientSecret`
  * or `credFile` (JSON file with clientId/clientSecret — the reference's
  * credentials.json shape, functions.py:14-21), `timeoutMs` (default 10000).
  */
object OpenSkyLive {

  /** lamin/lomax-style query params from pushed lat/lon range filters.
    * Multiple bounds on one side keep the tightest (max of lower bounds,
    * min of upper) — the server filter must be a superset of the Spark
    * filter, which the reader re-applies exactly anyway.
    */
  def bboxParams(filters: Array[Filter]): Seq[(String, String)] = {
    val bounds = filters.toSeq.flatMap(GeoBound.of)
    def side(attr: String, lower: Boolean): Option[Double] = {
      val bs = bounds.filter(b => b.attr == attr && b.lower == lower).map(_.value)
      if (bs.isEmpty) None else Some(if (lower) bs.max else bs.min)
    }
    Seq("lamin" -> side("latitude", lower = true),
      "lamax" -> side("latitude", lower = false),
      "lomin" -> side("longitude", lower = true),
      "lomax" -> side("longitude", lower = false))
      .collect { case (k, Some(v)) => k -> v.toString }
  }

  private def enc(s: String): String = URLEncoder.encode(s, StandardCharsets.UTF_8)

  private def credentials(options: Map[String, String]): (String, String) =
    (options.get("clientId"), options.get("clientSecret")) match {
      case (Some(id), Some(secret)) => (id, secret)
      case _ =>
        val path = options.getOrElse("credFile", throw new IllegalArgumentException(
          "live mode requires clientId+clientSecret or credFile"))
        val node = new ObjectMapper().readTree(
          java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
        def key(k: String): String = {
          val v = node.get(k)
          if (v == null || v.isNull) throw new IllegalArgumentException(
            s"credFile missing '$k': $path")
          v.asText()
        }
        (key("clientId"), key("clientSecret"))
    }

  /** One shared client per JVM (connection pooling); per-request timeouts
    * still come from the options.
    */
  private lazy val client: HttpClient =
    HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(30)).build()

  /** Bearer tokens cached per (tokenUrl, clientId, secret-digest) until
    * shortly before their `expires_in` — a poll-per-trigger stream must not
    * re-run the OAuth2 handshake on every micro-batch (the auth endpoint is
    * the rate-limited one; the reference fetches one token per RUN,
    * functions.py:23-38, and so do we per expiry window). The secret is part
    * of the key (as a digest, never stored raw) so a rotated credential
    * mints a fresh token instead of silently riding the old one.
    */
  private val tokenCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), (String, Long)]()

  private def secretDigest(secret: String): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(secret.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString
  }

  /** Returns (token, fromCache). Expired entries are swept on every miss,
    * so rotated credentials cannot accumulate dead entries for the JVM
    * lifetime (the expiry check alone only gates reads, never evicts).
    */
  private def bearerToken(tokenUrl: String, id: String, secret: String,
                          timeout: Duration, forceRefresh: Boolean): (String, Boolean) = {
    val key = (tokenUrl, id, secretDigest(secret))
    val now = System.nanoTime()
    if (!forceRefresh) {
      val cached = tokenCache.get(key)
      if (cached != null && cached._2 > now) return (cached._1, true)
    }
    tokenCache.entrySet().removeIf(e => e.getValue._2 <= now)
    val form = s"grant_type=client_credentials&client_id=${enc(id)}&client_secret=${enc(secret)}"
    val tokenReq = HttpRequest.newBuilder(URI.create(tokenUrl)).timeout(timeout)
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form)).build()
    val tokenResp = client.send(tokenReq, HttpResponse.BodyHandlers.ofString())
    require(tokenResp.statusCode() / 100 == 2,
      s"token endpoint returned ${tokenResp.statusCode()}")
    val node = new ObjectMapper().readTree(tokenResp.body())
    val token = node.get("access_token").asText()
    // refresh 30s before expiry; default 5 min when the server omits it
    val expiresSec = Option(node.get("expires_in")).map(_.asLong).getOrElse(300L)
    tokenCache.put(key, (token, now + math.max(1L, expiresSec - 30L) * 1000000000L))
    (token, false)
  }

  /** One authenticated snapshot fetch; returns the raw response body. A 401/
    * 403 on the states endpoint invalidates the cached token and retries
    * once with a fresh handshake — server-side revocation or early expiry
    * must self-heal within one poll, as the handshake-per-call design did.
    */
  def fetch(options: Map[String, String], filters: Array[Filter]): String = {
    val timeout = Duration.ofMillis(options.getOrElse("timeoutMs", "10000").toLong)
    val (id, secret) = credentials(options)
    val tokenUrl = options.getOrElse("tokenUrl", throw new IllegalArgumentException(
      "live mode requires option 'tokenUrl'"))
    val base = options.getOrElse("url", throw new IllegalArgumentException(
      "live mode requires option 'url'"))
    // bbox precedence: filters the scan pushed down win; explicit
    // lamin/lamax/lomin/lomax OPTIONS fill the gaps. Streaming live mode has
    // no filter-pushdown channel (micro-batch planning sees no predicates),
    // so options are its only way to keep every poll from downloading the
    // full global state vector set.
    val pushed = bboxParams(filters).toMap
    val optioned = Seq("lamin", "lamax", "lomin", "lomax").flatMap { k =>
      // toDouble round-trip: fail fast on non-numeric, normalize the wire form
      options.get(k).map(v => k -> v.toDouble.toString)
    }.toMap
    val qs = (optioned ++ pushed).toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=${enc(v)}" }.mkString("&")
    val full = if (qs.isEmpty) base else s"$base${if (base.contains("?")) "&" else "?"}$qs"

    def get(forceRefresh: Boolean): (HttpResponse[String], Boolean) = {
      val (token, fromCache) = bearerToken(tokenUrl, id, secret, timeout, forceRefresh)
      val statesReq = HttpRequest.newBuilder(URI.create(full)).timeout(timeout)
        .header("Authorization", s"Bearer $token").GET().build()
      (client.send(statesReq, HttpResponse.BodyHandlers.ofString()), fromCache)
    }
    val (first, usedCachedToken) = get(forceRefresh = false)
    // retry ONLY when the rejected token was a cache hit (server-side
    // revocation): a fresh token that is rejected would be rejected again,
    // and the blind retry would double load on the rate-limited auth
    // endpoint for every hard failure
    val resp =
      if ((first.statusCode() == 401 || first.statusCode() == 403) && usedCachedToken)
        get(forceRefresh = true)._1
      else first
    require(resp.statusCode() / 100 == 2,
      s"states endpoint returned ${resp.statusCode()}")
    resp.body()
  }
}
