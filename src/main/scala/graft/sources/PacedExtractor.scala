package graft.sources

import java.nio.charset.StandardCharsets

import scala.collection.mutable

import org.apache.hadoop.fs.{FileContext, Options, Path}
import org.apache.spark.sql.SparkSession

/** Driver-side paced pull-extract: the reference's sliding-window rate
  * limiter + paged vacancy fan-out (finnoio/jobhouse
  * src/extract/hh_api.py:44-72 `RateLimiter`, :129-175 paged fetch with
  * 429 backoff) re-expressed as the pull-side FEEDER of the file-landing
  * ingest edge. The fetch function is pluggable (an HTTP client in
  * production, a fake in specs — credential plumbing stays outside the
  * engine); each fetched page lands atomically as one JSONL file in the
  * staging directory that [[graft.streaming.BronzePipeline.ingest]]
  * tails, so pacing, cursoring, and retry live HERE while exactly-once
  * and dedup stay where they already are (checkpoint + etag gate).
  *
  * Crash contract: the page cursor persists AFTER a page lands, and a
  * page always lands under its deterministic `page-NNNNNN.jsonl` name via
  * temp-file + atomic rename — so a retry of the crash window re-fetches
  * at most one page and overwrites the very same file (no partial files,
  * no duplicate landings), and the downstream etag gate would drop the
  * re-delivered payloads even if it didn't.
  *
  * Deliberately driver-side: a paced extract is rate-bound, not
  * compute-bound — 7 req/s (the reference API's ceiling) is no job for a
  * cluster; the cluster's work starts at the staging dir. Within one
  * source, `window > 1` keeps up to that many pages in flight under the
  * same limiter (the reference's page-gather, hh_api.py:135-175) so slow
  * responses don't leave rate budget unused; across sources,
  * [[runConcurrent]] fans out whole pullers under one shared limiter.
  */
object PacedExtractor {

  /** Sliding-window limiter: at most `calls` acquires per `periodMs`,
    * blocking the caller until the oldest stamp leaves the window. Clock
    * and sleeper are injectable so specs can assert the pacing timeline
    * deterministically.
    */
  final class RateLimiter(calls: Int, periodMs: Long,
      nowMs: () => Long = () => System.currentTimeMillis(),
      sleepMs: Long => Unit = Thread.sleep) {
    require(calls > 0 && periodMs > 0)
    private val stamps = mutable.Queue.empty[Long]
    private def evict(now: Long): Unit =
      while (stamps.nonEmpty && now - stamps.head >= periodMs) stamps.dequeue()
    def acquire(): Unit = synchronized {
      evict(nowMs())
      if (stamps.size >= calls) {
        val wait = stamps.head + periodMs - nowMs()
        if (wait > 0) sleepMs(wait)
        evict(nowMs())
      }
      stamps.enqueue(nowMs())
    }
  }

  /** What one paged fetch returned. */
  sealed trait Response
  /** A page of raw JSONL lines (the staging schema is the fetcher's
    * contract with the pipeline) and whether more pages remain.
    */
  final case class Fetched(lines: Seq[String], hasMore: Boolean) extends Response
  /** The 429 path: back off, then retry the SAME page. */
  case object Backoff extends Response
  /** The 401 path: the access token expired mid-extract — refresh the
    * credential and retry the SAME page.
    */
  case object Unauthorized extends Response

  /** Cached-credential lifecycle (the reference's refresh-token exchange,
    * refresh_token_oauth.py:45-57, re-expressed engine-side): `refresh`
    * performs one credential exchange (the OAuth refresh grant in
    * production, a fake in specs) returning (token, ttlMs); the provider
    * caches the token until expiry-minus-slack and re-exchanges on
    * demand, or immediately after [[invalidate]] (the 401 path — a token
    * revoked server-side before its ttl). The HTTP transport and secret
    * storage stay outside the engine, like the fetch function itself.
    */
  final class TokenProvider(refresh: () => (String, Long),
      nowMs: () => Long = () => System.currentTimeMillis(),
      slackMs: Long = 30000L) {
    private var token: Option[String] = None
    private var expiresAtMs = Long.MinValue
    def current(): String = synchronized {
      if (token.isEmpty || nowMs() >= expiresAtMs - slackMs) {
        val (t, ttlMs) = refresh()
        token = Some(t)
        expiresAtMs = nowMs() + ttlMs
      }
      token.get
    }
    // drop the token itself, not just the expiry: an expiry sentinel of
    // Long.MinValue would underflow the `expiresAtMs - slackMs` check
    def invalidate(): Unit = synchronized { token = None }
  }

  /** What one credential exchange returned: the short-lived access token
    * (with its ttl) and the long-lived refresh token that outlives it.
    */
  final case class Grant(access: String, refresh: String, ttlMs: Long)

  /** The one-time interactive consent bootstrap (the reference's
    * authorization-code flow: finnoio/jobhouse src/oauth_server.py:7
    * receives the `code`/`state` redirect; src/refresh_token_oauth.py:18-34
    * builds the consent URL and exchanges the code) — the part of the
    * OAuth lifecycle that runs ONCE per deployment, before
    * [[TokenProvider]]'s refresh loop takes over. As everywhere in this
    * module, HTTP stays outside the engine: `exchangeCode` and
    * `refreshGrant` are the two token-endpoint POSTs, injected.
    *
    * Lifecycle: [[consentUrl]] → operator authorizes in a browser →
    * [[redeem]] the pasted redirect (state-checked against this consent —
    * the CSRF defense the state parameter exists for; a bare pasted code
    * is also accepted, matching the reference's manual flow) → the grant's
    * refresh token persists atomically → the returned provider serves the
    * initial access token until expiry, then lives on the refresh grant,
    * persisting each ROTATED refresh token (providers that rotate would
    * otherwise strand every restart on a dead credential). After a
    * restart, [[resume]] rebuilds the provider from the persisted token
    * with no user interaction — consent runs once, not per run.
    */
  final class AuthCodeFlow(spark: SparkSession, refreshTokenPath: String,
      authorizeUrl: String, clientId: String, redirectUri: String,
      exchangeCode: String => Grant,
      refreshGrant: String => Grant,
      nowMs: () => Long = () => System.currentTimeMillis(),
      newState: () => String =
        () => java.util.UUID.randomUUID().toString.replace("-", "")) {

    private var pendingState: Option[String] = None

    /** The URL to send the operator to — and the start of a consent:
      * the embedded `state` is remembered for [[redeem]]'s check.
      */
    def consentUrl(): String = {
      val st = newState()
      synchronized { pendingState = Some(st) }
      def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
      // an authorize endpoint may already carry a query (tenant ids etc.)
      val sep = if (authorizeUrl.contains('?')) "&" else "?"
      s"$authorizeUrl${sep}response_type=code&client_id=${enc(clientId)}" +
        s"&state=${enc(st)}&redirect_uri=${enc(redirectUri)}"
    }

    /** Redeem the redirect the operator pasted back: either the full
      * redirect URL (its `state` must match this consent's — a mismatch
      * is someone else's consent, refused loudly) or the bare `code`
      * (the reference's manual-paste flow, which carries no state to
      * check). Exchanges the code, persists the refresh token, returns
      * the live provider.
      */
    def redeem(pasted: String): TokenProvider = {
      val expected = synchronized(pendingState).getOrElse(
        throw new IllegalStateException(
          "no consent in flight - call consentUrl() first"))
      val t = pasted.trim
      // redirect-vs-bare-code detection must not trip on '=' INSIDE a
      // bare code (RFC 6749 codes may carry base64 padding): only a '?'
      // or an actual code=/state= parameter marks a redirect paste
      val looksLikeRedirect = t.contains('?') ||
        t.split('&').exists(p => p.startsWith("code=") || p.startsWith("state="))
      val code =
        if (looksLikeRedirect) {
          val query = if (t.contains('?')) t.substring(t.indexOf('?') + 1) else t
          val params = query.split('&').iterator.map(_.split("=", 2))
            .collect { case Array(k, v) =>
              k -> java.net.URLDecoder.decode(v, "UTF-8") }
            .toMap
          require(params.get("state").contains(expected),
            "authorization state mismatch: the redirect does not belong " +
              "to this consent (possible CSRF) - restart from consentUrl()")
          params.getOrElse("code",
            throw new IllegalArgumentException(s"no code in redirect: $pasted"))
        } else t // bare code paste: no state to verify, as in the reference
      val g = exchangeCode(code)
      // consume the consent only once the exchange SUCCEEDED: a token-
      // endpoint blip must leave the same paste retryable, not force a
      // fresh browser consent
      synchronized { pendingState = None }
      writeAtomic(spark, new Path(refreshTokenPath), g.refresh)
      providerFrom(Some(g))
    }

    /** Rebuild the provider from the persisted refresh token — the
      * every-restart path once consent has run. None when no token is
      * persisted yet (run the consent flow).
      */
    def resume(): Option[TokenProvider] =
      readOpt(spark, new Path(refreshTokenPath)).map(_ => providerFrom(None))

    private def providerFrom(initial: Option[Grant]): TokenProvider = {
      var seed = initial
      new TokenProvider(() => {
        seed match {
          case Some(g) => seed = None; (g.access, g.ttlMs)
          case None =>
            val rt = readOpt(spark, new Path(refreshTokenPath)).getOrElse(
              throw new IllegalStateException(
                s"refresh token store $refreshTokenPath is empty - " +
                  "re-run the consent flow"))
            val g = refreshGrant(rt)
            // persist the rotation BEFORE handing out the access token: a
            // crash after use-but-before-persist would strand the next
            // restart on the consumed token
            writeAtomic(spark, new Path(refreshTokenPath), g.refresh)
            (g.access, g.ttlMs)
        }
      }, nowMs)
    }
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def writeAtomic(spark: SparkSession, p: Path, content: String): Unit = {
    val f = fs(spark, p)
    f.mkdirs(p.getParent)
    // UUID temp: a fixed temp name would let two extractors mistakenly
    // sharing a state path interleave create/rename on the same file and
    // publish a torn cursor (ManifestTable.writeFile's pattern)
    val tmp = new Path(p.getParent,
      s".${p.getName}.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8)) finally out.close()
    val fc = FileContext.getFileContext(p.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, p, Options.Rename.OVERWRITE)
  }

  /** Next page to fetch: 0 on a fresh extract, else the persisted cursor. */
  def cursor(spark: SparkSession, cursorPath: String): Int =
    readOpt(spark, new Path(cursorPath)).map(_.toInt).getOrElse(0)

  /** THE bounded retry state machine every fetch path shares (sequential
    * pages, windowed pages, per-ID details — formerly three hand-copied
    * loops, r17 review): limiter-paced attempts until `doFetch` returns
    * [[Fetched]]; 429 sleeps `backoffMs` and retries (at most
    * `maxBackoffs` per unit — a permanently-throttled endpoint fails the
    * tick loudly with the cursor untouched instead of hanging the
    * scheduler), 401 invalidates the shared credential and retries (at
    * most `maxAuthRetries` — a revoked grant fails the run instead of
    * spinning on the API). `what` names the unit in the failure message
    * ("page 7", "detail v123").
    */
  private def fetchWithRetries(what: String, doFetch: () => Response,
      limiter: RateLimiter, backoffMs: Long, sleepMs: Long => Unit,
      tokens: Option[TokenProvider], maxAuthRetries: Int,
      maxBackoffs: Int): Fetched = {
    var authRetries = 0
    var backoffs = 0
    while (true) {
      limiter.acquire()
      doFetch() match {
        case Backoff =>
          backoffs += 1
          if (backoffs > maxBackoffs)
            throw new IllegalStateException(
              s"$what still throttled after $maxBackoffs backoffs")
          sleepMs(backoffMs)
        case Unauthorized =>
          authRetries += 1
          if (authRetries > maxAuthRetries || tokens.isEmpty)
            throw new IllegalStateException(
              s"$what still unauthorized after $maxAuthRetries token refreshes")
          tokens.foreach(_.invalidate())
        case f: Fetched => return f
      }
    }
    sys.error("unreachable")
  }

  /** Pull pages from `fetch` under the limiter's pacing until the source
    * reports no more (or `maxPages` per invocation — the scheduled-run
    * budget), landing each non-empty page in `stagingDir` and advancing
    * the persisted cursor. Returns the number of pages fetched this run.
    *
    * A killed run resumes exactly where it stopped: the cursor names the
    * first page whose landing was never confirmed.
    *
    * `filePrefix` namespaces landed files — REQUIRED when several paced
    * sources share one staging dir (each also needs its own cursor/state
    * path), or two sources' page numbers overwrite each other.
    */
  def run(spark: SparkSession, fetch: Int => Response, stagingDir: String,
      cursorPath: String, limiter: RateLimiter, maxPages: Int = Int.MaxValue,
      backoffMs: Long = 5000L,
      sleepMs: Long => Unit = Thread.sleep,
      tokens: Option[TokenProvider] = None,
      maxAuthRetries: Int = 3,
      maxBackoffs: Int = 60,
      filePrefix: String = "",
      window: Int = 1): Int =
    runPages(spark, fetch, stagingDir, cursorPath, limiter, maxPages,
      backoffMs, sleepMs, tokens, maxAuthRetries, maxBackoffs, filePrefix,
      window)._1

  /** Core loop; also reports whether the source was EXHAUSTED (the last
    * page said no-more) vs merely budget-capped — the distinction the
    * incremental watermark needs. `filePrefix` namespaces landed files
    * (per-generation prefixes keep re-pulls from colliding with earlier
    * generations' page numbers).
    */
  private def runPages(spark: SparkSession, fetch: Int => Response,
      stagingDir: String, cursorPath: String, limiter: RateLimiter,
      maxPages: Int, backoffMs: Long, sleepMs: Long => Unit,
      tokens: Option[TokenProvider], maxAuthRetries: Int, maxBackoffs: Int,
      filePrefix: String, window: Int = 1): (Int, Boolean) = {
    require(maxPages >= 0)
    require(window >= 1, "window must be >= 1")
    if (window > 1)
      return runPagesWindowed(spark, fetch, stagingDir, cursorPath, limiter,
        maxPages, backoffMs, sleepMs, tokens, maxAuthRetries, maxBackoffs,
        filePrefix, window)
    var page = cursor(spark, cursorPath)
    var fetched = 0
    var more = true
    while (more && fetched < maxPages) {
      val Fetched(lines, hasMore) = fetchWithRetries(s"page $page",
        () => fetch(page), limiter, backoffMs, sleepMs, tokens,
        maxAuthRetries, maxBackoffs)
      if (lines.nonEmpty)
        writeAtomic(spark,
          new Path(stagingDir, f"${filePrefix}page-$page%06d.jsonl"),
          lines.mkString("", "\n", "\n"))
      writeAtomic(spark, new Path(cursorPath), (page + 1).toString)
      page += 1
      fetched += 1
      more = hasMore
    }
    (fetched, !more)
  }

  /** Intra-source page fan-out: up to `window` pages of ONE source in
    * flight concurrently under the shared limiter — the reference gathers
    * page windows of a single source under one rate budget
    * (finnoio/jobhouse src/extract/hh_api.py:135-175, `asyncio.gather`
    * over `_fetch_single_page`). With a rate-bound API whose responses
    * are slow, a sequential puller leaves budget unused: it can have at
    * most one request's latency in flight per limiter slot. The window
    * keeps the budget saturated.
    *
    * The crash contract stays EXACT: pages complete out of order, but the
    * persisted cursor advances only along the CONTIGUOUS completion
    * frontier — it always names the lowest page whose landing was never
    * confirmed. A killed run therefore resumes at the first incomplete
    * page; any later pages that had already landed are re-fetched and
    * overwrite their own deterministic file names (idempotent, and the
    * downstream etag gate would drop the re-delivered payloads anyway).
    *
    * Per-page retry semantics match the sequential loop: 429 backs off
    * and retries the same page (bounded by `maxBackoffs` per page), 401
    * invalidates the shared token and retries (bounded by
    * `maxAuthRetries` per page). A page that exhausts its bound fails the
    * run: other in-flight pages finish, no new pages start, and the first
    * failure is rethrown — with the cursor pinned at the frontier, so the
    * next scheduled run retries exactly the incomplete window.
    */
  private def runPagesWindowed(spark: SparkSession, fetch: Int => Response,
      stagingDir: String, cursorPath: String, limiter: RateLimiter,
      maxPages: Int, backoffMs: Long, sleepMs: Long => Unit,
      tokens: Option[TokenProvider], maxAuthRetries: Int, maxBackoffs: Int,
      filePrefix: String, window: Int): (Int, Boolean) = {
    val start = cursor(spark, cursorPath)
    val lock = new Object
    var next = start                      // next page number to dispense
    var frontier = start                  // lowest page not yet confirmed
    var lastPage = Option.empty[Int]      // lowest page reporting hasMore=false
    var fetchedCount = 0
    var failure = Option.empty[Throwable]
    val completed = mutable.Set.empty[Int]
    val budgetEnd: Long = start.toLong + maxPages // Long: maxPages may be MaxValue

    def nextPage(): Option[Int] = lock.synchronized {
      if (failure.nonEmpty || next >= budgetEnd || lastPage.exists(next > _)) None
      else { val p = next; next += 1; Some(p) }
    }
    // landing happens OUTSIDE the lock (distinct files never conflict);
    // the frontier/cursor bookkeeping inside it. Order matters: the file
    // must be durable before the cursor can step past its page.
    def completePage(p: Int, lines: Seq[String], hasMore: Boolean): Unit = {
      if (lines.nonEmpty)
        writeAtomic(spark, new Path(stagingDir, f"${filePrefix}page-$p%06d.jsonl"),
          lines.mkString("", "\n", "\n"))
      lock.synchronized {
        completed += p
        fetchedCount += 1
        if (!hasMore) lastPage = Some(lastPage.fold(p)(math.min(p, _)))
        val before = frontier
        while (completed(frontier)) { completed -= frontier; frontier += 1 }
        if (frontier > before) {
          // overshoot pages dispensed past the source's end also complete
          // (empty, no-more); persist at most lastPage+1 — the sequential
          // runner's resting point — so the cursor never names a page past
          // the first one after the source end
          val persist = lastPage.fold(frontier)(lp => math.min(frontier, lp + 1))
          writeAtomic(spark, new Path(cursorPath), persist.toString)
        }
      }
    }
    def worker(): Unit = {
      var p = nextPage()
      while (p.nonEmpty) {
        val page = p.get
        val f = fetchWithRetries(s"page $page", () => fetch(page), limiter,
          backoffMs, sleepMs, tokens, maxAuthRetries, maxBackoffs)
        completePage(page, f.lines, f.hasMore)
        p = nextPage()
      }
    }
    val threads = (1 to window).map(i => new Thread(() =>
      try worker()
      catch { case t: Throwable => lock.synchronized {
        if (failure.isEmpty) failure = Some(t)
      }}, s"graft-paced-window-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    lock.synchronized {
      failure.foreach(throw _)
      // parity with the sequential loop's return contract: overshoot
      // pages dispensed past the source's last page completed (empty,
      // no-more) but were never "fetched" in run()'s sense — the
      // sequential loop stops AT lastPage, so cap the count there
      val n = lastPage.fold(fetchedCount)(lp =>
        math.min(fetchedCount, lp - start + 1))
      (n, lastPage.exists(frontier > _))
    }
  }

  /** One member of a concurrent extract fleet: its own fetch function,
    * cursor and file prefix (so pages never collide in the shared staging
    * dir), optionally its own credential — pacing is the fleet's, not the
    * member's.
    */
  final case class Source(name: String, fetch: Int => Response,
      cursorPath: String, filePrefix: String,
      maxPages: Int = Int.MaxValue, tokens: Option[TokenProvider] = None)

  /** Fan out N paced sources concurrently under ONE shared rate budget —
    * the reference fans all pages out under a single limiter
    * (finnoio/jobhouse src/extract/hh_api.py:144-151 `asyncio.gather`
    * under one `RateLimiter`); here the fan-out unit is a source (or a
    * page-window of one source, expressed as two Sources with disjoint
    * fetch ranges), so one slow or throttled source no longer serializes
    * the fleet the way chained [[run]] calls do.
    *
    * Each source keeps its own cursor and file prefix, so the per-source
    * crash contract is exactly [[run]]'s: a failed source resumes at its
    * own cursor next invocation while the others' completions stand.
    * Failures are therefore returned per-source (`Failure` alongside the
    * others' `Success`), not thrown — throwing would discard the fleet's
    * surviving results and re-pull completed sources on retry (harmless
    * but rate-budget waste, which is the scarce resource here).
    *
    * The limiter's `acquire()` is a single monitor, so the ceiling holds
    * across threads by construction; a thread sleeping for window room
    * holds the monitor, which is correct (no other admission could
    * proceed anyway — the window is full) and keeps the admission order
    * fair enough for a 7-req/s extract feeder.
    */
  def runConcurrent(spark: SparkSession, sources: Seq[Source],
      stagingDir: String, limiter: RateLimiter,
      backoffMs: Long = 5000L,
      sleepMs: Long => Unit = Thread.sleep,
      maxAuthRetries: Int = 3,
      maxBackoffs: Int = 60): Map[String, scala.util.Try[(Int, Boolean)]] = {
    require(sources.nonEmpty, "empty fleet")
    require(sources.map(_.name).distinct.size == sources.size,
      "duplicate source names")
    require(sources.map(_.cursorPath).distinct.size == sources.size,
      "sources must not share a cursor path")
    require(sources.forall(_.filePrefix.nonEmpty) &&
      sources.map(_.filePrefix).distinct.size == sources.size,
      "each source needs a distinct non-empty filePrefix or page files collide")
    val results = new java.util.concurrent.ConcurrentHashMap[String, scala.util.Try[(Int, Boolean)]]()
    // Pre-populated per source: Try only catches NonFatal, so a thread
    // killed by OOM/StackOverflow would otherwise leave no entry and
    // callers indexing results(name) would fail far from the cause.
    sources.foreach { s =>
      results.put(s.name, scala.util.Failure(
        new IllegalStateException(s"source ${s.name}: worker died fatally")))
    }
    val threads = sources.map { s =>
      new Thread(() => {
        results.put(s.name, scala.util.Try(runPages(spark, s.fetch,
          stagingDir, s.cursorPath, limiter, s.maxPages, backoffMs, sleepMs,
          s.tokens, maxAuthRetries, maxBackoffs, s.filePrefix)))
      }, s"graft-paced-${s.name}")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    results.asScala.toMap
  }

  private def readOpt(spark: SparkSession, p: Path): Option[String] = {
    val f = fs(spark, p)
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }
  }

  /** The incremental re-pull loop (the reference's daily catch-up DAG as
    * a watermark protocol): each completed extract GENERATION commits a
    * watermark, and the next generation's fetches receive it as the
    * updated-since bound.
    *
    * The committed value is the watermark of the tick that OPENED the
    * generation (persisted as pending state at open), NOT the tick that
    * happened to drain it: a generation can span several budget-capped
    * ticks, and a record updated after its early pages were fetched but
    * before the draining tick would be skipped forever if the draining
    * tick's (later) watermark were committed — it sorts into the
    * already-fetched region of THIS pull and past the bound of the next.
    * Pass the tick's start time as `tickWatermark` and the overlap
    * guarantee holds: anything updated at-or-after a generation opened
    * is re-examined by the next generation.
    *
    * Crash contract, layered on [[run]]'s: the watermark advances ONLY
    * when a generation drains to the source's last page — a killed or
    * budget-capped tick leaves watermark AND generation untouched, so the
    * next invocation resumes the same generation at its page cursor with
    * the same bound. Landed files are generation-prefixed, so a re-pull's
    * page numbers never collide with an earlier generation's.
    *
    * Returns (pages fetched, generation completed).
    */
  def runIncremental(spark: SparkSession,
      fetch: (Option[String], Int) => Response,
      stagingDir: String, statePath: String, limiter: RateLimiter,
      tickWatermark: String, maxPages: Int = Int.MaxValue,
      backoffMs: Long = 5000L,
      sleepMs: Long => Unit = Thread.sleep,
      tokens: Option[TokenProvider] = None,
      maxAuthRetries: Int = 3,
      maxBackoffs: Int = 60,
      filePrefix: String = "",
      window: Int = 1): (Int, Boolean) = {
    val since = readOpt(spark, new Path(statePath, "watermark"))
    val gen = readOpt(spark, new Path(statePath, "gen")).map(_.toLong).getOrElse(1L)
    // pin the generation's future watermark at OPEN (first tick to touch
    // this generation); resuming ticks reuse it
    val pendingPath = new Path(statePath, s"pending-$gen")
    val pending = readOpt(spark, pendingPath).getOrElse {
      writeAtomic(spark, pendingPath, tickWatermark)
      tickWatermark
    }
    val (fetched, exhausted) = runPages(spark, p => fetch(since, p),
      stagingDir, s"$statePath/cursor-$gen", limiter, maxPages, backoffMs,
      sleepMs, tokens, maxAuthRetries, maxBackoffs,
      f"${filePrefix}gen-$gen%06d-", window)
    if (exhausted) {
      // order matters for the crash window: bump the generation FIRST so
      // a crash between the two writes re-drains a fresh generation under
      // the OLD bound (harmless duplicates the etag gate drops) instead
      // of skipping the window between old and new watermarks
      writeAtomic(spark, new Path(statePath, "gen"), (gen + 1).toString)
      writeAtomic(spark, new Path(statePath, "watermark"), pending)
      // completed generation's cursor/pending are dead state; best-effort
      val f = fs(spark, new Path(statePath))
      f.delete(new Path(s"$statePath/cursor-$gen"), false)
      f.delete(pendingPath, false)
    }
    (fetched, exhausted)
  }

  /** Two-stage LIST→DETAIL extract — the reference's intended ingest
    * shape (finnoio/jobhouse src/extract/hh_api.py:177-231
    * `fetch_postings`, driven by src/extract/main.py:21): collect the
    * vacancy-ID frontier from the paged list endpoint, then fetch per-ID
    * detail documents in bounded-concurrency batches under the SAME
    * sliding-window limiter, landing detail batches in the staging dir
    * the gated ingest tails.
    *
    * Stage 1 IS the paged loop (`fetchList` returns pages of raw IDs as
    * lines), landing ID pages under `statePath/ids` with the standard
    * page-cursor crash contract; when the list exhausts, the
    * deduplicated first-seen-ordered frontier (the reference collects
    * IDs into a set, hh_api.py:207-209) is written atomically as
    * `statePath/frontier` and becomes authoritative — a resume skips the
    * list stage entirely. Stage 2 walks the frontier in `batchSize`-ID
    * batches (the reference's batch_size = 10, hh_api.py:216-222): all
    * IDs of one batch in flight concurrently, each detail GET
    * limiter-paced with the standard 429-backoff / 401-refresh bounds;
    * the batch lands as ONE atomic file named by its frontier offset and
    * only then does the detail cursor step past it.
    *
    * Crash contract: killed mid-list → resume at the list page cursor;
    * killed between frontier write and a batch → frontier reused, cursor
    * names the first unconfirmed batch, which re-fetches and overwrites
    * its own deterministic file (idempotent — and the downstream etag
    * gate drops re-delivered payloads anyway, the [[run]] discipline).
    *
    * Deliberate deviation: the reference's detail loop logs-and-SKIPS a
    * failed vacancy (hh_api.py:225-228); here a detail that exhausts its
    * retry bounds fails the run with the cursor pinned at its batch — a
    * silent skip loses corpus rows invisibly, and the resume contract
    * makes loud failure cheap.
    *
    * One frontier per statePath (one extract generation): re-pulls use a
    * fresh statePath/filePrefix, the [[runIncremental]] generation
    * discipline. Returns (frontier size, batches landed THIS run).
    */
  def runListDetail(spark: SparkSession,
      fetchList: Int => Response,
      fetchDetail: String => Response,
      stagingDir: String, statePath: String, limiter: RateLimiter,
      batchSize: Int = 10,
      maxBatches: Int = Int.MaxValue,
      backoffMs: Long = 5000L,
      sleepMs: Long => Unit = Thread.sleep,
      tokens: Option[TokenProvider] = None,
      maxAuthRetries: Int = 3,
      maxBackoffs: Int = 60,
      filePrefix: String = ""): (Int, Int) = {
    require(batchSize >= 1, "batchSize must be >= 1")
    require(maxBatches >= 0)
    val frontierPath = new Path(statePath, "frontier")
    val frontier: IndexedSeq[String] = readOpt(spark, frontierPath) match {
      case Some(s) =>
        if (s.isEmpty) Vector.empty else s.split("\n").toVector
      case None =>
        // stage 1: drain the list endpoint through the page loop (its
        // crash contract); ID pages land under the STATE path — they are
        // extract state, not bronze payload
        runPages(spark, fetchList, s"$statePath/ids",
          s"$statePath/list.cursor", limiter, Int.MaxValue, backoffMs,
          sleepMs, tokens, maxAuthRetries, maxBackoffs, "")
        val idDir = new Path(s"$statePath/ids")
        val f = fs(spark, idDir)
        val pages =
          if (!f.exists(idDir)) Seq.empty[Path]
          else f.listStatus(idDir).map(_.getPath)
            .filter(_.getName.startsWith("page-")).sortBy(_.getName).toSeq
        val seen = mutable.LinkedHashSet.empty[String]
        pages.foreach(p => readOpt(spark, p)
          .foreach(_.split("\n").foreach(id => if (id.nonEmpty) seen += id)))
        val ids = seen.toVector
        writeAtomic(spark, frontierPath, ids.mkString("\n"))
        ids
    }
    var idx = readOpt(spark, new Path(statePath, "detail.cursor"))
      .map(_.toInt).getOrElse(0)
    var batches = 0
    while (idx < frontier.length && batches < maxBatches) {
      val end = math.min(idx + batchSize, frontier.length)
      val batch = frontier.slice(idx, end)
      val lines = new Array[Seq[String]](batch.length)
      val lock = new Object
      var failure = Option.empty[Throwable]
      val threads = batch.zipWithIndex.map { case (id, i) =>
        new Thread(() => {
          try {
            val f = fetchWithRetries(s"detail $id", () => fetchDetail(id),
              limiter, backoffMs, sleepMs, tokens, maxAuthRetries, maxBackoffs)
            lines(i) = f.lines // own slot per thread — no lock needed
          } catch { case t: Throwable => lock.synchronized {
            if (failure.isEmpty) failure = Some(t)
          }}
        }, s"graft-detail-$id")
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
      lock.synchronized(failure).foreach(throw _)
      // batch content ordered by frontier position, file named by the
      // batch's frontier offset: a re-fetched batch reproduces the very
      // same file, byte for byte
      val all = lines.toSeq.flatten
      if (all.nonEmpty)
        writeAtomic(spark,
          new Path(stagingDir, f"${filePrefix}detail-$idx%06d.jsonl"),
          all.mkString("", "\n", "\n"))
      writeAtomic(spark, new Path(statePath, "detail.cursor"), end.toString)
      idx = end
      batches += 1
    }
    (frontier.length, batches)
  }
}
