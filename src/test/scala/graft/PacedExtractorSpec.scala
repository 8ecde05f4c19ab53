package graft

import java.nio.file.Files

import graft.sources.PacedExtractor
import graft.sources.PacedExtractor.{Backoff, Fetched, RateLimiter, Unauthorized}

class PacedExtractorSpec extends SparkSpec {

  /** Deterministic time: the clock only advances when the code sleeps. */
  private class FakeClock {
    var now = 0L
    def nowMs(): Long = now
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    def sleepMs(ms: Long): Unit = { sleeps += ms; now += ms }
  }

  private def line(id: String, content: String) =
    s"""{"posting_id":"$id","raw_content":"$content","source":"paced","extracted_at":"2026-08-12T10:00:00.000Z"}"""

  test("rate limiter enforces the calls-per-window ceiling") {
    val clock = new FakeClock
    val limiter = new RateLimiter(2, 1000L, clock.nowMs _, clock.sleepMs _)
    val stamps = (1 to 6).map { _ => limiter.acquire(); clock.now }
    // any two acquires 2 apart must span at least a full window
    stamps.sliding(3).foreach(w =>
      assert(w.last - w.head >= 1000L,
        s"3 acquires inside one window: $stamps"))
    assert(clock.sleeps.nonEmpty, "a saturated limiter must have slept")
    // and it never sleeps when the window has room
    val idleClock = new FakeClock
    val roomy = new RateLimiter(10, 1000L, idleClock.nowMs _, idleClock.sleepMs _)
    (1 to 5).foreach(_ => roomy.acquire())
    assert(idleClock.sleeps.isEmpty, "an unsaturated limiter must not sleep")
  }

  test("paced run: pages land once, 429 backs off and retries, killed run resumes at the cursor") {
    val root = Files.createTempDirectory("graft_paced").toString
    val staging = s"$root/staging"
    val cursorP = s"$root/cursor"
    val clock = new FakeClock
    val limiter = new RateLimiter(7, 1000L, clock.nowMs _, clock.sleepMs _)

    val fetchLog = scala.collection.mutable.ArrayBuffer.empty[Int]
    var served429 = false
    def fetch(page: Int): PacedExtractor.Response = {
      fetchLog += page
      if (page == 1 && !served429) { served429 = true; Backoff }
      else if (page == 3) throw new RuntimeException("killed mid-extract")
      else Fetched(Seq(line(s"p$page-a", s"content $page a"),
        line(s"p$page-b", s"content $page b")), hasMore = page < 5)
    }

    // first run dies at page 3 - pages 0..2 are landed and the cursor
    // points at the failed page
    val killed = intercept[RuntimeException](PacedExtractor.run(
      spark, fetch, staging, cursorP, limiter, sleepMs = clock.sleepMs _))
    assert(killed.getMessage == "killed mid-extract")
    assert(PacedExtractor.cursor(spark, cursorP) == 3)
    assert(fetchLog.count(_ == 1) == 2, "429'd page must be retried in place")
    assert(clock.sleeps.contains(5000L), "429 must back off before the retry")

    // the resumed run starts AT the cursor: no re-fetch of landed pages
    fetchLog.clear()
    var fetched = 0
    def fetch2(page: Int): PacedExtractor.Response = {
      fetchLog += page; fetched += 1
      Fetched(Seq(line(s"p$page-a", s"content $page a"),
        line(s"p$page-b", s"content $page b")), hasMore = page < 5)
    }
    val n = PacedExtractor.run(spark, fetch2, staging, cursorP, limiter,
      sleepMs = clock.sleepMs _)
    assert(fetchLog.head == 3 && n == 3, s"resume must start at page 3, got $fetchLog")
    assert(PacedExtractor.cursor(spark, cursorP) == 6)

    // every page landed exactly once, as page-keyed files
    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.sameElements((0 to 5).map(i => f"page-$i%06d.jsonl")),
      s"got ${files.mkString(",")}")

    // a second invocation against an exhausted cursor does nothing
    assert(PacedExtractor.run(spark, p => Fetched(Seq(line(s"x$p", "dup")), p < 5),
      staging, cursorP, limiter, sleepMs = clock.sleepMs _) match {
      case fetchedAgain => fetchedAgain == 1 // page 6: lands, hasMore=false
    })
  }

  test("token lifecycle: cached until expiry, refreshed on 401, revoked grant fails loudly") {
    val clock = new FakeClock
    var exchanges = 0
    var issued = ""
    val provider = new PacedExtractor.TokenProvider(
      () => { exchanges += 1; issued = s"tok-$exchanges"; (issued, 60000L) },
      clock.nowMs _, slackMs = 1000L)

    // cached within ttl, re-exchanged after expiry-minus-slack
    assert(provider.current() == "tok-1" && provider.current() == "tok-1")
    assert(exchanges == 1, "a live token must be served from cache")
    clock.now += 59500L
    assert(provider.current() == "tok-2", "past expiry-slack the grant re-exchanges")

    // 401 mid-extract: server revoked tok-2 early - the fetcher sees the
    // stale token, signals Unauthorized, the run invalidates + retries
    val root = Files.createTempDirectory("graft_paced_auth").toString
    val limiter = new RateLimiter(100, 1000L, clock.nowMs _, clock.sleepMs _)
    val fetchLog = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
    def fetch(page: Int): PacedExtractor.Response = {
      val t = provider.current()
      fetchLog += ((page, t))
      if (t == "tok-2") Unauthorized
      else Fetched(Seq(line(s"p$page", s"content $page")), hasMore = page < 1)
    }
    val n = PacedExtractor.run(spark, fetch, s"$root/staging", s"$root/cursor",
      limiter, sleepMs = clock.sleepMs _, tokens = Some(provider))
    assert(n == 2 && exchanges == 3,
      s"401 must force exactly one re-exchange, got $exchanges exchanges")
    assert(fetchLog.take(2) == Seq((0, "tok-2"), (0, "tok-3")),
      s"the 401'd page must retry under the fresh token, got $fetchLog")

    // a permanently-revoked grant must fail the run, not spin
    val dead = new PacedExtractor.TokenProvider(
      () => ("dead", 60000L), clock.nowMs _)
    val e = intercept[IllegalStateException](PacedExtractor.run(
      spark, _ => Unauthorized, s"$root/staging2", s"$root/cursor2",
      limiter, sleepMs = clock.sleepMs _, tokens = Some(dead)))
    assert(e.getMessage.contains("unauthorized"))
  }

  test("incremental re-pull: watermark advances only on drained generations, files namespaced per generation") {
    val root = Files.createTempDirectory("graft_paced_inc").toString
    val staging = s"$root/staging"
    val state = s"$root/state"
    val clock = new FakeClock
    val limiter = new RateLimiter(100, 1000L, clock.nowMs _, clock.sleepMs _)
    val fetchLog = scala.collection.mutable.ArrayBuffer.empty[(Option[String], Int)]
    def source(pagesThisGen: Int)(since: Option[String], page: Int): PacedExtractor.Response = {
      fetchLog += ((since, page))
      Fetched(Seq(line(s"w${since.getOrElse("none")}-p$page", s"content $since $page")),
        hasMore = page < pagesThisGen - 1)
    }

    // tick 1: full backfill (no watermark), 3 pages, commits w1
    val (n1, done1) = PacedExtractor.runIncremental(spark, source(3), staging,
      state, limiter, tickWatermark = "2026-08-12T00:00:00Z",
      sleepMs = clock.sleepMs _)
    assert(n1 == 3 && done1)
    assert(fetchLog.forall(_._1.isEmpty), "backfill generation has no bound")

    // tick 2, budget-capped mid-generation: watermark must NOT advance
    fetchLog.clear()
    val (n2, done2) = PacedExtractor.runIncremental(spark, source(3), staging,
      state, limiter, tickWatermark = "2026-08-13T00:00:00Z", maxPages = 2,
      sleepMs = clock.sleepMs _)
    assert(n2 == 2 && !done2)
    assert(fetchLog.forall(_._1.contains("2026-08-12T00:00:00Z")),
      s"generation 2 must pull with tick 1's watermark, got $fetchLog")

    // tick 3 resumes the SAME generation at its cursor with the SAME
    // bound, drains it, and only then commits the new watermark
    fetchLog.clear()
    val (n3, done3) = PacedExtractor.runIncremental(spark, source(3), staging,
      state, limiter, tickWatermark = "2026-08-13T06:00:00Z",
      sleepMs = clock.sleepMs _)
    assert(n3 == 1 && done3, s"resume must fetch only the remaining page, got $n3")
    assert(fetchLog == Seq((Some("2026-08-12T00:00:00Z"), 2)))

    // tick 4 opens generation 3 under the committed bound - which is the
    // watermark of the tick that OPENED generation 2 (tick 2), not the
    // one that drained it (tick 3): a record updated between tick 2's
    // early pages and tick 3 sorts into the already-fetched region, and
    // only the opening tick's bound re-examines it next generation
    fetchLog.clear()
    PacedExtractor.runIncremental(spark, source(1), staging, state, limiter,
      tickWatermark = "2026-08-14T00:00:00Z", sleepMs = clock.sleepMs _)
    assert(fetchLog == Seq((Some("2026-08-13T00:00:00Z"), 0)),
      s"the opening tick's watermark must commit, got $fetchLog")

    // generations never collide on page numbers
    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.count(_.startsWith("gen-000001-")) == 3)
    assert(files.count(_.startsWith("gen-000002-")) == 3)
    assert(files.count(_.startsWith("gen-000003-")) == 1)
  }

  test("two paced sources share one staging dir without page collisions") {
    val root = Files.createTempDirectory("graft_paced_multi").toString
    val staging = s"$root/staging"
    val clock = new FakeClock
    val limiter = new RateLimiter(100, 1000L, clock.nowMs _, clock.sleepMs _)
    def src(tag: String)(page: Int): PacedExtractor.Response =
      Fetched(Seq(line(s"$tag-p$page", s"$tag content $page")), hasMore = page < 1)
    PacedExtractor.run(spark, src("a"), staging, s"$root/cur-a", limiter,
      sleepMs = clock.sleepMs _, filePrefix = "srcA-")
    PacedExtractor.run(spark, src("b"), staging, s"$root/cur-b", limiter,
      sleepMs = clock.sleepMs _, filePrefix = "srcB-")
    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.sameElements(Seq("srcA-page-000000.jsonl", "srcA-page-000001.jsonl",
      "srcB-page-000000.jsonl", "srcB-page-000001.jsonl")),
      s"both sources' pages must land, got ${files.mkString(",")}")
  }

  test("the reference's full daily flow: paced pull -> gated bronze -> silver -> hourly mart") {
    val root = Files.createTempDirectory("graft_paced_e2e").toString
    val clock = new FakeClock
    val limiter = new RateLimiter(7, 1000L, clock.nowMs _, clock.sleepMs _)
    // page -> event hour: 0,1 land in the first scheduled tick; later
    // ticks pull hours 5 and 6
    val pageHour = Map(0 -> 0, 1 -> 1, 2 -> 5, 3 -> 6)
    def fetch(page: Int): PacedExtractor.Response = PacedExtractor.Fetched(
      Seq(
        s"""{"posting_id":"p$page-a","raw_content":"posting $page a","source":"hh","extracted_at":"2026-08-12T0${pageHour(page)}:10:00.000Z"}""",
        s"""{"posting_id":"p$page-b","raw_content":"posting $page b","source":"alt","extracted_at":"2026-08-12T0${pageHour(page)}:20:00.000Z"}"""),
      hasMore = page < 1)

    def tick(): Unit = {
      PacedExtractor.run(spark, fetch, s"$root/staging", s"$root/cursor",
        limiter, sleepMs = clock.sleepMs _)
      graft.streaming.BronzePipeline.ingest(spark, s"$root/staging",
        s"$root/bronze", s"$root/meta", s"$root/ckpt-ingest", Nil).awaitTermination()
      graft.streaming.BronzePipeline.runOnceToTable(spark, s"$root/bronze",
        s"$root/silver", s"$root/ckpt-silver").awaitTermination()
      graft.streaming.BronzePipeline.martRunOnceToTable(spark, s"$root/bronze",
        s"$root/mart", s"$root/ckpt-mart").awaitTermination()
    }
    tick(); tick(); tick()

    assert(graft.sources.ManifestTable.read(spark, s"$root/silver").count() == 8,
      "every pulled posting must reach silver exactly once")
    val mart = graft.sources.ManifestTable.read(spark, s"$root/mart")
      .collect().map(r => (r.getAs[String]("source"),
        r.getAs[java.sql.Timestamp]("hour").toInstant.toString,
        r.getAs[Long]("n_postings"))).toSet
    // every pulled (source, hour) counts its one posting, the hours
    // later pulls have not closed included
    val hourly = for (h <- Seq(0, 1, 5, 6); src <- Seq("hh", "alt"))
      yield (src, s"2026-08-12T0$h:00:00Z", 1L)
    assert(mart == hourly.toSet, s"every pulled hour must count its postings, got $mart")
  }

  test("concurrent fleet: shared rate ceiling, per-source cursor resume, gated landing of both streams") {
    val root = Files.createTempDirectory("graft_paced_fleet").toString
    val staging = s"$root/staging"
    // threads race on the virtual clock, so it must be its own monitor
    object clock {
      private var now = 0L
      def nowMs(): Long = synchronized(now)
      def sleepMs(ms: Long): Unit = synchronized { now += ms }
    }
    val limiter = new RateLimiter(2, 1000L, clock.nowMs _, clock.sleepMs _)

    def fetchA(page: Int): PacedExtractor.Response =
      if (page > 4) Fetched(Seq.empty, hasMore = false)
      else Fetched(Seq(line(s"a$page", s"A content $page")), hasMore = page < 4)
    @volatile var bKilled = false
    def fetchB(page: Int): PacedExtractor.Response =
      if (page == 2 && !bKilled) { bKilled = true; throw new RuntimeException("B died mid-extract") }
      else if (page > 4) Fetched(Seq.empty, hasMore = false)
      else Fetched(Seq(line(s"b$page", s"B content $page")), hasMore = page < 4)

    val sources = Seq(
      PacedExtractor.Source("A", fetchA, s"$root/cur-a", "srcA-"),
      PacedExtractor.Source("B", fetchB, s"$root/cur-b", "srcB-"))

    // run 1: A drains (pages 0..4); B dies at page 2 — its failure must
    // surface per-source without discarding A's completion
    val r1 = PacedExtractor.runConcurrent(spark, sources, staging, limiter,
      sleepMs = clock.sleepMs _)
    assert(r1("A") == scala.util.Success((5, true)), s"A must drain: ${r1("A")}")
    assert(r1("B").isFailure, "B's death must surface as its own Failure")
    assert(PacedExtractor.cursor(spark, s"$root/cur-b") == 2,
      "B's cursor must point at the page whose landing was never confirmed")
    // shared ceiling: 5 (A) + 3 (B: pages 0,1 + the fatal fetch of 2) = 8
    // acquires through a 2-per-1000ms limiter need at least 3 full windows
    assert(clock.nowMs() >= 3000L,
      s"8 acquires through a 2/1000ms shared limiter must span >=3 windows, clock=${clock.nowMs()}")

    // run 2: B resumes at ITS cursor; A probes one empty page and stops
    val r2 = PacedExtractor.runConcurrent(spark, sources, staging, limiter,
      sleepMs = clock.sleepMs _)
    assert(r2("B") == scala.util.Success((3, true)), s"B must resume at page 2: ${r2("B")}")

    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.count(_.startsWith("srcA-")) == 5 && files.count(_.startsWith("srcB-")) == 5,
      s"both streams' pages must land prefix-disambiguated, got ${files.mkString(",")}")

    // both streams flow through the etag-gated ingest exactly once
    graft.streaming.BronzePipeline.ingest(spark, staging,
      s"$root/bronze", s"$root/meta", s"$root/ckpt", Nil).awaitTermination()
    assert(graft.sources.BronzeLayer.readRaw(spark, s"$root/bronze").count() == 10,
      "10 distinct payloads across both streams must reach bronze exactly once")
  }

  test("auth-code bootstrap: consent URL, state check, rotated refresh persists, restart resumes without consent") {
    val root = Files.createTempDirectory("graft_authcode").toString
    val tokenStore = s"$root/refresh_token"
    val clock = new FakeClock
    var exchanges = List.empty[String]
    var refreshes = List.empty[String]
    def exchangeCode(code: String) = {
      exchanges ::= code
      PacedExtractor.Grant(s"access-for-$code", s"refresh-1", 60000L)
    }
    def refreshGrant(rt: String) = {
      refreshes ::= rt
      val n = rt.stripPrefix("refresh-").toInt + 1 // provider rotates
      PacedExtractor.Grant(s"access-$n", s"refresh-$n", 60000L)
    }
    def flow() = new PacedExtractor.AuthCodeFlow(spark, tokenStore,
      "https://example.test/oauth/authorize", "cid-1",
      "http://localhost:8000/auth", exchangeCode, refreshGrant,
      clock.nowMs _, () => "state-abc")

    // fresh deployment: nothing persisted, resume() says run the consent
    val f1 = flow()
    assert(f1.resume().isEmpty, "no persisted token means no silent resume")

    val url = f1.consentUrl()
    assert(url.startsWith("https://example.test/oauth/authorize?"))
    assert(url.contains("response_type=code") && url.contains("client_id=cid-1"))
    assert(url.contains("state=state-abc"))
    assert(url.contains("redirect_uri=http%3A%2F%2Flocalhost%3A8000%2Fauth"),
      s"redirect must be URL-encoded: $url")

    // a redirect carrying someone else's state is refused loudly
    val csrf = intercept[IllegalArgumentException](f1.redeem(
      "http://localhost:8000/auth?code=evil&state=state-OTHER"))
    assert(csrf.getMessage.contains("state mismatch"))
    assert(exchanges.isEmpty, "a refused redirect must never be exchanged")

    // the matching redirect redeems: code exchanged once, refresh persisted
    val provider = f1.redeem(
      "http://localhost:8000/auth?code=the-code&state=state-abc")
    assert(exchanges == List("the-code"))
    assert(provider.current() == "access-for-the-code",
      "the initial grant's access token serves without a refresh call")
    assert(refreshes.isEmpty)

    // expiry: the refresh grant runs and the ROTATED token persists
    clock.now += 59500L
    assert(provider.current() == "access-2")
    assert(refreshes == List("refresh-1"))

    // restart: a NEW flow resumes from the persisted (rotated) token -
    // no consent, no code exchange, straight to the refresh grant
    val f2 = flow()
    val resumed = f2.resume().getOrElse(fail("persisted token must resume"))
    assert(resumed.current() == "access-3",
      "resume must use the rotated refresh token, not the original")
    assert(refreshes.head == "refresh-2",
      s"the rotation must have persisted across the restart: $refreshes")
    assert(exchanges == List("the-code"), "consent ran exactly once")

    // the reference's manual flow: a bare pasted code (no state to check)
    // - including one with base64 padding, which must not be mistaken
    // for a redirect query string
    val f3 = flow()
    f3.consentUrl()
    val p3 = f3.redeem("  bare-code-123  ")
    assert(exchanges.head == "bare-code-123")
    assert(p3.current() == "access-for-bare-code-123")
    val f3b = flow()
    f3b.consentUrl()
    f3b.redeem("SplxlOBeZQQYbYS6WxSbIA==")
    assert(exchanges.head == "SplxlOBeZQQYbYS6WxSbIA==",
      "a padded bare code must redeem, not be parsed as a query string")

    // a token-endpoint blip must leave the same paste retryable - the
    // consent is consumed only by a SUCCESSFUL exchange
    var blip = true
    val f4 = new PacedExtractor.AuthCodeFlow(spark, tokenStore,
      "https://example.test/oauth/authorize?tenant=acme", "cid 1",
      "http://localhost:8000/auth",
      c => if (blip) { blip = false; throw new RuntimeException("endpoint timeout") }
        else exchangeCode(c),
      refreshGrant, clock.nowMs _, () => "state-f4")
    // and: an authorize URL already carrying a query appends with '&',
    // reserved characters in the client id are encoded
    val url4 = f4.consentUrl()
    assert(url4.startsWith("https://example.test/oauth/authorize?tenant=acme&response_type=code"),
      s"existing query must extend with '&': $url4")
    assert(url4.contains("client_id=cid+1"), s"client id must be encoded: $url4")
    intercept[RuntimeException](f4.redeem("code=c4&state=state-f4"))
    val p4 = f4.redeem("code=c4&state=state-f4") // same paste, retried
    assert(p4.current() == "access-for-c4",
      "a failed exchange must not consume the consent")

    // redeem without a consent in flight fails loudly
    intercept[IllegalStateException](flow().redeem("code=x&state=state-abc"))
  }

  test("windowed fan-out: shared ceiling holds, out-of-order completions land, cursor pins to the contiguous frontier") {
    val root = Files.createTempDirectory("graft_paced_window").toString
    val staging = s"$root/staging"
    val cursorP = s"$root/cursor"
    // worker threads race on the virtual clock: own monitor (fleet pattern)
    object clock {
      private var now = 0L
      def nowMs(): Long = synchronized(now)
      def sleepMs(ms: Long): Unit = synchronized { now += ms }
    }
    val limiter = new RateLimiter(2, 1000L, clock.nowMs _, clock.sleepMs _)

    val stamps = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val p1Gate = new java.util.concurrent.CountDownLatch(1)
    @volatile var served429 = false
    @volatile var cursorAtP4 = -1
    def fetch(page: Int): PacedExtractor.Response = {
      stamps.add(clock.nowMs())
      // page 5 CAN be dispensed: the other worker may grab it between
      // page 4's fetch returning and its completion registering
      // hasMore=false - a benign overshoot that must stay empty
      if (page > 4) Fetched(Seq.empty, hasMore = false)
      else if (page == 2 && !served429) { served429 = true; Backoff }
      else if (page == 1) {
        // page 1 is the slow response: it completes only after page 4 has
        // been dispatched, so pages 2-4 land ahead of it
        assert(p1Gate.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "page 1's release gate never opened")
        Fetched(Seq(line("p1", "content 1")), hasMore = true)
      } else if (page == 4) {
        // by now pages 0,2,3 completed and 1 is still in flight: the
        // persisted cursor must pin at the contiguous frontier (page 1)
        cursorAtP4 = PacedExtractor.cursor(spark, cursorP)
        p1Gate.countDown()
        Fetched(Seq(line("p4", "content 4")), hasMore = false)
      } else Fetched(Seq(line(s"p$page", s"content $page")), hasMore = true)
    }

    val n = PacedExtractor.run(spark, fetch, staging, cursorP, limiter,
      sleepMs = clock.sleepMs _, window = 2)
    // exact sequential parity: a dispensed-but-empty overshoot page past
    // the source end must NOT inflate the count
    assert(n == 5, s"exactly 5 pages fetched (overshoots uncounted), got $n")
    assert(cursorAtP4 == 1,
      s"with page 1 in flight the cursor must pin at 1, got $cursorAtP4")
    assert(PacedExtractor.cursor(spark, cursorP) == 5,
      "after the slow page lands the cursor must jump over the out-of-order completions")
    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.sameElements((0 to 4).map(i => f"page-$i%06d.jsonl")),
      s"every page must land exactly once, got ${files.mkString(",")}")
    // the 429'd page retried in place, still under pacing
    import scala.jdk.CollectionConverters._
    val sorted = stamps.asScala.toSeq.sorted
    assert(sorted.size == 6 || sorted.size == 7,
      s"5 pages + 1 throttled retry (+ possible overshoot), got ${sorted.size}")
    sorted.sliding(3).foreach(w => assert(w.last - w.head >= 1000L,
      s"3 acquires inside one 2/1000ms window: $sorted"))
  }

  test("windowed resume after a failed page re-fetches only the incomplete window") {
    val root = Files.createTempDirectory("graft_paced_window_kill").toString
    val staging = s"$root/staging"
    val cursorP = s"$root/cursor"
    object clock {
      private var now = 0L
      def nowMs(): Long = synchronized(now)
      def sleepMs(ms: Long): Unit = synchronized { now += ms }
    }
    val limiter = new RateLimiter(100, 1000L, clock.nowMs _, clock.sleepMs _)

    // page 2 dies - but only after pages 3 and 4 have been dispatched, so
    // the run provably lands pages BEYOND the failure before it stops
    val laterPages = new java.util.concurrent.CountDownLatch(2)
    def fetch(page: Int): PacedExtractor.Response = {
      if (page == 3 || page == 4) laterPages.countDown()
      if (page == 2) {
        assert(laterPages.await(60, java.util.concurrent.TimeUnit.SECONDS),
          "pages 3/4 never dispatched")
        throw new RuntimeException("page 2 died")
      }
      if (page > 5) Fetched(Seq.empty, hasMore = false)
      else Fetched(Seq(line(s"p$page", s"content $page")), hasMore = page < 5)
    }
    val died = intercept[RuntimeException](PacedExtractor.run(
      spark, fetch, staging, cursorP, limiter,
      sleepMs = clock.sleepMs _, window = 3))
    assert(died.getMessage == "page 2 died")
    assert(PacedExtractor.cursor(spark, cursorP) == 2,
      "the cursor must pin at the failed page even though later pages landed")

    // resume: only the incomplete window (page 2 onward) is re-fetched;
    // already-landed later pages overwrite their own files idempotently
    val fetchLog = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
    def fetch2(page: Int): PacedExtractor.Response = {
      fetchLog.add(page)
      if (page > 5) Fetched(Seq.empty, hasMore = false)
      else Fetched(Seq(line(s"p$page", s"content $page")), hasMore = page < 5)
    }
    val n2 = PacedExtractor.run(spark, fetch2, staging, cursorP, limiter,
      sleepMs = clock.sleepMs _, window = 3)
    import scala.jdk.CollectionConverters._
    val pages2 = fetchLog.asScala.map(_.intValue).toSeq
    assert(pages2.min == 2 && !pages2.contains(0) && !pages2.contains(1),
      s"resume must start at the frontier and never re-fetch confirmed pages, got $pages2")
    assert(n2 >= 4, s"pages 2..5 must complete on resume, got $n2")
    assert(PacedExtractor.cursor(spark, cursorP) == 6)
    val files = new java.io.File(staging).listFiles().map(_.getName)
      .filterNot(_.endsWith(".crc")).sorted
    assert(files.sameElements((0 to 5).map(i => f"page-$i%06d.jsonl")),
      s"pages must land exactly once each across kill+resume, got ${files.mkString(",")}")
  }

  test("landed pages flow through the gated ingest: re-delivered payloads never reach bronze") {
    val root = Files.createTempDirectory("graft_paced_gate").toString
    val staging = s"$root/staging"
    val clock = new FakeClock
    val limiter = new RateLimiter(7, 1000L, clock.nowMs _, clock.sleepMs _)
    // pages 1 and 2 re-deliver page 0's payloads under fresh ids (the
    // API re-serving content) plus one genuinely new posting each
    def fetch(page: Int): PacedExtractor.Response = Fetched(
      Seq(line(s"p$page-new", s"fresh content $page"),
        line(s"p$page-dup", "same payload every page")), hasMore = page < 2)
    PacedExtractor.run(spark, fetch, staging, s"$root/cursor", limiter,
      sleepMs = clock.sleepMs _)

    val q = graft.streaming.BronzePipeline.ingest(
      spark, staging, s"$root/bronze", s"$root/meta", s"$root/ckpt", Nil)
    q.awaitTermination()
    val bronze = graft.sources.BronzeLayer.readRaw(spark, s"$root/bronze")
    assert(bronze.count() == 4,
      "3 fresh payloads + 1 first copy of the re-delivered one")
    assert(bronze.filter(org.apache.spark.sql.functions.col("raw_content")
      .startsWith("same payload")).count() == 1,
      "re-delivered payloads must be gated to a single landing")
  }

  test("HttpFetcher against a live in-process server: 429, 401-refresh, pages land in bronze") {
    import java.util.concurrent.atomic.AtomicInteger
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.HttpFetcher
    import graft.sources.PacedExtractor.TokenProvider

    val root = Files.createTempDirectory("graft_http").toString
    val issued = new AtomicInteger(0) // serial of the latest granted token
    val served429 = new AtomicInteger(0)
    val served401 = new AtomicInteger(0)
    val queries = scala.collection.mutable.ArrayBuffer.empty[String]
    @volatile var throttleOnce = true // page 1's first request gets a 429
    @volatile var revokeOnce = false  // armed after page 0: next request 401s

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/vacancies", new HttpHandler {
      private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
        if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
        ex.close()
      }
      override def handle(ex: HttpExchange): Unit = {
        val q = Option(ex.getRequestURI.getQuery).getOrElse("")
        queries.synchronized { queries += q }
        val page = q.split("&").collectFirst {
          case kv if kv.startsWith("page=") => kv.drop(5).toInt
        }.getOrElse(-1)
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (revokeOnce) { // server-side revocation mid-extract
          revokeOnce = false
          served401.incrementAndGet()
          respond(ex, 401, """{"error":"revoked"}""")
        } else if (!auth.contains(s"Bearer tok-${issued.get}")) {
          served401.incrementAndGet()
          respond(ex, 401, """{"error":"bad token"}""")
        } else if (page == 1 && throttleOnce) {
          throttleOnce = false
          served429.incrementAndGet()
          ex.getResponseHeaders.add("Retry-After", "1")
          respond(ex, 429, "")
        } else {
          if (page == 0) revokeOnce = true // arm the revocation for page 1
          val items = Seq("a", "b").map(sfx =>
            s"""{"id":"p$page-$sfx","name":"vacancy $page$sfx"}""").mkString(",")
          respond(ex, 200, s"""{"items":[$items],"pages":3,"page":$page}""")
        }
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val tp = new TokenProvider(
        () => { issued.incrementAndGet(); (s"tok-${issued.get}", 60000L) })
      val fetcher = new HttpFetcher(
        baseUrl = s"http://127.0.0.1:$port/vacancies",
        source = "hh",
        params = Map("text" -> "scala"),
        perPage = 2,
        tokens = Some(tp),
        nowIso = () => "2026-08-12T10:00:00.000Z")
      val limiter = new RateLimiter(100, 1000L)
      val n = PacedExtractor.run(spark, fetcher.fetch, s"$root/staging",
        s"$root/cursor", limiter, backoffMs = 1L, tokens = Some(tp))
      assert(n == 3, s"3 pages expected, got $n")
      assert(served429.get == 1 && served401.get >= 1,
        s"the spec must exercise both retry paths (429=${served429.get}, 401=${served401.get})")
      assert(issued.get >= 2, "the 401 must have forced a token refresh")
      assert(queries.forall(q => q.contains("text=scala") && q.contains("per_page=2")),
        s"query params must ride every request: $queries")

      // ... and through the full gated path into bronze
      graft.streaming.BronzePipeline.ingest(spark, s"$root/staging",
        s"$root/bronze", s"$root/meta", s"$root/ckpt", Nil).awaitTermination()
      val bronze = graft.sources.BronzeLayer.readRaw(spark, s"$root/bronze")
      import org.apache.spark.sql.functions.col
      val rows = bronze.select("posting_id", "raw_content", "source").collect()
      assert(rows.length == 6, s"2 items x 3 pages, got ${rows.length}")
      assert(rows.map(_.getString(0)).sorted.sameElements(
        Seq("p0-a", "p0-b", "p1-a", "p1-b", "p2-a", "p2-b")))
      assert(rows.forall(_.getString(2) == "hh"))
      assert(rows.forall(r => r.getString(1).contains("\"id\":\"p")),
        "raw_content must carry the item JSON verbatim")
      assert(bronze.filter(col("extracted_at").isNull).count() == 0,
        "extracted_at must parse as a timestamp through the staging schema")
    } finally server.stop(0)
  }

  test("list->detail extract: ID frontier, batched detail fan-out, kill/resume, re-delivery gated") {
    import java.util.concurrent.atomic.AtomicInteger
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sources.HttpFetcher
    import graft.sources.PacedExtractor.TokenProvider

    val root = Files.createTempDirectory("graft_listdetail").toString
    val issued = new AtomicInteger(0)
    val listHits = new AtomicInteger(0)
    val detailHits = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
    @volatile var throttleV3Once = true // v3's first detail GET gets a 429
    @volatile var revokeV5Once = true   // v5's first detail GET gets a 401

    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes("UTF-8")
      ex.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
      if (bytes.nonEmpty) ex.getResponseBody.write(bytes)
      ex.close()
    }
    // three list pages of ids; v1 appears on pages 0 AND 2 (the frontier
    // must dedupe like the reference's vacancy-ID set)
    val pageIds = Vector(Seq("v1", "v2", "v3"), Seq("v4", "v5", "v6"), Seq("v7", "v1"))
    server.createContext("/vacancies", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        val path = ex.getRequestURI.getPath
        // any ISSUED token stays valid (serial-exact matching would make
        // concurrent batch threads cascade refreshes non-deterministically;
        // the one-shot v5 revocation below still exercises the 401 path)
        val auth = Option(ex.getRequestHeaders.getFirst("Authorization"))
        if (!auth.exists(_.startsWith("Bearer tok-"))) {
          respond(ex, 401, """{"error":"bad token"}""")
        } else if (path == "/vacancies") { // the LIST endpoint
          listHits.incrementAndGet()
          val page = Option(ex.getRequestURI.getQuery).getOrElse("")
            .split("&").collectFirst {
              case kv if kv.startsWith("page=") => kv.drop(5).toInt
            }.getOrElse(0)
          val items = pageIds(page).map(id => s"""{"id":"$id"}""").mkString(",")
          respond(ex, 200, s"""{"items":[$items],"pages":3,"page":$page}""")
        } else { // the DETAIL endpoint: /vacancies/{id}
          val id = path.stripPrefix("/vacancies/")
          if (id == "v3" && throttleV3Once) {
            throttleV3Once = false
            respond(ex, 429, "")
          } else if (id == "v5" && revokeV5Once) {
            revokeV5Once = false
            respond(ex, 401, """{"error":"revoked"}""")
          } else {
            detailHits.computeIfAbsent(id, _ => new AtomicInteger(0)).incrementAndGet()
            respond(ex, 200, s"""{"id":"$id","name":"detail $id","salary":${id.drop(1)}00}""")
          }
        }
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val tp = new TokenProvider(
        () => { issued.incrementAndGet(); (s"tok-${issued.get}", 60000L) })
      val fetcher = new HttpFetcher(
        baseUrl = s"http://127.0.0.1:$port/vacancies",
        source = "hh", perPage = 3, tokens = Some(tp),
        nowIso = () => "2026-08-15T10:00:00.000Z")
      val limiter = new RateLimiter(100, 1000L)
      val staging = s"$root/staging"

      // tick 1: budget-capped at ONE detail batch (the "kill" point)
      val (n1, b1) = PacedExtractor.runListDetail(spark, fetcher.fetchIds,
        fetcher.fetchDetail, staging, s"$root/state", limiter,
        batchSize = 4, maxBatches = 1, backoffMs = 1L, tokens = Some(tp))
      assert(n1 == 7, s"frontier must dedupe to 7 ids, got $n1")
      assert(b1 == 1)
      val listHitsAfterStage1 = listHits.get

      // tick 2 (resume): list stage skipped, only the remaining batch runs,
      // batch-0 ids are NOT re-fetched
      val (n2, b2) = PacedExtractor.runListDetail(spark, fetcher.fetchIds,
        fetcher.fetchDetail, staging, s"$root/state", limiter,
        batchSize = 4, backoffMs = 1L, tokens = Some(tp))
      assert(n2 == 7 && b2 == 1, s"resume must land exactly the remaining batch, got ($n2, $b2)")
      assert(listHits.get == listHitsAfterStage1,
        "a resume with a persisted frontier must not re-hit the list endpoint")
      import scala.jdk.CollectionConverters._
      assert(detailHits.asScala.forall(_._2.get == 1),
        s"every detail fetched exactly once across the two ticks: ${detailHits.asScala.map { case (k, v) => k -> v.get }}")
      assert(issued.get >= 2, "the v5 401 must have forced a token refresh")

      // the two batch files carry frontier order and the bronze contract
      val f0 = scala.io.Source.fromFile(s"$staging/detail-000000.jsonl").getLines().toSeq
      val f1 = scala.io.Source.fromFile(s"$staging/detail-000004.jsonl").getLines().toSeq
      assert(f0.size == 4 && f1.size == 3)
      assert(f0.head.contains("\"posting_id\":\"v1\"") && f0.head.contains("detail v1"))

      // generation 2 re-pulls the same API into the same staging dir
      // (fresh state + prefix, the runIncremental discipline): every
      // payload is a re-delivery and must be gated out of bronze
      val (n3, b3) = PacedExtractor.runListDetail(spark, fetcher.fetchIds,
        fetcher.fetchDetail, staging, s"$root/state2", limiter,
        batchSize = 4, backoffMs = 1L, tokens = Some(tp), filePrefix = "gen2-")
      assert(n3 == 7 && b3 == 2)
      graft.streaming.BronzePipeline.ingest(spark, staging,
        s"$root/bronze", s"$root/meta", s"$root/ckpt", Nil).awaitTermination()
      val bronze = graft.sources.BronzeLayer.readRaw(spark, s"$root/bronze")
      assert(bronze.count() == 7,
        "gen-2's re-delivered details must be gated: one bronze row per posting")
      val ids = bronze.select("posting_id").collect().map(_.getString(0)).sorted
      assert(ids.sameElements(Seq("v1", "v2", "v3", "v4", "v5", "v6", "v7")))
    } finally server.stop(0)
  }
}
