package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{ImpactHandle, TextOps}
import graft.streaming.BronzePipeline

/** The impact index persistence lifecycle (r19):
  * writeImpactIndex/readImpactIndex/impactSearchServe/impactIndexDrift —
  * the lexical tier's build-once/serve-many form, parity with the IVF
  * saveIvfIndex/loadIvfIndex family — and the serve handle: one open per
  * store version, a driver-side stamp check per request.
  *
  * Read-only tests share two stores frozen once per suite (the default
  * context and a k1=2.0/b=0.5/topPerTerm=8 one); tests that write get a
  * byte copy of one of them.
  */
class ImpactIndexSpec extends SparkSpec {
  import SparkSpec.Job

  private def split(dir: String): (DataFrame, DataFrame, DataFrame) = split(spark, dir)

  private def split(s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val docs = graft.sources.Tables.documents(s, dir)
    (docs.filter(col("doc_id") >= 10L), docs.filter(col("doc_id") < 10L), docs)
  }

  private def freeze(topPerTerm: Int = 16, k1: Double = 1.2, b: Double = 0.75): String = {
    val p = Files.createTempDirectory("graft_impidx").toString + "/idx"
    TextOps.writeImpactIndex(split(sfDir)._1, p, topPerTerm, k1, b)
    p
  }

  private lazy val store = freeze()
  private lazy val kbStore = freeze(topPerTerm = 8, k1 = 2.0, b = 0.5)

  /** Copy every file of the store at `from` to `to` (created). */
  private def copyTree(from: String, to: String): Unit = {
    val src = Paths.get(from)
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { f =>
      val t = Paths.get(to).resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally walk.close()
  }

  private def deleteTree(p: String): Unit = {
    val walk = Files.walk(Paths.get(p))
    try walk.iterator().asScala.toSeq.reverse.foreach((f: Path) => Files.delete(f))
    finally walk.close()
  }

  /** A private byte copy of a suite store, for a test that writes. */
  private def copyOf(from: String): String = {
    val p = Files.createTempDirectory("graft_impcopy").toString + "/idx"
    copyTree(from, p)
    p
  }

  private def servedRows(queries: DataFrame, path: String): Set[(Long, Long, Long, Long)] =
    TextOps.impactSearchServe(queries, path).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("lex_u"), r.getAs[Long]("rk"))).toSet

  private def discovery(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(j => !j.inQuery || j.description.startsWith("Listing leaf files"))

  test("round-trip: serving from the persisted store is row-identical to the in-plan serving read (q152prod)") {
    val (_, queries, docs) = split(sfDir)
    val path = store

    val served = TextOps.impactSearchServe(queries, path).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("lex_u"), r.getAs[Long]("rk"))).toSet
    val inPlan = TextOps.impactSearch(docs, instrument = false).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("lex_u"), r.getAs[Long]("rk"))).toSet
    assert(served == inPlan,
      s"persisted-store serving diverged from the in-plan read: " +
        s"only-served=${served -- inPlan}, only-inplan=${inPlan -- served}")
    assert(served.nonEmpty, "degenerate fixture: no results at all")
  }

  test("frozen context: the serve scores with the STORE's k1/b, not defaults") {
    val (_, queries, docs) = split(sfDir)
    // a non-default frozen context; the serve takes no k1/b at all
    val path = kbStore
    val served = TextOps.impactSearchServe(queries, path).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("lex_u"))).toSet
    val expected = TextOps.impactSearch(docs, topPerTerm = 8, k1 = 2.0,
        b = 0.5, instrument = false).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("c_id"),
        r.getAs[Long]("lex_u"))).toSet
    assert(served == expected,
      "serve must replay the frozen k1/b/topPerTerm, never defaults")
  }

  test("serve join shape: the store never shuffles, even with auto-broadcast off; postings scan is partition-pruned on tb") {
    val (_, queries, _) = split(sfDir)
    val path = store
    val prior = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val served = TextOps.impactSearchServe(queries, path)
      val plan = served.queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
        s"store-side joins must stay broadcast probes (the gate-family " +
          s"join direction — the only one that survives a 100-TB store):\n$plan")
      assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
        s"the postings/df scans must prune on the query bag's tb buckets:\n$plan")
      assert(served.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prior)
  }

  test("drift probe: fresh corpus reads stable, a shifted corpus trips PSI or len_ratio, missing histogram is loud") {
    import spark.implicits._
    val (corpus, _, _) = split(sfDir)
    val path = store

    // same corpus → no drift, ratio exactly 1
    val same = TextOps.impactIndexDrift(corpus, path).head()
    assert(same.getAs[Double]("psi") < 0.1,
      s"identical corpus must read stable, psi=${same.getAs[Double]("psi")}")
    assert(math.abs(same.getAs[Double]("len_ratio") - 1.0) < 1e-9)

    // a shifted snapshot: keep only the longest docs and append a burst
    // of novel low-df vocabulary — df histogram and avglen both move
    val burst = (0 until 400)
      .map(i => (900000L + i, s"novelterm$i xq$i zz$i"))
      .toDF("doc_id", "text")
    val shifted = corpus.select("doc_id", "text")
      .filter(org.apache.spark.sql.functions.length(col("text")) > 200)
      .unionByName(burst)
    val drifted = TextOps.impactIndexDrift(shifted, path).head()
    assert(drifted.getAs[Double]("psi") > 0.1 ||
        math.abs(drifted.getAs[Double]("len_ratio") - 1.0) > 0.25,
      s"a vocabulary burst + length shift must register: psi=" +
        s"${drifted.getAs[Double]("psi")} len_ratio=${drifted.getAs[Double]("len_ratio")}")

    // an index without the histogram (or stats) must refuse loudly
    val bare = Files.createTempDirectory("graft_impidx_bare").toString + "/idx"
    val e = intercept[IllegalArgumentException](
      TextOps.impactIndexDrift(corpus, bare))
    assert(e.getMessage.contains("writeImpactIndex"))
  }

  test("append: split-invariant exact head merge, untouched buckets byte-identical, appended docs served") {
    import spark.implicits._
    val (corpus, queries, _) = split(sfDir)
    def freeze(): String = copyOf(store)
    def postings(p: String): Set[Seq[Any]] =
      spark.read.parquet(s"$p/postings").collect().map(_.toSeq).toSet
    // batches of NEW docs built from frozen-vocab words of the corpus
    val vocab = corpus.select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split($"text", " ")))
      .filter(org.apache.spark.sql.functions.length($"col") > 0)
      .distinct().limit(30).as[String].collect()
    val bDocs = Seq((900001L, vocab.take(8).mkString(" ")),
      (900002L, (vocab.slice(4, 10) ++ vocab.slice(4, 10)).mkString(" ")))
      .toDF("doc_id", "text")
    val cDocs = Seq((900003L, vocab.slice(10, 22).mkString(" ")))
      .toDF("doc_id", "text")

    // split invariance: append B then C == append B∪C, row for row
    val p1 = freeze(); val p2 = freeze()
    TextOps.impactIndexAppend(bDocs, p1)
    TextOps.impactIndexAppend(cDocs, p1)
    TextOps.impactIndexAppend(bDocs.unionByName(cDocs), p2)
    assert(postings(p1) == postings(p2),
      "append must be split-invariant (the exact-merge property)")

    // untouched buckets' FILES are never rewritten (the partial-rebuild
    // discipline): compare each tb partition's file list + sizes before
    // and after an append that touches a strict subset of buckets
    val p3 = freeze()
    def fileSig(p: String): Map[String, Seq[(String, Long)]] = {
      val root = new java.io.File(s"$p/postings")
      root.listFiles().filter(_.getName.startsWith("tb=")).map { d =>
        d.getName -> d.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length)).toSeq.sortBy(_._1)
      }.toMap
    }
    val before = fileSig(p3)
    TextOps.impactIndexAppend(bDocs, p3)
    val after = fileSig(p3)
    val touched = after.keySet.filter(k =>
      before.get(k) != after.get(k)) ++ (after.keySet -- before.keySet)
    assert(touched.nonEmpty && touched.size < before.size,
      s"an 8-word batch must rewrite a strict subset of buckets: $touched")
    (before.keySet -- touched).foreach { k =>
      assert(before(k) == after(k), s"untouched bucket $k was rewritten")
    }

    // the appended doc is reachable through frozen-vocab terms: a query
    // doc whose bag intersects bDocs' words can retrieve 900001/900002
    val hits = TextOps.impactSearchServe(queries, p3, k = 200).collect()
      .map(_.getAs[Long]("c_id")).toSet
    // (not every query bag overlaps; assert the postings carry them)
    val carried = spark.read.parquet(s"$p3/postings")
      .filter($"c_id" >= 900001L).count()
    assert(carried > 0, "appended docs must occupy posting heads")
    assert(hits.nonEmpty)

    // a pure-novel-vocabulary batch cannot mint postings: store unchanged
    val novel = Seq((900009L, "zzqx1 zzqx2 zzqx3")).toDF("doc_id", "text")
    val sigBefore = fileSig(p3)
    TextOps.impactIndexAppend(novel, p3)
    assert(fileSig(p3) == sigBefore,
      "novel-vocab docs score nothing under the frozen df and must not touch the store")

    // re-ingesting an indexed doc refuses loudly
    val e = intercept[IllegalArgumentException](
      TextOps.impactIndexAppend(bDocs, p3))
    assert(e.getMessage.contains("collide"), e.getMessage)
  }

  test("re-ingestion guard is EXACT (r20): a changed-text re-ingestion whose old postings sit in untouched buckets still refuses") {
    import spark.implicits._
    val (corpus, _, _) = split(sfDir)
    val path = copyOf(store)
    val vocab = corpus.select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split($"text", " ")))
      .filter(org.apache.spark.sql.functions.length($"col") > 0)
      .distinct().limit(40).as[String].collect()
    // first ingestion of 900021 lands postings under words A
    TextOps.impactIndexAppend(
      Seq((900021L, vocab.take(6).mkString(" "))).toDF("doc_id", "text"), path)
    // the SAME doc re-arrives fully re-worded: its new terms live in
    // other tb buckets, so the r19 head-scan guard (touched buckets
    // only) saw no collision — the id registry must still refuse
    val e = intercept[IllegalArgumentException](
      TextOps.impactIndexAppend(
        Seq((900021L, vocab.slice(20, 32).mkString(" "))).toDF("doc_id", "text"),
        path))
    assert(e.getMessage.contains("registry"), e.getMessage)
    // and a doc that entered at FREEZE time (no postings touched by the
    // batch needed) refuses too: take a real corpus doc's id
    val cid = corpus.select("doc_id").head().getLong(0)
    val e2 = intercept[IllegalArgumentException](
      TextOps.impactIndexAppend(
        Seq((cid, vocab.slice(30, 36).mkString(" "))).toDF("doc_id", "text"),
        path))
    assert(e2.getMessage.contains("registry"), e2.getMessage)
  }

  test("ifAbsent append: replays are idempotent, mixed batches land only the unseen docs") {
    import spark.implicits._
    val (corpus, _, _) = split(sfDir)
    val path = copyOf(store)
    val vocab = corpus.select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split($"text", " ")))
      .filter(org.apache.spark.sql.functions.length($"col") > 0)
      .distinct().limit(30).as[String].collect()
    val b1 = Seq((900031L, vocab.take(7).mkString(" "))).toDF("doc_id", "text")
    TextOps.impactIndexAppend(b1, path)
    def postings(): Set[Seq[Any]] =
      spark.read.parquet(s"$path/postings").collect().map(_.toSeq).toSet
    val after1 = postings()
    // full replay of the committed batch: no-op, no error
    TextOps.impactIndexAppend(b1, path, ifAbsent = true)
    assert(postings() == after1, "a replayed batch must change nothing")
    // mixed batch: the replayed doc drops, the fresh one lands exactly
    // as if appended alone
    val fresh = Seq((900032L, vocab.slice(7, 15).mkString(" ")))
      .toDF("doc_id", "text")
    TextOps.impactIndexAppend(b1.unionByName(fresh), path, ifAbsent = true)
    val mixed = postings()
    val control = copyOf(store)
    TextOps.impactIndexAppend(b1, control)
    TextOps.impactIndexAppend(fresh, control)
    val controlSet =
      spark.read.parquet(s"$control/postings").collect().map(_.toSeq).toSet
    assert(mixed == controlSet,
      "ifAbsent must land exactly the unseen docs' postings")
  }

  test("freshness-gated serve (r20): a drifted corpus refuses, an appended-but-fresh one serves") {
    import spark.implicits._
    val (corpus, queries, _) = split(sfDir)
    val path = copyOf(store)
    // the build corpus itself: fresh by construction → serves
    assert(TextOps.impactSearchServe(queries, path,
      freshnessCorpus = Some(corpus)).count() > 0)
    // a small append barely moves the df histogram: still fresh
    val vocab = corpus.select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split($"text", " ")))
      .filter(org.apache.spark.sql.functions.length($"col") > 0)
      .distinct().limit(10).as[String].collect()
    val small = Seq((900041L, vocab.take(6).mkString(" "))).toDF("doc_id", "text")
    TextOps.impactIndexAppend(small, path)
    val grown = corpus.select("doc_id", "text").unionByName(small)
    assert(TextOps.impactSearchServe(queries, path,
      freshnessCorpus = Some(grown)).count() > 0,
      "an appended-but-fresh corpus must keep serving")
    // a shifted snapshot — all-novel vocabulary (df histogram collapses
    // to df=1 mass) AND 3-token docs (len_ratio far under 0.8): both
    // policy axes trip, so refusal under the DEFAULT policy is certain
    val shifted = (0 until 400)
      .map(i => (910000L + i, s"novelterm$i xq$i zz$i")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](
      TextOps.impactSearchServe(queries, path,
        freshnessCorpus = Some(shifted)))
    assert(e.getMessage.contains("STALE") &&
      e.getMessage.contains("writeImpactIndex"), e.getMessage)
    // the un-policied serve is unchanged (q152prod's path): no corpus,
    // no check, same rows
    assert(TextOps.impactSearchServe(queries, path).count() > 0)
  }

  test("a partial store must never serve: missing tables are loud") {
    val (_, queries, _) = split(sfDir)
    val bare = Files.createTempDirectory("graft_impidx_partial").toString + "/idx"
    val e = intercept[IllegalArgumentException](
      TextOps.impactSearchServe(queries, bare))
    assert(e.getMessage.contains("writeImpactIndex"),
      s"partial store must point at the freeze path: ${e.getMessage}")

    // a complete store WITHOUT its version stamp (a crashed freeze drops
    // it first and writes it last) refuses too — also when a handle for
    // it is already open
    val unstamped = copyOf(store)
    assert(TextOps.impactSearchServe(queries, unstamped).count() > 0)
    Files.delete(Paths.get(unstamped, "_version"))
    val e2 = intercept[IllegalArgumentException](
      TextOps.impactSearchServe(queries, unstamped).collect())
    assert(e2.getMessage.contains("version stamp") &&
      e2.getMessage.contains("writeImpactIndex"), e2.getMessage)

    // a copy that kept its stamp but lost a table refuses at open,
    // naming the missing table
    Seq("stats" -> "frozen scoring stats", "df" -> "df table").foreach { case (t, what) =>
      val torn = copyOf(store)
      deleteTree(s"$torn/$t")
      val e3 = intercept[IllegalArgumentException](
        TextOps.impactSearchServe(queries, torn).collect())
      assert(e3.getMessage.contains(s"no $what") &&
        e3.getMessage.contains("writeImpactIndex"), e3.getMessage)
    }
  }

  test("serve job guard: a warm request runs at most 8 jobs and re-discovers nothing") {
    val (_, queries, _) = split(sfDir)
    TextOps.impactSearchServe(queries, store).collect() // opens the handle
    val warm = Seq.fill(2)(jobsOf(TextOps.impactSearchServe(queries, store).collect()))
    warm.foreach { jobs =>
      assert(jobs.size <= 8, s"a warm request ran ${jobs.size} jobs: $jobs")
      assert(discovery(jobs).isEmpty,
        s"a warm request listed files or inferred a schema: ${discovery(jobs)}")
    }
    // the guard reads what it means to: a store with no handle yet pays
    // the listing and schema jobs outside any query
    val fresh = copyOf(store)
    val cold = jobsOf(TextOps.impactSearchServe(queries, fresh).collect())
    assert(discovery(cold).nonEmpty, s"an open must discover the store: $cold")
  }

  test("serve leaves no checkpoint behind: 5 requests, persistent RDDs unchanged") {
    val (_, queries, _) = split(sfDir)
    TextOps.impactSearchServe(queries, store).collect()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    (1 to 5).foreach { _ =>
      val res = TextOps.impactSearchServe(queries, store)
      assert(res.collect().nonEmpty)
      CacheHygiene.releaseTree(res)
    }
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
  }

  test("staleness: a request after an append retrieves the appended doc, in this session or another") {
    import spark.implicits._
    val (_, queries, _) = split(sfDir)
    val path = copyOf(store)
    // one short doc per word of query doc 3, the word repeated: each
    // outscores the stored heads on its word, so the docs on the query's
    // bag terms enter those heads and the query's serve retrieves them
    val q3 = queries.filter(col("doc_id") === 3L)
    val words = q3.select("text").as[String].head().split(" ").filter(_.nonEmpty).distinct
    def batch(s: SparkSession, base: Long): (DataFrame, Set[Long]) = {
      val rows = words.toSeq.zipWithIndex.map { case (w, i) => (base + i, Seq.fill(8)(w).mkString(" ")) }
      (s.createDataFrame(rows).toDF("doc_id", "text"), rows.map(_._1).toSet)
    }
    def served(p: String): Set[Long] =
      TextOps.impactSearchServe(q3, p, k = 1000).collect().map(_.getAs[Long]("c_id")).toSet
    val (b1, ids1) = batch(spark, 900100L)
    assert((served(path) & ids1).isEmpty) // the handle is open
    TextOps.impactIndexAppend(b1, path)
    assert((served(path) & ids1).nonEmpty,
      "the appending session's next serve must see the appended docs")
    // a writer in ANOTHER session: only the stamp tells this session's
    // handle that postings/ changed under it
    val (b2, ids2) = batch(spark.newSession(), 900200L)
    TextOps.impactIndexAppend(b2, path)
    assert((served(path) & ids2).nonEmpty,
      "a serve after another session's append must see the appended docs")
  }

  test("staleness: a store replaced out of band serves the replacement, never the old rows") {
    val (_, queries, _) = split(sfDir)
    val path = copyOf(store)
    val old = servedRows(queries, path) // the handle is open on the old store
    val replacement = servedRows(queries, kbStore)
    assert(old != replacement, "degenerate fixture: both freezes serve alike")
    deleteTree(path)
    copyTree(kbStore, path)
    assert(servedRows(queries, path) == replacement,
      "after the files changed under it, the serve must reopen")
  }

  test("handle registry: one open per (store, version), shared by every session; a re-freeze reopens") {
    val (corpus, queries, _) = split(sfDir)
    val path = copyOf(store)
    servedRows(queries, path)
    val stores = ImpactHandle.size
    val warm = jobsOf(servedRows(queries, path))
    assert(discovery(warm).isEmpty, s"same version, same session: $warm")
    val other = spark.newSession()
    val otherQueries = split(other, sfDir)._2
    val shared = jobsOf(TextOps.impactSearchServe(otherQueries, path).collect())
    assert(discovery(shared).isEmpty, s"same version, another session: $shared")
    assert(ImpactHandle.size == stores, "a second session must not register a second handle")
    // a re-freeze in place (same files, new stamp) is a new version
    TextOps.writeImpactIndex(corpus, path)
    val reopened = jobsOf(servedRows(queries, path))
    assert(discovery(reopened).nonEmpty, s"a new version must reopen: $reopened")
    assert(servedRows(queries, path) == servedRows(queries, store))
  }

  test("lexGate drains share one handle: the second drain opens nothing and the registry does not grow") {
    import spark.implicits._
    val (corpus, _, _) = split(sfDir)
    val root = Files.createTempDirectory("graft_impdrain").toString
    val idx = s"$root/idx"
    copyTree(store, idx)
    val vocab = corpus.select(org.apache.spark.sql.functions
        .explode(org.apache.spark.sql.functions.split($"text", " ")))
      .filter(org.apache.spark.sql.functions.length($"col") > 0)
      .distinct().limit(40).as[String].collect()
    // each drain is its own streaming query, so its micro-batch runs in
    // a session cloned for that query
    def drain(batch: Seq[(String, String)]): Seq[Job] = {
      rawPostings(batch).coalesce(1).write.mode("append").json(s"$root/staging")
      jobsOf(BronzePipeline.ingest(spark, s"$root/staging", s"$root/bronze",
        s"$root/meta", s"$root/ckpt", Seq(BronzePipeline.lexGate(idx))).awaitTermination())
    }
    def listings(jobs: Seq[Job], table: String): Seq[Job] = jobs.filter(j =>
      j.description.startsWith("Listing leaf files") && j.description.contains(s"$idx/$table/"))
    val opens0 = ImpactHandle.opens
    val first = drain(Seq("d1" -> vocab.take(8).mkString(" "),
      "d2" -> vocab.slice(8, 16).mkString(" ")))
    val (opens1, stores) = (ImpactHandle.opens, ImpactHandle.size)
    val second = drain(Seq("d3" -> vocab.slice(16, 24).mkString(" "),
      "d4" -> vocab.slice(24, 32).mkString(" ")))
    assert(opens1 == opens0 + 1, "the first drain opens the store once, gate and append together")
    // an open is the only place the store's tables are listed from
    // scratch and their schemas inferred
    assert(ImpactHandle.opens == opens1, "the second drain reopened the store")
    assert(ImpactHandle.size == stores, "a drain's cloned session must not register a handle")
    // ids/ (64 buckets: a listing job) is listed by the first drain's
    // open and its append's hand-off, and only by the hand-off after that
    // — the gate's registry check reads the pinned relation
    assert(listings(first, "ids").size == 2, s"first drain: ${listings(first, "ids")}")
    assert(listings(second, "ids").size == 1, s"second drain: ${listings(second, "ids")}")
    assert(TextOps.impactRegisteredIds(spark, idx)
        .filter(col("c_id").isin(Seq("d1", "d2", "d3", "d4").map(xxhashOf): _*)).count() == 4,
      "both drains' docs must land in the store")
  }

  private def xxhashOf(id: String): Long =
    spark.range(1).select(org.apache.spark.sql.functions.xxhash64(
      org.apache.spark.sql.functions.lit(id))).head().getLong(0)
}
