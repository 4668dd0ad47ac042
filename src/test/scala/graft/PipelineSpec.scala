package graft

import org.apache.spark.sql.functions._

import graft.pipeline.ErPipeline
import graft.sources.WebPageGen

/** End-to-end golden test (SURVEY.md par.5 item 3): seeded synthetic
  * web-page corpus -> full pipeline -> byte-identical extraction, blocking
  * recall, pairwise F1 >= 0.99 on reference-rule labeled pairs, and exact
  * cluster assignments vs ground truth.
  */
class PipelineSpec extends SparkSpec {

  private val N = 150L
  private lazy val pages = WebPageGen.pages(spark, N).toDF.cache()
  private lazy val cfg = ErPipeline.Config()
  private lazy val result = {
    val norm = ErPipeline.normalize(ErPipeline.extract(pages))
    val sigs = ErPipeline.signatures(norm, cfg).cache()
    val cands = ErPipeline.candidates(sigs, cfg)
    val scored = ErPipeline.scorePairs(cands, sigs, cfg).cache()
    val clustered = ErPipeline.clusters(sigs, scored)
    (sigs, cands, scored, clustered)
  }

  test("generator is deterministic") {
    val a = WebPageGen.labeledPage(42L, 7L, 1)
    val b = WebPageGen.labeledPage(42L, 7L, 1)
    assert(a === b.copy(html = a.html) && a.html.toSeq === b.html.toSeq)
    assert(pages.count() === N * WebPageGen.Variants.size)
  }

  test("byte-identical extracted text per url (north-rule invariant)") {
    val extracted = ErPipeline.extract(pages)
    val mismatches = extracted.filter(col("text") =!= col("extracted_text")).count()
    assert(mismatches === 0L)
  }

  test("blocking recall: every labeled duplicate pair shares a block") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val dupPairs = labeled.filter(col("label") === 1)
    val cands = result._2
    val missed = dupPairs.join(cands, Seq("url1", "url2"), "left_anti").count()
    assert(missed === 0L, s"$missed duplicate pairs not surfaced by blocking")
  }

  test("pairwise F1 >= 0.99 on labeled pairs at matched blocking keys") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val m = ErPipeline.labeledPairMetrics(result._3, labeled).head()
    val f1 = m.getAs[Double]("f1")
    info(s"tp=${m.getAs[Long]("tp")} fp=${m.getAs[Long]("fp")} " +
      s"fn=${m.getAs[Long]("fn")} f1=$f1")
    assert(f1 >= 0.99, s"F1 $f1 below target; metrics row: $m")
  }

  test("clusters exactly match ground-truth entities") {
    val truth = WebPageGen.groundTruth(spark, N)
    val got = result._4 // url, cluster_id
    val joined = got.join(truth.select("url", "truth_cluster"), "url")
    // a predicted cluster must map to exactly one truth cluster and back
    val p2t = joined.groupBy("cluster_id")
      .agg(countDistinct("truth_cluster").as("n")).filter(col("n") > 1).count()
    val t2p = joined.groupBy("truth_cluster")
      .agg(countDistinct("cluster_id").as("n")).filter(col("n") > 1).count()
    assert(p2t === 0L, s"$p2t predicted clusters span multiple truth entities (merges)")
    assert(t2p === 0L, s"$t2p truth entities split across predicted clusters")
    assert(got.count() === pages.count())
  }

  test("threshold calibration finds a high-F1 plateau containing the default") {
    val labeled = WebPageGen.labeledPairs(spark, N)
    val cal = ErPipeline.calibrate(result._3, labeled, (5 to 90 by 5).map(_ / 100.0))
    val best = cal.head()
    info(s"best threshold=${best.getAs[Double]("threshold")} f1=${best.getAs[Double]("f1")}")
    assert(best.getAs[Double]("f1") >= 0.99)
    // the shipped default threshold must sit on the high-F1 plateau
    val f1AtDefault = cal.filter(col("threshold") === cfg.matchThreshold)
      .head().getAs[Double]("f1")
    assert(f1AtDefault >= 0.99, s"default threshold f1=$f1AtDefault")
  }

  test("n_closest-style candidate cap bounds fan-out without hurting F1") {
    val capCfg = cfg.copy(maxCandidatesPerRecord = 50)
    val norm = ErPipeline.normalize(ErPipeline.extract(pages))
    val sigs = ErPipeline.signatures(norm, capCfg).cache()
    val cands = ErPipeline.candidates(sigs, capCfg).cache()
    // hard bound holds per record
    val maxFan = cands.groupBy("url1").count().agg(max("count")).head().getLong(0)
    assert(maxFan <= 50, s"cap violated: a record emitted $maxFan pairs")
    // schema identical to the uncapped path (internal rank cols dropped)
    assert(cands.columns.toSeq === Seq("url1", "url2", "block_key"))
    // recall on labeled duplicates survives the cap (true pairs share the
    // most keys, so they rank first)
    val scored = ErPipeline.scorePairs(cands, sigs, capCfg)
    val labeled = WebPageGen.labeledPairs(spark, N)
    val f1 = ErPipeline.labeledPairMetrics(scored, labeled).head().getAs[Double]("f1")
    info(s"capped f1=$f1")
    assert(f1 >= 0.99, s"F1 $f1 under candidate cap")
  }

  test("matchProbe scores an ad-hoc pair with production semantics") {
    import ErPipeline.ProbeRecord
    val same = ErPipeline.matchProbe(spark,
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "555-0100", "NY", "10001"),
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "(555) 0100", "ny", "10001")).head()
    assert(same.getAs[Boolean]("matches"), s"identical contact should match: $same")
    val diff = ErPipeline.matchProbe(spark,
      ProbeRecord("Ada", "Lovelace", "ada@calc.org", "555-0100", "NY", "10001"),
      ProbeRecord("Zed", "Quux", "zq@other.net", "555-9999", "CA", "94016")).head()
    assert(!diff.getAs[Boolean]("matches"), s"unrelated contact should not match: $diff")
    assert(same.getAs[Double]("score") > diff.getAs[Double]("score"))
  }

  test("pooled mode bounds hot blocks: pair volume O(n x window), cold blocks unchanged") {
    import spark.implicits._
    val cfg = ErPipeline.Config() // maxBlock 48, hotWindow 6
    // one synthetic hot key shared by a 40-record source pool and a
    // 600-record search pool, plus a cold key with bounded membership
    val srcSigs = (0 until 40)
      .map(i => (f"src://$i%04d", Seq("hot") ++ (if (i < 5) Seq("cold") else Nil)))
      .toDF("url", "block_keys")
    val seaSigs = (0 until 600)
      .map(i => (f"sea://$i%04d", Seq("hot") ++ (if (i < 10) Seq("cold") else Nil)))
      .toDF("url", "block_keys")
    val pairs = ErPipeline.candidatesPooled(srcSigs, seaSigs, cfg).cache()
    val n = pairs.count()
    // hot key contributes <= 40 * 2*hotWindow; cold key <= 5 * 10;
    // WITHOUT the bound the hot key alone would emit 40 * 600 = 24000
    assert(n <= 40L * 2 * cfg.hotWindow + 5L * 10,
      s"hot block not bounded: $n pairs")
    assert(n > 0)
    // every source record in the hot block still gets neighbors
    assert(pairs.select("url1").distinct().count() === 40L)
    // cold blocks keep exact full-bipartite semantics: restricting to the
    // cold key reproduces the plain join (the pre-bound construction)
    val coldOnly = ErPipeline.candidatesPooled(
      srcSigs.filter(size(col("block_keys")) === 2)
        .withColumn("block_keys", array(lit("cold"))),
      seaSigs.filter(size(col("block_keys")) === 2)
        .withColumn("block_keys", array(lit("cold"))), cfg)
    assert(coldOnly.count() === 5L * 10)
  }

  /** No AQE coalescing: the range exchange keeps all shuffle partitions,
    * so a hot key spans several of them and the rank offsets matter.
    */
  private def uncoalesced[T](body: => T): T =
    withConf("spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[Seq[Any]] =
    df.select("url1", "url2", "block_key").collect().map(_.toSeq).toSet

  /** Dedup emitted (url1, url2, key) triples to the min shared key. */
  private def minKey(emitted: Seq[(String, String, String)]): Set[Seq[Any]] =
    emitted.groupBy(p => (p._1, p._2))
      .map { case ((u1, u2), ps) => Seq(u1, u2, ps.map(_._3).min) }.toSet

  /** Brute-force sorted neighborhood over (key, url) rows: a block of at
    * most maxBlock members pairs fully, a bigger one pairs each member
    * with the next hotWindow members in url order.
    */
  private def refPairs(rows: Seq[(String, String)], c: ErPipeline.Config) =
    minKey(rows.groupBy(_._1).toSeq.flatMap { case (bk, r) =>
      val us = r.map(_._2).sorted
      val reach = if (us.size > c.maxBlock) c.hotWindow else us.size
      for (i <- us.indices; j <- i + 1 to math.min(i + reach, us.size - 1))
        yield (us(i), us(j), bk)
    })

  /** Brute-force pooled probe: a search block of at most maxBlock members
    * pairs fully; in a bigger one each source url pairs with the
    * 2*hotWindow search urls nearest its own position in url order
    * (equal urls: the search url comes first). No self pairs.
    */
  private def refPooled(src: Seq[(String, String)], sea: Seq[(String, String)],
      c: ErPipeline.Config) = {
    val seaBy = sea.groupBy(_._1).map { case (bk, r) => bk -> r.map(_._2).sorted }
    minKey(src.flatMap { case (bk, u1) =>
      val s = seaBy.getOrElse(bk, Nil)
      val pos = s.count(_ <= u1)
      val near = if (s.size <= c.maxBlock) s
        else s.slice(math.max(0, pos - c.hotWindow), pos + c.hotWindow)
      near.filter(_ != u1).map(u2 => (u1, u2, bk))
    })
  }

  test("hot-block rank is distributed (>1 task per key) and equals the url sort order") {
    // one planted 100k-member block. AQE sizes range partitions by BYTES
    // (a 100k-row test block is a few MB and would legitimately coalesce
    // to one partition; a real 10^8-row block would not) — shrink the
    // advisory size so the test observes the multi-task split the real
    // scale would produce.
    withConf("spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k") {
      val n = 100000
      val rows = spark.range(n)
        .select(lit("hot:block").as("bk"),
          concat(lit("u://"), lpad(col("id").cast("string"), 7, "0")).as("url"))
      val ranked = ErPipeline.rankWithinBlocks(rows).cache()
      // the ranking work for the single key ran in MULTIPLE range partitions
      val pids = ranked.select("_pid").distinct().count()
      assert(pids > 1, s"whole key ranked in one task (pids=$pids)")
      // ranks are exactly the url sort order, 1..n, no gaps or dups
      val mismatch = ranked
        .withColumn("expect", expr("cast(substring(url, 5) as long) + 1"))
        .filter(col("rn") =!= col("expect")).count()
      assert(mismatch === 0L, "distributed rank diverges from url order")
      assert(ranked.select("rn").distinct().count() === n.toLong)
      ranked.unpersist()
    }
  }

  test("hot-block pairing equals the brute-force sorted-neighborhood reference") {
    val sigs = ErPipeline.signatures(
      ErPipeline.normalize(ErPipeline.extract(pages)), cfg).cache()
    val small = ErPipeline.Config(maxBlock = 2, hotWindow = 3)
    val rows = sigs.select("url", "block_keys").collect().toSeq
      .flatMap(r => r.getSeq[String](1).map(_ -> r.getString(0)))
    assert(rows.groupBy(_._1).values.exists(_.size > small.maxBlock), "no hot block")
    val got = uncoalesced(pairSet(ErPipeline.candidates(sigs, small)))
    val want = refPairs(rows, small)
    assert(got === want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty)
    sigs.unpersist()
  }

  /** One "hot" key over both pools; the pooled probe must equal refPooled. */
  private def pooledHot(srcUrls: Seq[String], seaUrls: Seq[String],
      c: ErPipeline.Config): Set[Seq[Any]] = {
    import spark.implicits._
    def sigs(us: Seq[String]) = us.map(u => (u, Seq("hot"))).toDF("url", "block_keys")
    val got = uncoalesced(pairSet(ErPipeline.candidatesPooled(sigs(srcUrls), sigs(seaUrls), c)))
    val want = refPooled(srcUrls.map("hot" -> _), seaUrls.map("hot" -> _), c)
    assert(got === want, s"missing=${(want -- got).take(3)} extra=${(got -- want).take(3)}")
    assert(got.nonEmpty)
    got
  }

  private val pooledCfg = ErPipeline.Config(maxBlock = 10, hotWindow = 4)

  // the two pools' urls interleave, and some source urls equal a search url
  test("pooled hot-block probe equals the brute-force reference: search-heavy block") {
    val got = pooledHot(
      (0 until 30).map(i => f"u://${i * 10}%04d" + (if (i % 2 == 0) "" else "x")),
      (0 until 300).map(i => f"u://$i%04d"), pooledCfg)
    // bounded: every source probes <= 2*hotWindow search neighbors
    assert(got.size <= 30 * 2 * pooledCfg.hotWindow)
  }

  test("pooled hot-block probe equals the brute-force reference: source-heavy block") {
    val got = pooledHot(
      (0 until 300).map(i => f"u://$i%04d" + (if (i % 3 == 0) "" else "x")),
      (0 until 30).map(i => f"u://${i * 10}%04d"), pooledCfg)
    assert(got.size <= 300 * 2 * pooledCfg.hotWindow)
  }

  test("incremental staleRows picks exactly new/updated urls (I1)") {
    import spark.implicits._
    val prior = pages.select(col("url"), col("warc_ts")).limit(900)
    val bumped = pages.limit(50)
      .select(col("url"), (col("warc_ts") + expr("INTERVAL 1 DAY")).as("warc_ts"),
        col("html"), col("text"), col("lang"))
    val input = pages.join(bumped.select("url"), Seq("url"), "left_anti")
      .unionByName(bumped.select(pages.columns.map(col): _*))
    val stale = ErPipeline.staleRows(input, prior, "url", "warc_ts")
    val expected = input.join(prior.withColumnRenamed("warc_ts", "prev"), Seq("url"), "left")
      .filter(col("prev").isNull || col("warc_ts") > col("prev")).count()
    assert(stale.count() === expected)
    assert(stale.count() < input.count(), "incremental run must skip unchanged rows")
  }
}
