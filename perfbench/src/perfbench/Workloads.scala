package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.ErPipeline
import graft.plans.StageStore
import graft.sources.WebPageGen

/** Per-layer metrics of a traced run. Every workload reports every name;
  * a layer the workload does not call reports 0.
  */
final class Layers {
  private val values = mutable.LinkedHashMap.empty[String, Double]
  Layers.all.foreach { case (n, _, _) => values(n) = 0.0 }

  def update(name: String, v: Double): Unit = {
    require(values.contains(name), s"unknown per-layer metric $name")
    values(name) = v
  }

  def apply(name: String): Double = values(name)

  def group(prefix: String, g: GroupStats): Unit = {
    update(s"$prefix.tasks", g.tasks.toDouble)
    update(s"$prefix.task_s", g.runMs / 1e3)
    update(s"$prefix.skew", g.skew)
    update(s"$prefix.shuffle_write_mb", g.shuffleWriteBytes / 1e6)
    update(s"$prefix.spill_mb", g.spillBytes / 1e6)
  }

  def toSeq: Seq[(String, Double, String)] =
    Layers.all.map { case (n, unit, _) => (n, values(n), unit) }
}

object Layers {
  val PipelineStages = Seq("extract_normalize", "signatures", "candidates", "scores", "clusters")
  val StoreStages = Seq("normalize", "signatures", "candidates", "scores", "clusters")
  val Families = Seq("ann", "dedup", "er", "mm", "q", "stream", "text")
  val Functions = Seq("jaro_winkler", "levenshtein", "cosine", "embed", "minhash_sig", "simhash64")

  /** (name, unit, better) of every per-layer metric, in output order. */
  val all: Seq[(String, String, String)] =
    PipelineStages.flatMap(s => Seq(
      (s"pipeline.$s.wall_s", "s", "lower"), (s"pipeline.$s.tasks", "count", "lower"),
      (s"pipeline.$s.task_s", "s", "lower"), (s"pipeline.$s.skew", "ratio", "lower"),
      (s"pipeline.$s.shuffle_write_mb", "MB", "lower"), (s"pipeline.$s.spill_mb", "MB", "lower"))) ++
    Seq(("pipeline.unattributed_s", "s", "lower"),
      ("pipeline.candidates.pairs", "count", "lower"),
      ("pipeline.candidates.match_ratio", "ratio", "higher"),
      ("pipeline.scores.kernel_share", "ratio", "lower"),
      ("pipeline.docs_per_s", "1/s", "higher"),
      ("pipeline.incremental.wall_s", "s", "lower"),
      ("pipeline.incremental.stages", "count", "lower"),
      ("pipeline.incremental.tasks", "count", "lower"),
      ("pipeline.incremental.task_s", "s", "lower"),
      ("pipeline.incremental.rescored_frac", "ratio", "lower")) ++
    Functions.map(f => (s"functions.$f.ns_per_call", "ns", "lower")) ++
    StoreStages.flatMap(s => Seq(
      (s"plans.$s.write_s", "s", "lower"), (s"plans.$s.read_verify_s", "s", "lower"),
      (s"plans.$s.bytes_mb", "MB", "lower"))) ++
    Seq(("plans.checkpoint_s", "s", "lower"), ("plans.resume_s", "s", "lower")) ++
    Families.flatMap(f => Seq(
      (s"queries.$f.wall_s", "s", "lower"), (s"queries.$f.tasks", "count", "lower"),
      (s"queries.$f.exchanges", "count", "lower"),
      (s"queries.$f.shuffle_write_mb", "MB", "lower"))) ++
    Seq(("queries.p50_s", "s", "lower"), ("queries.p85_s", "s", "lower"),
      ("sources.gen_s", "s", "lower"), ("trace.overhead_s", "s", "lower"))
}

final case class Check(name: String, ok: Boolean, detail: String)

/** One workload: inputs made from the seed, one timed operation, the checks
  * on its outputs, and the traced variant of the operation.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Checks on outputs that only a traced run produces. */
  protected val traceChecks: mutable.ArrayBuffer[Check] = mutable.ArrayBuffer.empty
  /** Seconds the last set-up spent generating pages. */
  var genS = 0.0

  /** Runs `f` as one operation, counting it as failed if it throws. */
  protected def attempt(what: String)(f: => Unit): Unit = {
    attempted += 1
    try f
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$what: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
  }

  /** Builds this seed's inputs, replacing any built before. Timed as set-up. */
  def setup(): Unit

  /** The timed operation. */
  def op(): Unit

  /** Untimed calls before timing starts, so Spark's code generation is done
    * and the JIT has compiled the hot code; by default three calls of the
    * operation, each followed by a wait for the JIT compilers to go idle.
    */
  def warmup(): Unit = (1 to 3).foreach { _ => op(); jitWaitS += Host.awaitJitIdle() }

  /** Seconds the warm-up waited for the JIT compilers to go idle. */
  var jitWaitS = 0.0

  /** Fewest timed calls in a run, however long they take: the run reports
    * their median.
    */
  def minCalls: Int = 3

  /** Whether the warm-up calls the operation, so that every later call
    * costs the same, traced or not.
    */
  def warmupCallsOp: Boolean = true

  /** Correctness checks on the last operation's outputs, run outside the
    * timed window.
    */
  def checks(): Seq[Check]

  /** Pairwise F1 of the last operation's matches, set by checks(). */
  def f1: Double

  /** Runs the operation once with its layers traced; returns the traced
    * wall of the operation (for a run traced stage by stage, the sum of
    * the stage walls).
    */
  def trace(t: Tracer, m: Layers): Double

  /** Per-layer figures that need the untraced operation's wall. */
  def afterTrace(m: Layers, untracedWall: Double, tracedWall: Double): Unit = ()

  /** Figures kept in the run's detail line. */
  def details: Seq[(String, String)] = Seq.empty

  protected val cfg: ErPipeline.Config = ErPipeline.Config()

  protected def materialize(clusters: DataFrame): Long =
    clusters.select("cluster_id").distinct().count()

  /** The repo's F1 gate: reference-rule labeled pairs at matched blocking
    * keys.
    */
  protected def labeledF1(scored: DataFrame, entities: Long): Double =
    ErPipeline.labeledPairMetrics(scored, WebPageGen.labeledPairs(spark, entities, seed))
      .select("f1").head().getDouble(0)
}

/** Full ephemeral pipeline run, timed through cluster materialization. Its
  * traced run also times every catalog query on the reference tables under
  * `tables` (see CatalogPass).
  */
final class ErFull(spark: SparkSession, seed: Long, entities: Long, tables: String, work: String)
    extends Workload(spark, seed) {
  private var pages: DataFrame = _
  private var last: ErPipeline.Result = _
  private var nPages = 0L
  var f1 = Double.NaN
  private var catalogOutputs: String = _

  def setup(): Unit = {
    if (pages != null) pages.unpersist()
    pages = WebPageGen.pages(spark, entities, seed).toDF.cache()
    val (n, wall) = Timing.timed(pages.count())
    nPages = n
    genS = wall
  }

  def op(): Unit = attempt("er_full") {
    val res = ErPipeline.run(spark, pages, cfg)
    materialize(res.clusters)
    if (last != null) last.signatures.unpersist()
    last = res
  }

  def checks(): Seq[Check] = {
    if (last == null) return Seq(Check("er_full.ran", ok = false, "no successful run"))
    val mismatched = ErPipeline.extract(pages)
      .filter(not(col("extracted_text") <=> col("text"))).count()
    f1 = labeledF1(last.scored, entities)
    // the seed the repo's gates are pinned to resolves every entity exactly
    val clusters =
      if (seed != 42L) Seq.empty
      else {
        val n = materialize(last.clusters)
        val truth = WebPageGen.groundTruth(spark, entities, seed)
          .select("truth_cluster").distinct().count()
        Seq(Check("er_full.clusters", n == truth, s"$n clusters, $truth true clusters"))
      }
    Seq(
      Check("er_full.pairwise_f1", f1 >= 0.99, s"f1=$f1"),
      Check("er_full.extraction", mismatched == 0L, s"$mismatched urls with extracted_text != text")) ++
      clusters ++ traceChecks
  }

  def trace(t: Tracer, m: Layers): Double = {
    def stage[T](s: String)(f: => T): (T, Double) = {
      val (r, wall) = t.span(s"pipeline.$s")(f)
      m(s"pipeline.$s.wall_s") = wall
      m.group(s"pipeline.$s", t.group(s"pipeline.$s"))
      (r, wall)
    }
    val (norm, w1) = stage("extract_normalize") {
      ErPipeline.normalize(ErPipeline.extract(pages)).localCheckpoint()
    }
    val (sigs, w2) = stage("signatures")(ErPipeline.signatures(norm, cfg).localCheckpoint())
    val (cands, w3) = stage("candidates")(ErPipeline.candidates(sigs, cfg).localCheckpoint())
    val (scored, w4) = stage("scores")(ErPipeline.scorePairs(cands, sigs, cfg).localCheckpoint())
    val (_, w5) = stage("clusters")(materialize(ErPipeline.clusters(sigs, scored)))
    val pairs = cands.count()
    m("pipeline.candidates.pairs") = pairs.toDouble
    m("pipeline.candidates.match_ratio") =
      scored.filter(col("matches")).count().toDouble / math.max(1L, pairs)
    val (catalogChecks, out) = CatalogPass.trace(spark, tables, work, t, m)
    traceChecks ++= catalogChecks
    catalogOutputs = out
    w1 + w2 + w3 + w4 + w5
  }

  override def afterTrace(m: Layers, untracedWall: Double, tracedWall: Double): Unit = {
    m("pipeline.docs_per_s") = nPages / untracedWall
    m("pipeline.unattributed_s") = untracedWall - tracedWall
  }

  override def details: Seq[(String, String)] =
    Seq("pages" -> nPages.toString) ++
      Option(catalogOutputs).map(o => "catalog_outputs" -> Json.str(o))
}

/** Incremental run against the prior state of a full run: 1% of urls
  * re-stamped, 1% new entities. The prior full run is part of the warm-up,
  * so set-up time tracks the full pipeline at this size. Its traced run
  * also times checkpointing the prior snapshot and resuming from it (see
  * Checkpoints).
  */
final class ErDelta(spark: SparkSession, seed: Long, priorEntities: Long, work: String)
    extends Workload(spark, seed) {
  private val newEntities = math.max(1L, priorEntities / 100)
  private var pages0, sigs0, scored0, clusters0, pages1: DataFrame = _
  private var last: (ErPipeline.Result, ErPipeline.IncrementalStats) = _
  private var expectStale = 0L
  var f1 = Double.NaN

  def setup(): Unit = {
    Seq(pages0, pages1).filter(_ != null).foreach(_.unpersist())
    pages0 = WebPageGen.pages(spark, priorEntities, seed).toDF.cache()
    genS = Timing.timed(pages0.count())._2
    // exactly 1% of the prior urls, picked by a seeded hash, so every seed
    // re-stamps the same number of rows
    val bumped = pages0
      .orderBy(xxhash64(lit(seed), col("url")), col("url"))
      .limit((priorEntities * WebPageGen.Variants.size / 100).toInt)
      .withColumn("warc_ts", col("warc_ts") + expr("INTERVAL 1 DAY"))
    val added = WebPageGen.pages(spark, priorEntities + newEntities, seed)
      .toDF.join(pages0.select("url"), Seq("url"), "left_anti")
    pages1 = pages0.join(bumped.select("url"), Seq("url"), "left_anti")
      .unionByName(bumped).unionByName(added)
      .localCheckpoint()
    expectStale = bumped.count() + added.count()
  }

  /** The prior state: a full run on the prior snapshot, checkpointed (not
    * cached: runIncremental unpersists its prior signatures when it
    * returns, and every call must see the same materialized prior). It
    * also compiles every stage the incremental run shares with the full
    * one. There is no untimed incremental call: it costs about as much on
    * a tiny prior as on this one, and the benchmark's run length has no
    * room for it, so the timed call also pays compiling the incremental
    * plans, as a fresh JVM running one daily increment does.
    */
  override def warmup(): Unit = {
    val full0 = ErPipeline.run(spark, pages0, cfg)
    sigs0 = full0.signatures.localCheckpoint()
    scored0 = full0.scored.localCheckpoint()
    clusters0 = full0.clusters.localCheckpoint()
    full0.signatures.unpersist()
  }

  override def warmupCallsOp: Boolean = false

  /** One call takes longer than a run's measuring time. */
  override def minCalls: Int = 1

  private def incremental(): (ErPipeline.Result, ErPipeline.IncrementalStats) = {
    val r = ErPipeline.runIncremental(spark, pages1, sigs0, scored0, cfg, Some(clusters0))
    materialize(r._1.clusters)
    r
  }

  private def release(r: ErPipeline.Result): Unit =
    Seq(r.signatures, r.candidates, r.scored).foreach(_.unpersist())

  def op(): Unit = attempt("er_delta") {
    val r = incremental()
    if (last != null) release(last._1)
    last = r
  }

  def checks(): Seq[Check] = {
    if (last == null) return Seq(Check("er_delta.ran", ok = false, "no successful run"))
    val full = ErPipeline.run(spark, pages1, cfg)
    val want = Fingerprint.of(full.clusters)
    val got = Fingerprint.of(last._1.clusters)
    full.signatures.unpersist()
    f1 = labeledF1(last._1.scored, priorEntities + newEntities)
    val st = last._2
    Seq(
      Check("er_delta.clusters_hash", got == want, s"incremental $got, full recompute $want"),
      Check("er_delta.stale_rows", st.staleRowCount == expectStale,
        s"${st.staleRowCount} stale rows, $expectStale re-stamped or new"),
      Check("er_delta.pairwise_f1", f1 >= 0.99, s"f1=$f1")) ++ traceChecks
  }

  def trace(t: Tracer, m: Layers): Double = {
    val ((r, st), wall) = t.span("pipeline.incremental")(incremental())
    val g = t.group("pipeline.incremental")
    m("pipeline.incremental.wall_s") = wall
    m("pipeline.incremental.stages") = g.stages.toDouble
    m("pipeline.incremental.tasks") = g.tasks.toDouble
    m("pipeline.incremental.task_s") = g.runMs / 1e3
    m("pipeline.incremental.rescored_frac") =
      st.rescoredPairs.toDouble / math.max(1L, st.rescoredPairs + st.reusedPairs)
    if (last != null) release(last._1)
    last = (r, st)
    traceChecks ++= Checkpoints.trace(spark, pages0, sigs0, scored0, clusters0, cfg, work, seed, t, m)
    wall
  }

  override def details: Seq[(String, String)] =
    if (last == null) Seq.empty
    else Seq(
      "stale_rows" -> last._2.staleRowCount.toString,
      "rescored_pairs" -> last._2.rescoredPairs.toString,
      "reused_pairs" -> last._2.reusedPairs.toString,
      "edges_reclustered" -> last._2.clusterEdgesReclustered.toString,
      "edges_total" -> last._2.clusterEdgesTotal.toString)
}

/** The plans layer: a checkpointed run on an empty stage root (compute,
  * parquet, lineage manifests), a second run on unchanged input served from
  * the manifests, and each StageStore call on its own on frames
  * materialized beforehand. `sigs`, `scored` and `clusters` are the
  * uncheckpointed run's outputs on the same pages.
  */
object Checkpoints {
  private def manifests(root: String): Map[String, (Long, Seq[Byte])] =
    Layers.StoreStages.map { s =>
      val p = Paths.get(root, s, "manifest.json")
      s -> (if (Files.exists(p)) (Files.getLastModifiedTime(p).toMillis, Files.readAllBytes(p).toSeq)
            else (-1L, Seq.empty[Byte]))
    }.toMap

  private def dirBytes(p: Path): Long = {
    val walk = Files.walk(p)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally walk.close()
  }

  def trace(spark: SparkSession, pages: DataFrame, sigs: DataFrame, scored: DataFrame,
      clusters: DataFrame, cfg: ErPipeline.Config, work: String, seed: Long,
      t: Tracer, m: Layers): Seq[Check] = {
    def checkpointed(root: String) = {
      val c = ErPipeline.run(spark, pages, cfg.copy(outRoot = root)).clusters
      c.select("cluster_id").distinct().count()
      c
    }
    val root = s"$work/checkpoint"
    m("plans.checkpoint_s") = t.span("plans.checkpoint")(checkpointed(root))._2
    val before = manifests(root)
    val (resumed, resumeWall) = t.span("plans.resume")(checkpointed(root))
    m("plans.resume_s") = resumeWall
    val served = before.forall(_._2._1 >= 0) && manifests(root) == before
    val want = Fingerprint.of(clusters)
    val got = Fingerprint.of(resumed)
    graft.core.Fs.deleteRecursively(Paths.get(root))

    val norm = ErPipeline.normalize(ErPipeline.extract(pages)).localCheckpoint()
    val cands = ErPipeline.candidates(sigs, cfg).localCheckpoint()
    val store = s"$work/plans"
    Seq("normalize" -> norm, "signatures" -> sigs, "candidates" -> cands,
      "scores" -> scored, "clusters" -> clusters).foreach { case (s, df) =>
      val fp = s"perfbench-$seed-$s"
      m(s"plans.$s.write_s") =
        Timing.timed(StageStore.runStage(spark, store, s, "perfbench", fp)(df))._2
      m(s"plans.$s.read_verify_s") =
        Timing.timed(StageStore.runStage(spark, store, s, "perfbench", fp)(
          throw new IllegalStateException(s"stage $s was not served from its manifest")))._2
      m(s"plans.$s.bytes_mb") = dirBytes(Paths.get(store, s)) / 1e6
    }
    graft.core.Fs.deleteRecursively(Paths.get(store))
    Seq(
      Check("plans.resume_hash", got == want, s"resumed $got, uncheckpointed run $want"),
      Check("plans.served_from_manifest", served, "every stage manifest unchanged by the resume run"))
  }
}

/** The queries layer: every catalog query on the catalog's reference
  * tables in `dir`, each written as parquet under `<work>/catalog_out/<query>`,
  * beside the catalog's oracle SQL. run.py checks the outputs against the
  * repo's DuckDB oracle (scripts/check.py) on the same tables.
  */
object CatalogPass {
  /** Returns the checks and the output directory. */
  def trace(spark: SparkSession, dir: String, work: String, t: Tracer, m: Layers)
      : (Seq[Check], String) = {
    val out = s"$work/catalog_out"
    val runs = graft.queries.Catalog.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      val g = s"queries.$name"
      val (error, wall) = t.span(g) {
        try { q(spark, dir).write.mode("overwrite").parquet(s"$out/$name"); None }
        catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      }
      (name, error, wall, t.group(g))
    }
    runs.groupBy(_._1.takeWhile(_ != '_')).foreach { case (f, rs) =>
      m(s"queries.$f.wall_s") = rs.map(_._3).sum
      m(s"queries.$f.tasks") = rs.map(_._4.tasks).sum.toDouble
      m(s"queries.$f.exchanges") = rs.map(_._4.exchanges).sum.toDouble
      m(s"queries.$f.shuffle_write_mb") = rs.map(_._4.shuffleWriteBytes).sum / 1e6
    }
    m("queries.p50_s") = Timing.quantile(runs.map(_._3), 0.5)
    m("queries.p85_s") = Timing.quantile(runs.map(_._3), 0.85)
    Files.writeString(Paths.get(out, "oracle_sql.json"),
      Json.obj(graft.queries.Catalog.oracleSql.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) }))
    val broken = runs.filter(_._2.nonEmpty)
    (Seq(Check("catalog.all_ran", broken.isEmpty,
      broken.map(r => s"${r._1} ${r._2.get}").mkString("; "))), out)
  }
}
