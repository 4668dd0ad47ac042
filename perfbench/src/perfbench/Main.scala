package perfbench

/** Benchmark entry point: one workload in one JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --tables <dir>
  *
  * Untraced (--trace 0): set-up (three times), the workload's warm-up,
  * the operation in a closed loop for --seconds and at least the
  * workload's fewest calls, then the correctness
  * checks; prints the end-to-end metrics. Traced (--trace 1): set-up, the
  * warm-up, untraced and traced calls of the operation (the tracing
  * overhead), one call traced layer by layer with the layer-level calls,
  * the kernel microbenchmark, then the checks; prints the per-layer
  * metrics. The gated times are CPU seconds of this JVM: `setup_s` of all
  * its threads, `op_cpu_s` of all but the JVM's JIT compiler and GC
  * threads (see README.md for the measurements behind this). The walls
  * and the JVM threads' share are in the details line. `--tables` holds the catalog's reference tables. The last
  * stdout line is the result object; the line before it holds the run's
  * details.
  */
object Main {
  /** Input sizes, fixed so every run of a workload does the same work. */
  val ErFullEntities = 2000L
  val ErDeltaPriorEntities = 500L
  /** Set-ups per untraced run; set-up time is their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")

    // host quietness before we add load: half a second of /proc/stat
    val q0 = Host.sample(); Thread.sleep(500); val q1 = Host.sample()
    val (idleBefore, stealBefore) = Host.shares(q0, q1)

    val (spark, session) = Timing.cost(Session.create(work))
    val w: Workload = workload match {
      case "er_full" => new ErFull(spark, seed, ErFullEntities, opt("tables"), work)
      case "er_delta" => new ErDelta(spark, seed, ErDeltaPriorEntities, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setups = (1 to (if (traced) 1 else SetupReps)).map(_ => Timing.cost(w.setup())._2)
    val warmup = Timing.cost(w.warmup())._2

    val c0 = Host.sample()
    val gc0 = Host.gcSeconds()
    var ops: Seq[Cost] = Seq.empty
    var tracedOpWalls: Seq[Double] = Seq.empty
    var layers: Layers = null
    if (!traced) ops = Timing.closedLoop(seconds, w.minCalls)(w.op())
    else {
      layers = new Layers
      ops = Seq(Timing.cost(w.op())._2)
      // tracing overhead: the same call without and with a Tracer (listener
      // registered, job group set), both after the warm-up's calls. A
      // workload whose warm-up does not call the operation has no warm call
      // to compare with (its first call also compiles) and reports 0.
      if (w.warmupCallsOp) {
        val t = new Tracer(spark)
        tracedOpWalls = Seq(try t.span("trace.op")(w.op())._2 finally t.close())
        layers("trace.overhead_s") = tracedOpWalls.head - ops.head.wall
      }
      val t = new Tracer(spark)
      val tracedWall = w.trace(t, layers)
      t.close()
      w.afterTrace(layers, ops.head.wall, tracedWall)
      layers("sources.gen_s") = w.genS
      Kernels.measure(seed).foreach { case (k, ns) => layers(s"functions.$k.ns_per_call") = ns }
      // scoreOf calls two Jaro-Winklers, two Levenshteins and one cosine
      // per pair: their microbenchmarked cost over the stage's task time
      val scoresTaskS = layers("pipeline.scores.task_s")
      if (scoresTaskS > 0) layers("pipeline.scores.kernel_share") =
        layers("pipeline.candidates.pairs") * 1e-9 * (
          2 * layers("functions.jaro_winkler.ns_per_call") +
            2 * layers("functions.levenshtein.ns_per_call") +
            layers("functions.cosine.ns_per_call")) / scoresTaskS
    }
    val c1 = Host.sample()
    val gcS = Host.gcSeconds() - gc0
    val (idleDuring, stealDuring) = Host.shares(c0, c1)
    val checks = w.checks()
    spark.stop()
    val metrics: Seq[(String, Double, String)] =
      if (traced) layers.toSeq
      else Seq(
        ("setup_s", session.cpu + warmup.cpu + Timing.median(setups.map(_.cpu)), "s"),
        ("op_cpu_s", Timing.median(ops.map(_.workCpu)), "s"),
        ("pairwise_f1", w.f1, "ratio"),
        ("peak_rss_mb", Host.peakRssMb(), "MB"))

    val correct = w.failed == 0 && checks.forall(_.ok)
    val detail = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "seed" -> seed.toString,
      "session_wall_s" -> Json.num(session.wall),
      "session_cpu_s" -> Json.num(session.cpu),
      "warmup_wall_s" -> Json.num(warmup.wall),
      "warmup_cpu_s" -> Json.num(warmup.cpu),
      "jit_wait_s" -> Json.num(w.jitWaitS),
      "setup_walls_s" -> setups.map(c => Json.num(c.wall)).mkString("[", ",", "]"),
      "setup_cpus_s" -> setups.map(c => Json.num(c.cpu)).mkString("[", ",", "]"),
      "op_walls_s" -> ops.map(c => Json.num(c.wall)).mkString("[", ",", "]"),
      "op_cpus_s" -> ops.map(c => Json.num(c.cpu)).mkString("[", ",", "]"),
      "op_jvm_cpus_s" -> ops.map(c => Json.num(c.jvmCpu)).mkString("[", ",", "]"),
      "traced_op_walls_s" -> tracedOpWalls.map(Json.num).mkString("[", ",", "]"),
      "cpu_idle_before" -> Json.num(idleBefore),
      "cpu_steal_before" -> Json.num(stealBefore),
      "cpu_idle_during" -> Json.num(idleDuring),
      "cpu_steal_during" -> Json.num(stealDuring),
      "gc_s_during" -> Json.num(gcS),
      "checks" -> checks.map(c => Json.obj(Seq(
        "name" -> Json.str(c.name), "ok" -> c.ok.toString, "detail" -> Json.str(c.detail))))
        .mkString("[", ",", "]"),
      "errors" -> w.errors.map(Json.str).mkString("[", ",", "]")) ++ w.details)
    println(Json.obj(Seq("details" -> detail)))
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> w.attempted.toString,
      "failed" -> w.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, unit) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      }))))
    System.out.flush()
    if (!correct) System.exit(1)
  }
}
