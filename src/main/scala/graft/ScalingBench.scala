package graft

import org.apache.spark.sql.SparkSession

/** N-vs-4N scaling evidence (north rule): run the identical ER pipeline
  * job at local[8] and local[32] on the same generated input and report
  * throughput at both; scaling efficiency = (thr32/thr8)/4. This sandbox
  * has no real cluster; two parallelism levels in local mode are the
  * sanctioned stand-in (see BASELINE.md).
  *
  * One measurement per JVM (scripts/scaling_pair.sh orchestrates both and
  * computes the efficiency) — sharing a JVM between the two runs biases
  * the second with the first's heap/GC state.
  *
  * Usage: runMain graft.ScalingBench <cores> [nEntities]
  */
object ScalingBench {

  def main(args: Array[String]): Unit = {
    val cores = if (args.nonEmpty) args(0).toInt else 8
    val nEntities = if (args.length > 1) args(1).toLong else 60000L
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graft-scaling-$cores")
      // Shuffle width is data-sized, not core-sized: start wide and let AQE
      // coalesce to the advisory target. core*2 width made the 5 GB
      // pair-join shuffles land in ~660 MB partitions whose sort-merge
      // sorts spilled to disk — and disk does not scale with cores.
      .config("spark.sql.shuffle.partitions", "1024")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "1024")
      // hash-join instead of sort-merge where the per-partition build side
      // fits (it does, at 64 MB partitions): no giant per-partition sorts
      .config("spark.sql.join.preferSortMergeJoin", "false")
      // decompressed 64 MB partitions spilled the pair-join sorts/aggs at
      // 4 cores (3 GB spill measured); 16 MB keeps every operator in memory
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // warmup: exercises generation + all pipeline codegen at small scale
    val w = graft.sources.WebPageGen.pages(spark, 200L).toDF
    graft.pipeline.ErPipeline.run(spark, w, graft.pipeline.ErPipeline.Config())
      .clusters.count()

    val pages = graft.sources.WebPageGen.pages(spark, nEntities).toDF.cache()
    val n = pages.count()
    val t0 = System.nanoTime()
    val res = graft.pipeline.ErPipeline.run(spark, pages, graft.pipeline.ErPipeline.Config())
    res.clusters.select("cluster_id").distinct().count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(
      f"""{"metric":"pipeline_throughput","cores":$cores,"pages":$n,""" +
        f""""sec":$sec%.1f,"docs_per_sec":${n / sec}%.1f}""")
    spark.stop()
  }
}
