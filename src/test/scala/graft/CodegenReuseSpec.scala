package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame

/** Pins that a rerun plan reuses the generated classes of its first
  * run instead of compiling them again in Janino (see GraftSession's
  * generated-class cache and artifact-isolation settings).
  *
  * The compile counter is JVM-wide; specs run one after another in
  * the forked test JVM, so nothing else compiles between two reads.
  */
class CodegenReuseSpec extends SparkSpec {

  private def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Janino compiles while `body` runs. */
  private def compilesDuring(body: => Unit): Long = {
    val before = compiles()
    body
    compiles() - before
  }

  private def gate(name: String): DataFrame = SparkEntry.queries(name)(spark, sf())

  /** One round of perfbench's gates, each built anew and materialized
    * as Bench's timed action does. A round in a fresh JVM compiles
    * about 180 classes, more than Spark's default cache of 100 holds,
    * so with that default the second round recompiles.
    *
    * Left out: q_corpus_prep_full, q_semdedup and q_v3_rate, whose
    * reruns compiled 2–16 classes in 1 to 4 of 5 repeated rounds. AQE
    * creates their query stages in an order that depends on which
    * concurrent stage finishes first, so the whole-stage codegen ids,
    * which Spark puts in the generated class names, differ from run
    * to run (q_semdedup's plan also changes shape with the state of
    * its cached frames). Every gate here compiled 0 in those rounds.
    */
  private val round = Seq("q_quality_score", "q_token_count",
    "q_unicode_clean", "q_decontaminate", "q_dedup_clusters", "q_ann_bruteforce",
    "q_v2_avg_age", "q_v4_ml_dataset", "q_point_lookup",
    "q_event_windows", "q_sessionize", "q_medallion_silver")

  private def runRound(): Unit = {
    // as between perfbench passes: no cached frame survives a round,
    // so the second round runs the same plans as the first
    spark.catalog.clearCache()
    round.foreach(q => gate(q).queryExecution.toRdd.foreach(_ => ()))
  }

  test("session carries the codegen cache bound and no artifact isolation") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      GraftSession.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") === "false")
  }

  test("a repeated round of gates compiles no generated class again") {
    val first = compilesDuring(runRound())
    val second = compilesDuring(runRound())
    assert(second === 0L, s"first round compiled $first classes")
  }

  test("a gate written once and then counted compiles nothing the second time") {
    // perfbench's cold pass collects or writes a gate, its timed pass
    // counts the rebuilt frame through toRdd: the executor-side code
    // of the second run must come from the cache. Neither gate is in
    // `round`, whose reruns would have cached their classes already;
    // under artifact isolation the collected gate's count recompiled.
    val out = java.nio.file.Files.createTempDirectory("graft_codegen_reuse").toFile
    try {
      gate("q_tfidf").write.mode("overwrite").parquet(out.getPath)
      assert(compilesDuring(gate("q_tfidf").queryExecution.toRdd.count()) === 0L)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out)
    gate("q_v1_active_by_type").collect()
    assert(compilesDuring(gate("q_v1_active_by_type").queryExecution.toRdd.count()) === 0L)
  }
}
