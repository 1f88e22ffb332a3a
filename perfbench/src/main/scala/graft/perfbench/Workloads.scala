package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.operators.{DateStandardizer, Profiler}
import graft.pipeline.Medallion
import graft.sources.{Readers, Writers}

/** One call into a graft module, timed as build → plan → exec.
  *
  * `build` returns the DataFrame (analysis plus any eager jobs). A
  * query step is then planned (`executedPlan`) and materialized in
  * full (`toRdd`); a `sink` step hands the frame to a graft writer,
  * which plans inside its own call, and returns the path it wrote.
  * `check` names the entry of `oracle_sql.json` (or a rows-only
  * directory) the step's output is compared with, and `checkFrame`
  * reads a sink's output back for that comparison.
  */
final case class Step(name: String, layer: String, build: () => DataFrame,
                      sink: Option[DataFrame => String] = None,
                      check: Option[String] = None,
                      checkFrame: Option[() => DataFrame] = None)

/** A workload: its steps, extra oracle SQL for steps no gate defines,
  * and the boolean `_check` gates run once after the cold pass.
  */
final case class Workload(steps: Seq[Step], oracles: Map[String, String],
                          checkGates: Seq[String])

object Workloads {
  val names: Seq[String] = Seq("medallion_etl", "corpus_dedup")

  /** Module each step's time is attributed to. `engine` is Spark
    * itself: plain DataFrame queries composed in SparkEntry.
    */
  val layers: Seq[String] = Seq("sources", "pipeline", "operators", "dedup", "ann",
    "streaming", "functions", "engine")

  private lazy val gates = SparkEntry.queries

  private def gate(spark: SparkSession, dir: String, name: String, layer: String): Step =
    Step(name, layer, () => gates(name)(spark, dir), check = Some(name))

  def apply(name: String, spark: SparkSession, dataDir: String, lakeDir: String): Workload =
    name match {
      case "medallion_etl" => medallion(spark, dataDir, lakeDir)
      case "corpus_dedup" => Workload(Seq(
          // rows-only gate: checked against the LSH-free prep oracle, as
          // the generated corpus has no near-duplicates at Jaccard 0.8
          // besides exact copies, which prep already drops
          gate(spark, dataDir, "q_corpus_prep_full", "pipeline").copy(check = Some("corpus_prep_full")),
          gate(spark, dataDir, "q_tfidf", "operators"),
          gate(spark, dataDir, "q_quality_score", "functions"),
          gate(spark, dataDir, "q_token_count", "functions"),
          gate(spark, dataDir, "q_unicode_clean", "functions"),
          gate(spark, dataDir, "q_decontaminate", "pipeline"),
          gate(spark, dataDir, "q_dedup_clusters", "dedup"),
          gate(spark, dataDir, "q_semdedup", "dedup"),
          gate(spark, dataDir, "q_ann_bruteforce", "ann")),
        Map("corpus_prep_full" -> SparkEntry.oracleSql("q_corpus_prep")), Seq("q_semdedup_check"))
    }

  /** Where the medallion setup writes the raw registry CSV. */
  def rawCsv(dataDir: String): String = s"$dataDir/raw_registry.csv"

  /** Setup for `medallion_etl`: the raw registry CSV, written once from
    * `Medallion.rawFromOrders` over the generated orders.
    */
  def writeRaw(spark: SparkSession, dataDir: String): Unit =
    Medallion.rawFromOrders(spark, dataDir).write.mode("overwrite")
      .option("header", "true").csv(rawCsv(dataDir))

  private val rawSchema = StructType(Seq(
    StructField("Matricula", LongType), StructField("Estado", StringType),
    StructField("FechaMatricula", StringType),
    StructField("ClaseIdentificacion", StringType), StructField("IdTitular", LongType)))

  private val silverRules = Seq(
    "fecha_nula" -> col("fecha_matricula").isNull,
    "estado_abierto" -> (col("estado") === "O"),
    "estado_pendiente" -> (col("estado") === "P"),
    "sin_titular" -> col("titular_name").isNull,
    "persona_juridica" -> (col("tipo_persona") === 2L))

  private val silverMessages = Map(
    "fecha_nula" -> "fecha de matricula nula",
    "estado_abierto" -> "registro abierto",
    "estado_pendiente" -> "registro pendiente",
    "sin_titular" -> "titular sin catalogo",
    "persona_juridica" -> "persona juridica")

  private val vigencia = java.sql.Date.valueOf("1998-12-01")

  /** The paper's three Glue jobs, then analytical queries over the lake. */
  private def medallion(spark: SparkSession, dataDir: String, lake: String): Workload = {
    val bronze = s"$lake/bronze"
    val silver = s"$lake/silver"
    val errlog = s"$lake/error_log"
    val dim = s"$lake/gold_dim"
    val fact = s"$lake/gold_fact"
    def read(p: String) = Readers.parquet(spark, p)
    def gold() = Medallion.gold(read(silver), Seq("id_titular", "titular_name"),
      Seq("id_titular", "matricula", "antiguedad"), vigencia)
    def writeTable(p: String)(df: DataFrame): String = { Writers.parquetPartitioned(df, p, Nil); p }

    val steps = Seq(
      // bronze: robust CSV read of the landing zone, year-partitioned parquet
      Step("bronze_ingest", "sources",
        () => Readers.csv(spark, rawCsv(dataDir), schema = Some(rawSchema))
          .withColumn("record_ts", col("FechaMatricula"))
          .transform(DateStandardizer.standardize(_, Seq("record_ts"))),
        sink = Some { df => Writers.parquetByYear(df, bronze, "record_ts"); bronze },
        check = Some("medallion_bronze"),
        checkFrame = Some(() => read(bronze).select("Matricula", "IdTitular", "year_partition"))),
      Step("bronze_profiles", "operators",
        () => {
          val b = read(bronze)
          Profiler.nullProfile(b).crossJoin(Profiler.dupProfile(b, Seq("Matricula")))
        },
        check = Some("medallion_bronze_profiles")),
      // silver: business rules with in-flight counts, partitioned write
      Step("silver_build", "pipeline",
        () => {
          val catalog = read(s"$dataDir/customer.parquet").select("c_custkey", "c_name")
          val (out, inObs, outObs) = Medallion.silverObserved(
            read(bronze).drop("record_ts", "year_partition"), catalog, "c_custkey", "c_name", 2026)
          Observed.last = Some((inObs, outObs))
          out
        },
        sink = Some { df =>
          Writers.parquetByYear(df, silver, "fecha_matricula")
          Observed.verify()
          silver
        },
        check = Some("q_medallion_silver"),
        checkFrame = Some(() => read(silver).select(col("matricula"), col("estado"),
          date_format(col("fecha_matricula"), "yyyy-MM-dd").as("fecha_matricula"),
          col("clase_identificacion"), col("id_titular"), col("titular_name"),
          col("tipo_persona"), col("antiguedad"), col("id_unico")))),
      Step("silver_error_log", "operators",
        () => Profiler.errorLog(Profiler.validate(read(silver), silverRules), silverMessages),
        sink = Some { df => Writers.errorLogCsv(df, errlog); errlog },
        check = Some("medallion_error_log"),
        checkFrame = Some(() => spark.read.option("header", "true")
          .schema("columna STRING, mensaje_error STRING, valor STRING").csv(errlog)
          .select(col("columna"), col("mensaje_error"), col("valor").cast("long").as("n_rows")))),
      // gold: star schema from silver, integrity check
      Step("gold_dim", "pipeline", () => gold()._1, sink = Some(writeTable(dim)),
        check = Some("medallion_gold_dim"), checkFrame = Some(() => read(dim))),
      Step("gold_fact", "pipeline", () => gold()._2, sink = Some(writeTable(fact)),
        check = Some("medallion_gold_fact"), checkFrame = Some(() => read(fact))),
      Step("gold_orphans", "pipeline", () => gold()._3, check = Some("q_integrity_orphans")),
      // analytical queries: V1-V4, a point lookup, and the event
      // stream's windows and sessions
      gate(spark, dataDir, "q_v1_active_by_type", "engine"),
      gate(spark, dataDir, "q_v2_avg_age", "engine"),
      gate(spark, dataDir, "q_v3_rate", "engine"),
      gate(spark, dataDir, "q_v4_ml_dataset", "engine"),
      gate(spark, dataDir, "q_point_lookup", "engine"),
      gate(spark, dataDir, "q_event_windows", "streaming"),
      gate(spark, dataDir, "q_sessionize", "streaming"))
    Workload(steps, medallionOracles, Nil)
  }

  /** Observations of the last silver build, verified after its write:
    * every bronze row reaches silver, dated and enriched.
    */
  private object Observed {
    var last: Option[(org.apache.spark.sql.Observation, org.apache.spark.sql.Observation)] = None
    def verify(): Unit = last.foreach { case (in, out) =>
      val rowsIn = in.get("rows_in").asInstanceOf[Long]
      val o = out.get
      val ok = o("rows_out") == rowsIn && o("null_dates") == 0L && o("unenriched") == 0L
      last = None
      if (!ok) throw new IllegalStateException(s"silver observations: rows_in=$rowsIn $o")
    }
  }

  /** DuckDB oracles for the medallion steps no gate defines, over the
    * same generated `orders` and `customer`.
    */
  private val medallionOracles: Map[String, String] = Map(
    "medallion_bronze" ->
      """SELECT o_orderkey AS "Matricula", o_custkey AS "IdTitular",
           CAST(year(o_orderdate) AS INTEGER) AS year_partition FROM orders""",
    "medallion_bronze_profiles" ->
      """SELECT count(*) FILTER (WHERE o_orderkey IS NULL) AS "Matricula_nulls",
           count(*) FILTER (WHERE o_orderstatus IS NULL) AS "Estado_nulls",
           count(*) FILTER (WHERE o_orderdate IS NULL) AS "FechaMatricula_nulls",
           CAST(0 AS BIGINT) AS "ClaseIdentificacion_nulls",
           count(*) FILTER (WHERE o_custkey IS NULL) AS "IdTitular_nulls",
           count(*) FILTER (WHERE o_orderdate IS NULL) AS "record_ts_nulls",
           count(*) FILTER (WHERE o_orderdate IS NULL) AS "year_partition_nulls",
           count(*) AS total_rows, count(DISTINCT o_orderkey) AS distinct_keys,
           count(*) - count(DISTINCT o_orderkey) AS duplicate_rows
         FROM orders""",
    "medallion_error_log" ->
      """SELECT * FROM (
           SELECT 'fecha_nula' AS columna, 'fecha de matricula nula' AS mensaje_error,
             count(*) FILTER (WHERE o_orderdate IS NULL) AS n_rows FROM orders
           UNION ALL SELECT 'estado_abierto', 'registro abierto',
             count(*) FILTER (WHERE upper(trim(o_orderstatus)) = 'O') FROM orders
           UNION ALL SELECT 'estado_pendiente', 'registro pendiente',
             count(*) FILTER (WHERE upper(trim(o_orderstatus)) = 'P') FROM orders
           UNION ALL SELECT 'sin_titular', 'titular sin catalogo',
             count(*) FILTER (WHERE c_custkey IS NULL)
             FROM orders LEFT JOIN customer ON o_custkey = c_custkey
           UNION ALL SELECT 'persona_juridica', 'persona juridica',
             count(*) FILTER (WHERE o_orderkey % 3 = 1) FROM orders
         ) WHERE n_rows > 0""",
    "medallion_gold_dim" ->
      """SELECT DISTINCT o_custkey AS id_titular, c_name AS titular_name
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "medallion_gold_fact" ->
      """SELECT o_custkey AS id_titular, o_orderkey AS matricula,
           CAST(2026 - year(o_orderdate) AS BIGINT) AS antiguedad,
           CAST(date_diff('day', DATE '1998-12-01', CAST(o_orderdate AS DATE)) AS BIGINT)
             AS dias_vigencia,
           CAST(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1998-12-01' THEN 1 ELSE 0 END
             AS BIGINT) AS flag_vencido
         FROM orders""")
}
