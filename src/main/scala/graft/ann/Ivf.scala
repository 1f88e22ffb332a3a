package graft.ann

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor.
  *
  * The classic two-level index: a small set of coarse centroids
  * partitions the corpus into cells; a query scores only the `nprobe`
  * nearest cells. On a cluster the assignment step happens at WRITE
  * time — the corpus is partitioned/bucketed by `cluster_id`, so a
  * probe reads only nprobe/C of the data (partition pruning), which
  * is the whole point at 100 TB. Here assignment runs inline because
  * the testdata is unindexed.
  *
  * Everything is deterministic: centroid seeds are the top-C vectors
  * by xxhash64(vec_id) (a seedless pseudo-random draw), refined by a
  * fixed number of Lloyd iterations (mean per cell via posexplode +
  * groupBy — partial-aggregated, no driver-side math).
  */
object Ivf {

  /** (cluster_id, centroid: array<double>) — deterministic k-means
    * with `iters` Lloyd refinements.
    */
  def centroids(corpus: DataFrame, c: Int, iters: Int = 2): DataFrame = {
    // keep the STORED element width (float for the testdata corpus):
    // the native cosine casts per element inside its fused loop, so
    // results are bit-identical to an up-front toDouble while every
    // assignment/pair pass moves half the bytes; Lloyd means still
    // accumulate in double (Spark's avg) so centroids come out
    // array<double> after the first refinement either way
    val emb = corpus.select(col("vec_id"), col("embedding").as("emb"))
    // Seed selection: top-c by a pseudo-random hash order. The
    // orderBy().limit(c) plans as TakeOrderedAndProject — per-partition
    // top-c then c rows merged on one task — never a whole-corpus
    // single-task Window (the r1 row_number() form funneled the full
    // corpus through one partition). Ids come from each seed's sorted
    // position via one bounded collect (c elements) + posexplode.
    var cents = emb
      .select(xxhash64(col("vec_id")).as("hk"), col("vec_id"), col("emb"))
      .orderBy(col("hk"), col("vec_id"))
      .limit(c)
      .agg(array_sort(collect_list(struct(col("hk"), col("vec_id"), col("emb")))).as("seeds"))
      .select(posexplode(col("seeds")).as(Seq("cluster_id", "seed")))
      .select(col("cluster_id").cast("int").as("cluster_id"), col("seed.emb").as("centroid"))
    var i = 0
    while (i < iters) {
      val assigned = assignTo(emb, cents)
      cents = assigned
        .select(col("cluster_id"), posexplode(col("emb")).as(Seq("pos", "x")))
        .groupBy("cluster_id", "pos").agg(avg("x").as("m"))
        .groupBy("cluster_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cluster_id"), expr("transform(pm, e -> e.m)").as("centroid"))
      i += 1
    }
    cents
  }

  /** Nearest-centroid assignment: ALL centroids ride as one broadcast
    * 1-row array and the argmax runs as a narrow per-row fold — ZERO
    * shuffles (r13; §2.4). The previous form crossJoined the centroid
    * rows (an n×c row blowup) and re-aggregated by vec_id, i.e. every
    * assignment pass shuffled the full embedding corpus through a
    * vec_id exchange — pure waste at any scale, since the argmax is a
    * per-row function. The fold compares (sim, -cluster_id) structs
    * with Spark's own struct ordering, so ties and NaN resolve exactly
    * as the old max(struct(...)) aggregate did (ties → smaller
    * cluster_id; assignment expects non-null, equal-width embeddings).
    * The fold starts from a NULL `neg_cid`, which every candidate
    * beats, so an empty centroid set assigns a NULL `cluster_id` to
    * every row rather than an overflowed id. Each `emb` row is
    * assigned on its own: `emb` must be unique by `vec_id`, or the
    * duplicates come out as duplicate rows.
    */
  private def assignTo(emb: DataFrame, cents: DataFrame): DataFrame = {
    val centsRow = cents.agg(
      collect_list(struct(col("cluster_id"), col("centroid"))).as("__cents"))
    emb.crossJoin(broadcast(centsRow))
      .select(col("vec_id"),
        aggregate(col("__cents"),
          struct(lit(Double.NegativeInfinity).as("sim"),
            lit(null).cast("int").as("neg_cid")),
          (acc, x) => {
            val cand = struct(
              VectorFunctions.cosine(col("emb"), x.getField("centroid")).as("sim"),
              (-x.getField("cluster_id")).as("neg_cid"))
            when(cand > acc, cand).otherwise(acc)
          }).as("best"),
        col("emb"))
      .select(col("vec_id"), (-col("best.neg_cid")).cast("int").as("cluster_id"),
        col("emb"))
  }

  /** Corpus index: (vec_id, cluster_id, embedding), one row per
    * corpus row (`vec_id` must be unique); `cluster_id` is NULL when
    * `cents` is empty. At scale, write this partitioned by cluster_id
    * once and reuse.
    */
  def index(corpus: DataFrame, cents: DataFrame): DataFrame =
    assignTo(corpus.select(col("vec_id"), col("embedding").as("emb")), cents)

  /** nprobe nearest cells per query: (query_id, cluster_id, q_emb). */
  private def probe(qEmb: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    val probeW = Window.partitionBy("query_id")
      .orderBy(col("c_sim").desc, col("cluster_id").asc)
    qEmb.crossJoin(broadcast(cents))
      .withColumn("c_sim", VectorFunctions.cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(probeW))
      .filter(col("c_rank") <= nprobe)
      .select("query_id", "cluster_id", "q_emb")
  }

  /** Score probed cells and keep the per-query top-k. */
  private def scoreAndRank(indexed: DataFrame, probed: DataFrame, k: Int): DataFrame = {
    val scored = indexed.join(broadcast(probed), Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("q_emb"), col("emb")), 4))
      .select(col("query_id"), col("vec_id").as("nbr_id"), col("sim"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("nbr_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("nbr_id"), col("sim"))
  }

  private def queryEmb(queries: DataFrame): DataFrame =
    queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** Approximate top-k: probe the `nprobe` nearest cells per query. */
  def topK(corpus: DataFrame, queries: DataFrame, k: Int,
           c: Int = 16, nprobe: Int = 4, iters: Int = 2): DataFrame = {
    val cents = centroids(corpus, c, iters).cache()
    // cluster_id equality join == partition pruning on an indexed corpus
    scoreAndRank(index(corpus, cents), probe(queryEmb(queries), cents, nprobe), k)
  }

  /** IVF search over SQ8-QUANTIZED cells with exact rerank — the full
    * 100 TB ANN recipe: cells store 1-byte codes (4× less to read
    * than float32, 8× less than the double form), the coarse pass
    * scores queries against DEQUANTIZED candidates inside the probed
    * cells only, and the top `k·refine` survivors per query join back
    * to the raw corpus by vec_id (a broadcast point-lookup of a
    * query-bounded id set) for exact scoring. Asymmetric distance:
    * the query stays full-precision throughout.
    *
    * Both ranking passes pre-round and tie-break (id asc), so results
    * are deterministic; recall vs brute force is measured in
    * GroundTruthSpec.
    */
  def topKSq8(corpus: DataFrame, queries: DataFrame, k: Int,
              c: Int = 16, nprobe: Int = 4, refine: Int = 4,
              iters: Int = 2): DataFrame = {
    val stats = Quantize.statsRow(corpus, "embedding")
    val cents = centroids(corpus, c, iters).cache()
    def dequantized(encoded: DataFrame): DataFrame =
      encoded.withColumn("deq", transform(col("codes"), (code, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        mn + code.cast("double") * (mx - mn) / lit(255.0)
      }))
    // the stored form: codes only, no raw embedding in the cell
    val cells = index(corpus, cents)
      .crossJoin(broadcast(stats))
      .withColumn("codes", transform(col("emb"), (x, i) => {
        val mn = element_at(col("mns"), i + 1)
        val mx = element_at(col("mxs"), i + 1)
        when(mx === mn, lit(0L)).otherwise(
          floor((x - mn) / (mx - mn) * lit(255.0) + lit(0.5)).cast("long"))
      }))
      .select("vec_id", "cluster_id", "codes", "mns", "mxs")
    val probed = probe(queryEmb(queries), cents, nprobe)
    val coarseW = Window.partitionBy("query_id")
      .orderBy(col("qsim").desc, col("vec_id").asc)
    val candidates = dequantized(cells)
      .join(broadcast(probed), Seq("cluster_id"))
      .filter(col("query_id") =!= col("vec_id"))
      .withColumn("qsim", round(VectorFunctions.cosine(col("q_emb"), col("deq")), 4))
      .withColumn("crank", row_number().over(coarseW))
      .filter(col("crank") <= k * refine)
      .select("query_id", "vec_id", "q_emb")
    // exact rerank: candidate ids (≤ queries·k·refine rows) broadcast
    // against the raw corpus — a point lookup, not a corpus scan join
    val exact = candidates
      .join(corpus.select(col("vec_id"), col("embedding").as("emb")), Seq("vec_id"))
      .withColumn("sim", round(VectorFunctions.cosine(col("q_emb"), col("emb")), 4))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    exact.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("vec_id").as("nbr_id"), col("sim"))
  }

  /** Materialize the index: cells/ is the corpus PARTITIONED BY
    * cluster_id (each cell its own directory), centroids/ the tiny
    * centroid table. This is the 100 TB form — the k-means assignment
    * shuffle is paid once at write time, and every later search reads
    * only the probed cells' directories.
    */
  def writeIndex(corpus: DataFrame, path: String,
                 c: Int = 16, iters: Int = 2): Unit = {
    val cents = centroids(corpus, c, iters).cache()
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    index(corpus, cents)
      .repartition(col("cluster_id"))
      .write.mode("overwrite").partitionBy("cluster_id").parquet(s"$path/cells")
  }

  /** Incremental index maintenance — the 100 TB ingest path: assign a
    * NEW batch to the EXISTING centroids and append its rows into the
    * partitioned cells/ layout. A nightly embedding batch must not
    * re-run k-means or rewrite the corpus: cell directories only gain
    * appended files, the centroid table is untouched, and every
    * later [[topKIndexed]] search sees the batch through the same
    * partition-pruned scan. Centroid drift under sustained appends is
    * a separate offline re-clustering/compaction, exactly as in
    * IVF-based vector stores.
    */
  def appendToIndex(batch: DataFrame, path: String): Unit = {
    val spark = batch.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    index(batch, cents)
      .repartition(col("cluster_id"))
      .write.mode("append").partitionBy("cluster_id").parquet(s"$path/cells")
  }

  /** Fingerprint-staged build-then-append (the LshIngest.ensureIndex
    * pattern): build the index from `base` and append `batch` ONCE
    * per distinct input; a matching stamp skips both. Appends are not
    * idempotent on re-run (files accumulate), which is exactly why
    * the stamp guards the whole flow. Returns true when a build ran.
    */
  def ensureAppendedIndex(base: DataFrame, batch: DataFrame, path: String,
                          c: Int = 16, iters: Int = 2,
                          sourceFp: Option[String] = None): Boolean = {
    // caller-supplied SOURCE stamp (FS metadata, no scan) preferred;
    // the scan fallback coalesces its sums — sum() over an EMPTY
    // input is NULL and getLong then NPEs (r11 advice), while an
    // empty base/batch should fingerprint stably and build an empty
    // index. The id-sum doubles as a cheap content term only because
    // vec_ids are the identity here; regenerated embeddings under
    // unchanged ids are caught by the sourceFp path.
    val fp = sourceFp.map(s => s"src:${s}_c${c}_i$iters").getOrElse {
      def sig(df: DataFrame): String = {
        val r = df.agg(count(lit(1)), coalesce(sum(col("vec_id")), lit(0L))).head
        s"${r.getLong(0)}_${r.getLong(1)}"
      }
      s"${sig(base)}_${sig(batch)}_c${c}_i$iters"
    }
    val marker = java.nio.file.Paths.get(path, "_FINGERPRINT")
    val fresh = java.nio.file.Files.exists(marker) &&
      new String(java.nio.file.Files.readAllBytes(marker), "UTF-8").trim == fp
    if (!fresh) {
      writeIndex(base, path, c, iters)
      appendToIndex(batch, path)
      java.nio.file.Files.write(marker, fp.getBytes("UTF-8"))
    }
    !fresh
  }

  /** Search a written index. The union of probed cells is collected
    * to the driver — bounded by `c` (tens to low hundreds) regardless
    * of corpus size — and pushed into the scan as a LITERAL partition
    * filter, so the plan reads nprobe-ish/c of the data (PartitionFilters,
    * plan-asserted in spec). This, not the inline form, is what runs
    * against a 100 TB corpus.
    */
  def topKIndexed(path: String, queries: DataFrame, k: Int,
                  nprobe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val cents = spark.read.parquet(s"$path/centroids")
    val probed = probe(queryEmb(queries), cents, nprobe).cache()
    val cells: Array[Int] = probed.select("cluster_id").distinct()
      .collect().map(_.getInt(0)).sorted
    val indexed = spark.read.parquet(s"$path/cells")
      .filter(col("cluster_id").isin(cells.map(x => x: Any): _*))
    scoreAndRank(indexed, probed, k)
  }
}
