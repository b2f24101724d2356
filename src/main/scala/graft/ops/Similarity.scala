package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`), Spark-native. The dot product is a fused native
  * Catalyst expression ([[graft.functions.CosineSim]]); the per-query top-k
  * is a bounded [[graft.functions.TopKByScore]] aggregate (map-side partial
  * top-k, k rows per partition through the shuffle) — NOT a
  * `row_number().over(window)` that would sort the full candidate set
  * through one exchange per query partition.
  */
object Similarity {

  /** Cosine similarity between two float/double arrays, computed in double —
    * a native fused-loop Catalyst expression with codegen, rounded to 6
    * decimals (oracle-aligned). The pure-HOF formulation
    * (`aggregate(zip_with(...))` for dot plus two norm passes) walks the
    * arrays three times through interpreted lambda eval; the native loop is
    * ~10× faster per pair.
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.CosineSim.cosineSim(a, b)

  /** (query_id, rank, corpus_id, cosine) from scored pairs via the bounded
    * top-k aggregate: one partial-agg shuffle, no window sort.
    */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKByScore.topK(col("cosine"), col("corpus_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("corpus_id"), col("t.score").as("cosine"))

  /** Brute-force top-k cosine neighbors for every query vector: the exact
    * baseline. queries ⨯ corpus via broadcast of the (small) query side —
    * at scale, cap the query batch instead of growing the broadcast.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpus_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("query_vec"), col("corpus_vec")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** A built IVF index: the corpus with its `cell_id` assignment CLUSTERED
    * by cell (hash-repartitioned on `cell_id`, so each probed cell's
    * vectors are contiguous in a known partition set), plus the centroid
    * model. At 100 TB this is the write-once artifact — persist with
    * `index.write.partitionBy("cell_id")` and later probes prune to the
    * probed cells' files instead of scanning the corpus; the in-memory
    * form here carries the same clustering through the query plan.
    */
  final case class IvfIndex(index: DataFrame, centroids: Seq[Seq[Float]])

  /** Assign cells and cluster by `cell_id`. Centroid choice is
    * deterministic AND engine-portable: the `nCells` vectors with
    * lexicographically smallest `md5(id)` — a seeded sample without an RNG
    * that a SQL oracle reproduces exactly. Centroids are collected to the
    * driver (nCells rows — model constants, like a KMeans model) and cell
    * ASSIGNMENT is one fused codegen'd projection: the only corpus-wide
    * exchange is the clustering repartition itself.
    */
  def ivfIndex(
      corpus: DataFrame,
      nCells: Int,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): IvfIndex = {
    val c = corpus.select(col(idCol).as("corpus_id"), col(vecCol).as("corpus_vec"))
    val centroids: Seq[Seq[Float]] = c
      .withColumn("h", md5(col("corpus_id").cast("string")))
      .orderBy(col("h")).limit(nCells)
      .select(col("corpus_vec")).collect()
      .toSeq.map(_.getSeq[Float](0))
    // nearest-centroid as ONE fused native expression (codegen'd loop over
    // the inlined centroid matrix — the HOF-fold formulation pays interpreted
    // lambda eval per row×centroid): strict > keeps the first (lowest
    // cell_id) maximum, the same tie-break as (sim DESC, cell_id ASC)
    val assigned = c.withColumn("cell_id",
      graft.functions.NearestCentroid.nearestCentroid(col("corpus_vec"), centroids))
    IvfIndex(assigned.repartition(col("cell_id")), centroids)
  }

  /** Probe a built index: queries rank the centroid model (tiny: queries ×
    * nCells), keep their `nProbe` nearest cells, then join the
    * cell-clustered index — probes broadcast, so the index side never
    * re-shuffles; scoring runs where the cells live. The final per-query
    * top-k is the bounded partial aggregate.
    */
  def ivfTopKWithIndex(
      ivf: IvfIndex,
      queries: DataFrame,
      k: Int = 10,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val centArray: Column = array(ivf.centroids.zipWithIndex.map { case (vec, cellId) =>
      struct(lit(cellId).as("cell_id"), typedlit(vec).as("centroid"))
    }: _*)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("query_vec"))
    val probes = q
      .select(col("query_id"), col("query_vec"), explode(centArray).as("c"))
      .select(col("query_id"), col("query_vec"), col("c.cell_id").cast("long").as("cell_id"),
        cosine(col("query_vec"), col("c.centroid")).as("sim"))
      .groupBy(col("query_id"))
      .agg(first(col("query_vec")).as("query_vec"),
        graft.functions.TopKByScore.topK(col("sim"), col("cell_id"), nProbe).as("top"))
      .select(col("query_id"), col("query_vec"),
        explode(col("top")).as("t"))
      .select(col("query_id"), col("query_vec"), col("t.id").cast("int").as("cell_id"))

    val scored = ivf.index.join(broadcast(probes), Seq("cell_id"))
      .filter(col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        cosine(col("query_vec"), col("corpus_vec")).as("cosine"))
    topKPerQuery(scored, k)
  }

  /** IVF (inverted-file) ANN: assign every vector to its nearest of `nCells`
    * centroids, cluster the corpus by cell ([[ivfIndex]]), then search only
    * within each query's `nProbe` nearest cells ([[ivfTopKWithIndex]]). At
    * 100 TB the index is built once and persisted partitioned by `cell_id`;
    * per-batch probe cost is bounded by probed-cell size, and the only
    * per-batch exchange is the final top-k partial aggregation.
    */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      nCells: Int = 16,
      nProbe: Int = 4,
      idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    ivfTopKWithIndex(ivfIndex(corpus, nCells, idCol, vecCol), queries, k, nProbe,
      idCol, vecCol)
}
