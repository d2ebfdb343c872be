package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Sample
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Distances

/**
 * Similarity search over an embedding column (`array<float>`).
 *
 * Two paths, per the scale plan:
 *  - brute-force top-k: codegen'd distance + TakeOrderedAndProject — exact,
 *    one full scan, the right baseline for ad-hoc queries;
 *  - hyperplane-LSH bucketed ANN: deterministic random projections computed
 *    map-side; candidate generation is an equi-join on bucket signatures so
 *    the O(n²) pair space never materializes. At 100 TB, signatures+ids are
 *    a small side table and the per-bucket joins are key-partitioned.
 */
object Similarity {

  /** Exact top-k nearest neighbors of each query row (knn join).
    * `queries` and `corpus` both carry (idCol, vecCol); the smaller side
    * (queries) is broadcast, distances stay in one codegen stage, and
    * per-query ranking is a window over the bounded candidate set. */
  def knnJoin(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              metric: String = "l2sq"): DataFrame = {
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("n_id"), col(vecCol).as("n_vec"))
    val dist = metric match {
      case "l2sq" => Distances.l2sq(col("q_vec"), col("n_vec"))
      case "ip" => -Distances.ip(col("q_vec"), col("n_vec"))
      case "cosine" => -Distances.cosineSim(col("q_vec"), col("n_vec"))
      case m => throw new IllegalArgumentException(s"unknown metric $m")
    }
    val w = Window.partitionBy("q_id").orderBy(col("_d").asc, col("n_id").asc)
    c.crossJoin(broadcast(q))
      .filter(col("q_id") =!= col("n_id")) // exclude self BEFORE ranking
      .withColumn("_d", dist)
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("q_id"), col("knn_rank"), col("n_id"))
  }

  /** Deterministic pseudo-random hyperplanes: plane p, dim j component is a
    * zero-mean value derived from a hash — reproducible across runs/engines
    * with no RNG state. */
  private def hyperplane(p: Int, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      j => (pmod(xxhash64(lit(p) * dim + j), lit(2000001L)) - 1000000L)
        .cast("double") / 1000000.0)

  /** Bit-signature of `planes` hyperplane signs, packed into a long.
    * `planeOffset` selects an independent plane family (one per LSH table).
    * Plane indices are structural (known at plan time) so the bit masks are
    * Scala constants, not runtime shifts. */
  def lshSignature(vec: Column, planes: Int, dim: Int, planeOffset: Int = 0): Column =
    (0 until planes).map { p =>
      when(Distances.ip(vec, hyperplane_cached(planeOffset + p, dim)) >= 0,
        lit(1L << p)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))

  // hyperplanes are loop-invariant; keep one Column per (p, dim)
  private val planeCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Column]
  private def hyperplane_cached(p: Int, dim: Int): Column =
    planeCache.getOrElseUpdate((p, dim), hyperplane(p, dim))

  /**
   * IVF (inverted-file) index: a coarse quantizer partitions the corpus by
   * nearest centroid; queries probe only the `nprobe` nearest cells.
   *
   * Centroids are chosen deterministically (hash-ordered sample — at scale,
   * swap for k-means|| refinement over the same sample). Assignment is a
   * broadcast join against the centroid table (C ≈ √n rows), so the corpus
   * is scanned once with a codegen'd distance — the 100 TB shape: cluster
   * the data at rest by `centroid_id` (partition/bucket) and a query touches
   * nprobe partitions instead of the full corpus.
   */
  /** Assign every corpus row to its nearest centroid. Nearest-centroid via
    * a packed-key aggregate: `min(bits(dist)·2³¹ + centroid_id)` over the
    * broadcast cross join — order-isomorphic to lexicographic
    * (dist, centroid_id) because squared distances are non-negative
    * ([[graft.functions.DoubleSortBits]]) and centroid ids are dense
    * positive ints — then one equi-join re-attaches the corpus row. The
    * same semantics as a per-id window, but partial (map-side) aggregation
    * collapses the n×C cross-join rows to n BEFORE the shuffle — and the
    * packed DECIMAL key keeps the election a HashAggregate, where the
    * earlier `min(struct(dist, centroid_id, payload…))` spelling buffered a
    * struct and planned as SortAggregate: every task SORTED its n×C
    * candidate rows (payload included) before the partial aggregate.
    * `idCol` must be unique, and `corpus` DETERMINISTIC under
    * re-evaluation (the join-back contract: the frame is evaluated once
    * for the election and once for the re-attach — pin a sampled or
    * rand()-derived frame with a checkpoint first, the same caveat
    * `Curation.rankBySort` documents; the old struct-min carried the
    * payload through the aggregate instead, but per-id constancy of the
    * payload was already this function's documented contract, and the
    * second evaluation is a projected (id, vec)-only scan).
    * `centroid_id` must sit in [0, 2³¹) — guarded by `packDistId`, which
    * fails loudly on a caller-supplied table with other ids instead of
    * silently mis-assigning. A nondeterministic corpus plan is defensively
    * localCheckpoint-pinned before the split (r15) so both evaluations see
    * the same rows. NULL-vector rows produce a NULL packed key for every
    * candidate, elect centroid_id NULL, and then drop out of ivfSearch's
    * centroid equi-join — filter them upstream if they must be assigned. */
  def ivfAssign(corpusIn: DataFrame, idCol: String, vecCol: String,
                centroids: DataFrame): DataFrame = {
    // defensive pin (r15, ADVICE): the election/join-back split evaluates
    // the corpus twice, so a NONDETERMINISTIC frame (rand()/sample-derived,
    // un-checkpointed) would silently mis-join or drop rows where the old
    // struct-min carried the payload through one evaluation. Deterministic
    // plans (the overwhelmingly common case) are untouched; a
    // nondeterministic one is pinned once here instead of returning wrong
    // assignments. A `Sample` node counts too: its expressions are
    // deterministic, but Bernoulli sampling depends on row order, which a
    // shuffle upstream does not fix.
    val corpus =
      if (corpusIn.queryExecution.analyzed.find(p =>
            p.isInstanceOf[Sample] ||
              p.expressions.exists(!_.deterministic)).isEmpty) corpusIn
      else corpusIn.localCheckpoint(eager = true)
    val extras = corpus.columns.toSeq.filterNot(c => c == idCol || c == vecCol)
    val best = corpus.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(centroids))
      .withColumn("_d", Distances.l2sq(col(vecCol), col("c_vec")))
      .groupBy(col(idCol))
      .agg(min(Distances.packDistId(col("_d"), col("centroid_id"))).as("_bpk"))
      .select(col(idCol),
        Distances.unpackPackedId(col("_bpk")).as("centroid_id"))
    corpus.join(best, Seq(idCol))
      .select(col(idCol) +: col("centroid_id") +:
        (vecCol +: extras).map(col): _*)
  }

  def ivfIndex(corpus: DataFrame, idCol: String, vecCol: String,
               nCentroids: Int, refineIters: Int = 0): (DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    def assign(cents: DataFrame): DataFrame = ivfAssign(corpus, idCol, vecCol, cents)
    // seed: deterministic hash-ordered sample; then optional Lloyd
    // iterations (k-means): each moves centroids to the per-cell mean —
    // one corpus pass per iteration, no collect
    var centroids = corpus
      .select(col(idCol).as("c_src"), col(vecCol).as("c_vec"))
      .orderBy(xxhash64(col("c_src")))
      .limit(nCentroids)
      .withColumn("centroid_id", // ≤ nCentroids rows; explicit spec
        row_number().over(Window.partitionBy(lit(0)).orderBy(col("c_src")))
          .cast("long"))
      .select("centroid_id", "c_vec")
    for (_ <- 0 until refineIters) {
      val means = assign(centroids)
        .select(col("centroid_id"), posexplode(col(vecCol)))
        .groupBy("centroid_id", "pos")
        .agg(avg(col("col")).as("m"))
        .groupBy("centroid_id")
        .agg(transform(
          sort_array(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("c_vec"))
      centroids = means.localCheckpoint(true) // cut the growing lineage
    }
    (centroids, assign(centroids))
  }

  /** IVF search: rank `nprobe` nearest cells per query, then exact top-k
    * inside the probed cells only. */
  def ivfSearch(assigned: DataFrame, centroids: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("q_id"), col(vecCol).as("q_vec"))
    val byQ = Window.partitionBy("q_id").orderBy(col("_cd").asc, col("centroid_id").asc)
    val probed = q.crossJoin(broadcast(centroids))
      .withColumn("_cd", Distances.l2sq(col("q_vec"), col("c_vec")))
      .withColumn("_crn", row_number().over(byQ))
      .filter(col("_crn") <= nprobe)
      .select("q_id", "q_vec", "centroid_id")
    val w = Window.partitionBy("q_id").orderBy(col("_d").asc, col("n_id").asc)
    probed.join(assigned.select(col(idCol).as("n_id"),
        col(vecCol).as("n_vec"), col("centroid_id")), Seq("centroid_id"))
      .filter(col("q_id") =!= col("n_id"))
      .withColumn("_d", Distances.l2sq(col("q_vec"), col("n_vec")))
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("q_id"), col("knn_rank"), col("n_id"))
  }

  /**
   * Approximate NN via multi-table hyperplane LSH: `tables` independent
   * signatures of `planes` bits each; rows sharing any (table, signature)
   * with a query are candidates; exact distance ranks the candidates.
   * Recall grows with tables; cost is bounded by bucket occupancy, not n².
   */
  def annLsh(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int, dim: Int,
             planes: Int = 12, tables: Int = 4): DataFrame = {
    // Each table uses an independent hyperplane family (offset t*planes) —
    // xor-style decorrelation of a single signature would be a bijection per
    // table and add no recall.
    def signed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
          posexplode(array((0 until tables).map(t =>
            lshSignature(col(vecCol), planes, dim, t * planes)): _*)))
        .withColumnRenamed("pos", "tbl")
        .withColumnRenamed("col", "sig")
    val c = signed(corpus, "n_id", "n_vec")
    val q = signed(queries, "q_id", "q_vec")
    val cands = c.join(q, Seq("tbl", "sig"))
      .filter(col("q_id") =!= col("n_id"))
      .select("q_id", "q_vec", "n_id", "n_vec").distinct()
    val w = Window.partitionBy("q_id").orderBy(col("_d").asc, col("n_id").asc)
    cands
      .withColumn("_d", Distances.l2sq(col("q_vec"), col("n_vec")))
      .withColumn("knn_rank", row_number().over(w))
      .filter(col("knn_rank") <= k)
      .select(col("q_id"), col("knn_rank"), col("n_id"))
  }
}
