package graft

import org.apache.spark.sql.SparkSession

/** Generator for the CLUSTERED embedding fixture
  * (`data/fixtures/clustered_emb.parquet`, committed): K labeled
  * Gaussian clusters in the harness embedding shape (64-d float
  * arrays, ids 0-9 = queries / 10+ = points — the `sim_*` family's
  * convention).
  *
  * Why it exists: the harness `embeddings` table is noise-dominated
  * (pure-ADC recall 0.16 at sf0.01, SCALING.md) and ScaleGen-inflated
  * corpora produce ARTIFACT recall (perturbed replicas land in their
  * source's top-k), so neither can measure whether an ANN index is
  * any good — `sim_recall_all` on them ranks noise. On planted
  * clusters a query's exact top-k are its in-cluster neighbors, so
  * recall measures what an index preserves of real structure, and
  * the six approximate paths separate by quality
  * (`sim_recall_clustered`; ordering pinned in SimilaritySpec).
  *
  * Generation is driver-side (510 rows × 64 dims — a model-sized
  * fixture, not a data path) and seeded: the committed parquet is the
  * artifact of record; regeneration with the same seed reproduces it.
  */
object ClusteredFixture {

  /** Cluster members = center + N(0, sigma) per dim; centers are unit
    * Gaussians, so sigma sets the cluster tightness (cos-similarity
    * within vs across clusters). Queries (ids 0 until nQueries) land
    * round-robin in the same clusters as the points.
    */
  def generate(spark: SparkSession, path: String, k: Int = 8, nPoints: Int = 500,
      nQueries: Int = 10, dim: Int = 64, sigma: Double = 0.35, seed: Long = 42L): Unit = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(k, dim)(rnd.nextGaussian())
    def mk(id: Long, c: Int): (Long, Int, Array[Float]) =
      (id, c, Array.tabulate(dim)(j => (centers(c)(j) + sigma * rnd.nextGaussian()).toFloat))
    val rows = (0 until nQueries).map(i => mk(i.toLong, i % k)) ++
      (0 until nPoints).map(i => mk(10L + i, i % k))
    import spark.implicits._
    rows.toDF("vec_id", "cluster", "embedding")
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/root/repo/data/fixtures/clustered_emb.parquet")
    val spark = GraftSession(GraftSession.defaultCpus, None)
    generate(spark, path)
    println(s"[fixture] wrote $path: " + spark.read.parquet(path).count() + " rows")
    spark.stop()
  }
}
