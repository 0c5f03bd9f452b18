package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Integer-quantized Lloyd k-means for IVF coarse centroids.
  *
  * Everything that decides an ASSIGNMENT is integer arithmetic: embeddings
  * are quantized to `floor(x * 1000)` longs, distances are integer squared
  * Euclidean, centroid updates are exact integer sums + floor division.
  * Integer sums are order-independent, so Spark and DuckDB compute
  * bit-identical centroids and assignments — the `sim_ivf_kmeans_topk`
  * oracle replicates the whole training loop in SQL (floating-point means
  * would drift in the last ulp across engines and flip borderline
  * assignments). Quantization costs nothing that matters for a COARSE
  * quantizer: cells are ~n/k vectors wide; a 1e-3 grid moves no boundary a
  * meaningful distance (recall measured in OpsSpec).
  *
  * Scale shape: centroid state is k·d longs (metadata-scale), so the Lloyd
  * loop is DRIVER-driven — each iteration is ONE distributed pass (broadcast
  * literal centroids → min_by assignment agg → posexplode sum/count agg →
  * collect k·d rows). Every iteration's plan starts flat from the source
  * relation + literal centroids: no lineage growth, so none of the
  * [[graft.Pin]] discipline the edge-state CC loop needs. This is the same
  * "driver holds only metadata" rationale as CC's convergence signature and
  * the salt-measurement prep pass.
  */
object KMeans {

  /** Quantization scale: component i maps to floor(x_i * Scale). */
  val Scale: Int = 1000

  /** Quantized vector column for an `array<double>` input column name. */
  def quantize(embCol: String): Column =
    expr(s"transform($embCol, x -> cast(floor(x * $Scale.0) as bigint))")

  /** Driver-side quantization — must mirror [[quantize]] exactly. */
  def quantizeLocal(v: Seq[Double]): Seq[Long] =
    v.map(x => math.floor(x * Scale.toDouble).toLong)

  /** Integer squared Euclidean distance between two `array<bigint>` columns
    * (by NAME — nested higher-order functions need expr-level lambdas with
    * explicit variable names; the Column-API builder reuses internal names
    * and mis-binds when nested).
    */
  def dist2(a: String, b: String): Column =
    expr(s"aggregate(zip_with($a, $b, (x, y) -> (x - y) * (x - y)), " +
      "cast(0 as bigint), (acc, v) -> acc + v)")

  /** Driver-side [[dist2]] — same integers. */
  def dist2Local(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  /** Assign every row of `rel` (which must carry an `array<bigint>` column
    * `qv` and a unique `vec_id`) to its nearest centroid: broadcast literal
    * centroids → crossJoin fan-out → ONE min_by hash-agg (d2 asc, cell_id
    * asc ties — an aggregation, not a ranking window). `carry` columns ride
    * through the argmax unchanged. Output: rel's carry columns + cell_id.
    */
  def assignTo(rel: DataFrame, cents: Seq[(Int, Seq[Long])],
      carry: Seq[String]): DataFrame = {
    val spark = rel.sparkSession
    import spark.implicits._
    val cdf = broadcast(cents.toDF("cell_id", "cv"))
    val carried = struct(carry.map(col) :+ col("cell_id"): _*)
    rel.crossJoin(cdf)
      .withColumn("d2", dist2("qv", "cv"))
      .groupBy(col("vec_id"))
      .agg(min_by(carried, struct(col("d2"), col("cell_id"))).as("best"))
      .select(col("vec_id") +: carry.map(c => col(s"best.$c").as(c)) :+
        col("best.cell_id").cast("int").as("cell_id"): _*)
  }

  /** Train k centroids with `iters` Lloyd iterations over the quantized
    * embeddings. Init = the quantized vectors of vec_id < k (deterministic,
    * mirrored by the oracle); an emptied cell keeps its previous centroid.
    * Update components are floor(sum / count) via `(s - pmod(s, c)) div c`
    * — pmod makes the dividend an exact multiple, so truncating `div` IS
    * floor division, matching DuckDB's `(s - ((s % c) + c) % c) / c`.
    * Returns the final centroids as a local Seq (k·d longs).
    */
  def train(embeddings: DataFrame, k: Int = 16, iters: Int = 3): Seq[(Int, Seq[Long])] = {
    val q = embeddings.select(col("vec_id").cast("long").as("vec_id"),
      quantize("cast(embedding as array<double>)").as("qv"))
    val init = q.where(col("vec_id") < k).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Long](1).toSeq)).sortBy(_._1).toSeq
    require(init.size == k, s"need vec_id 0..${k - 1} as seeds, found ${init.size}")
    (1 to iters).foldLeft(init) { (cents, _) =>
      val updated = assignTo(q, cents, carry = Seq("qv"))
        .select(col("cell_id"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cell_id"), col("pos"))
        .agg(sum(col("v")).as("s"), count(lit(1)).as("c"))
        .select(col("cell_id"), col("pos"),
          expr("(s - pmod(s, c)) div c").as("comp"))
        .collect()
        .groupBy(_.getInt(0))
        .map { case (cell, rows) =>
          cell -> rows.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq
        }
      cents.map { case (cell, old) => (cell, updated.getOrElse(cell, old)) }
    }
  }
}
