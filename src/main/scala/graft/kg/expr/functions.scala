package graft.kg.expr

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.graft.Bridge

/** Column-API + SQL surface for the custom Catalyst expressions. */
object functions {

  def jaro_winkler(a: Column, b: Column): Column = JaroWinkler.jaroWinkler(a, b)

  def dot_product(a: Column, b: Column): Column = VectorExprs.dotProduct(a, b)

  def l2_norm(a: Column): Column = VectorExprs.l2Norm(a)

  /** KMV bottom-k sketch aggregate (Column API only — aggregates register
    * through `Column.toAggregateExpression`, not the scalar FunctionRegistry
    * path).
    */
  def kmin_values(h: Column, k: Int): Column = KMinValues.kminValues(h, k)

  /** The portable 60-bit hash: the first 15 hex digits of `md5(c)` as a
    * bigint. DuckDB computes the same value (`OpsEntries.duckHash60`), so
    * every operator that hashes through it (sampling buckets, dedup
    * fingerprints, walk and sketch hashes, negative sampling) has a
    * bit-exact oracle. A change here must land in those oracles at once.
    */
  def hash60(c: Column): Column =
    F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")

  /** Hyperplane-LSH band keys (Column API only — the plane matrix is a
    * constructor parameter, not an expression, so no SQL registration).
    */
  def sign_bands(emb: Column, planes: Array[Double], bands: Int, rows: Int): Column =
    SignBands.signBands(emb, planes, bands, rows)

  /** Fail a wrong-arity SQL call with an error naming the function (not an
    * IndexOutOfBoundsException from `es(1)`) — Spark surfaces the message as
    * an analysis-time failure of the query.
    */
  private[graft] def requireArity(
      name: String, es: Seq[_], expected: Int): Unit =
    if (es.length != expected)
      throw new IllegalArgumentException(
        s"$name expects $expected argument(s), got ${es.length}")

  /** Register the scalar expressions with the session's FunctionRegistry so
    * `spark.sql("... jaro_winkler(a, b) ...")` works (SURVEY.md §4: custom
    * surface registered via FunctionRegistry).
    */
  def register(spark: SparkSession): Unit = {
    Bridge.registerFunction(spark, "jaro_winkler",
      es => { requireArity("jaro_winkler", es, 2); JaroWinkler(es.head, es(1)) })
    Bridge.registerFunction(spark, "dot_product",
      es => { requireArity("dot_product", es, 2); DotProduct(es.head, es(1)) })
    Bridge.registerFunction(spark, "l2_norm",
      es => { requireArity("l2_norm", es, 1); L2Norm(es.head) })
  }
}
