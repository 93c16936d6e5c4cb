package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

/** Embedding-vector algebra as pure Column expressions over
  * `array<float|double>` columns. Folds are written as strict left-to-right
  * sequences so the DuckDB oracle (list_reduce with a prepended zero — see
  * [[VecSql]]) performs bit-identical double arithmetic.
  */
object Vec {

  /** Cast an array<float> column to array<double> once, up front: the same
    * per-element widening as a `transform` lambda, but compiled, and
    * dropped by the optimizer when the column already is array<double>.
    */
  def asDouble(a: Column): Column = a.cast(ArrayType(DoubleType))

  /** Sequential-fold dot product. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Dot product against a fixed plane (driver-side constants). */
  def dotConst(a: Column, plane: Seq[Double]): Column =
    dot(a, array(plane.map(lit): _*))

  /** Deterministic pseudo-random hyperplanes for sign-LSH, derived from md5
    * so any engine (or the SQL mirror) regenerates the identical planes:
    * component(h, d) = ((hash48("p:h:d") mod 2001) - 1000) / 1000.
    */
  def planes(nPlanes: Int, dim: Int): Seq[Seq[Double]] =
    (0 until nPlanes).map { h =>
      (0 until dim).map { d =>
        ((hash48("p:" + h + ":" + d) % 2001) - 1000) / 1000.0
      }
    }

  /** Sign-LSH bucket id in [0, 2^nPlanes): bit h set iff dot(v, plane_h)>0. */
  def lshBucket(v: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, h) =>
      when(dotConst(v, p) > 0.0, lit(1L << h)).otherwise(0L)
    }.reduce(_ + _)

  /** Driver-side mirror of [[Text.hash48]] (first 12 hex chars of md5). */
  def hash48(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(12), 16)
  }
}

/** DuckDB SQL mirrors of [[Vec]]. */
object VecSql {

  def asDouble(a: String): String =
    s"list_transform($a, x -> CAST(x AS DOUBLE))"

  /** Strict sequential fold — same order as Spark's aggregate(). */
  def dot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), p -> p[1] * p[2])), (acc, x) -> acc + x)"

  def norm(a: String): String = s"sqrt(${dot(a, a)})"

  def cosine(a: String, b: String): String =
    s"(${dot(a, b)} / (${norm(a)} * ${norm(b)}))"

  def planeLiteral(p: Seq[Double]): String =
    p.map(x => f"$x%.3f").mkString("[", ", ", "]")

  def lshBucket(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, h) =>
      s"(CASE WHEN ${dot(v, planeLiteral(p))} > 0.0 THEN CAST(${1L << h} AS BIGINT) ELSE 0 END)"
    }.mkString("(", " + ", ")")
}
