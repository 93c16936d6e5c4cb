package graft.plans

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native 48-bit md5 prefix hash — the digest's first six bytes as a long,
  * bit-identical to `conv(substring(md5(s), 1, 12), 16, 10)` but without
  * materializing the 32-char hex string and re-parsing it (three transient
  * allocations per call on the text-dedup hot path). StaticInvoke keeps it
  * inside whole-stage codegen like [[NativeInterp]].
  */
object NativeHash48 {

  private val md5Pool = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def hash48(s: UTF8String): Long = {
    val md = md5Pool.get()
    md.reset()
    val digest = md.digest(s.getBytes)
    ((digest(0) & 0xffL) << 40) | ((digest(1) & 0xffL) << 32) |
      ((digest(2) & 0xffL) << 24) | ((digest(3) & 0xffL) << 16) |
      ((digest(4) & 0xffL) << 8) | (digest(5) & 0xffL)
  }

  def builder(args: Seq[Expression]): Expression = {
    require(args.length == 1, "graft_hash48(s) takes 1 argument")
    StaticInvoke(
      classOf[NativeHash48.type],
      LongType,
      "hash48",
      args,
      inputTypes = Seq(StringType),
      propagateNull = true,
      returnNullable = false)
  }

  def hash48Col(spark: SparkSession, s: Column): Column = {
    Natives.ensure(spark)
    org.apache.spark.sql.functions.call_function("graft_hash48", s)
  }
}
