package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The engine's native SQL functions, listed once. The list drives both
  * ways a session gets them: [[ensure]] registers them into a running
  * session (every session the program builds, and the `*Col` helpers and
  * `queries.Common.table` for sessions it did not build), and
  * [[GraftExtensions]] injects them cluster-wide via
  * `spark.sql.extensions=graft.plans.GraftExtensions`.
  */
object Natives {

  type Native = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def native(name: String, owner: Class[_],
      builder: Seq[Expression] => Expression): Native =
    (FunctionIdentifier(name),
      new ExpressionInfo(owner.getName, null, name, null, "", "", "", "", "",
        "", "built-in"),
      builder)

  val all: Seq[Native] = Seq(
    native("graft_interp", classOf[NativeInterp.type], NativeInterp.builder),
    native("graft_hash48", classOf[NativeHash48.type], NativeHash48.builder),
    native("graft_dot", classOf[NativeDot.type], NativeDot.builder),
    native("graft_top_cells", classOf[NativeTopCells.type],
      NativeTopCells.builder),
    native("graft_nfc", classOf[NativeNormalize.type],
      NativeNormalize.builder("nfc")),
    native("graft_strip_accents", classOf[NativeNormalize.type],
      NativeNormalize.builder("stripAccents"))) ++
    ArrayKernels.kernels.map(k =>
      native(k.name, classOf[ArrayKernels.type], k.builder))

  /** Registers every native the session's registry lacks. A second call
    * registers nothing, and a concurrent one re-registers the same
    * (info, builder) pair, which the registry treats as no change.
    */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

/** `SparkSessionExtensions` hook: makes every [[Natives]] function
  * available in every session of a cluster via spark.sql.extensions
  * (SURVEY.md §7.3 — the only piece of the engine that touches the
  * extension API; everything else is plain Column algebra by design).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    Natives.all.foreach(e.injectFunction)
}
