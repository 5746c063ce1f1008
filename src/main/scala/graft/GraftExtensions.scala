package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.expressions.GraftFunctions

/** `spark.sql.extensions` entry point — the deployment-grade way to ship
  * this library's native expressions: a cluster operator sets
  *
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  *
  * and every session (including ones created by notebooks, Thrift server
  * connections, or structured-streaming jobs the operator doesn't control)
  * has `graft_simhash16`, `graft_minhash16`, `graft_dotq`, `graft_l2q`,
  * `graft_shingle3`, and `graft_nfc` available in SQL text. Injection
  * happens at session BUILD time through the extensions hook, the same
  * mechanism Delta/Iceberg use to install their parsers and rules;
  * `graft.Session` installs it on every session this library builds.
  * SQL text is the only thing that needs it: library code calls the typed
  * Column functions in `GraftFunctions`, which build the same expression
  * classes as this hook's table (`GraftFunctions.builders`, arity-gated at
  * analysis time), so a query's plan is identical whichever way it was
  * written.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, name)

  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.builders.foreach { case (name, n, build) =>
      ext.injectFunction((FunctionIdentifier(name), info(name),
        GraftFunctions.arityChecked(name, n)(build)))
    }
}
