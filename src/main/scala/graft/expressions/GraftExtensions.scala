package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** `SparkSessionExtensions` entry point: makes the library's native
  * expressions available on a cluster WITHOUT code — i.e.
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.expressions.GraftExtensions …
  * }}}
  *
  * registers all six [[Functions.builders]] entries — `rolling_hash_min`,
  * `content_chunk_bounds`, `unicode_nfc`, `unicode_nfkc`,
  * `strip_accents` and `jaro_winkler` — as built-in functions of every
  * session the cluster builds, the standard deployment hook for Catalyst
  * extensions. Shares the builder table with the programmatic
  * [[Functions.register]] path, so the two surfaces cannot drift.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    Functions.builders.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}
