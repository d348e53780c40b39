package graft

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions.col

package object html {

  /** The per-page row stage behind the parsers' `*Rows` wrappers: reads
    * `(idCol as long, srcCol as string)` and emits `f`'s rows — one typed
    * flatMap, map-only. A null page reaches `f` as null. */
  private[graft] def pageRows[T <: Product : TypeTag](df: DataFrame, idCol: String,
      srcCol: String)(f: (Long, String) => IterableOnce[T]): Dataset[T] =
    df.select(col(idCol).cast("long"), col(srcCol).cast("string"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .flatMap { case (id, src) => f(id, src) }(Encoders.product[T])

  /** The value of the first tokenizer attribute called `name`, or "". */
  private[html] def attr(attrs: List[(String, String)], name: String): String =
    attrs.collectFirst { case (k, v) if k == name => v }.getOrElse("")

  /** Runs of Unicode whitespace collapse to one space; leading and
    * trailing whitespace is dropped. */
  private[html] def collapseWs(s: String): String = {
    val sb = new StringBuilder(s.length)
    var inWs = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isWhitespace(c)) inWs = true
      else {
        if (inWs && sb.nonEmpty) sb.append(' ')
        inWs = false
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }
}
