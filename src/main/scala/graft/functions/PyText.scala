package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** CPython string-casing semantics as native Catalyst expressions.
  *
  * The reference cleans names with Python's `str.title()` /
  * `str.capitalize()` (Health_Jim.py:194 per-word capitalize,
  * Health_Jim.py:215 title). Both differ from Spark's `initcap`:
  *
  *  - `title()` upper-cases a letter after ANY non-letter (so
  *    `parkinson's disease` → `Parkinson'S Disease` — the apostrophe
  *    restarts a "word"), while `initcap` splits on whitespace only;
  *  - `capitalize()` lower-cases the entire tail (`USA` → `Usa`), while
  *    `initcap` on a single word also lowercases the tail but differs on
  *    strings with internal separators.
  *
  * These artifacts are load-bearing for reference parity (`Parkinson'S
  * Disease`, `Usa` appear in the published outputs — SURVEY §2.7 Q8), so
  * the semantics are replicated character-by-character. Java's
  * Character.isLetter/toUpperCase agree with Python's cased/upper on the
  * ASCII + Latin-1 repertoire this dataset uses.
  */
object PyTextUtil {

  /** Python str.title(): letters get upper-case iff the previous char is
    * not a letter, lower-case otherwise.
    */
  def title(s: UTF8String): UTF8String = {
    val str = s.toString
    val sb = new java.lang.StringBuilder(str.length)
    var prevCased = false
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (Character.isLetter(c)) {
        sb.append(if (prevCased) Character.toLowerCase(c) else Character.toUpperCase(c))
        prevCased = true
      } else {
        sb.append(c)
        prevCased = false
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** Python str.capitalize(): first char upper, ALL the rest lower. */
  def capitalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (str.isEmpty) s
    else UTF8String.fromString(
      Character.toUpperCase(str.charAt(0)) + str.substring(1).toLowerCase)
  }

  /** Python `' '.join(p.capitalize() for p in s.split())`: split on
    * whitespace runs (dropping empties), capitalize each word, join with
    * single spaces — the reference's country-name casing
    * (Health_Jim.py:190-193). Also collapses/strips whitespace as a side
    * effect of split/join, exactly like Python.
    */
  def capWords(s: UTF8String): UTF8String = {
    val parts = s.toString.split("\\s+").filter(_.nonEmpty)
    UTF8String.fromString(parts.map { p =>
      Character.toUpperCase(p.charAt(0)) + p.substring(1).toLowerCase
    }.mkString(" "))
  }
}

abstract class PyStringExpression extends UnaryExpression {
  override def dataType: DataType = StringType
  protected def methodName: String

  override protected def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    methodName match {
      case "title"      => PyTextUtil.title(s)
      case "capitalize" => PyTextUtil.capitalize(s)
      case "capWords"   => PyTextUtil.capWords(s)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PyTextUtil.$methodName($c)")
}

/** `py_title(s)` — CPython str.title(). */
case class PyTitle(child: Expression) extends PyStringExpression {
  override protected def methodName: String = "title"
  override def prettyName: String = "py_title"
  override protected def withNewChildInternal(newChild: Expression): PyTitle =
    copy(child = newChild)
}

/** `py_capitalize(s)` — CPython str.capitalize(). */
case class PyCapitalize(child: Expression) extends PyStringExpression {
  override protected def methodName: String = "capitalize"
  override def prettyName: String = "py_capitalize"
  override protected def withNewChildInternal(newChild: Expression): PyCapitalize =
    copy(child = newChild)
}

/** `py_cap_words(s)` — split/capitalize/join, Python-style. */
case class PyCapWords(child: Expression) extends PyStringExpression {
  override protected def methodName: String = "capWords"
  override def prettyName: String = "py_cap_words"
  override protected def withNewChildInternal(newChild: Expression): PyCapWords =
    copy(child = newChild)
}

object PyText {
  import org.apache.spark.sql.functions.call_function
  // Column builders over the session functions of graft.functions.GraftFunctions
  def pyTitle(c: Column): Column = call_function("py_title", c)
  def pyCapitalize(c: Column): Column = call_function("py_capitalize", c)
  def pyCapWords(c: Column): Column = call_function("py_cap_words", c)
}
