package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one list of graft's native SQL functions. `graft.GraftExtensions`
  * injects every entry into sessions built with the extension, and
  * `graft.GraftSession.ensure` registers any missing entry into sessions
  * built without it; nothing else names these functions.
  */
object GraftFunctions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def fn(name: String, cls: Class[_ <: Expression])(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  val table: Seq[Entry] = Seq(
    fn("vec_dot", classOf[VecDotLong])(es => VecDotLong(es(0), es(1))),
    fn("nfc_normalize", classOf[NfcNormalize])(es => NfcNormalize(es.head)),
    fn("byte_surprisal", classOf[ByteSurprisal])(es => ByteSurprisal(es.head)),
    fn("sorted_intersect_count", classOf[SortedIntersectCount])(
      es => SortedIntersectCount(es(0), es(1))),
    fn("winnow_mins", classOf[WinnowMins])(es => WinnowMins(es(0), es(1))),
    fn("shingle_hashes", classOf[ShingleHashes])(es => ShingleHashes(es(0), es(1))),
    fn("py_title", classOf[PyTitle])(es => PyTitle(es.head)),
    fn("py_capitalize", classOf[PyCapitalize])(es => PyCapitalize(es.head)),
    fn("py_cap_words", classOf[PyCapWords])(es => PyCapWords(es.head)),
    // bithistw takes the weight SECOND; BitHistAgg keeps it last
    fn("bithist", classOf[BitHistAgg])(es => BitHistAgg(es(0), es(1), es(2), es(3), es(4))),
    fn("bithistw", classOf[BitHistAgg])(
      es => BitHistAgg(es(0), es(2), es(3), es(4), es(5), es(1))),
    fn("topk", classOf[TopKAgg])(es => TopKAgg(es(0), es(1))))
}
