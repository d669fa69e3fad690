package graft

/** Central inventory of every operator the engine exposes through the
  * driver contract. Each family object contributes its QueryDefs; SparkEntry
  * derives `queries` / `oracleSql` from here.
  */
object Registry {
  /** Family → source file, the single list `all` and the generated
    * docs/INVENTORY.md both derive from (r13: the inventory is written
    * by graft.Certify, never hand-edited — it had drifted 338 vs 343).
    */
  def families: Seq[(String, Seq[QueryDef])] = Seq(
    "graft/operators/Relational.scala" -> operators.Relational.defs,
    "graft/operators/Joins.scala" -> operators.Joins.defs,
    "graft/operators/SetOps.scala" -> operators.SetOps.defs,
    "graft/operators/Windows.scala" -> operators.Windows.defs,
    "graft/operators/TextOps.scala" -> operators.TextOps.defs,
    "graft/operators/Dedup.scala" -> operators.Dedup.defs,
    "graft/operators/Components.scala" -> operators.Components.defs,
    "graft/operators/LinkRank.scala" -> operators.LinkRank.defs,
    "graft/operators/Similarity.scala" -> operators.Similarity.defs,
    "graft/operators/Functions2.scala" -> operators.Functions2.defs,
    "graft/operators/Bucketing.scala" -> operators.Bucketing.defs,
    "graft/operators/Sampling.scala" -> operators.Sampling.defs,
    "graft/operators/Multimodal.scala" -> operators.Multimodal.defs,
    "graft/operators/Formats.scala" -> operators.Formats.defs,
    "graft/operators/ScaleOps.scala" -> operators.ScaleOps.defs,
    "graft/operators/Maintenance.scala" -> operators.Maintenance.defs,
    "graft/operators/ScaleDiag.scala" -> operators.ScaleDiag.defs,
    "graft/operators/CorpusBuild.scala" -> operators.CorpusBuild.defs,
    "graft/streaming/EventStream.scala" -> streaming.EventStream.defs,
    "graft/health/HealthQueries.scala" -> health.HealthQueries.defs)

  /** Every query, its `fn` wrapped to run [[GraftSession.ensure]] first:
    * the registry is the door through which sessions the engine did not
    * build (a contract client's, the benchmark's) reach it. */
  def all: Seq[QueryDef] = families.flatMap(_._2).map { d =>
    d.copy(fn = (spark, dir) => { GraftSession.ensure(spark); d.fn(spark, dir) })
  }

  lazy val byName: Map[String, QueryDef] = all.map(d => d.name -> d).toMap
}
