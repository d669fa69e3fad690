package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Formats
import graft.util.Scratch

class FormatsSpec extends AnyFunSuite {
  import SparkTestSession._

  test("io01: json read-back prunes partitions instead of scanning them") {
    val df = Formats.io01JsonRoundtrip(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    // the status predicate must land in PartitionFilters (directory
    // pruning against the partitioned json layout), not survive as a
    // row-level Filter over a full scan
    assert(plan.contains("PartitionFilters: ["), s"no partition filters in:\n$plan")
    assert(plan.contains("o_orderstatus"), s"status not in partition filters:\n$plan")
  }

  test("io03: merged schema surfaces the late column, nulls for early batches") {
    val df = Formats.io03SchemaEvolution(spark, sf)
    val rows = df.collect()
    // the UNKNOWN bucket is exactly the early-batch (even-key) rows,
    // which must report zero non-null priorities
    val unknown = rows.filter(_.getString(0) == "UNKNOWN")
    assert(unknown.length === 1 && unknown.head.getLong(2) === 0L)
    // every named-priority bucket is fully populated
    rows.filterNot(_.getString(0) == "UNKNOWN")
      .foreach(r => assert(r.getLong(1) === r.getLong(2), s"partial priority: $r"))
  }

  test("io04: corrupt rows keep their raw line for quarantine") {
    import org.apache.spark.sql.types._
    val out = Scratch.dir("graft_io04spec_")
    Tables.orders(spark, sf)
      .select(org.apache.spark.sql.functions.concat_ws(",",
        org.apache.spark.sql.functions.when(
          org.apache.spark.sql.functions.col("o_orderkey") % 97 === 0,
          org.apache.spark.sql.functions.lit("NOT_A_KEY"))
          .otherwise(org.apache.spark.sql.functions.col("o_orderkey").cast("string")),
        org.apache.spark.sql.functions.col("o_custkey"),
        org.apache.spark.sql.functions.col("o_totalprice")).as("line"))
      .write.mode("overwrite").text(out)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("c", LongType),
      StructField("p", DoubleType), StructField("_corrupt_record", StringType)))
    // Spark disallows queries touching ONLY the corrupt column
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — keep a parsed column in the
    // projection so the scan is legal
    val corrupt = spark.read.schema(schema)
      .option("columnNameOfCorruptRecord", "_corrupt_record").csv(out)
      .select("k", "_corrupt_record").collect()
      .filter(!_.isNullAt(1)).map(_.getString(1))
    assert(corrupt.nonEmpty)
    assert(corrupt.forall(_.startsWith("NOT_A_KEY,")), "raw line not preserved")
  }

  test("io02: quantity predicate is pushed to the ORC reader") {
    val df = Formats.io02OrcRoundtrip(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(plan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThanOrEqual(l_quantity,25.0)]"),
      s"quantity filter not pushed:\n$plan")
  }

  test("graft-lines DSv2: split ownership is exact under a prime chunk size") {
    import org.apache.spark.sql.functions._
    val scratch = graft.util.Scratch.dir("graft_lines_spec_")
    Tables.documents(spark, sf)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("value"))
      .write.mode("overwrite").text(scratch)
    def read(chunk: Long) = spark.read.format("graft-lines")
      .option("chunkBytes", chunk).load(scratch)
      .select(col("offset"), col("line")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val single = read(1L << 30)      // one chunk: trivially correct
    val tortured = read(97L)         // prime chunk size: every boundary case
    assert(tortured.length == single.length, "line lost or duplicated at a split boundary")
    assert(tortured.sameElements(single))
    // ground truth: Spark's own text reader sees the same line multiset
    val plain = spark.read.text(scratch).collect().map(_.getString(0)).sorted
    assert(single.map(_._2).sorted.sameElements(plain))
  }

  test("graft-lines DSv2: offset pushdown prunes chunks; column pruning reaches the scan") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    val scratch = graft.util.Scratch.dir("graft_lines_spec2_")
    Tables.documents(spark, sf)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("value"))
      .write.mode("overwrite").text(scratch)
    def src = spark.read.format("graft-lines").option("chunkBytes", 16384).load(scratch)
    val all = src.select("offset")
    val tail = src.filter(col("offset") >= 100000L).select("offset")
    val allParts = all.rdd.getNumPartitions
    val tailParts = tail.rdd.getNumPartitions
    assert(allParts >= 9, s"expected ~150KB/16KB chunks, got $allParts")
    assert(tailParts < allParts / 2,
      s"offset pushdown did not prune: $tailParts of $allParts chunks survive")
    // row-level bound enforced on the straddling chunk
    assert(tail.collect().forall(_.getLong(0) >= 100000L))
    assert(tail.count() == all.filter(col("offset") >= 100000L).count())
    // column pruning: the scan's read schema drops line and path
    val scan = tail.queryExecution.executedPlan.collectLeaves()
      .collectFirst { case b: BatchScanExec => b.scan }.get
    assert(scan.readSchema().fieldNames.sameElements(Array("offset")),
      s"scan still reads ${scan.readSchema().fieldNames.mkString(",")}")
  }

  test("graft-lines DSv2: runtime filtering only advertised while offset survives pruning") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    val scratch = graft.util.Scratch.dir("graft_lines_spec_rf_")
    Tables.documents(spark, sf).limit(200)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .repartition(1).write.mode("overwrite").text(scratch)
    def src = spark.read.format("graft-lines").option("chunkBytes", 16384).load(scratch)
    // REGRESSION (ADVICE r8): a query projecting only `line`, joined on a
    // line-derived key, reaches PartitionPruning's resolveRefs with the
    // scan's OUTPUT lacking offset — an unconditionally-advertised
    // filterAttributes threw AnalysisException at planning time.
    val keyed = src.select(col("line"))
      .withColumn("k", pmod(length(col("line")), lit(7)))
    val dim = spark.range(7).select(col("id").cast("int").as("k"), lit(1).as("tag"))
    val joined = keyed.join(dim, Seq("k")).agg(count(lit(1)))
    assert(joined.collect().head.getLong(0) > 0L)
    def scanOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collectLeaves()
        .collectFirst { case b: BatchScanExec =>
          b.scan.asInstanceOf[org.apache.spark.sql.connector.read
            .SupportsRuntimeFiltering] }.get
    val pruned = src.select(col("line")); pruned.collect()
    assert(scanOf(pruned).filterAttributes().isEmpty,
      "offset pruned from the read schema but still advertised for runtime filtering")
    val kept = src.select(col("offset"), col("line")); kept.collect()
    assert(scanOf(kept).filterAttributes().map(_.toString).sameElements(Array("offset")),
      "offset present in the read schema must stay advertised (io14 depends on it)")
  }

  test("graft-lines DSv2: COUNT(*) pushes into the source, one partial per chunk") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.functions._
    val scratch = graft.util.Scratch.dir("graft_lines_agg_spec_")
    val nDocs = Tables.documents(spark, sf).count()
    Tables.documents(spark, sf)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("value"))
      .write.mode("overwrite").text(scratch)
    def src = spark.read.format("graft-lines").option("chunkBytes", 16384).load(scratch)
    val counted = src.agg(expr("count(*)").as("n"))
    // collect() (not head(), which plans a separate limited query) so
    // the metrics below come from THIS plan's execution
    assert(counted.collect().head.getLong(0) == nDocs)
    // the aggregate must have reached the scan: read schema collapses to
    // the count column and the scan emits one row PER CHUNK, not per line
    // (the aggregate plan is adaptive — unwrap AQE/stage nodes to reach
    // the materialized BatchScanExec and its metrics)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def findScan(p: SparkPlan): Option[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findScan(a.executedPlan)
      case s: QueryStageExec        => findScan(s.plan)
      case b: BatchScanExec         => Some(b)
      case other => other.children.view.flatMap(findScan).headOption
    }
    val scanExec = findScan(counted.queryExecution.executedPlan).get
    assert(scanExec.scan.readSchema().fieldNames.sameElements(Array("count(*)")),
      s"aggregate not pushed: scan reads ${scanExec.scan.readSchema().fieldNames.mkString(",")}")
    val chunks = src.select("offset").rdd.getNumPartitions
    val emitted = scanExec.metrics("numOutputRows").value
    assert(emitted == chunks && chunks < nDocs,
      s"expected $chunks partial counts from the scan, saw $emitted (lines: $nDocs)")
    // and the pushed count honors the pushed offset interval
    val tailPush = src.filter(col("offset") >= 100000L).agg(expr("count(*)")).head().getLong(0)
    val tailRows = src.filter(col("offset") >= 100000L).select("offset").count()
    assert(tailPush == tailRows, "pushed count diverges from the row path under offset pushdown")
  }

  test("graft-lines DSv2: session Hadoop conf survives the executor round-trip") {
    // the reader must open files with the DRIVER's Hadoop conf (S3
    // creds, fs.* options), shipped via Java serialization — a bare
    // `new Configuration()` on the executor drops all of it
    val conf = new org.apache.hadoop.conf.Configuration()
    conf.set("graft.test.sentinel", "through-the-wire")
    val carrier = new graft.sources.SerializableHadoopConf(conf)
    val bytes = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bytes)
    oos.writeObject(carrier); oos.close()
    val back = new java.io.ObjectInputStream(
      new java.io.ByteArrayInputStream(bytes.toByteArray))
      .readObject().asInstanceOf[graft.sources.SerializableHadoopConf]
    assert(back.value.get("graft.test.sentinel") == "through-the-wire")
  }

  test("io14: runtime filter reaches the lines scan and prunes chunks; results DPP-invariant") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scratch = graft.util.Scratch.dir("graft_io14_spec_")
    Tables.documents(spark, sf)
      .select(concat(col("doc_id").cast("string"), lit("\t"), col("text")).as("value"))
      .repartition(1).sortWithinPartitions(col("value"))
      .write.mode("overwrite").text(s"$scratch/lines")
    def lines = spark.read.format("graft-lines")
      .option("chunkBytes", 4096).load(s"$scratch/lines")
    lines.select(col("offset"),
        split(col("line"), "\t").getItem(0).cast("long").as("doc_id"))
      .write.mode("overwrite").parquet(s"$scratch/idx")
    // mid-corpus slice so pruning bites from BOTH ends of the shard
    def idx = spark.read.parquet(s"$scratch/idx").filter(col("doc_id") % 200 === 150)
    def q = lines.join(idx, Seq("offset"))
      .select(col("doc_id"), md5(col("line")).as("m"))
    val got = q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // ground truth with dynamic pruning OFF: same rows, unpruned scan
    val off = "spark.sql.optimizer.dynamicPartitionPruning.enabled"
    spark.conf.set(off, "false")
    val want = try q.collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
               finally spark.conf.set(off, "true")
    assert(got.sameElements(want) && got.nonEmpty, "results changed under runtime filtering")
    // the executed plan carries a runtime filter on the lines scan, and
    // the scan planned FEWER chunk partitions than the unfiltered read
    def findLines(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => findLines(a.executedPlan)
      case s: QueryStageExec        => findLines(s.plan)
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sources.LinesScan] => Seq(b)
      case other => other.children.flatMap(findLines)
    }
    val ran = q
    ran.collect()
    val scanExec = findLines(ran.queryExecution.executedPlan).head
    assert(scanExec.runtimeFilters.nonEmpty, "no runtime filter delivered to the scan")
    val pruned = scanExec.inputRDD.getNumPartitions
    val full = lines.select("offset").rdd.getNumPartitions
    assert(pruned < full, s"runtime filter pruned nothing: $pruned of $full chunks")
  }
}
