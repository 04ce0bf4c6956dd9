package graft.mr

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The reference engine's single datum type: a schema-less string pair
  * (reference: mr/worker.go:15-18). Typed `Dataset[KV]` keeps the generic
  * MR API type-safe while staying inside Tungsten row encoding.
  */
case class KV(key: String, value: String)

/** Spark-native replacement for the reference's whole public API surface
  * (reference: mr/worker.go:180 `Worker(mapf, reducef)`,
  * mr/coordinator.go:202 `MakeCoordinator(files, nReduce)`, and the plugin
  * contract main/mrworker.go:34-51).
  *
  * The coordinator/worker/RPC/S3 plumbing of the reference collapses into
  * Spark internals: DAGScheduler gives the map-before-reduce barrier
  * (coordinator.go:105), task retry + FileCommitProtocol give at-least-once
  * execution with exactly-once output (worker.go:84-94), and the sort-based
  * shuffle replaces the nMap×nReduce JSON intermediate files (worker.go:86).
  *
  * One shuffle, as in the reference: map output is hash-partitioned by key
  * into nReduce buckets, and each reduce task sorts its bucket, groups,
  * reduces and (in `runToText`) writes its own part file — the reference's
  * mr-out-<r>, keys ascending in UTF-8 byte order like worker.go's
  * `sort.Sort(ByKey)`. Grouping is on the `key` column, not a lambda: a
  * lambda key (`groupByKey(_.key)`) appends a copy of the key to every
  * shuffled row and hides the key partitioning from the planner, which then
  * needs a second exchange to reach nReduce partitions. On the column, the
  * explicit `repartition(nReduce, key)` already meets `mapGroups`'
  * clustering requirement, and AQE never coalesces an explicit
  * repartition, so there are always nReduce reduce tasks.
  *
  * Scale notes: `mapf` sees a whole file as one string — that is the
  * reference's semantic contract (worker.go:54-60), so per-file memory is
  * inherent to the API; `reducef` sees all values of a key, so a skewed key
  * materializes its value list exactly like the reference (worker.go:142-145).
  * The relational/query layer (graft.queries) never uses this API — it uses
  * algebraic aggregates that stream and combine map-side.
  */
object MRJob {

  /** flatMap(file → KVs) → shuffle by key → reduce(key, values) → KVs. */
  def run(spark: SparkSession,
          inputPaths: Seq[String],
          nReduce: Int,
          mapf: (String, String) => Seq[KV],
          reducef: (String, Seq[String]) => String): Dataset[KV] = {
    import spark.implicits._
    // Whole-file input: one record per file, exactly the reference's split
    // granularity (one map task per file, worker.go:41-60).
    val files: Dataset[(String, String)] =
      spark.read.option("wholetext", "true").text(inputPaths: _*)
        .select(input_file_name().as("path"), col("value"))
        .as[(String, String)]
    val mapped: Dataset[KV] = files.flatMap { case (path, contents) =>
      mapf(fileName(path), contents)
    }
    // Spark's key hash stands in for the reference's fnv32a%nReduce
    // (SURVEY.md §1.3): the contract is per-key grouping into nReduce
    // buckets, not which bucket a key lands in.
    mapped
      .repartition(nReduce, col("key"))
      .groupBy(col("key")).as[String, KV]
      .mapGroups { (k, it) => KV(k, reducef(k, it.map(_.value).toSeq)) }
  }

  /** Text sink with the reference's exact `"key value\n"` line format
    * (worker.go:151) — each reduce task writes its sorted groups straight
    * to one part file, mirroring mr-out-<r>. Spark's FileCommitProtocol
    * provides the same temp-file + rename idempotent commit as
    * worker.go:156-164.
    */
  def runToText(spark: SparkSession,
                inputPaths: Seq[String],
                nReduce: Int,
                mapf: (String, String) => Seq[KV],
                reducef: (String, Seq[String]) => String,
                outDir: String): Unit =
    run(spark, inputPaths, nReduce, mapf, reducef)
      .select(concat_ws(" ", col("key"), col("value")))
      .write.mode("overwrite").text(outDir)

  private def fileName(path: String): String =
    path.substring(path.lastIndexOf('/') + 1)
}

/** The two real applications shipped with the reference, re-expressed as
  * mapf/reducef pairs for the MR-compat API. The query layer re-expresses
  * both natively (graft.queries.TextQueries) — these exist for API parity
  * and the differential golden tests.
  */
object MRApps {
  /** Separator runs for the SQL `split` form of the tokenizer (the
    * DataFrame queries); Java `\p{L}` matches the same category-L set as
    * `Character.isLetter`.
    */
  val TokenPattern = "[^\\p{L}]+"

  /** Maximal runs of Unicode letters — Go's
    * `FieldsFunc(c, r => !unicode.IsLetter(r))` (mrapps/wc.go:23-26) — by
    * one code-point scan. Same tokens as `split(TokenPattern)`; lone
    * surrogates and combining marks are separators, as in Go.
    */
  def tokenize(contents: String): Array[String] = {
    val out = Array.newBuilder[String]
    val n = contents.length
    var start = -1
    var i = 0
    while (i < n) {
      val cp = contents.codePointAt(i)
      if (Character.isLetter(cp)) { if (start < 0) start = i }
      else if (start >= 0) { out += contents.substring(start, i); start = -1 }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += contents.substring(start, n)
    out.result()
  }

  /** wc: emit (word,"1") per occurrence; count = number of values
    * (mrapps/wc.go:21-44). */
  val wcMap: (String, String) => Seq[KV] =
    (_, contents) => tokenize(contents).map(w => KV(w, "1")).toSeq
  val wcReduce: (String, Seq[String]) => String =
    (_, values) => values.size.toString

  /** indexer: per-doc distinct words → "<df> <doc1,doc2,...>"
    * (mrapps/indexer.go:20-39). */
  val indexerMap: (String, String) => Seq[KV] =
    (doc, contents) => tokenize(contents).distinct.map(w => KV(w, doc)).toSeq
  val indexerReduce: (String, Seq[String]) => String =
    (_, docs) => s"${docs.size} ${docs.sorted.mkString(",")}"
}
