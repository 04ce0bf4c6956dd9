package graft.mr

import graft.SparkSuite
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import scala.jdk.CollectionConverters._

/** Differential golden tests, the port of the reference's test-mr.sh scheme
  * (main/test-mr.sh:64-131): the distributed result must equal a
  * single-threaded sequential oracle (port of main/mrsequential.go),
  * compared order-insensitively (the harness `sort`s outputs before cmp).
  * The corpus is the reference's pg-*.txt books when they are present,
  * otherwise `GeneratedCorpus`.
  */
class MRJobSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  /** Sequential oracle — read all files, map, global sort, group adjacent,
    * reduce (main/mrsequential.go:25-87). */
  private def sequential(paths: Seq[String],
                         mapf: (String, String) => Seq[KV],
                         reducef: (String, Seq[String]) => String): Seq[(String, String)] = {
    val intermediate = paths.flatMap { p =>
      val contents = new String(Files.readAllBytes(Paths.get(p)), "UTF-8")
      mapf(p.substring(p.lastIndexOf('/') + 1), contents)
    }.sortBy(_.key)
    intermediate.groupBy(_.key).toSeq.map { case (k, kvs) =>
      k -> reducef(k, kvs.map(_.value))
    }
  }

  private val (corpus, mostFrequent): (Seq[String], String) = {
    val dir = Paths.get("/root/reference/main")
    if (Files.isDirectory(dir))
      (Files.list(dir).iterator().asScala
        .map(_.toString).filter(_.matches(".*/pg-.*\\.txt")).toSeq.sorted,
        // 'the' is the most frequent English token in any Gutenberg corpus.
        "the")
    else
      (GeneratedCorpus.write(Files.createTempDirectory("mr-corpus"), seed = 7L),
        GeneratedCorpus.vocabulary.head)
  }

  /** The committed part files of a text-sink directory, in name order. */
  private def partFiles(out: String): Seq[Path] =
    Files.list(Paths.get(out)).iterator().asScala
      .filter(p => p.getFileName.toString.startsWith("part-")
        && !p.getFileName.toString.endsWith(".crc"))
      .toSeq.sortBy(_.getFileName.toString)

  private def distributed(mapf: (String, String) => Seq[KV],
                          reducef: (String, Seq[String]) => String): Seq[(String, String)] =
    MRJob.run(spark, corpus, 10, mapf, reducef)
      .collect().toSeq.map(kv => (kv.key, kv.value))

  test("corpus present") { assert(corpus.size == 8) }

  test("wc: distributed equals sequential oracle over pg corpus") {
    val got = distributed(MRApps.wcMap, MRApps.wcReduce).sorted
    val want = sequential(corpus, MRApps.wcMap, MRApps.wcReduce).sorted
    assert(got.size == want.size)
    assert(got == want)
  }

  test("indexer: distributed equals sequential oracle over pg corpus") {
    val got = distributed(MRApps.indexerMap, MRApps.indexerReduce).sorted
    val want = sequential(corpus, MRApps.indexerMap, MRApps.indexerReduce).sorted
    assert(got == want)
  }

  test("wc spot checks: known counts stay stable") {
    val counts = distributed(MRApps.wcMap, MRApps.wcReduce).toMap
    // Every word occurs at least once and counts are positive integers.
    assert(counts.nonEmpty)
    assert(counts.values.forall(v => v.toInt > 0))
    val top = counts(mostFrequent).toInt
    assert(counts.values.map(_.toInt).max == top)
  }

  test("tokenizer: letters-only runs, Unicode category L") {
    assert(MRApps.tokenize("a b,c;d").toSeq == Seq("a", "b", "c", "d"))
    assert(MRApps.tokenize("héllo wörld").toSeq == Seq("héllo", "wörld"))
    assert(MRApps.tokenize("x1y2z").toSeq == Seq("x", "y", "z"))
    assert(MRApps.tokenize("").toSeq == Seq())
    assert(MRApps.tokenize("123 456").toSeq == Seq())
    // Supplementary-plane letters (U+1D49C, U+10400) are one code point,
    // two chars, and stay inside their token.
    assert(MRApps.tokenize("a\uD835\uDC9Cb \uD801\uDC00").toSeq == Seq("a\uD835\uDC9Cb", "\uD801\uDC00"))
    // A lone surrogate is not a letter (category Cs): it separates.
    assert(MRApps.tokenize("ab\uD800cd\uDC00e").toSeq == Seq("ab", "cd", "e"))
    // A combining mark (U+0301, category Mn) separates, as under Go's
    // unicode.IsLetter.
    assert(MRApps.tokenize("cafe\u0301s").toSeq == Seq("cafe", "s"))
  }

  test("crash analogue: first-attempt task failure still yields golden wc output") {
    // Port of test-mr.sh:270-317 (crash.so): tasks die mid-flight, the job
    // must still byte-match the no-crash oracle. Deterministic injection —
    // every partition's first attempt throws (heavier than the reference's
    // ~33% random exits); local[4,2] retries make the job complete.
    val attempted = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val crashingMap: (String, String) => Seq[KV] = (doc, contents) => {
      val tc = org.apache.spark.TaskContext.get()
      if (tc != null && tc.attemptNumber() == 0 && attempted.add(tc.partitionId())) {
        throw new RuntimeException("injected crash (crash.go analogue)")
      }
      MRApps.wcMap(doc, contents)
    }
    val got = MRJob.run(spark, corpus, 10, crashingMap, MRApps.wcReduce)
      .collect().toSeq.map(kv => (kv.key, kv.value)).sorted
    val want = sequential(corpus, MRApps.wcMap, MRApps.wcReduce).sorted
    assert(got == want, "crash-retried output must equal the sequential oracle")
  }

  test("nReduce controls output partition count (mr-out-<r> parity)") {
    val out = Files.createTempDirectory("mrout-n").toString
    MRJob.runToText(spark, corpus.take(2), 10, MRApps.wcMap, MRApps.wcReduce, out)
    val parts = partFiles(out).size
    assert(parts == 10, s"expected 10 output partitions (nReduce), got $parts")
  }

  test("runToText writes reference line format 'key value'") {
    val out = Files.createTempDirectory("mrout").toString
    MRJob.runToText(spark, corpus.take(1), 3, MRApps.wcMap, MRApps.wcReduce, out)
    val lines = partFiles(out).flatMap(p => Files.readAllLines(p).asScala)
    assert(lines.nonEmpty)
    assert(lines.forall(_.matches("\\S+ \\S+")))
  }

  test("one shuffle: the final adaptive plan has a single nReduce-way exchange") {
    // AQE on with partition coalescing at its default: the explicit
    // repartition must be the only exchange and keep all nReduce buckets.
    val ds = MRJob.run(spark, corpus, 10, MRApps.wcMap, MRApps.wcReduce)
    ds.collect()
    val plan = ds.queryExecution.executedPlan
    assert(plan.toString.contains("isFinalPlan=true"), plan.toString)
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.map(_.numPartitions) == Seq(10), plan.toString)
  }

  test("runToText part files are key-sorted by UTF-8 bytes and union to the oracle") {
    // Each part file is one reduce bucket written in the reference's
    // mr-out-<r> order: worker.go's sort.Sort(ByKey) compares Go strings,
    // i.e. UTF-8 bytes (which differs from UTF-16 order past U+E000).
    val out = Files.createTempDirectory("mrout-sorted").toString
    MRJob.runToText(spark, corpus, 10, MRApps.wcMap, MRApps.wcReduce, out)
    val files = partFiles(out)
    assert(files.size == 10)
    val perFile = files.map(p => Files.readAllLines(p, UTF_8).asScala.toSeq)
    perFile.zip(files).foreach { case (lines, p) =>
      val keys = lines.map(l => l.substring(0, l.indexOf(' ')).getBytes(UTF_8))
      keys.zip(keys.drop(1)).foreach { case (a, b) =>
        assert(java.util.Arrays.compareUnsigned(a, b) < 0,
          s"${p.getFileName}: '${new String(a, UTF_8)}' not before '${new String(b, UTF_8)}'")
      }
    }
    val want = sequential(corpus, MRApps.wcMap, MRApps.wcReduce)
      .map { case (k, v) => s"$k $v" }.sorted
    assert(perFile.flatten.sorted == want)
  }
}

/** Seeded stand-in for the reference's eight pg-*.txt books: Zipf-distributed
  * words over a fixed vocabulary of letter runs — ASCII, Latin-1, Cyrillic,
  * Greek, a BMP letter past U+E000 (U+FB00) and a supplementary-plane letter
  * (U+10428), which sort one way in UTF-8 and the other in UTF-16 — joined
  * by whitespace, punctuation and digit separators. Rank 1 is
  * `vocabulary.head`.
  */
object GeneratedCorpus {
  private val Letters: Vector[String] =
    ("abcdefghijklmnopqrstuvwxyz" + "\u00e9\u00df\u00f1\u00f8\u00e6" +
      "\u0436\u043b\u0434\u0444\u044b" + "\u03bb\u03b2\u03b3\u03b4\u03c9" + "\ufb00")
      .map(_.toString).toVector :+ "\uD801\uDC28"
  private val Separators =
    Vector(" ", " ", " ", "  ", ", ", ". ", "\n", "; ", " 1999 ", "-", "'", " (", ") ", "\t")

  val vocabulary: Vector[String] = {
    val r = new java.util.Random(20250101L)
    Iterator.continually {
      // Mostly lowercase ASCII; one word in six draws from every letter.
      val wide = r.nextInt(6) == 0
      (0 until 1 + r.nextInt(8))
        .map(_ => Letters(if (wide) r.nextInt(Letters.size) else r.nextInt(26))).mkString
    }.distinct.take(2000).toVector
  }

  /** Writes pg-0.txt .. pg-7.txt of 20k words each into `dir`; returns
    * their paths in name order. */
  def write(dir: Path, seed: Long): Seq[String] = {
    val cdf = {
      val w = vocabulary.indices.map(i => 1.0 / (i + 1))
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    val r = new java.util.Random(seed)
    (0 until 8).map { f =>
      val sb = new java.lang.StringBuilder
      (0 until 20000).foreach { _ =>
        val k = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        sb.append(vocabulary(math.min(vocabulary.size - 1, if (k >= 0) k else -k - 1)))
          .append(Separators(r.nextInt(Separators.size)))
      }
      Files.write(dir.resolve(s"pg-$f.txt"), sb.toString.getBytes(UTF_8)).toString
    }
  }
}
