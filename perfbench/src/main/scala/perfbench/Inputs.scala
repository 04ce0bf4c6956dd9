package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.mr.KV

/** Seeded text corpus for the MapReduce workload: Zipf-distributed words
  * over a fixed vocabulary of letter runs (ASCII and non-ASCII letters),
  * joined by the separators the reference tokenizer must split on
  * (spaces, punctuation, digits, newlines). Same seed, same bytes.
  */
object Corpus {
  private val Letters =
    ("abcdefghijklmnopqrstuvwxyz" + "ABCDEFGHIJKLMNOPQRSTUVWXYZ" +
      "éèüößñçøåæ" + "жлдфыйцук" + "λβγδσω").toVector
  private val Separators = Vector(" ", " ", " ", " ", ", ", ". ", "\n", " - ", "; ", " 42 ", "'")

  /** The vocabulary is part of the benchmark, not of the seed. */
  val vocabulary: Vector[String] = {
    val r = new java.util.Random(20240917L)
    Iterator.continually {
      val n = 2 + r.nextInt(9)
      // Mostly lowercase ASCII, one word in eight carries other letters.
      val wide = r.nextInt(8) == 0
      (0 until n).map { _ =>
        if (wide) Letters(r.nextInt(Letters.size)) else Letters(r.nextInt(26))
      }.mkString
    }.distinct.take(20000).toVector
  }

  /** Writes `files` files of `words` words each; returns their paths. */
  def write(dir: Path, seed: Long, files: Int, words: Int): Seq[Path] = {
    Files.createDirectories(dir)
    val cdf = {
      val w = vocabulary.indices.map(i => 1.0 / math.pow(i + 1, 1.07))
      val s = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / s).toArray
    }
    val r = new java.util.Random(seed)
    (0 until files).map { f =>
      val sb = new java.lang.StringBuilder(words * 8)
      var i = 0
      while (i < words) {
        val k = java.util.Arrays.binarySearch(cdf, r.nextDouble())
        sb.append(vocabulary(math.min(vocabulary.size - 1, if (k >= 0) k else -k - 1)))
        sb.append(Separators(r.nextInt(Separators.size)))
        i += 1
      }
      val p = dir.resolve(f"doc-$f%02d.txt")
      Files.write(p, sb.toString.getBytes(UTF_8))
      p
    }
  }

  /** Port of the reference's sequential program (mrsequential): read every
    * file, map, sort by key, group, reduce; returned as the sorted
    * "key value" lines its output files would hold.
    */
  def sequential(paths: Seq[Path], mapf: (String, String) => Seq[KV],
      reducef: (String, Seq[String]) => String): Vector[String] = {
    val intermediate = paths.flatMap { p =>
      mapf(p.getFileName.toString, new String(Files.readAllBytes(p), UTF_8))
    }.sortBy(_.key)
    intermediate.groupBy(_.key).iterator
      .map { case (k, kvs) => s"$k ${reducef(k, kvs.map(_.value))}" }
      .toVector.sorted
  }

  /** The sorted lines of a text-sink directory's part files. */
  def sinkLines(dir: Path): Vector[String] =
    Files.list(dir).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector
      .flatMap(p => new String(Files.readAllBytes(p), UTF_8).split("\n").filter(_.nonEmpty))
      .sorted
}

/** Order-insensitive result fingerprint: (rows, modular sum, xor) of
  * per-row xxhash64 over a canonical rendering — columns sorted by name,
  * doubles at 6 decimals with -0.0 folded, binary as base64, nested
  * values as JSON, nulls as a sentinel. The same rendering the engine's
  * cross-mode check uses, restated here because that one is private.
  */
object Fingerprint {
  def apply(df: DataFrame): (Long, Long, Long) = {
    val rendered = df.schema.fields.sortBy(_.name).map { f =>
      val c = df.col(f.name)
      val r = f.dataType match {
        case DoubleType | FloatType =>
          format_string("%.6f", round(c.cast("double"), 6) + lit(0.0))
        case BinaryType => base64(c)
        case _: ArrayType | _: MapType | _: StructType => to_json(c)
        case _ => c.cast("string")
      }
      coalesce(r, lit("\u0000NULL"))
    }
    val fp = df.select(xxhash64(concat_ws("\u0001", rendered.toSeq: _*)).as("fp"))
    val row = fp.agg(
      count(lit(1)).as("n"),
      coalesce(sum(pmod(col("fp"), lit(1000000007L))), lit(0L)).as("s"),
      coalesce(expr("bit_xor(fp)"), lit(0L)).as("x")).head()
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }
}

/** Frozen host controls: the compute and shuffle control laps of the
  * engine's own bench, with the same expressions and partition counts but
  * 1/200 of the rows, so one pair costs well under a second at local[4]. They
  * describe the host, not the engine, and are reported as context.
  */
object Controls {
  private def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def compute(spark: SparkSession): Double = timed {
    spark.range(0L, 2000000000L / 200, 1L, 32)
      .select(bit_xor(xxhash64(xxhash64(xxhash64(xxhash64(col("id")))))).as("s"))
      .write.format("noop").mode("overwrite").save()
  }

  def shuffle(spark: SparkSession): Double = timed {
    spark.range(0L, 50000000L / 200, 1L, 64)
      .repartition(64, pmod(xxhash64(col("id")), lit(8192)))
      .agg(bit_xor(xxhash64(col("id"))).as("s"))
      .write.format("noop").mode("overwrite").save()
  }
}

/** Throughput of the engine's native expressions and aggregates over
  * fixed seeded inputs held in memory: each case is cached and counted
  * first (untimed), then its expression is run into the noop sink three
  * times; rows/s uses the median.
  */
object FunctionsBench {
  import graft.functions.{HyperplaneSigs, MinHashAgg, TopKAgg, WordShingles, vec}

  private val Dim = 64

  def run(spark: SparkSession): Seq[(String, Double)] = {
    val words = lit(Corpus.vocabulary.take(400).toArray)
    val texts = spark.range(0L, 100000L, 1L, 4).select(
      concat_ws(" ", transform(sequence(lit(0), lit(29)),
        i => element_at(words, (pmod(xxhash64(col("id"), i), lit(400L)) + 1).cast("int")))).as("text"))
    val vecs = spark.range(0L, 200000L, 1L, 4).select(
      transform(sequence(lit(0), lit(Dim - 1)),
        i => (pmod(xxhash64(col("id"), i), lit(2001L)) - 1000).cast("float") / 1000f).as("v"))
    val hashes = spark.range(0L, 1000000L, 1L, 4).select(
      (col("id") % 5000).as("g"), (xxhash64(col("id")).bitwiseAND(lit(0x7fffffffL))).as("h"))
    val scored = spark.range(0L, 1000000L, 1L, 4).select(
      (col("id") % 1000).as("g"), col("id"),
      (pmod(xxhash64(col("id")), lit(1000000L)) / 1e6).as("score"))

    val rnd = new java.util.Random(7L)
    val perms = Seq.fill(64)((1L + rnd.nextInt(1 << 30), rnd.nextInt(1 << 30).toLong))
    val planes = Array.fill(8 * 12 * Dim)(rnd.nextGaussian())
    val q = Array.fill(Dim)(rnd.nextGaussian().toFloat)

    val cases: Seq[(String, DataFrame, DataFrame => DataFrame)] = Seq(
      ("word_shingles", texts, _.select(size(WordShingles.wordShingles(col("text"), 3)).as("n"))),
      ("minhash_sig", hashes,
        _.groupBy("g").agg(MinHashAgg.minhashSig(col("h"), perms, 4294967311L).as("sig"))),
      ("hyperplane_sigs", vecs, _.select(HyperplaneSigs.sigs(col("v"), planes, 8, 12, Dim).as("s"))),
      ("vec_dot", vecs, _.select(vec.dot(col("v"), typedLit(q)).as("d"))),
      ("topk", scored, _.groupBy("g").agg(TopKAgg.topk(col("id"), col("score"), 10).as("t"))))

    cases.map { case (name, input, f) =>
      val cached = input.cache()
      val rows = cached.count()
      def once(): Double = {
        val t0 = System.nanoTime()
        f(cached).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      val secs = Seq.fill(3)(once()).sorted
      cached.unpersist(blocking = true)
      name -> rows / secs(1)
    }
  }
}
