package wapbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's own seeded input generator (the program's generator is
  * deliberately not used: a change to it must not move the numbers).
  *
  * Reference batches follow the reference's `data_loader.py`: an int32, a
  * string and a float64 column, optionally with injected NULLs, plus a
  * commit-ordered `ts` column. Every value is a pure function of
  * (salt, batch ordinal, row index), evaluated by Spark when the drop files
  * are written and mirrored here in Scala, so every answer is checked
  * against arithmetic that never touches the program under test. */
object Gen {
  /** Rows of batch `ord` carry `ts` in `[ord * TsStride, ord * TsStride +
    * rows)`: file min/max ranges of different batches never overlap. */
  val TsStride = 1000000L
  val C0Mod = 1000
  val C2Mod = 10007L

  /** Keeps every generated product far from Long overflow (Spark runs with
    * ANSI arithmetic). */
  def saltOf(seed: Long): Long = java.lang.Math.floorMod(seed, 1000003L)

  final case class Batch(ord: Int, rows: Int, withNulls: Boolean) {
    def c0(salt: Long, i: Int): Int =
      ((i * 7919L + ord * 104729L + salt) % C0Mod).toInt
    def c1(i: Int): String = "v" + ((i * 31L + ord) % 997)
    def c2num(salt: Long, i: Int): Long = (i * 48271L + ord * 7L + salt) % C2Mod
    def isNull(i: Int): Boolean = withNulls && i % 97 == 5
    def nulls: Long = if (withNulls) (0 until rows).count(isNull).toLong else 0L
    def tsLo: Long = ord * TsStride

    /** Logical bytes of the rows, as a user would count them: 4 + 8 + 8
      * bytes of fixed-width values plus the string's UTF-8 length. */
    def userBytes: Long = (0 until rows).map(i => 20L + c1(i).length).sum
  }

  /** Writes every batch as one parquet file under `dir/batch=<ord>/`, in one
    * Spark job, the way the reference drops files for its trigger. The job
    * reads one range of rows: row `g` is row `g - start(k)` of the batch `k`
    * whose rows hold `g`, so the plan stays one scan however many batches
    * there are. */
  def writeBatches(spark: SparkSession, salt: Long, batches: Seq[Batch], dir: String): Unit = {
    val starts = batches.scanLeft(0L)(_ + _.rows)
    val g = col("id")
    // 1-based index of g's batch: one more than the batches that end at or before g
    val k = size(filter(typedLit(starts.tail), _ <= g)) + 1
    val ord = element_at(typedLit(batches.map(_.ord)), k)
    val i = g - element_at(typedLit(starts.init), k)
    val c2 = pmod(i * 48271L + ord * 7L + salt, lit(C2Mod)) / 100.0
    spark.range(0L, starts.last).select(
      ord.as("batch"),
      pmod(i * 7919L + ord * 104729L + salt, lit(C0Mod.toLong)).cast("int").as("my_col_0"),
      concat(lit("v"), pmod(i * 31L + ord, lit(997L)).cast("string")).as("my_col_1"),
      when(element_at(typedLit(batches.map(_.withNulls)), k) && pmod(i, lit(97L)) === 5L,
        lit(null).cast("double")).otherwise(c2).as("my_col_2"),
      (i + ord * TsStride).as("ts"))
      .repartition(batches.size, col("batch"))
      .write.partitionBy("batch").parquet(dir)
  }

  def dropPath(dir: String, ord: Int): String = s"$dir/batch=$ord"

  /** `n` batch sizes, one from each of `n` equal strata of a log-uniform
    * range, in an order whose every prefix spreads over the whole range
    * (strata sorted by the bit-reversal of their index). The seed only
    * jitters a size inside its stratum, so every run sees nearly the same
    * size mix in nearly the same order. */
  def stratifiedSizes(rnd: scala.util.Random, n: Int, lo: Int, hi: Int): Seq[Int] = {
    val span = math.log(hi.toDouble / lo)
    (0 until n).sortBy(j => Integer.reverse(j)).map { j =>
      math.round(lo * math.exp((j + rnd.nextDouble()) / n * span)).toInt
    }
  }

  /** Running answers over a set of published reference batches. */
  final class RefTotals(salt: Long) {
    var rows = 0L
    var sumC0 = 0L
    var sumC2num = 0L
    var userBytes = 0L
    val c0Hist = new Array[Long](C0Mod)

    def add(b: Batch): Unit = {
      require(!b.withNulls, s"batch ${b.ord} carries NULLs and must never publish")
      var i = 0
      while (i < b.rows) {
        val v = b.c0(salt, i)
        sumC0 += v
        c0Hist(v) += 1
        sumC2num += b.c2num(salt, i)
        i += 1
      }
      rows += b.rows
      userBytes += b.userBytes
    }

    def avgC2: Double = sumC2num.toDouble / 100.0 / rows
  }

  // ---- documents with planted near-duplicates -----------------------------

  final case class Doc(id: Long, text: String)

  /** One curation batch and the ids the dedup gate must keep. */
  final case class DocBatch(ord: Int, docs: Seq[Doc], survivors: Set[Long])

  val docSchema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false)))

  /** Deterministic documents over a seeded pseudo-word vocabulary. Random
    * 80-word texts share almost no word 3-shingles, so the only near-
    * duplicates are the planted ones:
    *  - a copy of a corpus document with its case and punctuation changed
    *    (token Jaccard 1.0), or with its last word replaced (Jaccard 77/79);
    *    the corpus document wins, so the copy is dropped;
    *  - a pair inside one batch, the later id a last-word variant of the
    *    earlier one; the smaller id wins.
    * At Jaccard >= 0.97 a 16-band x 8-row MinHash LSH misses a pair with
    * probability below 1e-7, so the expected survivor set is exact. */
  final class DocGen(seed: Long) {
    private val rnd = new scala.util.Random(seed * 31L + 7L)
    val WordsPerDoc = 80
    private val vocab: Vector[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 6000) {
        val len = 3 + rnd.nextInt(7)
        seen += (0 until len).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
      }
      seen.toVector
    }
    private def words(r: scala.util.Random): Vector[String] =
      Vector.fill(WordsPerDoc)(vocab(r.nextInt(vocab.size)))
    private def docRnd(id: Long) = new scala.util.Random(seed * 1000003L + id)

    def fresh(id: Long): Doc = Doc(id, words(docRnd(id)).mkString(" "))

    /** Same tokens, different surface: Jaccard 1.0 after tokenization. */
    def recased(id: Long, of: Doc): Doc =
      Doc(id, of.text.split(' ').zipWithIndex.map { case (w, i) =>
        if (i % 5 == 0) w.toUpperCase + "," else w
      }.mkString(" ") + ".")

    /** Last word replaced: 77 of 79 distinct 3-shingles shared. */
    def lastWordSwapped(id: Long, of: Doc): Doc = {
      val ws = of.text.split(' ')
      val repl = vocab((vocab.indexOf(ws.last) + 1 + docRnd(id).nextInt(vocab.size - 1)) % vocab.size)
      Doc(id, (ws.init :+ repl).mkString(" "))
    }

    def corpus(n: Int): Seq[Doc] = (1L to n.toLong).map(fresh)

    /** Batch `ord`: `size` docs, `planted` of them copies of distinct docs
      * of `corpusDocs`, plus one in-batch pair. */
    def batch(ord: Int, size: Int, planted: Int, corpusDocs: IndexedSeq[Doc]): DocBatch = {
      val r = new scala.util.Random(seed * 7919L + ord)
      val base = 1000000L * (ord + 1)
      val originals = r.shuffle(corpusDocs.indices.toVector).take(planted).map(corpusDocs)
      val copies = originals.zipWithIndex.map { case (o, j) =>
        val id = base + 2 + j
        if (j % 2 == 0) recased(id, o) else lastWordSwapped(id, o)
      }
      val pairFirst = fresh(base)
      val pairSecond = lastWordSwapped(base + 1, pairFirst)
      val rest = ((planted + 2) until size).map(j => fresh(base + j))
      val docs = r.shuffle(Vector(pairFirst, pairSecond) ++ copies ++ rest)
      DocBatch(ord, docs, (Vector(pairFirst) ++ rest).map(_.id).toSet)
    }

    def userBytes(docs: Iterable[Doc]): Long =
      docs.iterator.map(d => 8L + d.text.getBytes("UTF-8").length).sum
  }

  /** Writes each batch as one parquet file under `dir/batch=<ord>/`. */
  def writeDocBatches(spark: SparkSession, batches: Seq[(Int, Seq[Doc])], dir: String): Unit = {
    val rows = batches.flatMap { case (ord, docs) => docs.map(d => Row(ord, d.id, d.text)) }
    val schema = StructType(StructField("batch", IntegerType, nullable = false) +: docSchema.fields)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .repartition(batches.size, col("batch"))
      .write.partitionBy("batch").parquet(dir)
  }
}
