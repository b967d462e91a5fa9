package wapbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.DedupIndex
import graft.quality.{Metrics, NotNull}
import graft.wap.{BranchCatalog, Wap, WapResult}

import Gen.{Batch, RefTotals}

/** What every workload shares: the session, the seed and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, tracer: Tracer) {
  val salt: Long = Gen.saltOf(seed)
  def catalog(root: String): BranchCatalog =
    if (tracer.enabled) new TracedCatalog(spark, root, tracer) else new BranchCatalog(spark, root)
}

/** One timed operation: `run` is timed, `verify` (untimed) compares what
  * it returned with the generator's answers and updates the expectations. */
trait Op {
  def kind: String
  def run(): Unit
  /** None when the answer is right, else what was wrong. */
  def verify(): Option[String]
  /** Traced run only, untimed: layer ratios this op measured. */
  def layerSamples(): Seq[(String, Double)] = Nil
}

/** A workload builds a fresh lake under its own directory, then hands out
  * ops one at a time to the closed loop. */
abstract class Workload(val ctx: Ctx) {
  def spark: SparkSession = ctx.spark
  def tr: Tracer = ctx.tracer

  /** Builds a fresh lake and writes the inputs under `dir`. */
  def setUp(dir: String, rep: Int): Unit
  /** Runs untimed ops on the last lake set up, until the JVM is warm. */
  def warmUp(): Unit
  /** None once the pre-written inputs are used up. */
  def nextOp(): Option[Op]
  /** Ops per block: every `blockOps` consecutive measured ops cover the
    * same set of inputs and op kinds, so a run that ends on a block
    * boundary measures the same mix whatever its speed. */
  def blockOps: Int
  /** Whole-lake answer checks after the run; each entry is a failure. */
  def finalChecks(): Seq[String]
  def lakeRoot: String
  /** Logical bytes of every row published to main, from the generator. */
  def userBytes: Long

  protected def warm(n: Int): Unit = (1 to n).foreach { _ =>
    val op = nextOp().getOrElse(sys.error("inputs exhausted during warm-up"))
    op.run()
    op.verify().foreach(e => sys.error(s"warm-up ${op.kind} op failed: $e"))
  }
}

object Workload {
  val names: Seq[String] = Seq("wap_ingest", "lake_analytics")
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "wap_ingest" => new WapIngest(ctx)
    case "lake_analytics" => new LakeAnalytics(ctx)
  }
  val refChecks = Seq(NotNull("my_col_0"), NotNull("my_col_1"), NotNull("my_col_2"))
  val refCols = Seq("my_col_0", "my_col_1", "my_col_2", "ts")

  def keptSample(cat: BranchCatalog, cond: org.apache.spark.sql.Column): Seq[(String, Double)] =
    Seq("wap.files_kept_ratio" ->
      cat.prunedDataFiles("t", cond).size.toDouble / cat.dataFiles("t").size)

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))
}

/** One WAP cycle, with the bookkeeping its answer check needs. */
class WapCycle(spark: SparkSession, cat: BranchCatalog, alerter: CheckedAlerter,
    table: String, drops: String, val batch: Batch, val branch: String,
    val kind: String) extends Op {
  var result: WapResult = _
  def run(): Unit = {
    val df = spark.read.parquet(Gen.dropPath(drops, batch.ord))
    result = Wap.run(cat, table, df, Workload.refChecks, branch, alerter)
  }
  def verify(): Option[String] =
    if (result.published == batch.withNulls)
      Some(s"batch ${batch.ord} (nulls=${batch.withNulls}) published=${result.published}")
    else if (result.report.rows != batch.rows)
      Some(s"batch ${batch.ord} audited ${result.report.rows} rows, wrote ${batch.rows}")
    else None
  /** The audit's rows per batch row, and the share of the table's files
    * the delta audit read: those the cycle's commit added. */
  override def layerSamples(): Seq[(String, Double)] = {
    val head = if (result.published) "main" else branch
    Seq("quality.audited_rows_per_batch_row" -> result.report.rows.toDouble / batch.rows,
      "wap.files_kept_ratio" ->
        cat.commitHistory(table, head).last.filesAdded.toDouble / cat.dataFiles(table, head).size)
  }
}

/** Shared state of the reference-schema workloads: one table `t`, its
  * published totals, and the branches its bad batches were left on. */
abstract class RefLake(ctx: Ctx) extends Workload(ctx) {
  protected var cat: BranchCatalog = _
  protected var alerter: CheckedAlerter = _
  protected var drops: String = _
  protected var root: String = _
  protected var totals: RefTotals = _
  protected val published = ArrayBuffer.empty[(String, Batch)]
  /** (branch, bad batch, main rows when it forked) */
  protected val quarantined = ArrayBuffer.empty[(String, Batch, Long)]

  def lakeRoot: String = root
  def userBytes: Long = totals.userBytes

  protected def freshLake(dir: String, batches: Seq[Batch]): Unit = {
    drops = s"$dir/drops"
    root = s"$dir/lake"
    Gen.writeBatches(spark, ctx.salt, batches, drops)
    cat = ctx.catalog(root)
    alerter = new CheckedAlerter(cat)
    totals = new RefTotals(ctx.salt)
    published.clear()
    quarantined.clear()
  }

  protected def onPublish(batch: Batch): Unit = ()

  /** A WAP cycle whose check also records what it did to the lake. */
  protected def cycle(batch: Batch, branch: String, kind: String = "wap"): WapCycle =
    new WapCycle(spark, cat, alerter, "t", drops, batch, branch, kind) {
      override def verify(): Option[String] = {
        val err = super.verify()
        if (err.isEmpty) {
          if (result.published) {
            totals.add(batch)
            published += ((branch, batch))
            onPublish(batch)
          } else quarantined += ((branch, batch, totals.rows))
        }
        err
      }
    }

  def finalChecks(): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val row = cat.scan("t").agg(count(lit(1)), sum(col("my_col_0")),
      sum(when(col("my_col_0").isNull || col("my_col_1").isNull || col("my_col_2").isNull, 1L)
        .otherwise(0L))).collect()(0)
    if (row.getLong(0) != totals.rows) errs += s"main holds ${row.getLong(0)} rows, published ${totals.rows}"
    if (row.getLong(1) != totals.sumC0) errs += s"main SUM(my_col_0)=${row.getLong(1)}, expected ${totals.sumC0}"
    if (row.getLong(2) != 0L) errs += s"main holds ${row.getLong(2)} rows with NULLs"
    val alerted = alerter.alerts.map(_._2).sorted
    val bad = quarantined.map(_._1).sorted
    if (alerted != bad) errs += s"alerts on ${alerted.mkString(",")}, quarantined ${bad.mkString(",")}"
    val branches = cat.listBranches().toSet
    published.map(_._1).filter(branches.contains).foreach(b => errs += s"published branch $b not dropped")
    quarantined.foreach { case (b, batch, _) =>
      if (!branches.contains(b)) errs += s"quarantined branch $b is gone"
      else {
        val n = cat.scanBranchDelta("t", b).count()
        if (n != batch.rows) errs += s"quarantined branch $b holds $n new rows, batch had ${batch.rows}"
      }
    }
    errs.toSeq
  }
}

/** The reference's S3-drop -> lambda trigger: one `Wap.run` per batch.
  * Batch sizes are stratified over 1k..100k rows; every sixth batch carries
  * NULLs and must be quarantined with one alert. The drops are reused in
  * order, and a block is one pass over all of them. */
final class WapIngest(ctx: Ctx) extends RefLake(ctx) {
  private val NBatches = 16
  private val batches: Vector[Batch] =
    Gen.stratifiedSizes(new scala.util.Random(ctx.seed), NBatches, 1000, 100000)
      .zipWithIndex.map { case (n, ord) => Batch(ord, n, ord % 6 == 2) }.toVector
  private var next = 0

  def setUp(dir: String, rep: Int): Unit = {
    freshLake(dir, batches)
    next = 0
  }

  /** One pass over the drops, so every drop size has run once before the
    * clock starts. */
  def warmUp(): Unit = warm(NBatches)

  def blockOps: Int = NBatches

  def nextOp(): Option[Op] = {
    val k = next
    next += 1
    Some(cycle(batches(k % NBatches), s"ingest-$k"))
  }
}

/** Reads over a published table built from many small WAP commits, with
  * the quarantined branches of its bad batches left behind, plus a small
  * share of writes: WAP appends, and curated appends of documents through
  * the dedup gate. The mix runs in blocks: one curation, then a seeded
  * shuffle of a fixed set of reads and appends. A curation costs as much as
  * a dozen reads, and a run holds whole blocks, so every run measures the
  * same share of each kind. */
final class LakeAnalytics(ctx: Ctx) extends RefLake(ctx) {
  private val BuildCommits = 8
  private val AppendPool = 32
  private val Rows = 2000
  private val build: Vector[Batch] =
    (0 until BuildCommits).map(o => Batch(o, Rows, o % 4 == 3)).toVector
  private val appends: Vector[Batch] =
    (BuildCommits until BuildCommits + AppendPool).map(o => Batch(o, Rows, withNulls = false)).toVector
  private val shuffled: Vector[String] =
    Vector.fill(10)("pruned_scan") ++ Vector.fill(8)("unpruned_scan") ++
      Vector.fill(8)("agg_sql") ++ Vector.fill(6)("time_travel") ++
      Vector.fill(4)("dashboard") ++ Vector.fill(4)("wap_append")
  private val curation = new Curation(ctx)
  val blockOps: Int = 1 + shuffled.size
  private val rnd = new scala.util.Random(ctx.seed)
  private var schedule: Iterator[String] = Iterator.empty
  private var appendsUsed = 0
  /** (main snapshot id, main rows) after every publish */
  private val snapshots = ArrayBuffer.empty[(String, Long)]
  private var sqlCatalog: String = _
  private val c2ByC0 = new Array[Long](Gen.C0Mod)

  def setUp(dir: String, rep: Int): Unit = {
    freshLake(dir, build ++ appends)
    snapshots.clear()
    java.util.Arrays.fill(c2ByC0, 0L)
    appendsUsed = 0
    // the SQL catalog binds its root once per name, so each set-up gets its own
    sqlCatalog = s"lake_setup$rep"
    spark.conf.set(s"spark.sql.catalog.$sqlCatalog", classOf[graft.sql.GraftTableCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$sqlCatalog.root", root)
    build.foreach { b =>
      val c = cycle(b, s"build-${b.ord}")
      c.run()
      c.verify().foreach(e => sys.error(s"lake build failed: $e"))
    }
    curation.setUp(cat, alerter, s"$dir/doc-drops")
  }

  /** Two ops of each kind but one curation: one pass leaves the JIT
    * measurably cold. */
  def warmUp(): Unit = {
    val kinds = shuffled.distinct ++ shuffled.distinct :+ "curate"
    schedule = kinds.iterator
    warm(kinds.size)
    schedule = Iterator.empty
  }

  override def userBytes: Long = totals.userBytes + curation.userBytes
  override def finalChecks(): Seq[String] = super.finalChecks() ++ curation.finalChecks()

  /** Keeps the snapshot history and the per-value sums current. */
  override protected def onPublish(b: Batch): Unit = {
    var i = 0
    while (i < b.rows) { c2ByC0(b.c0(ctx.salt, i)) += b.c2num(ctx.salt, i); i += 1 }
    snapshots += ((cat.snapshotIdOf("t").get, totals.rows))
  }

  def nextOp(): Option[Op] = {
    if (!schedule.hasNext) schedule = ("curate" +: rnd.shuffle(shuffled)).iterator
    schedule.next() match {
      case "pruned_scan" => Some(prunedScan())
      case "unpruned_scan" => Some(unprunedScan())
      case "agg_sql" => Some(aggSql())
      case "time_travel" => Some(timeTravel())
      case "dashboard" => Some(dashboard())
      case "curate" => curation.nextOp()
      case "wap_append" =>
        if (appendsUsed == appends.size) None
        else {
          val b = appends(appendsUsed)
          appendsUsed += 1
          Some(cycle(b, s"append-${b.ord}", "wap_append"))
        }
    }
  }

  private def prunedScan(): Op = new Op {
    val kind = "pruned_scan"
    private val b = published(rnd.nextInt(published.size))._2
    private val lo = rnd.nextInt(b.rows / 2)
    private val hi = lo + b.rows / 4
    private val cond = col("ts").between(b.tsLo + lo, b.tsLo + hi)
    private var got: Row = _
    def run(): Unit = {
      got = cat.scan("t", "main", Some(cond)).agg(count(lit(1)), sum(col("my_col_0"))).collect()(0)
    }
    override def layerSamples(): Seq[(String, Double)] = Workload.keptSample(cat, cond)
    def verify(): Option[String] = {
      val want = (lo to hi).map(i => b.c0(ctx.salt, i).toLong).sum
      if (got.getLong(0) != hi - lo + 1 || got.getLong(1) != want)
        Some(s"ts range of batch ${b.ord}: (${got.getLong(0)}, ${got.get(1)}), want (${hi - lo + 1}, $want)")
      else None
    }
  }

  private def unprunedScan(): Op = new Op {
    val kind = "unpruned_scan"
    private val v = rnd.nextInt(Gen.C0Mod)
    private val cond = col("my_col_0") === v
    private var got: Row = _
    def run(): Unit = {
      got = cat.scan("t", "main", Some(cond)).agg(count(lit(1)), sum(col("my_col_2"))).collect()(0)
    }
    override def layerSamples(): Seq[(String, Double)] = Workload.keptSample(cat, cond)
    def verify(): Option[String] = {
      val n = totals.c0Hist(v)
      val s = c2ByC0(v) / 100.0
      val gotSum = if (got.isNullAt(1)) 0.0 else got.getDouble(1)
      if (got.getLong(0) != n || !Workload.close(gotSum, s))
        Some(s"my_col_0 = $v: (${got.getLong(0)}, $gotSum), want ($n, $s)")
      else None
    }
  }

  private def sqlRow(q: String): Row = {
    val df = spark.sql(q)
    tr.span("sql.plan")(df.queryExecution.executedPlan)
    tr.span("sql.exec")(df.collect())(0)
  }

  private def aggSql(): Op = new Op {
    val kind = "agg_sql"
    private var got: Row = _
    def run(): Unit = got = sqlRow(
      s"SELECT SUM(my_col_0), AVG(my_col_2), COUNT(*) FROM $sqlCatalog.main.t")
    def verify(): Option[String] =
      if (got.getLong(0) != totals.sumC0 || got.getLong(2) != totals.rows ||
          !Workload.close(got.getDouble(1), totals.avgC2))
        Some(s"aggregate $got, want [${totals.sumC0},${totals.avgC2},${totals.rows}]")
      else None
  }

  private def timeTravel(): Op = new Op {
    val kind = "time_travel"
    private val (snap, rows) = snapshots(rnd.nextInt(snapshots.size))
    private var got: Row = _
    def run(): Unit = got = sqlRow(
      s"SELECT COUNT(*) FROM $sqlCatalog.main.t VERSION AS OF '$snap'")
    def verify(): Option[String] =
      if (got.getLong(0) != rows) Some(s"VERSION AS OF $snap: ${got.getLong(0)} rows, want $rows")
      else None
  }

  private def dashboard(): Op = new Op {
    val kind = "dashboard"
    private val (branch, bad, forkRows) = quarantined(rnd.nextInt(quarantined.size))
    private var stats: Array[Row] = _
    private var nulls: Map[String, Long] = _
    def run(): Unit = {
      stats = tr.span("wap.branch_stats")(cat.branchStats("t").collect())
      nulls = tr.span("quality.null_counts")(
        Metrics.nullCounts(cat.scan("t", branch), Workload.refCols).collect())
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def verify(): Option[String] = {
      val rows = stats.map(r => r.getAs[String]("branch") -> r).toMap
      val wantBranches = ("main" +: quarantined.map(_._1)).toSet
      val wantNulls = Map("__rows" -> (forkRows + bad.rows), "my_col_0" -> 0L,
        "my_col_1" -> 0L, "my_col_2" -> bad.nulls, "ts" -> 0L)
      if (rows.keySet != wantBranches)
        Some(s"branchStats lists ${rows.keySet.toSeq.sorted}, want ${wantBranches.toSeq.sorted}")
      else if (rows("main").getAs[Long]("n_rows") != totals.rows)
        Some(s"branchStats main n_rows ${rows("main").getAs[Long]("n_rows")}, want ${totals.rows}")
      else if (rows(branch).getAs[Long]("n_rows") != forkRows + bad.rows)
        Some(s"branchStats $branch n_rows ${rows(branch).getAs[Long]("n_rows")}, want ${forkRows + bad.rows}")
      else if (rows(branch).getAs[scala.collection.Map[String, Long]]("null_counts")
          .getOrElse("my_col_2", 0L) != bad.nulls)
        Some(s"branchStats $branch null_counts ${rows(branch).get(rows(branch).fieldIndex("null_counts"))}")
      else if (nulls != wantNulls) Some(s"nullCounts on $branch: $nulls, want $wantNulls")
      else None
    }
  }
}

/** The curation gate over a `docs` table in the same lake: a doc batch with
  * planted near-duplicates goes through `DedupIndex.dedupNew`, the
  * survivors through `Wap.run`, then the index refreshes incrementally. The
  * corpus grows by each batch's survivors, and so does the gate's cost. */
final class Curation(ctx: Ctx) {
  private val CorpusDocs = 2000
  private val BatchDocs = 100
  private val Planted = 10
  private val NBatches = 12
  private val gen = new Gen.DocGen(ctx.seed)
  private val corpus = gen.corpus(CorpusDocs).toVector
  private val batches = (1 to NBatches).map(o => gen.batch(o, BatchDocs, Planted, corpus))
  private val checks = Seq(NotNull("id"), NotNull("text"))
  private def spark = ctx.spark
  private def tr = ctx.tracer
  private var cat: BranchCatalog = _
  private var alerter: CheckedAlerter = _
  private var drops: String = _
  private var next = 0
  private var docs = 0L
  private var bytes = 0L

  def userBytes: Long = bytes

  /** Writes the doc drops under `drops`, publishes the corpus and builds
    * its dedup index. */
  def setUp(cat: BranchCatalog, alerter: CheckedAlerter, drops: String): Unit = {
    this.cat = cat
    this.alerter = alerter
    this.drops = drops
    Gen.writeDocBatches(spark, (0, corpus) +: batches.map(b => (b.ord, b.docs)), drops)
    val seeded = Wap.run(cat, "docs", spark.read.parquet(Gen.dropPath(drops, 0)), checks,
      "corpus", alerter)
    require(seeded.published, s"corpus failed its audit: ${seeded.report}")
    DedupIndex.build(spark, cat, "docs", "id", "text")
    next = 0
    docs = CorpusDocs
    bytes = gen.userBytes(corpus)
  }

  def nextOp(): Option[Op] = if (next == batches.size) None else {
    val b = batches(next)
    next += 1
    Some(new Op {
      val kind = "curate"
      private var kept: Array[Row] = _
      private var wap: WapResult = _
      private var mode: String = _
      def run(): Unit = {
        val batch = spark.read.parquet(Gen.dropPath(drops, b.ord))
        kept = tr.span("operators.dedup_gate")(
          DedupIndex.dedupNew(spark, cat, "docs", "text", batch).collect())
        val survivors = spark.createDataFrame(java.util.Arrays.asList(kept: _*), Gen.docSchema)
        wap = Wap.run(cat, "docs", survivors, checks, s"curate-${b.ord}", alerter)
        mode = tr.span("operators.index_refresh")(DedupIndex.refresh(spark, cat, "docs", "text"))
      }
      def verify(): Option[String] = {
        val ids = kept.map(_.getLong(0)).toSet
        if (ids != b.survivors)
          Some(s"batch ${b.ord}: gate kept ${ids.size} ids, want ${b.survivors.size}; " +
            s"extra ${(ids -- b.survivors).take(5)}, missing ${(b.survivors -- ids).take(5)}")
        else if (!wap.published) Some(s"batch ${b.ord}: survivors failed the audit ${wap.report}")
        else if (mode != "incremental") Some(s"batch ${b.ord}: index refresh ran '$mode'")
        else {
          docs += ids.size
          bytes += gen.userBytes(b.docs.filter(d => ids.contains(d.id)))
          None
        }
      }
      override def layerSamples(): Seq[(String, Double)] = Seq(
        "operators.refresh_incremental_ratio" -> (if (mode == "incremental") 1.0 else 0.0),
        "quality.audited_rows_per_batch_row" -> wap.report.rows.toDouble / kept.length)
    })
  }

  def finalChecks(): Seq[String] = {
    val errs = ArrayBuffer.empty[String]
    val n = cat.scan("docs").count()
    if (n != docs) errs += s"docs holds $n rows, published $docs"
    val bands = cat.scan(DedupIndex.bandsTable("docs", "text")).count()
    val perDoc = DedupIndex.Params().bands
    if (bands != docs * perDoc) errs += s"index holds $bands band rows, want ${docs * perDoc}"
    if (DedupIndex.watermark(cat, "docs", "text") != cat.snapshotIdOf("docs"))
      errs += "index watermark is behind the docs head"
    errs.toSeq
  }
}
