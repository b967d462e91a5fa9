package wapbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.quality.AuditReport
import graft.wap.{BranchCatalog, BufferAlerter, PartitionSpec, Snapshot}

/** The catalog the traced run hands to the program: every public call the
  * WAP loop makes (from `Wap.run` or from the benchmark) is wrapped in a
  * span, and the behaviour is the parent's. `Audit.run` is called inside
  * `Wap.run`, so its span is bounded by the calls around it: it starts when
  * `scanBranchDelta` returns and ends when `merge` (pass) or the alerter
  * (fail) is entered. */
final class TracedCatalog(spark: SparkSession, root: String, tr: Tracer)
    extends BranchCatalog(spark, root) {

  private var deltaScanEndNs = -1L

  /** Closes the audit span opened by the last delta scan, if any. */
  def auditEnded(): Unit = if (deltaScanEndNs >= 0L) {
    tr.record("quality.audit", deltaScanEndNs, System.nanoTime())
    deltaScanEndNs = -1L
  }

  override def createTableIfNotExists(table: String, schema: StructType,
      branch: String, spec: Option[PartitionSpec]): Boolean =
    tr.span("wap.branch")(super.createTableIfNotExists(table, schema, branch, spec))

  override def createBranch(branch: String, from: String): Unit =
    tr.span("wap.branch")(super.createBranch(branch, from))

  override def append(table: String, df: DataFrame, branch: String,
      epochStamp: Option[(String, Long)], schemaEvolution: Boolean): Snapshot =
    tr.span("wap.append")(super.append(table, df, branch, epochStamp, schemaEvolution))

  override def merge(branch: String, into: String,
      epochStamp: Option[(String, Long)]): Unit = {
    auditEnded()
    tr.span("wap.publish")(super.merge(branch, into, epochStamp))
  }

  override def dropBranch(branch: String): Unit =
    tr.span("wap.publish")(super.dropBranch(branch))

  override def scan(table: String, branch: String, filter: Option[Column]): DataFrame =
    tr.span("wap.scan_plan")(super.scan(table, branch, filter))

  override def scanBranchDelta(table: String, branch: String): DataFrame = {
    val df = tr.span("wap.scan_plan")(super.scanBranchDelta(table, branch))
    deltaScanEndNs = System.nanoTime()
    df
  }
}

/** Keeps every alert; on the traced catalog it also closes the audit span
  * of the failed batch. */
final class CheckedAlerter(cat: BranchCatalog) extends BufferAlerter {
  override def alert(table: String, branch: String, report: AuditReport): Unit = {
    cat match { case t: TracedCatalog => t.auditEnded(); case _ => () }
    super.alert(table, branch, report)
  }
}
