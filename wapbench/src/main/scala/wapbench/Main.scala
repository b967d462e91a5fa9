package wapbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Bytes and files under a lake root, by kind, from one directory walk. */
final case class Listing(refs: Int, snapshots: Int, manifests: Int, dataFiles: Int,
    metaBytes: Long, dataBytes: Long) {
  def totalBytes: Long = metaBytes + dataBytes
}

object Listing {
  def of(root: String): Listing = {
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray.toSeq
        .map(_.asInstanceOf[java.nio.file.Path])
      finally s.close()
    }
    def named(f: String => Boolean) = files.filter(p => f(p.getFileName.toString))
    val data = named(_.endsWith(".parquet"))
    val dataSet = data.toSet
    val size = (p: java.nio.file.Path) => java.nio.file.Files.size(p)
    Listing(
      refs = named(n => n.startsWith("refs-") && n.endsWith(".json")).size,
      snapshots = named(n => n.startsWith("snap-") && n.endsWith(".json")).size,
      manifests = named(n => n.startsWith("manifest-") && n.endsWith(".json")).size,
      dataFiles = data.size,
      // everything that is not a data file: refs, snapshots, manifests,
      // checksum sidecars and any other catalog file
      metaBytes = files.filterNot(dataSet).map(size).sum,
      dataBytes = data.map(size).sum)
  }
}

/** One measured op: its wall time; the CPU time the Java threads spent
  * during it; the CPU time of the whole process during it; and its
  * wall-clock window in epoch milliseconds. */
final case class OpTime(kind: String, wallS: Double, cpuS: Double, procCpuS: Double,
    startMs: Long, endMs: Long)

/** The op-cost figures of a run, in cost units: the median CPU time of a
  * `Calibration` sample taken after every op.
  *  - `opCost`: the typical op. Per op kind, the median CPU time of its
  *    ops; then the geometric mean over kinds, each weighted by its number
  *    of ops. With one kind this is the median op. A plain median over a
  *    mix of kinds would jump between the costs of the two kinds it falls
  *    between.
  *  - `costPerOp`: the mean CPU time of an op, so rare costly ops count in
  *    full; the median over whole blocks. */
final case class Cost(opCost: Double, costPerOp: Double, unitS: Double)

object Cost {
  def apply(ops: Seq[OpTime], blockOps: Int, unitS: Double): Cost = {
    val kinds = ops.groupBy(_.kind).values.map(xs => (xs.size, Stats.median(xs.map(_.cpuS))))
    val typical = math.exp(kinds.map { case (n, s) => n * math.log(s) }.sum / ops.size)
    // whole blocks only; a run that used up its inputs ends inside one
    val whole = ops.grouped(blockOps).filter(_.size == blockOps).toSeq
    val blocks = if (whole.nonEmpty) whole else Seq(ops)
    val mean = Stats.median(blocks.map(b => b.map(_.cpuS).sum / b.size))
    Cost(typical / unitS, mean / unitS, unitS)
  }
}

/** Runs one workload in a closed loop with one client thread and prints one
  * JSON result line on stdout (everything else goes to stderr).
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <scratch dir> --trace-out <spans file>
  *
  * The untraced run reports the end-to-end metrics; the traced run records
  * spans around the program's public calls, job and task counts from a
  * SparkListener and GC time from the JVM's beans, and reports the
  * per-layer metrics. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traceOut: String)

  /** The lake build and input write run this many times, each on a fresh
    * lake; the last lake is warmed up and measured. `setup_s` is the CPU
    * time of session start + the median build + the warm-up, so one slow
    * build does not move it. */
  val SetupReps = 3

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, not $t")
      }, need("work"), need("trace-out"))
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def main(argv: Array[String]): Unit = {
    val args =
      try parse(argv)
      catch { case e: IllegalArgumentException => System.err.println(e.getMessage); sys.exit(2) }
    val code =
      try run(args)
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def session(a: Args): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"wapbench-${a.workload}")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
    GraftSession.configure(b, shufflePartitions = cores).getOrCreate()
  }

  private def run(a: Args): Int = {
    // compiled before anything else competes for the JIT
    (1 to Calibration.WarmSamples).foreach(_ => Calibration.sampleCpuS())
    val cpuAtStart = Jvm.threadCpu()
    val t0 = System.nanoTime()
    val spark = session(a)
    try {
      spark.sparkContext.setLogLevel("WARN")
      val sessionS = secs(t0)
      val sessionCpu = Jvm.threadCpuSince(cpuAtStart)
      val counters = if (a.trace) Some(new SparkCounters) else None
      counters.foreach(spark.sparkContext.addSparkListener)
      val tracer = new Tracer(a.trace)
      val wl = Workload(a.workload, Ctx(spark, a.seed, tracer))

      /** (wall, CPU) seconds of `body` */
      def timed(body: => Unit): (Double, Double) = {
        val c0 = Jvm.threadCpu()
        val s = System.nanoTime()
        body
        (secs(s), Jvm.threadCpuSince(c0))
      }
      val reps = (1 to SetupReps).map(r => timed(wl.setUp(s"${a.work}/setup-$r", r)))
      val warm = timed(wl.warmUp())
      System.err.println(f"session $sessionS%.2f s wall, $sessionCpu%.2f s cpu; set-ups " +
        reps.map(x => f"${x._1}%.2f/${x._2}%.2f").mkString(" ") +
        f" s wall/cpu; warm-up ${warm._1}%.2f/${warm._2}%.2f s wall/cpu")

      val before = Listing.of(wl.lakeRoot)
      val gc0 = Jvm.gcMillis()
      val jit0 = Jvm.jitMillis()
      val ops = ArrayBuffer.empty[OpTime]
      val calib = ArrayBuffer.empty[Double]
      val layerSamples = ArrayBuffer.empty[(String, Double)]
      var failed = 0
      val deadline = System.nanoTime() + a.seconds * 1000000000L
      var more = true
      // the run ends at the first block boundary after the deadline
      while (more && (ops.size % wl.blockOps != 0 || System.nanoTime() < deadline)) wl.nextOp() match {
        case None =>
          System.err.println("pre-written inputs used up; the run ends early")
          more = false
        case Some(op) =>
          tracer.op = ops.size
          val cpu0 = Jvm.threadCpu()
          val proc0 = Jvm.processCpuS()
          val w0 = System.currentTimeMillis()
          val s = System.nanoTime()
          val threw =
            try { op.run(); None }
            catch { case e: Exception => e.printStackTrace(); Some(s"threw $e") }
          val d = secs(s)
          val w1 = System.currentTimeMillis()
          val proc = Jvm.processCpuS() - proc0
          ops += OpTime(op.kind, d, Jvm.threadCpuSince(cpu0), proc, w0, w1)
          tracer.op = -1
          calib += Calibration.sampleCpuS()
          val err = threw.orElse(
            try op.verify()
            catch { case e: Exception => e.printStackTrace(); Some(s"check threw $e") })
          err match {
            case Some(e) =>
              failed += 1
              System.err.println(s"FAILED ${a.workload} op ${ops.size} (${op.kind}): $e")
            case None =>
              if (a.trace) layerSamples ++= op.layerSamples()
          }
      }
      val gcS = (Jvm.gcMillis() - gc0) / 1000.0
      val jitS = (Jvm.jitMillis() - jit0) / 1000.0
      val heapMb = Jvm.heapAfterGcMb()
      counters.foreach(_.drain(spark))
      val after = Listing.of(wl.lakeRoot)
      val checks = wl.finalChecks()
      checks.foreach(e => System.err.println(s"FAILED ${a.workload} final check: $e"))
      require(ops.nonEmpty, "no op ran")
      val unitS = Stats.median(calib.toSeq)
      val m = Cost(ops.toSeq, wl.blockOps, unitS)
      System.err.println(s"lake after run: $after; user bytes ${wl.userBytes}")
      ops.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, xs) =>
        System.err.println(f"ops $k%-14s n=${xs.size}%3d wall p50 ${Stats.median(xs.map(_.wallS).toSeq)}%.4f s," +
          f" cpu p50 ${Stats.median(xs.map(_.cpuS).toSeq)}%.4f s")
      }
      System.err.println(f"measured: ${ops.size} ops in ${ops.map(_.wallS).sum}%.2f s wall," +
        f" wall p50 ${Stats.median(ops.map(_.wallS).toSeq)}%.4f s; cost unit ${unitS * 1000}%.3f ms cpu;" +
        f" op_cost ${m.opCost}%.3f, cost_per_op ${m.costPerOp}%.3f units;" +
        f" gc $gcS%.2f s, jit $jitS%.2f s")

      val metrics: Seq[(String, Double, String)] =
        if (!a.trace) Seq(
          ("setup_s", sessionCpu + Stats.median(reps.map(_._2)) + warm._2, "s"),
          ("op_cost", m.opCost, "calib"),
          ("cost_per_op", m.costPerOp, "calib"),
          ("heap_after_gc_mb", heapMb, "MB"),
          ("lake_bytes_per_user_byte", after.totalBytes.toDouble / wl.userBytes, "ratio"))
        else {
          tracer.writeJsonLines(java.nio.file.Paths.get(a.traceOut))
          PerLayer.metrics(ops.toSeq, m, layerSamples.toSeq, tracer, counters.get, gcS,
            before, after)
        }
      println(Json.result(failed == 0 && checks.isEmpty, ops.size, failed, metrics))
      0
    } finally spark.stop()
  }
}

/** The traced run's per-layer metrics. A `_s` metric is the median, over the
  * ops that called the layer, of the seconds the op spent in it; a layer a
  * workload never calls reports 0. */
object PerLayer {
  val lakeKinds = Seq("pruned_scan", "unpruned_scan", "agg_sql", "dashboard", "time_travel",
    "wap_append", "curate")

  def metrics(ops: Seq[OpTime], cost: Cost, samples: Seq[(String, Double)],
      tr: Tracer, sc: SparkCounters, gcS: Double, before: Listing,
      after: Listing): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def layer(span: String) = Stats.medianOr0(tr.secondsPerOp(span))
    def mean(key: String) = {
      val xs = samples.collect { case (k, v) if k == key => v }
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    // Spark events attributed to the op whose window holds their start
    val windows = ops.map(o => (o.startMs, o.endMs))
    def inOp(ms: Long) = windows.exists { case (s, e) => ms >= s && ms <= e }
    val jobs = sc.jobs.filter(j => inOp(j.startMs))
    val tasks = sc.tasks.filter(t => inOp(t.launchMs))
    val jobBusyMs = windows.map { case (s, e) =>
      val iv = jobs.map(j => (math.max(j.startMs, s), math.min(j.endMs, e)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var busy = 0L
      var reach = Long.MinValue
      iv.foreach { case (a, b) =>
        if (b > reach) { busy += b - math.max(a, reach); reach = b }
      }
      busy
    }.sum
    val refsAdded = (after.refs - before.refs).toDouble
    val dataAdded = (after.dataFiles - before.dataFiles).toDouble
    val lakeKindP50 = lakeKinds.map { k =>
      (s"lake.${k}_s_p50", Stats.medianOr0(ops.filter(_.kind == k).map(_.wallS)), "s")
    }
    Seq(
      ("trace.op_s_p50", Stats.median(ops.map(_.wallS)), "s"),
      ("trace.op_cost", cost.opCost, "calib"),
      ("trace.cost_unit_s", cost.unitS, "s"),
      ("wap.append_s", layer("wap.append"), "s"),
      ("wap.data_files_per_commit", ratio(dataAdded, tr.calls("wap.append")), "count"),
      ("wap.bytes_per_data_file", ratio((after.dataBytes - before.dataBytes).toDouble, dataAdded), "B"),
      ("wap.branch_s", layer("wap.branch"), "s"),
      ("wap.publish_s", layer("wap.publish"), "s"),
      ("wap.refs_commits_per_op", refsAdded / n, "count"),
      ("wap.meta_files_per_commit",
        ratio((after.snapshots + after.manifests - before.snapshots - before.manifests).toDouble,
          refsAdded), "count"),
      ("wap.meta_bytes_per_commit", ratio((after.metaBytes - before.metaBytes).toDouble, refsAdded), "B"),
      ("wap.scan_plan_s", layer("wap.scan_plan"), "s"),
      ("wap.files_kept_ratio", mean("wap.files_kept_ratio"), "ratio"),
      ("wap.branch_stats_s", layer("wap.branch_stats"), "s"),
      ("quality.audit_s", layer("quality.audit"), "s"),
      ("quality.audited_rows_per_batch_row", mean("quality.audited_rows_per_batch_row"), "ratio"),
      ("quality.null_counts_s", layer("quality.null_counts"), "s"),
      ("operators.dedup_gate_s", layer("operators.dedup_gate"), "s"),
      ("operators.index_refresh_s", layer("operators.index_refresh"), "s"),
      ("operators.refresh_incremental_ratio", mean("operators.refresh_incremental_ratio"), "ratio"),
      ("sql.plan_s", layer("sql.plan"), "s"),
      ("sql.exec_s", layer("sql.exec"), "s"),
      ("spark.jobs_per_op", jobs.size / n, "count"),
      ("spark.tasks_per_op", tasks.size / n, "count"),
      ("spark.task_s_per_op", tasks.map(_.runMs).sum / 1000.0 / n, "s"),
      ("spark.shuffle_bytes_per_op", tasks.map(_.shuffleBytes).sum / n, "B"),
      ("spark.driver_gap_s_per_op", (ops.map(_.wallS).sum - jobBusyMs / 1000.0) / n, "s"),
      ("jvm.gc_s_per_op", gcS / n, "s"),
      ("jvm.process_cpu_s_per_op", ops.map(_.procCpuS).sum / n, "s"),
      ("lake.snapshot_files", after.snapshots.toDouble, "count"),
      ("lake.manifest_files", after.manifests.toDouble, "count"),
      ("lake.data_files", after.dataFiles.toDouble, "count"),
      ("lake.meta_bytes", after.metaBytes.toDouble, "B"),
    ) ++ lakeKindP50
  }
}

object Json {
  private def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a number")
    v.toString
  }
  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
