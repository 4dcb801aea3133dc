package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark (`perfbench/run.py` builds and launches it).
  *
  *   gen --workload w --seed n --fixtures <dir> --work <dir> --cores c
  *   run --workload w --seed n --fixtures <dir> --work <dir> --cores c
  *       --seconds s --trace 0|1 --result <file> [--spans <file>]
  *
  * `run` writes one JSON object to `--result`: correct/attempted/failed, the
  * metrics of the requested kind with their units and sample counts, and the
  * scan control before and after the timed section.
  */
object Main {

  /** Timed operations per run, at least (the window may allow more). */
  val MinOps = 3

  val Stages: Seq[String] = Seq("url_blocklist", "noindex", "paragraph_dedup", "c4",
    "gopher", "exact_text_dedup", "host_cap")

  /** Every per-layer metric with its unit; a layer a workload does not call
    * reports 0.
    */
  val PerLayer: Seq[(String, String)] = {
    def layer(l: String, bytes: Boolean = false) =
      Seq(s"$l.s" -> "s", s"$l.tasks" -> "count", s"$l.task_failures" -> "count") ++
        (if (bytes) Seq(s"$l.cpu_s" -> "s", s"$l.shuffle_bytes" -> "bytes",
          s"$l.spill_bytes" -> "bytes") else Nil)
    Seq("scan.s" -> "s", "scan.before_s" -> "s", "scan.after_s" -> "s",
      "op.untraced_s" -> "s", "op.span_s" -> "s", "op.self_s" -> "s",
      "trace.overhead_share" -> "ratio") ++
      layer("stats", bytes = true) ++
      layer("row_checks") ++ Seq("row_checks.hit_ratio" -> "ratio") ++
      layer("unique", bytes = true) ++
      layer("validate") ++ Seq("validate.driver_s" -> "s", "validate.jobs" -> "count") ++
      Seq("load.s" -> "s", "list.s" -> "s", "plan.s" -> "s", "tally.s" -> "s") ++
      layer("commit") ++ Seq("commit.files" -> "count", "commit.bytes" -> "bytes") ++
      layer("ledger") ++ Seq("ledger.ops" -> "count") ++
      layer("peer_stats") ++ Seq("resume.self_s" -> "s") ++
      Seq("ingest.add_batch_s" -> "s", "ingest.planning_s" -> "s",
        "ingest.wal_commit_s" -> "s", "ingest.trigger_other_s" -> "s",
        "ingest.jobs_per_tick" -> "count", "ingest.history_rows_read" -> "rows",
        "ingest.tasks" -> "count", "ingest.task_failures" -> "count",
        "baseline.fold_s" -> "s", "baseline.tasks" -> "count",
        "baseline.task_failures" -> "count") ++
      layer("curate", bytes = true) ++ Seq("curate.jobs" -> "count",
        "curate.driver_s" -> "s", "curate.audit_s" -> "s") ++
      Stages.flatMap(st => layer(s"curate.$st") :+ (s"curate.$st.survival" -> "ratio"))
  }

  /** The child spans of a traced operation; with its remainder
    * (`op.self_s`) they add up to `op.span_s`.
    */
  val OpParts: Set[String] = Set("load.s", "list.s", "ledger.s", "plan.s", "validate.s",
    "commit.s", "tally.s", "ingest.add_batch_s", "ingest.planning_s", "ingest.wal_commit_s",
    "ingest.trigger_other_s")

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val t0 = System.nanoTime()
    val spark = session(opts("cores").toInt, work)
    val code =
      try args(0) match {
        case "warm" => warm(spark, work); 0
        case "run" =>
          val fixture = Paths.get(opts("fixture")).toAbsolutePath
          val w = Workload(opts("workload"), Fixtures.params(fixture))
          run(spark, Util.secondsSince(t0), Runner(w, spark, fixture, work), opts)
      } finally spark.stop()
    sys.exit(code)
  }

  /** Loads the classes a run needs, so the class-data-sharing archive the
    * build dumps at this JVM's exit covers them.
    */
  private def warm(spark: SparkSession, work: Path): Unit = {
    import org.apache.spark.sql.functions._
    val p = work.resolve("warm").toString
    spark.range(1000).select(col("id"), (col("id") % 7).as("k"), col("id").cast("string").as("s"))
      .write.partitionBy("k").parquet(p)
    spark.read.parquet(p).groupBy("k").agg(count(lit(1)), max("s")).collect()
  }

  /** One SparkSession at local[cores] with graft.Main's session confs. */
  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "65536")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def run(spark: SparkSession, sessionS: Double, runner: Runner,
      opts: Map[String, String]): Int = {
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    var attempted = 0
    var failed = 0
    val errors = mutable.ArrayBuffer.empty[String]
    def attempt(what: String)(f: => OpOutcome): Option[OpOutcome] = {
      attempted += 1
      val o = try f catch {
        case NonFatal(e) =>
          e.printStackTrace()
          OpOutcome(0, 0, 0, 0, 0, Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
      }
      if (o.errors.isEmpty) Some(o)
      else {
        failed += 1
        errors ++= o.errors.map(e => s"$what: $e")
        None
      }
    }

    val tracer = if (traced) Some(new Tracer(spark)) else None
    System.err.println(f"[perfbench] session started in $sessionS%.2f s")
    val preS = Util.timed(runner.preState())._2
    val warmS = Util.timed((1 to runner.warmUps).foreach(n => attempt("warm-up")(runner.op(-n))))._2
    System.err.println(f"[perfbench] pre-state $preS%.2f s, warm-up $warmS%.2f s")
    val setupS = sessionS + preS + warmS

    val scanBefore = runner.scanProbe()
    val ops = mutable.ArrayBuffer.empty[OpOutcome]
    val layers = mutable.ArrayBuffer.empty[LayerSample]
    val untraced = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 0
    while (i < (if (traced) 1 else MinOps) || Util.secondsSince(start) < seconds) {
      tracer match {
        case None => attempt(s"op $i")(runner.op(i)).foreach(ops += _)
        case Some(t) =>
          // untraced, traced, untraced: the overhead compares the traced op
          // with the untraced ops on either side of it
          attempt(s"op $i")(runner.op(2 * i)).foreach(o => untraced += o.seconds)
          val s = new LayerSample
          val ok = attempt(s"traced op $i")(runner.tracedOp(1000 + i, t, s)).isDefined
          attempt(s"op ${i}b")(runner.op(2 * i + 1)).foreach(o => untraced += o.seconds)
          attempt(s"layer probes $i") {
            OpOutcome(0, 0, 0, 0, 0, runner.probes(t, s))
          }.foreach(_ => if (ok) layers += s)
      }
      System.err.println(f"[perfbench] iteration $i done at ${Util.secondsSince(start)}%.2f s " +
        s"(ops: ${(ops.map(_.seconds) ++ untraced).map(x => f"$x%.2f").mkString(" ")})")
      i += 1
    }
    val scanAfter = runner.scanProbe()

    val (metrics, samples) =
      if (!traced) {
        def med(f: OpOutcome => Double) = if (ops.isEmpty) Double.NaN else Util.median(ops.map(f).toSeq)
        (Seq(
          "setup_s" -> (setupS, "s"),
          "op_s" -> (med(_.seconds), "s"),
          "docs_per_s" -> (med(o => o.docs / o.seconds), "docs/s"),
          "out_bytes_per_in_byte" -> (med(o => o.outBytes.toDouble / o.inBytes), "ratio"),
          "out_files" -> (med(_.outFiles.toDouble), "count")), ops.size)
      } else {
        val all = layers.toSeq
        def med(k: String) = if (all.isEmpty) Double.NaN else Util.median(all.map(_.values.getOrElse(k, 0.0)))
        val untracedS = if (untraced.isEmpty) Double.NaN else Util.median(untraced.toSeq)
        val fixed = Map(
          "scan.s" -> Util.median(Seq(scanBefore, scanAfter)),
          "scan.before_s" -> scanBefore, "scan.after_s" -> scanAfter,
          "op.untraced_s" -> untracedS,
          "trace.overhead_share" -> (med("op.span_s") / untracedS - 1.0))
        (PerLayer.map { case (k, unit) => k -> (fixed.getOrElse(k, med(k)), unit) }, all.size)
      }

    tracer.foreach { t =>
      opts.get("spans").foreach(p => t.writeJson(Paths.get(p)))
      layers.zipWithIndex.foreach { case (s, n) =>
        val parts = s.values.filter { case (k, _) => OpParts(k) }
          .map { case (k, v) => f"$k $v%.3f" }.mkString(" + ")
        println(f"[perfbench] traced op $n: span ${s.values("op.span_s")}%.3f s = $parts + " +
          f"remainder ${s.values("op.self_s")}%.3f")
      }
    }
    errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED $e"))
    val result = Map(
      "correct" -> errors.isEmpty,
      "attempted" -> attempted,
      "failed" -> failed,
      "samples" -> samples,
      "scan_before_s" -> scanBefore,
      "scan_after_s" -> scanAfter,
      "errors" -> errors.take(20).toSeq,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)
    Files.writeString(Paths.get(opts("result")), Util.json(result))
    if (errors.isEmpty) 0 else 1
  }
}
