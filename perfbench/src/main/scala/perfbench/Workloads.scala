package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.engine.{Constraints, Ledger, StatsPass, TableIO, Validator, WebSchema}
import graft.operators.Curate
import graft.streaming.StreamingValidate

/** A workload's shape, read from its fixture's `params.json`. */
sealed trait Workload {
  def name: String
  def rows: Long
}

final case class ResumeWorkload(rows: Long, days: Long, newDays: Long) extends Workload {
  val name = "validate_resume"
}

final case class IngestWorkload(rows: Long, batchRows: Long, batches: Long,
    repeatEvery: Long, repeatSpan: Long, hosts: Long, cap: Long) extends Workload {
  val name = "ingest_ticks"
  /** History pages whose urls batch `k` repeats (gen.py's planting rule). */
  def plantedKeys(k: Int): Set[Long] =
    (0L until batchRows).filter(j => j % repeatEvery == 0 && j < repeatSpan)
      .map(j => (j * 7919L + k * 104729L) % rows).toSet
  def plantedCount: Long = plantedKeys(0).size.toLong
}

object Workload {
  def apply(name: String, p: Map[String, Long]): Workload = name match {
    case "validate_resume" => ResumeWorkload(p("rows"), p("days"), p("new_days"))
    case "ingest_ticks" => IngestWorkload(p("rows"), p("batch_rows"), p("batches"),
      p("repeat_every"), p("repeat_span"), p("hosts"), p("cap"))
  }

  /** Skewed host index of an ordinary curate page (gen.py's recipe). */
  def hostIndex(k: Long, hosts: Long): Long = { val r = k % 1000; r * r * hosts / 1000000L }
}

/** What one timed operation did. */
final case class OpOutcome(seconds: Double, docs: Long, inBytes: Long,
    outBytes: Long, outFiles: Long, errors: Seq[String])

/** Per-layer numbers of one traced operation. */
final class LayerSample {
  val values = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = values(k) = values.getOrElse(k, 0.0) + v
}

/** The run-time half of a workload: pre-state, the timed operation through
  * the library entry point the CLI calls, its traced twin, the per-layer
  * probes and the output check.
  */
abstract class Runner(val spark: SparkSession, val fixture: Path, val work: Path) {
  /** Builds the pre-state the operations start from (ledger, history,
    * baseline).
    */
  def preState(): Unit = ()
  /** Untimed preparation, the timed operation, then the untimed check. */
  def op(i: Int): OpOutcome
  /** The same operation with spans around each layer call. */
  def tracedOp(i: Int, t: Tracer, s: LayerSample): OpOutcome
  /** Isolated per-layer calls ending in the noop sink; returns the errors
    * of any output they check.
    */
  def probes(t: Tracer, s: LayerSample): Seq[String] = Nil
  /** Untimed operations after the pre-state, before timing starts: enough
    * that the timed ones sit past the steep part of the JIT warm-up curve.
    */
  def warmUps: Int
  /** The projected parquet read used as the machine-weather control. */
  def scanInput: Path

  def scanProbe(): Double = Util.timed {
    Util.noop(spark.read.parquet(scanInput.toString).select("url", "text", "lang"))
  }._2

  protected def fresh(name: String): Path = Util.fresh(work.resolve(name))

  protected def bytes(files: Map[String, Long]): Long = files.values.sum

  /** Job totals of a span, added to the sample under `layer`. */
  protected def jobTotals(t: Tracer, sp: Span, layer: String, s: LayerSample,
      withBytes: Boolean = false): Unit = {
    val js = t.jobsOf(sp)
    s.add(s"$layer.tasks", js.map(_.stats.tasks).sum.toDouble)
    s.add(s"$layer.task_failures", js.map(_.stats.taskFailures).sum.toDouble)
    if (withBytes) {
      s.add(s"$layer.cpu_s", js.map(_.stats.cpuNs).sum / 1e9)
      s.add(s"$layer.shuffle_bytes", js.map(_.stats.shuffleBytes).sum.toDouble)
      s.add(s"$layer.spill_bytes", js.map(_.stats.spillBytes).sum.toDouble)
    }
  }

  /** Times `f` as a root span named `layer` and records its wall and jobs. */
  protected def probe(t: Tracer, s: LayerSample, layer: String, withBytes: Boolean = false)(
      f: => Unit): Unit = {
    t.span(layer)(f)
    t.drain()
    val sp = t.all.last
    s.add(s"$layer.s", sp.wall)
    jobTotals(t, sp, layer, s, withBytes)
  }
}

/** Counts the ledger calls of a traced operation. */
final class CountingLedger(inner: Ledger) extends Ledger {
  var ops = 0L
  def write(e: Ledger.Entry): Unit = { ops += 1; inner.write(e) }
  def read(partition: String): Option[Ledger.Entry] = { ops += 1; inner.read(partition) }
  def all(): Seq[Ledger.Entry] = { ops += 1; inner.all() }
}

// ------------------------------------------------------------- validate --

/** A ledgered `validate` (`Validator.runWithLedger`, what `graft.Main
  * validate --ledger --partition-col p_day` runs) resuming a day-partitioned
  * WebGen table whose ledger marks all but the newest `newDays` days done.
  */
final class ResumeRunner(w: ResumeWorkload, spark: SparkSession, fixture: Path, work: Path)
    extends Runner(spark, fixture, work) {
  import spark.implicits._

  def scanInput: Path = fixture.resolve("input")
  lazy val inputBytes: Long = bytes(Util.dataFiles(scanInput))
  /** First day of the partitions a resume processes. */
  val cutoff: String = Fixtures.Epoch.plusDays(w.days - w.newDays).toString
  private def snapshot = work.resolve("prestate")
  /** The pre-state is itself a ledgered validate, so one resume suffices. */
  val warmUps = 1

  /** `graft.Main`'s load: schema gate, then `--partition-col` → `partition`. */
  def load(): DataFrame = {
    val raw = spark.read.parquet(scanInput.toString)
    require(WebSchema.validate(raw).isRight, "fixture fails the schema gate")
    raw.withColumn("partition",
      coalesce(col("p_day").cast("string"), lit(Validator.UnknownPartition)))
  }

  /** Yesterday's gate: every day before the newest `newDays` validated. */
  override def preState(): Unit = {
    val d = fresh("prestate")
    Validator.runWithLedger(load().where(col("partition") < cutoff),
      Ledger(d.resolve("ledger").toString), "seed", d.resolve("out").toString)
  }

  /** A copy of the pre-state for one operation. */
  private def prepareOp(i: Int): Path = {
    val d = fresh(s"op-$i")
    Util.copyTree(snapshot, d)
    d
  }

  def op(i: Int): OpOutcome = {
    val d = prepareOp(i)
    val (_, secs) = Util.timed {
      Validator.runWithLedger(load(), Ledger(d.resolve("ledger").toString), s"run-$i",
        d.resolve("out").toString)
    }
    outcome(d, secs)
  }

  def tracedOp(i: Int, t: Tracer, s: LayerSample): OpOutcome = {
    val d = prepareOp(i)
    val ledger = new CountingLedger(Ledger(d.resolve("ledger").toString))
    val outDir = d.resolve("out").toString
    var commitBefore = Map.empty[String, Long]
    val (_, secs) = Util.timed {
      t.span("op") {
        // Validator.runWithLedger, call for call
        val wp = t.span("load")(load())
        val allParts = t.span("list") {
          wp.select(col("partition")).distinct().as[String].collect().toSeq.sorted
        }
        val (done, todo) = t.span("ledger") {
          val done = ledger.donePartitions()
          val todo = allParts.filterNot(done)
          todo.foreach(p => ledger.markPending(p, s"run-$i"))
          (done, todo)
        }
        val (scoped, peer) = t.span("plan") {
          val doneSeq = allParts.filter(done)
          val statsPath = d.resolve("out/column_stats")
          (wp.join(broadcast(todo.toDF("partition")), Seq("partition"), "left_semi"),
            if (doneSeq.isEmpty || !Files.exists(statsPath)) None
            else Some(TableIO.readTable(spark, statsPath.toString)
              .join(broadcast(doneSeq.toDF("partition")), Seq("partition"), "left_semi")))
        }
        val res = t.span("validate") {
          Validator.validate(scoped, globalFrame = Some(wp), baselinePeerStats = peer)
        }
        try {
          commitBefore = Util.dataFiles(d.resolve("out"))
          t.span("commit") {
            val computed = todo
            TableIO.writePartitionsAtomic(
              res.violations.sortWithinPartitions(col("partition"), col("check_name"), col("url")),
              s"$outDir/violations", computed = Some(computed :+ "<global>"))
            TableIO.writePartitionsAtomic(res.verdicts, s"$outDir/verdicts",
              computed = Some(computed :+ "<global>"))
            TableIO.writePartitionsAtomic(res.stats, s"$outDir/column_stats",
              computed = Some(computed))
          }
          val (counts, rows) = t.span("tally") {
            (res.violations.groupBy(col("partition")).agg(count(lit(1)).as("n"))
              .as[(String, Long)].collect().toMap,
              res.stats.select(col("partition"), col("row_cnt")).as[(String, Long)]
                .collect().toMap)
          }
          t.span("ledger") {
            todo.foreach(p => ledger.markDone(p, rows.getOrElse(p, 0L),
              counts.getOrElse(p, 0L), s"run-$i"))
          }
        } finally res.unpersist()
      }
    }
    t.drain()
    val all = t.all
    val opSpan = all.filter(_.name == "op").last
    val kids = t.children(opSpan)
    def wallOf(n: String) = kids.filter(_.name == n).map(_.wall).sum
    s.add("op.span_s", opSpan.wall)
    s.add("op.self_s", t.selfTime(opSpan))
    s.add("resume.self_s", t.selfTime(opSpan))
    s.add("load.s", wallOf("load"))
    s.add("plan.s", wallOf("plan"))
    s.add("list.s", wallOf("list"))
    s.add("tally.s", wallOf("tally"))
    s.add("ledger.s", wallOf("ledger"))
    s.add("ledger.ops", ledger.ops.toDouble)
    kids.filter(_.name == "ledger").foreach(k => jobTotals(t, k, "ledger", s))
    val v = kids.find(_.name == "validate").get
    s.add("validate.s", v.wall)
    s.add("validate.driver_s", t.driverTime(v))
    s.add("validate.jobs", t.jobsOf(v).size.toDouble)
    jobTotals(t, v, "validate", s)
    val c = kids.find(_.name == "commit").get
    val after = Util.dataFiles(d.resolve("out"))
    val written = after.filter { case (f, n) => !commitBefore.get(f).contains(n) }
    s.add("commit.s", c.wall)
    s.add("commit.files", written.size.toDouble)
    s.add("commit.bytes", written.values.sum.toDouble)
    jobTotals(t, c, "commit", s)
    outcome(d, secs)
  }

  /** The row-scale layers over the whole table (the bulk-pass shape), and
    * the peer-stats readback of a resume.
    */
  override def probes(t: Tracer, s: LayerSample): Seq[String] = {
    val wp = load()
    probe(t, s, "stats", withBytes = true)(Util.noop(StatsPass.statsAndProfiles(wp)))
    val scanned = Observation("scanned")
    val hits = Observation("hits")
    val rowChecks = Validator.DefaultChecks.collect { case c: Constraints.RowCheck => c }
    probe(t, s, "row_checks") {
      Util.noop(Constraints.runRowChecks(wp.observe(scanned, count(lit(1)).as("n")), rowChecks)
        .observe(hits, count(lit(1)).as("n")))
    }
    val n = scanned.get("n").asInstanceOf[Long]
    s.add("row_checks.hit_ratio", if (n == 0) 0.0 else hits.get("n").asInstanceOf[Long].toDouble / n)
    probe(t, s, "unique", withBytes = true)(Util.noop(Constraints.Unique("url").violations(wp)))
    probe(t, s, "peer_stats") {
      Util.noop(TableIO.readTable(spark, snapshot.resolve("out/column_stats").toString)
        .where(col("partition") < cutoff))
    }
    Nil
  }

  private def outcome(d: Path, secs: Double): OpOutcome = {
    val out = Util.dataFiles(d.resolve("out"))
    OpOutcome(secs, newRows, inputBytes, bytes(out), out.size.toLong, check(d))
  }

  // closed-form expectations (FIXTURES.md §1 defect rules)
  lazy val expected: (Map[(String, String), Long], Map[String, Long]) = {
    val v = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    val rows = mutable.Map.empty[String, Long].withDefaultValue(0L)
    var i = 0L
    while (i < w.rows) {
      val p = Fixtures.dayOf(i, w.rows, w.days)
      rows(p) += 1
      if (Fixtures.isNullText(i)) v((p, "not_null_text")) += 1
      if (Fixtures.isBadExtract(i)) v((p, "byte_identical_text")) += 1
      if (Fixtures.isDupUrl(i)) v(("<global>", "unique_url")) += 1
      i += 1
    }
    (v.toMap, rows.toMap)
  }

  /** Rows of the days a resume processes. */
  lazy val newRows: Long = expected._2.filter(_._1 >= cutoff).values.sum

  /** Violations per (partition, check), the constraint-verdict grid, drift
    * verdict presence and the ledger, against the closed form. Drift scores
    * are not compared: they depend on the input's split today.
    */
  def check(d: Path): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val (expV, expRows) = expected
    val out = d.resolve("out").toString
    val gotV = TableIO.readTable(spark, s"$out/violations")
      .groupBy("partition", "check_name").count()
      .as[(String, String, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    if (gotV != expV)
      errs += s"violations differ: ${(gotV.toSet diff expV.toSet).take(3)} vs ${(expV.toSet diff gotV.toSet).take(3)}"
    val verdicts = TableIO.readTable(spark, s"$out/verdicts")
      .select("partition", "check_name", "status", "passed", "n_violations")
      .as[(String, String, String, Boolean, Long)].collect()
    val checkNames = Validator.DefaultChecks.map(_.name).toSet
    val (constraint, drift) = verdicts.partition(v => checkNames(v._2))
    val expGrid = expRows.keys.toSeq.flatMap(p => checkNames.toSeq.map(c => (p, c) -> expV.getOrElse((p, c), 0L))) ++
      expV.filter(_._1._1 == "<global>").toSeq
    val gotGrid = constraint.map(v => (v._1, v._2) -> v._5)
    if (gotGrid.toMap != expGrid.toMap || gotGrid.length != expGrid.length)
      errs += s"constraint verdict grid differs (${gotGrid.length} rows, expected ${expGrid.length})"
    if (constraint.exists(v => v._4 != (v._5 == 0L)))
      errs += "a constraint verdict's passed flag disagrees with its count"
    val driftPer = drift.groupBy(_._1).map { case (p, vs) => p -> vs.length }
    if (driftPer.keySet != expRows.keySet || driftPer.values.exists(_ != 6))
      errs += s"drift verdicts incomplete: ${driftPer.size} partitions"
    val entries = Ledger(d.resolve("ledger").toString).all()
    val perPart = expV.filter(_._1._1 != "<global>").groupBy(_._1._1).map { case (p, m) => p -> m.values.sum }
    val expLedger = expRows.map { case (p, n) => p -> (("done", n, perPart.getOrElse(p, 0L))) }
    val gotLedger = entries.map(e => e.partition -> ((e.status, e.rowCnt, e.nViolations))).toMap
    if (gotLedger != expLedger) errs += s"ledger differs: ${gotLedger.size} entries vs ${expLedger.size}"
    errs.result()
  }
}

// --------------------------------------------------------------- ingest --

/** `graft.Main ingest --baseline <dir> --baseline-refresh strict` ticks
  * (`StreamingValidate.incrementalValidate`) over a pages history built by
  * the same ingest.
  */
final class IngestRunner(w: IngestWorkload, spark: SparkSession, fixture: Path, work: Path)
    extends Runner(spark, fixture, work) {
  import spark.implicits._

  def scanInput: Path = fixture.resolve("slices/slice=history")
  private def state = work.resolve("state")
  private def inDir = state.resolve("in")
  private def outDir = state.resolve("out")
  private var nextBatch = 0
  /** Ticks keep getting faster for their first ~4 repetitions; the history
    * tick is the first.
    */
  val warmUps = 3

  private def tick(): org.apache.spark.sql.streaming.StreamingQuery = {
    val q = StreamingValidate.incrementalValidate(spark, inDir.toString, outDir.toString,
      state.resolve("out/_checkpoint").toString,
      baselineDir = Some(state.resolve("baseline").toString),
      crossBatchUnique = true, baselineRefresh = "strict")
    q.awaitTermination()
    q
  }

  private def stage(k: Int): Long = {
    val src = fixture.resolve(f"slices/slice=b$k%03d")
    val files = Util.dataFiles(src)
    files.keys.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      Files.copy(p, inDir.resolve(f"b$k%03d-" + p.getFileName.toString))
    }
    files.values.sum
  }

  /** A fresh history ingested through the engine, and its baseline. */
  override def preState(): Unit = {
    fresh("state")
    Files.createDirectories(inDir)
    Util.dataFiles(scanInput).keys.foreach { f =>
      val p = java.nio.file.Paths.get(f)
      Files.copy(p, inDir.resolve("h-" + p.getFileName.toString))
    }
    Validator.saveBaseline(
      spark.read.parquet(scanInput.toString)
        .withColumn("partition", date_format(col("warc_ts"), "yyyy-MM-dd")),
      state.resolve("baseline").toString)
    tick()
    nextBatch = 0
  }

  private def runTick(traced: Option[(Tracer, LayerSample)]): OpOutcome = {
    require(nextBatch < w.batches, s"ingest_ticks ran out of its ${w.batches} batches")
    val k = nextBatch
    nextBatch += 1
    val before = Util.dataFiles(outDir)
    val inBytes = stage(k)
    val since = System.currentTimeMillis()
    val (q, secs) = Util.timed {
      traced match {
        case Some((t, _)) => t.span("op")(tick())
        case None => tick()
      }
    }
    traced.foreach { case (t, s) =>
      t.drain()
      val opSpan = t.all.last
      val d = t.streams.durations(q.runId)
      val trig = d.getOrElse("triggerExecution", 0.0)
      s.add("op.span_s", opSpan.wall)
      s.add("ingest.add_batch_s", d.getOrElse("addBatch", 0.0))
      s.add("ingest.planning_s", d.getOrElse("queryPlanning", 0.0))
      s.add("ingest.wal_commit_s", d.getOrElse("walCommit", 0.0))
      s.add("ingest.trigger_other_s", trig - Seq("addBatch", "queryPlanning", "walCommit")
        .map(d.getOrElse(_, 0.0)).sum)
      s.add("op.self_s", opSpan.wall - trig)
      val jobs = t.jobsOf(opSpan)
      s.add("ingest.jobs_per_tick", jobs.size.toDouble)
      s.add("ingest.tasks", jobs.map(_.stats.tasks).sum.toDouble)
      s.add("ingest.task_failures", jobs.map(_.stats.taskFailures).sum.toDouble)
      s.add("ingest.history_rows_read", ScanRows.since(spark, since, "/out/pages").toDouble)
      val fold = jobs.filter(_.layer == "baseline")
      s.add("baseline.fold_s", t.covered(fold.map(j => (j.start.toDouble, j.end.toDouble))))
      s.add("baseline.tasks", fold.map(_.stats.tasks).sum.toDouble)
      s.add("baseline.task_failures", fold.map(_.stats.taskFailures).sum.toDouble)
    }
    val written = Util.dataFiles(outDir).filter { case (f, n) => !before.get(f).contains(n) }
    OpOutcome(secs, w.batchRows, inBytes, written.values.sum, written.size.toLong, check(q, k))
  }

  def op(i: Int): OpOutcome = runTick(None)
  def tracedOp(i: Int, t: Tracer, s: LayerSample): OpOutcome = runTick(Some((t, s)))

  override def probes(t: Tracer, s: LayerSample): Seq[String] =
    new CurateJob(spark, scanInput, work, w.rows, w.hosts, w.cap)
      .measure(t, s, (layer, bytes) => f => probe(t, s, layer, bytes)(f))

  /** Exactly the planted urls are flagged as seen in a prior batch, no other
    * check fires, the batch's pages landed and its verdict grid is complete.
    */
  private def check(q: org.apache.spark.sql.streaming.StreamingQuery, k: Int): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val batchIds = q.recentProgress.filter(_.numInputRows > 0).map(_.batchId)
    if (batchIds.length != 1) return Seq(s"tick $k ran ${batchIds.length} data batches")
    val lineage = q.id.toString
    def ofBatch(t: String) = spark.read.parquet(outDir.resolve(t).toString)
      .where(col("lineage") === lineage && col("ingest_batch") === batchIds.head)
    val pages = ofBatch("pages").count()
    if (pages != w.batchRows) errs += s"tick $k wrote $pages pages, expected ${w.batchRows}"
    val v = ofBatch("violations").groupBy("check_name").count().as[(String, Long)].collect().toMap
    val expV = Map(Constraints.SeenPriorBatch.name -> w.plantedCount)
    if (v != expV) errs += s"tick $k violations $v, expected $expV"
    // a planted url is the history page's: its key is the url's last field
    val flagged = ofBatch("violations").where(col("check_name") === Constraints.SeenPriorBatch.name)
      .select("url").as[String].collect().map(_.split("-").last.toLong).toSet
    if (flagged != w.plantedKeys(k)) errs += s"tick $k flagged history pages other than the planted ones"
    val verdicts = ofBatch("verdicts").select("partition", "check_name")
      .as[(String, String)].collect()
    val names = (Validator.DefaultChecks.map(_.name) :+ Constraints.SeenPriorBatch.name).toSet
    val perPart = verdicts.groupBy(_._1).map { case (p, vs) => p -> vs.map(_._2).toSet }
    if (perPart.isEmpty || perPart.values.exists(cs => !names.subsetOf(cs) || cs.size != names.size + 6))
      errs += s"tick $k verdict grid incomplete"
    errs.result()
  }
}

// --------------------------------------------------------------- curate --

/** `graft.Main curate --blocklist blocked.bad --max-per-host <cap>` over the
  * crawl table the ingest history was made from (gen.py's d_curate recipe):
  * `Curate.curate` with the corpus written, each stage on its own, and the
  * `--stage-counts on` path. Measured in the traced runs of `ingest_ticks`.
  */
final class CurateJob(spark: SparkSession, input: Path, work: Path, rows: Long,
    hosts: Long, cap: Long) {
  import spark.implicits._

  val cfg: Curate.Config = Curate.Config(blocklist = Seq("blocked.bad"), maxPerHost = cap.toInt)

  private def raw(): DataFrame = {
    val df = spark.read.parquet(input.toString)
    require(WebSchema.validate(df).isRight, "crawl table fails the schema gate")
    df
  }

  private def fresh(name: String): Path = Util.fresh(work.resolve(name))

  /** The curate job, its stages and the audit path; returns check errors. */
  def measure(t: Tracer, s: LayerSample, probe: (String, Boolean) => (=> Unit) => Unit): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val exp = expectedFunnel
    val out = fresh("corpus")
    probe("curate", true)(Curate.curate(raw(), cfg).write.mode("overwrite").parquet(out.toString))
    val sp = t.all.last
    s.add("curate.jobs", t.jobsOf(sp).size.toDouble)
    s.add("curate.driver_s", t.driverTime(sp))
    errs ++= check(out)

    // each stage over the persisted output of the one before, survivors
    // counted in the same noop job
    var cur = raw().persist(StorageLevel.MEMORY_AND_DISK)
    Util.noop(cur)
    var n = rows
    for (((name, f), idx) <- Curate.stages(cfg).zipWithIndex) {
      val obs = Observation(name)
      val next = f(cur).persist(StorageLevel.MEMORY_AND_DISK)
      probe(s"curate.$name", false)(Util.noop(next.observe(obs, count(lit(1)).as("n"))))
      val m = obs.get("n").asInstanceOf[Long]
      s.add(s"curate.$name.survival", m.toDouble / n)
      if (m != exp(idx + 1)._2) errs += s"stage $name kept $m docs, funnel expects ${exp(idx + 1)._2}"
      cur.unpersist(false)
      cur = next
      n = m
    }
    cur.unpersist(false)

    val audit = fresh("audit")
    val (counts, secs) = Util.timed {
      val (cleaned, counts) = Curate.curateWithCounts(raw(), cfg)
      cleaned.write.mode("overwrite").parquet(audit.toString)
      cleaned.unpersist(false)
      counts
    }
    s.add("curate.audit_s", secs)
    if (counts != exp) errs += s"--stage-counts funnel $counts, expected $exp"
    errs.result()
  }

  /** Survivors after each stage, from the planting rules of gen.py's
    * curate recipe.
    */
  lazy val expectedFunnel: Seq[(String, Long)] = {
    def cls(m: Int) = (0L until rows).count(_ % 20 == m).toLong
    val pairs = (0L until rows).count(k => k % 20 == 6 && k + 1 < rows).toLong
    val perHost = (0L until rows).filter(k => !Set(1L, 2L, 4L, 5L, 6L, 7L, 8L)(k % 20))
      .groupBy(Workload.hostIndex(_, hosts)).values.map(_.size.toLong)
    val capped = perHost.map(c => math.max(0L, c - cap)).sum
    val steps = Seq(
      "url_blocklist" -> cls(1), "noindex" -> cls(2),
      "paragraph_dedup" -> math.max(0L, cls(4) - 1), "c4" -> cls(5), "gopher" -> cls(8),
      "exact_text_dedup" -> pairs, "host_cap" -> capped)
    steps.scanLeft("input" -> rows) { case ((_, left), (name, dropped)) => name -> (left - dropped) }
  }

  /** The written corpus against the funnel: survivors per planted class. */
  private def check(out: Path): Seq[String] = {
    val k = regexp_extract(col("url"), "-([0-9]+)$", 1).cast("long")
    val got = spark.read.parquet(out.toString)
      .select(pmod(k, lit(20L)).as("m"))
      .groupBy("m").count().as[(Long, Long)].collect().toMap
    val errs = Seq.newBuilder[String]
    val total = got.values.sum
    if (total != expectedFunnel.last._2)
      errs += s"corpus has $total docs, funnel expects ${expectedFunnel.last._2}"
    Seq(1L, 2L, 5L, 8L).foreach(m => if (got.getOrElse(m, 0L) != 0L) errs += s"class $m survived")
    if (got.getOrElse(4L, 0L) != 1L) errs += s"shared-paragraph class kept ${got.getOrElse(4L, 0L)} docs"
    val twins = got.getOrElse(6L, 0L) + got.getOrElse(7L, 0L)
    val expTwins = (0L until rows).count(k => k % 20 == 6).toLong
    if (twins != expTwins) errs += s"twin classes kept $twins docs, expected $expTwins"
    errs.result()
  }
}

object Runner {
  def apply(w: Workload, spark: SparkSession, fixture: Path, work: Path): Runner = w match {
    case r: ResumeWorkload => new ResumeRunner(r, spark, fixture, work)
    case i: IngestWorkload => new IngestRunner(i, spark, fixture, work)
  }
}
