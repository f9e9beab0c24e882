package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.graft.ColumnBridge
import graft.{Etl, GraftConfig, SparkEntry}
import graft.operators.Facts
import graft.sources.{Loader, Tables}

/** The graft benchmark: one process, one closed-loop client, no extra
  * threads. `BENCHMARK.json` at the repository root names the workloads
  * and metrics, and `README.md` beside `run.py` describes them;
  * `run.py` builds and launches this.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --expected <tsv> [--record <tsv>]
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: File, expected: File, record: Option[File])

  val workloads = Seq("curation_ops", "warehouse_build_x8")

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val w = need("workload")
    require(workloads.contains(w), s"unknown workload '$w' (one of ${workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      new File(need("work")).getAbsoluteFile, new File(need("expected")).getAbsoluteFile,
      kv.get("record").map(new File(_).getAbsoluteFile))
  }

  def main(argv: Array[String]): Unit = {
    val knobs = sys.env.keys.filter(_.startsWith("SPARK_GRAFT_")).toSeq.sorted
    if (knobs.nonEmpty) {
      System.err.println(s"refusing to run: ${knobs.mkString(", ")} set; registry entries " +
        "read these through GraftConfig.load(), so the measured code would differ")
      sys.exit(2)
    }
    val args = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(args.work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(args.work, "spark-warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val outcome =
      try new Bench(spark, args, cores).run()
      finally spark.stop()
    outcome.print()
  }
}

/** A metric as printed: value, unit and an optional note. */
final case class Metric(value: Double, unit: String, note: String = "")

/** What one run measured. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[(String, Metric)],
                         lines: Seq[String]) {
  def print(): Unit = {
    lines.foreach(println)
    for ((k, m) <- metrics)
      println(s"metric $k ${m.value} ${m.unit}${if (m.note.isEmpty) "" else s" (${m.note})"}")
    def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
    val json = metrics.map { case (k, m) =>
      s""""$k": {"value": ${num(m.value)}, "unit": "${m.unit}"}""" }.mkString("{", ", ", "}")
    val correct = failed == 0 && metrics.forall { case (_, m) => !m.value.isNaN && !m.value.isInfinite }
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
  }
}

/** One timed call of a pass. `rows` is its result, landed or counted
  * row count; `cpu` and `gc` are process CPU and GC seconds over it.
  */
final case class Step(name: String, family: String, seconds: Double, ok: Boolean, rows: Long,
                      cpu: Double, gc: Double)

/** The measurements of one timed phase (one or more whole passes).
  * `busy` is the client's time inside calls: the wall without the
  * settle barriers between them. `heapMb` is the largest heap left in
  * use after the full collection that precedes each step and follows
  * the last.
  */
final case class Phase(steps: Seq[Step], passes: Int, wall: Double, busy: Double,
                       heapMb: Double, spans: Seq[Span], blocksLeft: Seq[Long]) {
  def gc: Double = steps.map(_.gc).sum
  def cpu: Double = steps.map(_.cpu).sum
}

final class Bench(spark: SparkSession, args: Main.Args, cores: Int) {

  private val sc = spark.sparkContext
  private val warehouse = args.workload == "warehouse_build_x8"
  /** A sibling of the program's configured sf0.1 fixture, which is
    * only read: sf0.01 for the curation entries, sf0.001 (replicated
    * 8x) for the warehouse. Either keeps a pass of the workload to
    * about ten seconds on 4 cores.
    */
  private val src: String = new File(new File(GraftConfig.load(None).sfDir).getParentFile,
    if (warehouse) "sf0.001" else "sf0.01").toString
  private val copies = 8
  /** Set-ups per run: the median of three is `setup_s`. A traced run
    * reports no `setup_s` and sets up once.
    */
  private val setupReps = if (args.trace) 1 else 3
  private val rng = new scala.util.Random(args.seed)
  private val in = new File(args.work, "in")
  private val data = if (warehouse) new File(in, "x8").toString else in.toString
  private val nextEvents = s"$in/events_new.parquet"
  /** Where the warehouse steps land their tables. */
  private val out = new File(args.work, "warehouse")
  private val lines = mutable.ArrayBuffer[String]()
  private var attempted = 0L
  private var failed = 0L

  private val expected: Map[(String, String), (Long, String)] =
    if (args.record.isDefined || !args.expected.isFile) Map.empty
    else {
      val file = scala.io.Source.fromFile(args.expected, "UTF-8")
      try file.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map(_.split("\t"))
        .collect { case Array(w, k, n, d) => (w, k) -> (n.toLong, d) }.toMap
      finally file.close()
    }
  private val recorded = mutable.ArrayBuffer[String]()

  // ---- helpers -------------------------------------------------------

  private def rmrf(f: File): Unit = {
    if (f.isDirectory && !java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete(); ()
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds: Double = osBean.getProcessCpuTime / 1e9
  private def gcSeconds: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  private def group(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

  private def census(): Long = ColumnBridge.numStorageBlocks + ColumnBridge.numDiskBlocks

  /** The settle barrier `graft.Bench` uses between timed reps, here
    * between steps and outside their spans: a full collection, then
    * polls until the ContextCleaner stops moving the block census
    * (bounded at ~500 ms), so one step's garbage and cleanup do not land
    * inside the next. When the cleaner released blocks, a second
    * collection frees them; returns the heap still in use after the
    * last collection, MB.
    */
  private def settle(): Double = {
    System.gc()
    val before = census()
    var prev = -1L
    var cur = before
    var polls = 0
    while (cur != prev && polls < 25) {
      Thread.sleep(20)
      prev = cur
      cur = census()
      polls += 1
    }
    if (cur != before) System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Count one checked outcome; a mismatch is a failure. */
  private def check(key: String, got: (Long, String)): Unit = {
    attempted += 1
    if (args.record.isDefined) recorded += s"${args.workload}\t$key\t${got._1}\t${got._2}"
    else expected.get((args.workload, key)) match {
      case Some(want) if want == got => ()
      case Some(want) =>
        failed += 1
        lines += s"mismatch $key expected rows=${want._1} ${want._2} got rows=${got._1} ${got._2}"
      case None =>
        failed += 1
        lines += s"mismatch $key has no expected value in ${args.expected}"
    }
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).flatMap(_.linesIterator.toSeq.headOption).getOrElse("")}"

  // ---- the calls -------------------------------------------------------

  private val ops: Vector[Op] = if (warehouse) Ops.warehouse else Ops.curation

  /** The source tables `Etl.buildAll`'s extraction phase counts. */
  private val sources = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "documents", "embeddings")

  private def landed(op: Op): String =
    if (op.kind == "cdc") s"$out/fact_transactions_maintained" else s"$out/${op.name}"

  /** The frames a call builds: the registry entry, the standing and the
    * next events for the CDC call, the source tables for extraction.
    * Eager sub-jobs of the entry run here.
    */
  private def construct(op: Op): Seq[DataFrame] = op.kind match {
    case "extract" => sources.map(Tables(spark, data, _))
    case "cdc" => Seq(Etl.maintainFactTransactions(
      spark.read.parquet(s"$out/fact_transactions"), spark.read.parquet(nextEvents)))
    case _ => Seq(SparkEntry.queries(op.name)(spark, data))
  }

  private def plan(frames: Seq[DataFrame]): Unit =
    frames.foreach(_.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution.executedPlan)

  /** Runs the planned call; returns its result, landed or counted rows. */
  private def exec(op: Op, frames: Seq[DataFrame]): Long = op.kind match {
    case "extract" => frames.map(_.count()).sum
    case "land" | "cdc" =>
      Loader.truncateAndLoad(frames.head, landed(op))
      spark.read.parquet(landed(op)).count()
    case _ =>
      val qe = frames.head.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
      SQLExecution.withNewExecutionId(qe, Some(op.name))(qe.toRdd.count())
  }

  /** Seeded inputs, made `setupReps` times from scratch; returns the
    * median wall. The last set-up stays in place for the run.
    */
  private def setup(): Double = {
    val walls = (1 to setupReps).map { _ =>
      rmrf(in)
      val t0 = System.nanoTime()
      if (warehouse) {
        Inputs.replicate(spark, src, data, copies, cores)
        Inputs.nextEvents(spark, src, in.toString, args.seed, cores)
      } else {
        Inputs.rechunk(spark, src, data, cores, Seq("documents", "embeddings"))
        // the ANN truth artifact, so no timed op derives it on a miss
        SparkEntry.queries("ann_exact_truth")(spark, data)
          .write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t0) / 1e9
    }
    lines += s"setup_walls_s ${walls.mkString(" ")}"
    median(walls)
  }

  /** Result rows of each call's checked first execution. */
  private val expectedRows = mutable.HashMap[String, Long]()

  /** Each call's first execution, in list order (the CDC call after the
    * fact it maintains): untimed, and checked. A query is checked by
    * the row count and digest of its result; a landed table by those of
    * what was landed; extraction by the row count of every source; the
    * CDC call by equality with a rebuild of the fact from the next
    * events snapshot.
    */
  private def warmUp(): Unit =
    for (op <- ops) {
      group(s"warm.${op.name}")
      val t0 = System.nanoTime()
      try {
        val got = op.kind match {
          case "query" => Digest.of(construct(op).head)
          case "extract" =>
            val counts = construct(op).map(_.count())
            Digest.Result(counts.sum, counts.mkString("/"))
          case _ =>
            exec(op, construct(op))
            Digest.of(spark.read.parquet(landed(op)))
        }
        if (op.kind == "cdc") {
          val want = Digest.of(Facts.factTransactions(spark.read.parquet(nextEvents)))
          attempted += 1
          if (got != want) {
            failed += 1
            lines += s"mismatch cdc maintained rows=${got.rows} ${got.digest} " +
              s"rebuilt rows=${want.rows} ${want.digest}"
          }
        } else check(op.name, (got.rows, got.digest))
        expectedRows(op.name) = got.rows
        System.err.println(f"perfbench: warm ${op.name} ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch {
        case e: Throwable =>
          attempted += 1
          failed += 1
          lines += s"error warm ${op.name} ${describe(e)}"
      } finally sc.clearJobGroup()
    }

  /** Records the steps and, when traced, the spans of one phase. */
  private final class Recorder(tag: String, traced: Boolean) {
    val steps = mutable.ArrayBuffer[Step]()
    var busy = 0.0
    var heapMb = 0.0
    val spans = mutable.ArrayBuffer[Span]()
    val blocksLeft = mutable.ArrayBuffer[Long]()

    /** One closed-loop call in three spans: construct the frames, force
      * their physical plans, execute. A call that throws, or returns
      * another row count than its checked first execution, fails.
      */
    def call(id: String, op: Op): Unit = {
      heapMb = math.max(heapMb, settle())
      val c0 = cpuSeconds
      val g0 = gcSeconds
      val t0 = System.nanoTime()
      try {
        group(s"$tag:$id.construct")
        val frames = construct(op)
        val t1 = System.nanoTime()
        group(s"$tag:$id.plan")
        plan(frames)
        val t2 = System.nanoTime()
        group(s"$tag:$id.exec")
        val rows = exec(op, frames)
        val t3 = System.nanoTime()
        sc.clearJobGroup()
        val ok = expectedRows.get(op.name).contains(rows)
        if (!ok) lines += s"mismatch $tag:$id ${op.name} rows=$rows expected ${expectedRows.get(op.name)}"
        steps += Step(op.name, op.family, (t3 - t0) / 1e9, ok, rows, cpuSeconds - c0, gcSeconds - g0)
        busy += (t3 - t0) / 1e9
        if (traced) {
          spans += Span(id, op.name, "", t0, t3)
          spans += Span(id, "construct", op.name, t0, t1)
          spans += Span(id, "plan", op.name, t1, t2)
          spans += Span(id, "exec", op.name, t2, t3)
          blocksLeft += census()
        }
      } catch {
        case e: Throwable =>
          steps += Step(op.name, op.family, (System.nanoTime() - t0) / 1e9, ok = false, 0L,
            cpuSeconds - c0, gcSeconds - g0)
          busy += steps.last.seconds
          lines += s"error $tag:$id ${op.name} ${describe(e)}"
      } finally sc.clearJobGroup()
    }
  }

  /** Whole passes in seeded order until `seconds` of call time are
    * done, or a replay of `orders`.
    */
  private def phase(tag: String, traced: Boolean, orders: Seq[Seq[Op]]): (Phase, Seq[Seq[Op]]) = {
    val rec = new Recorder(tag, traced)
    val done = mutable.ArrayBuffer[Seq[Op]]()
    val t0 = System.nanoTime()
    var pass = 0
    while (if (orders.nonEmpty) pass < orders.size
           else pass == 0 || rec.busy < args.seconds) {
      val order = if (orders.nonEmpty) orders(pass) else rng.shuffle(ops)
      val p0 = System.nanoTime()
      order.zipWithIndex.foreach { case (op, i) => rec.call(s"p$pass.$i", op) }
      System.err.println(f"perfbench: pass $tag$pass ${(System.nanoTime() - p0) / 1e9}%.2f s " +
        rec.steps.takeRight(order.size).map(s => f"${s.name}=${s.seconds}%.2f").mkString(" "))
      done += order
      pass += 1
    }
    val heap = math.max(rec.heapMb, settle())
    (Phase(rec.steps.toSeq, pass, (System.nanoTime() - t0) / 1e9, rec.busy, heap, rec.spans.toSeq,
      rec.blocksLeft.toSeq), done.toSeq)
  }

  /** Counts a phase's calls: each must not throw and must return its
    * checked row count.
    */
  private def verify(p: Phase): Unit = {
    attempted += p.steps.size
    failed += p.steps.count(!_.ok)
  }

  def run(): Outcome = {
    rmrf(out)
    val setupS = setup()
    lines += s"config master=local[$cores] shuffle_partitions=${spark.conf.get("spark.sql.shuffle.partitions")} " +
      s"tz=${spark.conf.get("spark.sql.session.timeZone")} " +
      s"broadcast_threshold=${spark.conf.get("spark.sql.autoBroadcastJoinThreshold")} " +
      s"aqe=${spark.conf.get("spark.sql.adaptive.enabled")} max_heap_mb=${Runtime.getRuntime.maxMemory >> 20} " +
      s"source=$src input_bytes=${dirBytes(in)}"
    if (warehouse) lines += s"events delta ${Inputs.deltaCounts(spark, src, args.seed)}"
    warmUp()
    val (plain, orders) = phase("t", traced = false, Nil)
    verify(plain)
    if (!args.trace) return finish(endToEnd(setupS, plain))

    // the traced run replays the first timed pass
    val listener = new GroupListener
    sc.addSparkListener(listener)
    val (traced, _) = try phase("r", traced = true, orders.take(1)) finally {
      org.apache.spark.perfbench.Bus.drain(sc)
      sc.removeSparkListener(listener)
    }
    verify(traced)
    finish(layers(traced, plain.steps.take(orders.head.size), listener))
  }

  /** End-to-end metrics of the untraced phase. A typical pass has each
    * call at its median over the timed passes.
    */
  private def endToEnd(setupS: Double, p: Phase): Seq[(String, Metric)] = {
    val ok = p.steps.filter(_.ok)
    val typical = ok.groupBy(_.name).values.toSeq.map(ss => (median(ss.map(_.seconds)), ss.head.rows))
    val passS = typical.map(_._1).sum
    val latencies = ok.map(_.seconds)
    lines += f"latency max_s=${latencies.maxOption.getOrElse(Double.NaN)}%.6f n=${latencies.size} " +
      "(a tail with ten samples beyond it needs more calls than a run makes)"
    Seq(
      "setup_s" -> Metric(setupS, "s", s"median of $setupReps"),
      "ops_per_s" -> Metric(typical.size / passS, "1/s",
        s"calls=${typical.size} passes=${p.passes} typical_pass_s=$passS wall_s=${p.wall}"),
      "latency_p50_s" -> Metric(median(latencies), "s", s"n=${latencies.size}"),
      "rows_per_s" -> Metric(typical.map(_._2).sum / passS, "1/s",
        if (warehouse) "counted, landed and served rows" else "result rows"),
      "ok_frac" -> Metric((attempted - failed).toDouble / attempted, "frac",
        s"failed_frac=${failed.toDouble / attempted}"),
      "heap_peak_mb" -> Metric(p.heapMb, "MB", "after a full GC at each step boundary"))
  }

  /** Per-layer metrics of the traced phase, per pass. */
  private def layers(t: Phase, untraced: Seq[Step], listener: GroupListener): Seq[(String, Metric)] = {
    val per = t.passes.toDouble
    val all = listener.total(_.startsWith("r:"))
    def named(n: String) = t.spans.filter(_.name == n).map(_.seconds).sum / per
    def family(f: String) = t.steps.filter(_.family == f).map(_.seconds).sum / per
    val execIdle = t.spans.filter(_.name == "exec").map { s =>
      s.seconds * cores - listener.total(_ == s"r:${s.id}.exec").runMs / 1e3
    }.sum / per
    var uncovered = 0.0
    for ((id, ss) <- t.spans.groupBy(_.id).toSeq.sortBy(_._2.head.startNs)) {
      val top = ss.find(_.parent.isEmpty).get
      val parts = ss.filter(_.parent.nonEmpty)
      val rest = top.seconds - parts.map(_.seconds).sum
      uncovered += rest
      lines += f"span $id ${top.name} op_s=${top.seconds}%.6f " +
        parts.map(s => f"${s.name}_s=${s.seconds}%.6f").mkString(" ") + f" uncovered_s=$rest%.6f"
    }
    writeTrace(t.spans)
    def cdc(part: String) = t.spans.filter(s => s.parent == "cdc" && s.name == part).map(_.seconds).sum / per
    def opSeconds(steps: Seq[Step]) = steps.map(_.seconds).sum
    Seq(
      "catalyst.plan_s" -> Metric(named("plan"), "s"),
      "operators.construct_s" -> Metric(named("construct"), "s"),
      "operators.construct_jobs" -> Metric(
        listener.total(g => g.startsWith("r:") && g.endsWith(".construct")).jobs / per, "count"),
      "driver.result_bytes" -> Metric(all.resultBytes / per, "B"),
      "ColumnBridge.blocks_left" -> Metric(
        if (t.blocksLeft.isEmpty) 0.0 else t.blocksLeft.sum.toDouble / t.blocksLeft.size, "count")) ++
      Ops.families.map(f => s"operators.$f.s" -> Metric(family(f), "s")) ++ Seq(
      "exec.jobs" -> Metric(all.jobs / per, "count"),
      "exec.stages" -> Metric(all.stages / per, "count"),
      "exec.tasks" -> Metric(all.tasks / per, "count"),
      "exec.core_idle_s" -> Metric(execIdle, "s"),
      "exec.task_run_s" -> Metric(all.runMs / 1e3 / per, "s"),
      "exec.task_cpu_s" -> Metric(all.cpuNs / 1e9 / per, "s"),
      "exec.task_gc_s" -> Metric(all.gcMs / 1e3 / per, "s"),
      "exec.attempts_per_task" -> Metric(
        if (all.tasks == 0) 1.0 else all.attempts.toDouble / all.tasks, "ratio"),
      "jvm.gc_s" -> Metric(t.gc / per, "s"),
      "jvm.cpu_s" -> Metric(t.cpu / per, "s"),
      "shuffle.write_bytes" -> Metric(all.shuffleWrite / per, "B"),
      "shuffle.read_bytes" -> Metric(all.shuffleRead / per, "B"),
      "shuffle.spill_bytes" -> Metric(all.spill / per, "B"),
      "sources.input_bytes" -> Metric(all.input / per, "B"),
      "sources.output_bytes" -> Metric(all.output / per, "B"),
      "Etl.build_s" -> Metric(Seq("Extract", "Dims", "Facts", "Validation").map(family).sum, "s"),
      "Etl.extract_s" -> Metric(family("Extract"), "s"),
      "Etl.dim_s" -> Metric(family("Dims"), "s"),
      "Etl.fact_s" -> Metric(family("Facts"), "s"),
      "Etl.validate_s" -> Metric(family("Validation"), "s"),
      "Etl.landed_bytes_per_source_byte" -> Metric(
        if (warehouse) dirBytes(out).toDouble / dirBytes(new File(data)) else 0.0, "ratio"),
      "cdc.diff_s" -> Metric(cdc("construct"), "s"),
      "cdc.apply_s" -> Metric(cdc("plan"), "s"),
      "cdc.write_s" -> Metric(cdc("exec"), "s"),
      "trace.uncovered_s" -> Metric(uncovered / per, "s"),
      "trace.overhead_frac" -> Metric(opSeconds(t.steps) / opSeconds(untraced) - 1, "frac",
        f"calls: traced ${opSeconds(t.steps)}%.4f s vs the same pass untraced ${opSeconds(untraced)}%.4f s"))
  }

  private def writeTrace(spans: Seq[Span]): Unit = {
    val f = new File(args.work, s"trace-${args.workload}-${args.seed}.tsv")
    val body = ("id\tname\tparent\tstart_ns\tend_ns" +: spans.map(s =>
      s"${s.id}\t${s.name}\t${s.parent}\t${s.startNs}\t${s.endNs}")).mkString("", "\n", "\n")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    lines += s"trace written to $f"
  }

  private def finish(metrics: Seq[(String, Metric)]): Outcome = {
    args.record.foreach { f =>
      java.nio.file.Files.write(f.toPath, recorded.mkString("", "\n", "\n").getBytes("UTF-8"))
      lines += s"recorded ${recorded.size} expected values to $f"
    }
    Outcome(attempted, failed, metrics, lines.toSeq)
  }
}
