package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest

import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.{Success, Try}

import org.apache.spark.perfbench.{JobRec, PlanRec, Telemetry}
import org.apache.spark.sql.{Row, SparkSession}

/** Runs one workload in a closed loop with one client and writes what it
  * measured as JSON.  Usage (all flags required):
  *
  *   Harness --workload W --inputs DIR --work DIR --seed N --seconds S
  *           --trace 0|1 --cpus N --setup-reps N --out FILE
  *
  * Pass 0 is the cold pass; warm passes follow until `seconds` have
  * passed.  With --trace 1 warm passes alternate untraced and traced, so
  * the tracing overhead is measured in the same run; traced passes drain
  * the listener bus after every op and attribute jobs, plans and codegen
  * to the op whose window ran them, split at the end of its call.
  */
object Harness {
  private final case class OpRun(op: Op, pass: Int, traced: Boolean, callMs: Double,
      actionMs: Double, out: Out, err: Option[Throwable], readBack: Option[Try[String]])

  private final case class Span(id: Int, parent: Int, op: String, pass: Int,
      layer: String, name: String, startMs: Long, endMs: Long)

  private val Layers = Seq("queries", "operators", "plans", "sources", "exec")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = Workloads.all(a("workload"))
    val (work, cpus) = (a("work"), a("cpus").toInt)
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionStartS =
      (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tel = new Telemetry(spark.sparkContext)
    spark.sparkContext.addSparkListener(tel)
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(tel)

    val c = new Ctx(spark, a("inputs"), work, a("seed").toLong)
    val setupS = (0 until a("setup-reps").toInt).map { i =>
      val dir = s"$work/state/setup$i"
      val t0 = System.nanoTime()
      workload.setup(c, dir)
      c.state = dir
      (System.nanoTime() - t0) / 1e9
    }
    val inputRows = workload.inputRows(c)
    settle(tel)

    val runs = mutable.ArrayBuffer[OpRun]()
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val layerRows = mutable.ArrayBuffer[Map[String, Double]]()
    val spans = mutable.ArrayBuffer[Span]()
    val failures = mutable.ArrayBuffer[Map[String, Any]]()
    val firstDigest = mutable.Map[String, String]()
    val expectedDigest = mutable.Map[String, String]()
    val dumps = mutable.LinkedHashMap[String, (Map[String, String], Out)]()

    def fail(op: String, pass: Int, kind: String, cls: String, msg: String): Unit =
      failures += Map("op" -> op, "pass" -> pass, "kind" -> kind, "class" -> cls,
        "message" -> Option(msg).getOrElse("").take(400))

    /** Untimed checks of one pass's ops, after the pass. */
    def check(pass: Int, done: Seq[OpRun]): Unit = {
      val digests = mutable.Map[String, String]()
      def verify(r: OpRun, chk: Check, d: String): Unit = chk match {
        case ReadBack(_, expected) => compare(r, expectedDigest.getOrElseUpdate(r.op.name, digest(expected())), d, "read-back")
        case Reference(expected) => compare(r, expectedDigest.getOrElseUpdate(r.op.name, digest(expected())), d, "parquet reader")
        case SameAs(other, also) =>
          compare(r, digests.getOrElse(other, "missing"), d, other); verify(r, also, d)
        case Oracle(sql) => dump(r, Map("check" -> "oracle", "sql" -> sql))
        case Recall(corpus) => dump(r, Map("check" -> "recall", "corpus" -> corpus))
      }
      // the cold pass's rows go to the out-of-JVM checks; later passes must match them
      def dump(r: OpRun, meta: Map[String, String]): Unit =
        if (!dumps.contains(r.op.name)) dumps(r.op.name) = (meta, r.out)
      def compare(r: OpRun, want: String, got: String, against: String): Unit =
        if (want != got) fail(r.op.name, pass, "mismatch", "OutputMismatch", s"output differs from $against")
      done.foreach { r =>
        r.err match {
          case Some(e) => fail(r.op.name, pass, "exception", e.getClass.getName, e.getMessage)
          case None =>
            try {
              val d = r.readBack.getOrElse(Success(digest(r.out.rows))).get
              digests(r.op.name) = d
              val first = firstDigest.getOrElseUpdate(r.op.name, d)
              if (first != d) fail(r.op.name, pass, "mismatch", "OutputMismatch", "output differs from the cold pass")
              verify(r, r.op.check, d)
            } catch {
              case e: Throwable => fail(r.op.name, pass, "exception", e.getClass.getName, s"check failed: ${e.getMessage}")
            }
        }
      }
    }

    var warmStart = 0L
    var pass = 0
    // the cold pass, then warm passes until `seconds` have passed: at least
    // one, or with tracing untraced-traced-untraced, so the overhead
    // estimate is not skewed by passes still getting faster
    val minPasses = if (trace) 4 else 2
    while (pass < minPasses || (System.nanoTime() - warmStart) / 1e9 < a("seconds").toDouble) {
      val traced = trace && pass > 0 && pass % 2 == 0
      val ops = workload.ops(c, pass)
      settle(tel)
      val (cg0, _) = Telemetry.codegen()
      val passJobs = mutable.ArrayBuffer[JobRec]()
      val passPlans = mutable.ArrayBuffer[PlanRec]()
      var uncountedNs = 0L
      val passStart = System.nanoTime()
      val done = ops.map { op =>
        val (w0, n0) = (System.currentTimeMillis(), System.nanoTime())
        val cgBefore = Telemetry.codegen()
        var callMs, actionMs = 0.0
        var out = Out.empty
        val err = try {
          val res = op.call()
          callMs = (System.nanoTime() - n0) / 1e6
          val n1 = System.nanoTime()
          out = op.action(res)
          actionMs = (System.nanoTime() - n1) / 1e6
          None
        } catch { case e: Throwable => Some(e) }
        val b0 = System.nanoTime()
        // a write is read back before the next op changes what it wrote
        val readBack = op.check match {
          case ReadBack(read, _) if err.isEmpty => Some(read)
          case _ => None
        }
        val run = OpRun(op, pass, traced, callMs, actionMs, out, err, None)
        if (traced || readBack.isDefined) {
          tel.drain()
          val (jobs, plans) = tel.take()
          passJobs ++= jobs
          passPlans ++= plans
          if (traced) {
            val cg = Telemetry.codegen()
            val w1 = w0 + math.round(callMs)
            val w2 = w0 + math.round(callMs + actionMs)
            layerRows += opLayers(run, jobs, plans, cg._1 - cgBefore._1, cg._2 - cgBefore._2, w1, w2, cpus) +
              ("pass" -> pass.toDouble)
            spans ++= opSpans(spans.size, run, jobs, plans, w0, w1, w2)
          }
        }
        val b1 = System.nanoTime()
        val checked = readBack.map(read => Try(digest(read())))
        if (readBack.isDefined) settle(tel)
        // a traced pass keeps its bookkeeping (b0..b1) in its wall time: that is the tracing overhead
        uncountedNs += System.nanoTime() - (if (traced) b1 else b0)
        run.copy(readBack = checked)
      }
      val wallS = (System.nanoTime() - passStart - uncountedNs) / 1e9
      tel.drain()
      val (jobs, plans) = tel.take()
      passJobs ++= jobs
      passPlans ++= plans
      passes += Map("pass" -> pass, "traced" -> traced, "wall_s" -> wallS,
        "jobs" -> passJobs.size, "stages" -> passJobs.map(_.stages).sum,
        "exchanges" -> passPlans.map(_.exchanges).sum,
        "shuffle_write_bytes" -> passJobs.map(_.shuffleWrite).sum,
        "read_rows" -> passJobs.map(_.readRecs).sum,
        "codegen_compiles" -> (Telemetry.codegen()._1 - cg0))
      check(pass, done)
      // keep timings only: rows retained here would count in heap_live_mb
      runs ++= done.map(_.copy(out = Out.empty))
      settle(tel)
      if (pass == 0) warmStart = System.nanoTime()
      pass += 1
    }

    // live heap after a full GC, before any result is dumped
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    val heapLiveMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6

    implicit val ec: ExecutionContext = ExecutionContext.global
    val dumpMeta = Await.result(Future.sequence(dumps.toSeq.map { case (name, (meta, out)) =>
      Future {
        val dir = s"$work/out/$name"
        spark.createDataFrame(out.rows.toSeq.asJava, out.schema).coalesce(1)
          .write.mode("overwrite").parquet(dir)
        name -> (meta + ("path" -> dir))
      }
    }), Duration.Inf).toMap

    val spansFile = s"$work/spans.jsonl"
    val pw = new PrintWriter(new File(spansFile), "UTF-8")
    try spans.foreach { s =>
      pw.println(Json(Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op, "pass" -> s.pass,
        "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally pw.close()

    val result = Map(
      "workload" -> a("workload"), "cpus" -> cpus, "session_start_s" -> sessionStartS,
      "setup_s" -> setupS, "input_rows" -> inputRows, "heap_live_mb" -> heapLiveMb,
      "recall_k" -> AnnLifecycle.K,
      "passes" -> passes.toSeq,
      "ops" -> runs.toSeq.map(r => Map("name" -> r.op.name, "pass" -> r.pass, "traced" -> r.traced,
        "writes" -> r.op.writes, "ms" -> (r.callMs + r.actionMs))),
      "layers" -> layerRows.toSeq, "failures" -> failures.toSeq, "dumps" -> dumpMeta,
      "digests" -> firstDigest.toMap,
      "spans_file" -> spansFile)
    val out = new PrintWriter(new File(a("out")), "UTF-8")
    try out.print(Json(result)) finally out.close()
    spark.stop()
  }

  /** Drain the bus and drop whatever ran outside a measured window. */
  private def settle(tel: Telemetry): Unit = { tel.drain(); tel.take() }

  private def digest(rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach(s => md.update(s.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def union(iv: Seq[(Long, Long)]): Long =
    iv.filter(i => i._2 > i._1).sortBy(_._1).foldLeft((0L, Long.MinValue)) {
      case ((acc, end), (s, e)) =>
        if (s >= end) (acc + e - s, e) else if (e > end) (acc + e - end, e) else (acc, end)
    }._1

  /** Per-op layer metrics; self times split the op's wall clock: time
    * covered by a job is exec, else by a planning phase is plans, else
    * it belongs to the op's own layer. */
  private def opLayers(r: OpRun, jobs: Seq[JobRec], plans: Seq[PlanRec], compiles: Long,
      compileMs: Double, w1: Long, w2: Long, cpus: Int): Map[String, Double] = {
    val w0 = w1 - math.round(r.callMs)
    val eager = jobs.filter(_.startMs < w1)
    val writing = jobs.filter(_.writeRecs > 0)
    def phase(n: String) = plans.map(_.phases.filter(_._1 == n).map(p => p._3 - p._2).sum).sum.toDouble
    val jobIv = jobs.map(j => (math.max(j.startMs, w0), math.min(j.endMs, w2)))
    val planIv = plans.flatMap(_.phases.map(p => (math.max(p._2, w0), math.min(p._3, w2))))
    val execSelf = union(jobIv)
    val plansSelf = union(jobIv ++ planIv) - execSelf
    val wall = r.callMs + r.actionMs
    val ownSelf = math.max(0.0, wall - execSelf - plansSelf)
    val taskMs = jobs.map(_.taskMs).sum.toDouble
    val readRows = jobs.map(_.readRecs).sum.toDouble
    Layers.map(l => s"$l.self_ms" -> (if (l == r.op.layer) ownSelf else 0.0)).toMap ++ Map(
      "plans.self_ms" -> plansSelf.toDouble, "exec.self_ms" -> execSelf.toDouble,
      "op.wall_ms" -> wall, "op.result_rows" -> r.out.rows.length.toDouble,
      "queries.call_ms" -> r.callMs, "queries.action_ms" -> r.actionMs,
      "operators.eager_jobs" -> eager.size.toDouble,
      "operators.eager_ms" -> union(eager.map(j => (j.startMs, j.endMs))).toDouble,
      "plans.analysis_ms" -> phase("analysis"), "plans.optimization_ms" -> phase("optimization"),
      "plans.planning_ms" -> phase("planning"), "plans.codegen_ms" -> compileMs,
      "plans.codegen_compiles" -> compiles.toDouble,
      "plans.exchanges" -> plans.map(_.exchanges).sum.toDouble,
      "plans.broadcasts" -> plans.map(_.broadcasts).sum.toDouble,
      "plans.smj" -> plans.map(_.smj).sum.toDouble,
      "sources.read_rows" -> readRows, "sources.read_mb" -> jobs.map(_.readBytes).sum / 1e6,
      "sources.write_rows" -> jobs.map(_.writeRecs).sum.toDouble,
      "sources.write_mb" -> jobs.map(_.writeBytes).sum / 1e6,
      "sources.write_ms" -> union(writing.map(j => (j.startMs, j.endMs))).toDouble,
      "exec.jobs" -> jobs.size.toDouble, "exec.stages" -> jobs.map(_.stages).sum.toDouble,
      "exec.tasks" -> jobs.map(_.tasks).sum.toDouble, "exec.task_ms" -> taskMs,
      "exec.cpu_ms" -> jobs.map(_.cpuNs).sum / 1e6, "exec.gc_ms" -> jobs.map(_.gcMs).sum.toDouble,
      "exec.sched_wait_ms" -> jobs.map(_.schedWaitMs).sum.toDouble,
      "exec.busy_ratio" -> (if (wall > 0) taskMs / (wall * cpus) else 0.0),
      "exec.shuffle_write_mb" -> jobs.map(_.shuffleWrite).sum / 1e6,
      "exec.shuffle_read_mb" -> jobs.map(_.shuffleRead).sum / 1e6,
      "exec.fetch_wait_ms" -> jobs.map(_.fetchWaitMs).sum.toDouble,
      "exec.spill_mb" -> jobs.map(_.spill).sum / 1e6,
      "exec.peak_mem_mb" -> (if (jobs.isEmpty) 0.0 else jobs.map(_.peakMem).max / 1e6),
      "exec.task_failures" -> jobs.map(_.failures).sum.toDouble)
  }

  /** Spans of one traced op: the op, its call and action, and under
    * them the jobs and planning phases that started in each window. */
  private def opSpans(base: Int, r: OpRun, jobs: Seq[JobRec], plans: Seq[PlanRec],
      w0: Long, w1: Long, w2: Long): Seq[Span] = {
    val name = r.op.name
    val root = Span(base, -1, name, r.pass, r.op.layer, "op", w0, w2)
    val call = Span(base + 1, base, name, r.pass, r.op.layer, "call", w0, w1)
    val act = Span(base + 2, base, name, r.pass, r.op.layer, "action", w1, w2)
    def parent(start: Long) = if (start < w1) call.id else act.id
    val children = jobs.map(j => ("exec", s"job ${j.id}", j.startMs, j.endMs)) ++
      plans.flatMap(_.phases.map(p => ("plans", p._1, p._2, p._3)))
    Seq(root, call, act) ++ children.zipWithIndex.map { case ((layer, n, s, e), i) =>
      Span(base + 3 + i, parent(s), name, r.pass, layer, n, s, e)
    }
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"; case '\t' => "\\t"
        case ch if ch < ' ' => "\\u%04x".format(ch.toInt); case ch => ch.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
