package graft.perfbench

import java.io.{BufferedWriter, FileWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.graft.ListenerBridge
import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the run record. `Obj` keeps field order. */
final case class Obj(fields: (String, Any)*)

object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case o: Obj => o.fields.map { case (k, x) => Canon.quote(k) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: String => Canon.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Canon.quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => Canon.quote(other.toString)
  }
}

/** The benchmark's JVM half. It sets up (session start, staging, one
  * untimed warm-up pass that also captures every operation's output for
  * the check), lets the JIT settle with further untimed passes, then runs
  * whole passes of the
  * workload, one operation at a time, until `--seconds` have passed, and
  * writes the run record (`result.json`) and the captured outputs
  * (`outputs.jsonl`) into `--run-dir`. With `--trace 1` traced and
  * untraced passes alternate, so the tracing overhead is measured in the
  * same run. perfbench/run.py turns the record into metrics.
  *
  * Every operation is timed as build (the call into graft that returns
  * the DataFrame, including any job it starts), plan
  * (`queryExecution.executedPlan`) and execute (`queryExecution.toRdd.count()`;
  * `count()` would let Catalyst prune the plan). A thrown operation is
  * recorded as a failure and yields no timing. */
object PerfBench {
  /** untimed passes after the warm-up pass, before the timed passes */
  val SettlePasses = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        runDir: String, fixture: String, inputs: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("run-dir"), need("fixture"), need("inputs"))
  }

  def session(warehouse: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.ui.enabled", "false")
      // Spark keeps job, stage, task and query history for its UI even with
      // the UI off; bounded small, that history is full before the timed
      // passes, so the live heap does not grow with the number of passes
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.streaming.ui.retainedQueries", "5")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** old-generation occupancy after the last collection, in bytes */
  def oldGenAfterGc(): Long = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  def treeSize(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val walk = Files.walk(p)
      try {
        var files, bytes = 0L
        walk.forEach { f =>
          val name = f.getFileName.toString
          if (Files.isRegularFile(f) && !name.startsWith(".") && !name.startsWith("_")) {
            files += 1; bytes += Files.size(f)
          }
        }
        (files, bytes)
      } finally walk.close()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = graft.Bench.loadavg()
    val run = new Run(a)
    run.setUp()
    // set-up counts from process start: JVM start-up is part of it
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    run.settle()
    run.measure()
    val loadEnd = graft.Bench.loadavg()
    run.write(Obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1L << 20),
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq
        .filter(_.toString.startsWith("-Xm")),
      "loadavg_start" -> loadStart, "loadavg_end" -> loadEnd,
      "setup_s" -> setupS))
    run.close()
  }

  /** one benchmark run: the current session, workload, listener and records */
  final class Run(a: Args) {
    var spark: SparkSession = _
    var workload: Workload = _
    var listener: SpanListener = _
    val tracer = new Tracer(a.trace)
    val passes = mutable.ArrayBuffer.empty[Obj]
    val ops = mutable.ArrayBuffer.empty[Obj]
    private var nextOp = 1L
    private var passNo = 0
    private var capture: Option[BufferedWriter] = None

    def setUp(): Unit = {
      val root = s"${a.runDir}/work"
      spark = session(s"$root/warehouse")
      listener = new SpanListener
      spark.sparkContext.addSparkListener(listener)
      workload = Workloads(a.workload, spark, a.fixture, a.inputs, root, a.seed)
      workload.stage()
      val w = new BufferedWriter(new FileWriter(s"${a.runDir}/outputs.jsonl"))
      capture = Some(w)
      try pass(timed = false, traced = false)
      finally w.close()
      capture = None
    }

    /** [[SettlePasses]] untimed passes after the warm-up pass. The JIT is
      * still compiling graft's and Spark's hot paths for several passes
      * after the first, and timed passes taken on that slope vary from run
      * to run with how far it has got. */
    def settle(): Unit = (1 to SettlePasses).foreach(_ => pass(timed = false, traced = false))

    def measure(): Unit = {
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      var i = 0
      // with tracing, untraced and traced passes alternate, at least one each
      while (i == 0 || System.nanoTime() < deadline || (a.trace && i < 2)) {
        pass(timed = true, traced = a.trace && i % 2 == 1)
        i += 1
      }
    }

    private def drain(): Unit = ListenerBridge.waitUntilEmpty(spark.sparkContext)

    private def pass(timed: Boolean, traced: Boolean): Unit = {
      val p = passNo
      passNo += 1
      workload.beforePass()
      val list = workload.ops(p)
      drain()
      val files0 = listener.filesWritten
      val t = if (traced) tracer else new Tracer(false)
      var ok = true
      var upsertBytes, upsertWritten = 0L
      val t0 = System.nanoTime()
      t.span(spark.sparkContext, "pass", "bench", 0L) {
        list.foreach { op =>
          val before = if (op.upsertBytes > 0) { drain(); listener.bytesWritten } else 0L
          ok &= runOp(op, p, t, timed)
          if (op.upsertBytes > 0) {
            drain()
            upsertBytes += op.upsertBytes
            upsertWritten += listener.bytesWritten - before
          }
        }
      }
      val wallNs = System.nanoTime() - t0
      drain()
      // the second collection frees what Spark's ContextCleaner released
      // after the first one (broadcast and shuffle blocks of dropped plans)
      System.gc()
      Thread.sleep(200)
      System.gc()
      val live = workload.liveRoots.map(treeSize)
      val door = workload.takeDoorProgress().map { pr =>
        val d = pr.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
        Obj("rows" -> pr.numInputRows, "trigger_ms" -> ms("triggerExecution"),
          "add_batch_ms" -> ms("addBatch"), "query_planning_ms" -> ms("queryPlanning"),
          "wal_commit_ms" -> ms("walCommit"), "latest_offset_ms" -> ms("latestOffset"))
      }
      if (timed) passes += Obj(
        "pass" -> p, "traced" -> traced, "ok" -> ok, "wall_ns" -> wallNs,
        "span" -> (if (traced) tracer.spans.last.id else 0L),
        "old_gen_bytes" -> oldGenAfterGc(),
        "live_files" -> live.map(_._1).sum, "live_bytes" -> live.map(_._2).sum,
        "files_written" -> (listener.filesWritten - files0),
        "upsert_bytes" -> upsertBytes, "upsert_written_bytes" -> upsertWritten,
        "door" -> door)
    }

    /** runs one operation; false if it threw */
    private def runOp(op: Op, p: Int, t: Tracer, timed: Boolean): Boolean = {
      val id = nextOp
      nextOp += 1
      val sc = spark.sparkContext
      var build, plan, exec = 0L
      var phases = Map.empty[String, Long]
      var counts: Option[PlanCounts] = None
      val result: Either[Throwable, Unit] = try {
        t.span(sc, op.name, "op", id) {
          val t0 = System.nanoTime()
          val df = t.span(sc, "build", op.layer, id)(op.run())
          val t1 = System.nanoTime()
          build = t1 - t0
          df.foreach { d =>
            t.span(sc, "plan", "catalyst", id)(d.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            plan = t2 - t1
            val rows = t.span(sc, "execute", "execution", id) {
              if (capture.isDefined) Some(d.collect()) else { d.queryExecution.toRdd.count(); None }
            }
            exec = System.nanoTime() - t2
            if (t.enabled) {
              phases = d.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
              counts = Some(PlanCounts.of(d.queryExecution.executedPlan))
            }
            capture.foreach(w => record(w, op, rows.map(_.toSeq)))
          }
          if (df.isEmpty) capture.foreach(w => record(w, op, op.output.map(_().collect().toSeq)))
        }
        Right(())
      } catch {
        case NonFatal(e) =>
          capture.foreach(w => writeLine(w, Obj("op" -> op.name, "error" -> describe(e))))
          Left(e)
      }
      if (timed) ops += Obj(
        "pass" -> p, "op" -> op.name, "op_id" -> id, "layer" -> op.layer,
        "ok" -> result.isRight, "error" -> result.left.toOption.map(describe),
        "build_ns" -> build, "plan_ns" -> plan, "exec_ns" -> exec,
        "optimize_ms" -> phases.get("optimization"), "planning_ms" -> phases.get("planning"),
        "plan" -> counts.map(c => Obj("nodes" -> c.nodes, "exchanges" -> c.exchanges,
          "reused_exchanges" -> c.reusedExchanges, "topk_nodes" -> c.topk)))
      result.isRight
    }

    private def describe(e: Throwable): String =
      s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

    private def rowsJson(rows: Seq[org.apache.spark.sql.Row]): String =
      rows.map(Canon.row).mkString("[", ",", "]")

    /** one captured output with its reference, as one line of outputs.jsonl */
    private def record(w: BufferedWriter, op: Op, rows: Option[Seq[org.apache.spark.sql.Row]]): Unit = {
      val ref: Obj = op.ref match {
        case Ref.Oracle(q, dir) => Obj("oracle" -> q, "sql" -> graft.SparkEntry.oracleSql(q), "dir" -> dir)
        case Ref.Fold(i) => Obj("fold" -> i)
        case Ref.Through(names) => Obj("through" -> names)
        case Ref.Frame(_) => Obj("frame" -> true)
      }
      val refRows = op.ref match {
        case Ref.Frame(f) => Some(rowsJson(f().collect().toSeq))
        case _ => None
      }
      w.write("{\"op\":" + Canon.quote(op.name) + ",\"ref\":" + Json(ref) +
        rows.fold("")(r => ",\"rows\":" + rowsJson(r)) +
        refRows.fold("")(r => ",\"ref_rows\":" + r) + "}\n")
    }

    private def writeLine(w: BufferedWriter, o: Obj): Unit = w.write(Json(o) + "\n")

    def write(stamps: Obj): Unit = {
      drain()
      val counters = listener.snapshot().map { case (k, c) => k.toString -> Obj(c.fields: _*) }
      val spans = tracer.spans.map(s => Obj("id" -> s.id, "parent" -> s.parent, "op_id" -> s.opId,
        "name" -> s.name, "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
      val out = Obj((stamps.fields ++ Seq(
        "passes" -> passes, "ops" -> ops, "spans" -> spans, "counters" -> counters)): _*)
      Files.writeString(Paths.get(a.runDir, "result.json"), Json(out))
    }

    def close(): Unit = if (spark != null) spark.stop()
  }
}
