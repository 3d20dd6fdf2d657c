package perfbench

import java.io.{FileWriter, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.perfbench.Bus

import graft.{SparkEntry, Tables}
import graft.queries.PerfbenchBases

/** One benchmark run: a closed loop with one client over a workload's
  * queries, one query in flight at a time.
  *
  *   java perfbench.Main <sfDir> <cores> <records.jsonl> <seed> <rampPasses>
  *     <warmPasses> <deadlineS> <traced 0|1> <setups> <bases,...> <query,...>
  *
  * The workload is given as query names plus the shared bases its set-up
  * builds; `perfbench/run.py` resolves workload names and turns the raw
  * records this writes into metrics. Each query run is timed from outside,
  * around the public entry of each layer: construction (the query fn),
  * planning (`queryExecution.executedPlan`), the final action (`count()`,
  * as `graft.Bench` does) and the per-query checkpoint release.
  *
  * After the cold pass, `rampPasses` passes take the JIT past the steepest
  * part of its ramp; they are recorded but left out of the warm metrics,
  * which come from the `warmPasses` after them.
  *
  * A traced run attaches a [[Counters]] listener and drains the bus at every
  * phase boundary; its warm passes alternate traced and untraced so the run
  * itself measures the tracing overhead. Every timed `count()` is an output
  * check against the pinned row count; after the last pass, a check pass
  * outside every timer constructs each query once more and takes its digest.
  */
object Main {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution (aligned with the listener's event times). */
  private def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val Array(sfDir, coresArg, outPath, seedArg, rampArg, warmArg, deadlineArg, tracedArg,
      setupsArg, basesArg, queriesArg) = args
    val cores = coresArg.toInt
    val seed = seedArg.toLong
    val deadlineS = deadlineArg.toDouble
    val rampPasses = rampArg.toInt
    val traced = tracedArg == "1"
    val bases = basesArg.split(',').filter(_.nonEmpty).toSeq
    val names = queriesArg.split(',').filter(_.nonEmpty).toSeq
    val fns = SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val out = new PrintWriter(new FileWriter(outPath))
    def emit(fields: (String, Any)*): Unit =
      out.println(Json.obj(fields :+ ("at" -> (nowMs - baseMs) / 1e3)))

    // ---- trace: harness spans kept in memory, written at exit ----
    final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)
    val spans = ArrayBuffer.empty[Span]
    var stack = List(0)
    def span[T](name: String)(body: => T): T = {
      val id = spans.size + 1
      val parent = stack.head
      val t0 = nowMs
      stack = id :: stack
      spans += Span(id, parent, name, t0, t0) // placeholder keeps ids dense
      try body
      finally {
        stack = stack.tail
        spans(id - 1) = Span(id, parent, name, t0, nowMs)
      }
    }

    val counters = new Counters
    var listening = false
    var spark: SparkSession = null
    def listen(on: Boolean): Unit = if (on != listening) {
      Bus.drain(spark.sparkContext)
      if (on) spark.sparkContext.addSparkListener(counters)
      else spark.sparkContext.removeSparkListener(counters)
      listening = on
    }
    /** Phase window: drain the bus after `body` so every event it caused is
      * counted, and return the wall seconds plus the counter delta. */
    def phase[T](name: String)(body: => T): (T, Double, Snap) = span(name) {
      val before = if (listening) counters.snap() else Snap()
      val t0 = System.nanoTime()
      val v = body
      val s = (System.nanoTime() - t0) / 1e9
      if (listening) Bus.drain(spark.sparkContext)
      (v, s, if (listening) counters.snap() - before else Snap())
    }
    def storageMb(): Double =
      spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    // ---- set-up, repeated; the last session is the one measured ----
    val tRun = nowMs
    val setups = setupsArg.toInt
    for (i <- 0 until setups) span("setup") {
      if (spark != null) {
        listen(false)
        spark.stop()
      }
      val (_, startS, _) = phase("session") {
        spark = Session.create(cores)
      }
      listen(traced)
      val (_, warmS, warmSnap) = phase("warm")(Session.warmUp(spark, sfDir))
      val (_, cacheS, cacheSnap) = phase("cache")(PerfbenchBases.build(spark, sfDir, bases))
      emit("kind" -> "setup", "i" -> i, "start_s" -> startS, "warm_s" -> warmS,
        "cache_s" -> cacheS, "warm" -> warmSnap, "cache" -> cacheSnap,
        "storage_mb" -> storageMb())
    }

    // ---- timed closed loop: cold pass, then warm passes ----
    val sc = spark.sparkContext
    def persistentIds: Set[Int] = sc.getPersistentRDDs.keySet.toSet
    def runOne(pass: Int, name: String): Double = span(s"query $name") {
      val ids0 = persistentIds
      var err: String = null
      var rows = -1L
      val (df, constructS, constructSnap) = phase("construct") {
        try fns(name)(spark, sfDir) catch { case e: Throwable => err = msg(e); null }
      }
      val ckptRdds = (persistentIds -- ids0).size
      val (_, planS, planSnap) = phase("plan") {
        if (df != null) try df.queryExecution.executedPlan
        catch { case e: Throwable => err = msg(e) }
      }
      val (_, actionS, actionSnap) = phase("action") {
        if (df != null && err == null) try rows = df.count()
        catch { case e: Throwable => err = msg(e) }
      }
      val held = storageMb()
      val ids1 = persistentIds
      val (_, cleanupS, cleanupSnap) = phase("cleanup")(PerfbenchBases.release(spark))
      val ids2 = persistentIds
      val wall = constructS + planS + actionS
      emit("kind" -> "query", "pass" -> pass, "traced" -> listening, "q" -> name,
        "construct_s" -> constructS, "plan_s" -> planS, "action_s" -> actionS,
        "cleanup_s" -> cleanupS, "wall_s" -> wall, "rows" -> rows, "err" -> err,
        "construct" -> constructSnap, "plan" -> planSnap, "action" -> actionSnap,
        "cleanup" -> cleanupSnap, "ckpt_rdds" -> ckptRdds,
        "held_mb" -> held, "released" -> (ids1 -- ids2).size, "left" -> ids2.size, "span" -> stack.head)
      wall
    }
    def runPass(pass: Int): Double = span(s"pass $pass") {
      // traced runs trace the cold pass and the warm passes in ABBA order
      // (untraced, traced, traced, untraced, ...), so what is left of the
      // ramp does not bias the overhead ratio; ramp passes are untraced
      val warm = pass - rampPasses
      listen(traced && (pass == 0 || (warm > 0 && Set(1, 2)((warm - 1) % 4))))
      if (listening && pass > 0)
        for (t <- Session.tables) {
          val (_, s, snap) = phase("load")(Tables.load(spark, sfDir, t))
          emit("kind" -> "load", "pass" -> pass, "table" -> t, "s" -> s, "jobs" -> snap.jobs)
        }
      // The cold pass keeps the listed order: whichever query runs first pays
      // the session's remaining warm-up (1.4 s of q292's construction on
      // iterative), so a seeded cold order would make cold_s bimodal.
      val order =
        if (pass == 0) names else new scala.util.Random(seed * 1000003L + pass).shuffle(names)
      val wall = order.map(runOne(pass, _)).sum
      emit("kind" -> "pass", "pass" -> pass, "traced" -> listening, "wall_s" -> wall)
      // outside the pass timer: let the ContextCleaner reap dropped refs
      System.gc()
      wall
    }
    // A fixed number of passes, so every run measures at the same point of
    // the ramp (a time budget would give a slow run fewer, earlier passes).
    // A traced run rounds its warm passes up to a multiple of 4, so its
    // traced and untraced passes sit at the same mean point of what is left
    // of the ramp. Passes
    // stop early only if the next one (estimated by the last) would end
    // after the deadline, which keeps a run on a stalled host within its
    // limit.
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    runPass(0)
    val warmPasses = if (traced) (math.max(1, warmArg.toInt) + 3) / 4 * 4 else warmArg.toInt
    val lastPass = rampPasses + warmPasses
    var pass = 1
    var last = 0.0
    while (pass <= lastPass && (nowMs - baseMs) / 1e3 + last <= deadlineS) {
      last = runPass(pass)
      pass += 1
    }
    listen(traced)
    emit("kind" -> "storage", "mb" -> storageMb(), "persistent_rdds" -> persistentIds.size,
      "measured_s" -> elapsed, "ramp_passes" -> rampPasses,
      "warm_passes" -> math.max(0, pass - 1 - rampPasses))

    // output check, outside every timer: a fresh construction of each query,
    // its digest, then the same release as a timed run
    listen(false)
    for (name <- names.sorted) {
      var df: DataFrame = null
      val err = try { df = fns(name)(spark, sfDir); null } catch { case e: Throwable => msg(e) }
      emit(digestRecord(name, df, err): _*)
      PerfbenchBases.release(spark)
    }

    if (traced) {
      val runSpan = Span(0, -1, "run", tRun, nowMs)
      (runSpan +: spans.toSeq).foreach(s => emit("kind" -> "span", "id" -> s.id,
        "parent" -> s.parent, "name" -> s.name, "start" -> s.start, "end" -> s.end))
      val (jobs, stages) = counters.spans
      jobs.foreach(j => emit("kind" -> "job", "id" -> j.id, "start" -> j.start.toDouble,
        "end" -> j.end.toDouble, "stages" -> j.stageIds.mkString(",")))
      stages.foreach(s => emit("kind" -> "stage", "id" -> s.id, "attempt" -> s.attempt,
        "start" -> s.start.toDouble, "end" -> s.end.toDouble, "tasks" -> s.tasks))
    }
    emit("kind" -> "end", "cores" -> cores, "sf" -> new java.io.File(sfDir).getName)
    out.close()
    spark.stop()
  }

  private def digestRecord(name: String, df: DataFrame, err: String): Seq[(String, Any)] =
    try {
      if (df == null) throw new IllegalStateException(err)
      val (rows, digest) = Digest.of(df)
      Seq("kind" -> "digest", "q" -> name, "rows" -> rows, "digest" -> digest)
    } catch { case e: Throwable => Seq("kind" -> "digest", "q" -> name, "err" -> msg(e)) }

  private def msg(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).takeWhile(_ != '\n').take(200)}"
}

/** The session `graft.Bench` builds, and a one-scan warm-up. */
object Session {
  val tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def create(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** A real column read of the largest table (parquet `count()` is
    * metadata-only), so session set-up includes the first scan, decode and
    * codegen that the first query would otherwise pay. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    import org.apache.spark.sql.functions._
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(sum("l_extendedprice"), sum("l_quantity"), max("l_returnflag")).collect()
  }
}

/** Row count plus an order-insensitive digest of a result: the sum, mod
  * 2^64, of a 64-bit hash of each row's UnsafeRow bytes. It re-executes the
  * query's own physical plan (no re-planning); duplicate rows count, so it
  * is a multiset digest. */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, acc) = df.queryExecution.toRdd.mapPartitions { rows =>
      val proj = UnsafeProjection.create(schema)
      var n, acc = 0L
      rows.foreach { r =>
        val u = proj(r)
        def h(seed: Int) = Murmur3_x86_32.hashUnsafeBytes(
          u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, seed)
        acc += (h(42).toLong << 32) | (h(7) & 0xffffffffL)
        n += 1
      }
      Iterator((n, acc))
    }.fold((0L, 0L))((a, b) => (a._1 + b._1, a._2 + b._2))
    (n, f"$acc%016x")
  }
}

/** Minimal JSON for the record file (numbers, strings, booleans, snaps). */
object Json {
  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: Snap => obj(Seq("jobs" -> s.jobs, "stages" -> s.stages, "tasks" -> s.tasks,
      "failed_tasks" -> s.failedTasks, "task_s" -> s.taskNs / 1e9,
      "shuffle_read" -> s.shuffleRead, "shuffle_write" -> s.shuffleWrite,
      "spill" -> s.spill, "peak_jobs" -> s.peakJobs))
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
