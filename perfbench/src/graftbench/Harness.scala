package graftbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}

import graft.sources.Warehouse

/** Spark counters of one SparkContext, fed by the listener bus.
  *
  * Cumulative counters serve windows: a window is two [[snap]]s around
  * the work, and each snap drains the bus first, so a window's tail tasks
  * are not billed to the next one.
  *
  * Labelled counters serve spans: work run while the driver thread's
  * local property [[Meter.Label]] is set is billed to that label — a job
  * by its properties, a stage and its tasks by the job that first ran
  * them. A span therefore needs no drain at its ends; its counters are
  * read with [[take]] after a later snap. */
final class Meter extends SparkListener {
  private val total = new Tally
  private val byLabel = scala.collection.mutable.Map.empty[String, Tally]
  private val labelOfStage = scala.collection.mutable.Map.empty[Int, String]

  private def tallies(stage: Int): Seq[Tally] =
    total +: labelOfStage.get(stage).map(byLabel).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    Option(e.properties).flatMap(p => Option(p.getProperty(Meter.Label))).foreach { l =>
      byLabel.getOrElseUpdate(l, new Tally).jobs += 1
      e.stageIds.foreach(id => if (!labelOfStage.contains(id)) labelOfStage(id) = l)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    tallies(e.stageInfo.stageId).foreach(_.stages += 1)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tallies(e.stageId).foreach(_.add(e.taskMetrics))
  }

  /** Cumulative counters as of now. `maxTaskCpuNs` is the largest single
    * task since the previous snap (it resets), not a cumulative figure. */
  def snap(sc: org.apache.spark.SparkContext): Counters = {
    org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(sc)
    synchronized {
      val c = total.counters
      total.maxTaskCpuNs = 0
      c
    }
  }

  /** Everything billed to `label` (zeros if nothing was), forgotten once
    * read. Call after a snap that follows the labelled work. */
  def take(label: String): Counters = synchronized {
    byLabel.remove(label).getOrElse(new Tally).counters
  }
}

object Meter {
  /** The local property that names the span a job belongs to. */
  val Label = "graftbench.span"
}

final class Tally {
  var jobs, stages, tasks, cpuNs, runMs, shuffleBytes, scanBytes, spillBytes = 0L
  var maxTaskCpuNs = 0L
  def add(m: org.apache.spark.executor.TaskMetrics): Unit = {
    tasks += 1
    if (m != null) {
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      scanBytes += m.inputMetrics.bytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      maxTaskCpuNs = math.max(maxTaskCpuNs, m.executorCpuTime)
    }
  }
  def counters: Counters = Counters(jobs, stages, tasks, cpuNs, runMs, shuffleBytes,
    scanBytes, spillBytes, maxTaskCpuNs)
}

final case class Counters(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
                          runMs: Long, shuffleBytes: Long, scanBytes: Long,
                          spillBytes: Long, maxTaskCpuNs: Long) {
  /** The window from `before` to this snap. */
  def since(before: Counters): Counters = Counters(jobs - before.jobs,
    stages - before.stages, tasks - before.tasks, cpuNs - before.cpuNs,
    runMs - before.runMs, shuffleBytes - before.shuffleBytes,
    scanBytes - before.scanBytes, spillBytes - before.spillBytes, maxTaskCpuNs)
  def json: String =
    s""""jobs":$jobs,"stages":$stages,"tasks":$tasks,"cpu_s":${cpuNs / 1e9},""" +
    s""""run_s":${runMs / 1e3},"shuffle_bytes":$shuffleBytes,"scan_bytes":$scanBytes,""" +
    s""""spill_bytes":$spillBytes,"max_task_cpu_s":${maxTaskCpuNs / 1e9}"""
}

/** Closed-loop benchmark harness over graft's public entry points: one
  * client issues one key, or resolves one store family, at a time on
  * local[N]. It writes one JSON object per line to `--out`, and
  * perfbench/run.py turns those rows into the reported metrics:
  *
  *  - `op`: one key (construct / plan / execute split) or one store
  *    family resolution (with the warehouse lanes it took);
  *  - `window`: a pass over the keys, the cold builds, the append or the
  *    re-resolution, with its Spark counters;
  *  - `gauge`: one measured value (set-up time, live heap after set-up,
  *    memo sizes, store bytes);
  *  - `span`: traced runs only — the counters of every phase of every
  *    op, kept in memory and written when the run ends.
  *
  * Arguments (all `--name value`): seed, seconds, trace, data (corpus
  * dir), work (scratch dir, fresh per run), out, keys and families
  * (files with one name per line), cores, and coldcheck (1 to serve the
  * keys once more over an empty warehouse at the end). */
object Harness {
  private var out: PrintWriter = _
  private val t0Ns = System.nanoTime()
  private def now(): Double = (System.nanoTime() - t0Ns) / 1e9
  private def emit(s: String): Unit = out.println(s)
  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  private def gauge(name: String, v: Double): Unit =
    emit(s"""{"kind":"gauge","name":${q(name)},"value":$v}""")
  private def error(e: Throwable): String =
    s""""ok":false,"error":${q(String.valueOf(e.getMessage).take(300))}"""

  private var tracing = false
  private val spans = ArrayBuffer.empty[String]
  /** Seconds the driver thread spends inside the tracer during passes. */
  private var traceSelf = 0.0

  private def span(name: String, id: String, start: Double, end: Double,
                   c: Counters): Unit =
    if (tracing && c != null) spans += s"""{"kind":"span","name":${q(name)},""" +
      s""""id":${q(id)},"start":$start,"end":$end,${c.json}}"""

  def session(cores: Int, work: String, warehouse: String): (SparkSession, Meter) = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.local.dir", s"$work/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val m = new Meter
    s.sparkContext.addSparkListener(m)
    (s, m)
  }

  private def lines(path: Option[String]): Vector[String] = path.toVector.flatMap { p =>
    val src = scala.io.Source.fromFile(p, "UTF-8")
    try src.getLines().map(_.trim).filter(_.nonEmpty).toVector finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seed = opt("seed").toLong
    tracing = opt("trace") == "1"
    out = new PrintWriter(opt("out"), "UTF-8")
    val keys = lines(opt.get("keys"))
    val missing = keys.filterNot(graft.SparkEntry.queries.contains)
    val builders = graft.Bench.artifactBuilders.toMap
    val families = lines(opt.get("families"))
    val unknown = families.filterNot(builders.contains)
    val code = try {
      require(missing.isEmpty, s"keys not in SparkEntry.queries: ${missing.mkString(",")}")
      require(unknown.isEmpty, s"families not in Bench.artifactBuilders: ${unknown.mkString(",")}")
      val run = new Run(seed, opt("seconds").toDouble, opt.getOrElse("cores", "4").toInt,
        new File(opt("data")).getCanonicalPath, new File(opt("work")).getCanonicalPath,
        keys, families.map(f => f -> builders(f)))
      run.serve(coldcheck = opt.get("coldcheck").contains("1"))
      spans.foreach(emit)
      0
    } catch { case e: Throwable =>
      e.printStackTrace()
      1
    } finally out.close()
    sys.exit(code)
  }

  /** Order-insensitive digest of collected rows: the sum (mod 2^64) of
    * the first 64 bits of each row's md5. */
  private def digest(rows: Array[Row]): Long = {
    val md5 = java.security.MessageDigest.getInstance("MD5")
    rows.iterator.map { r =>
      java.nio.ByteBuffer.wrap(md5.digest(r.toString.getBytes("UTF-8"))).getLong
    }.sum
  }

  private final class Run(seed: Long, seconds: Double, cores: Int, data: String,
                          work: String, keys: Vector[String],
                          families: Vector[(String, (SparkSession, String) => Unit)]) {

    /** Key phases whose counters are read at the end of their pass. */
    private val unread = ArrayBuffer.empty[(String, String, Double, Double)]

    /** One key: construct the DataFrame, plan it, collect it. A checking
      * pass also digests the collected rows, after the timed phases. */
    def runKey(spark: SparkSession, dir: String, key: String, phase: String,
               pass: Int, check: Boolean): Unit = {
      val sc = spark.sparkContext
      val id = s"$phase.$pass.$key"
      val names = Vector("construct", "plan", "exec")
      val start, stop = new Array[Double](3)
      var i = 0
      // Traced runs label each phase's Spark work (see Meter); the label is
      // set outside the phase clocks.
      def begin(): Unit = {
        if (tracing) {
          val t = now()
          sc.setLocalProperty(Meter.Label, s"$id.${names(i)}")
          traceSelf += now() - t
        }
        start(i) = now()
      }
      def endPhase(): Unit = {
        stop(i) = now()
        i += 1
        if (i < 3) begin()
      }
      begin()
      val res = try {
        val df = graft.SparkEntry.queries(key)(spark, dir)
        endPhase()
        df.queryExecution.executedPlan
        endPhase()
        val rows = df.collect()
        endPhase()
        val hash = if (check) s""","hash":"${digest(rows)}"""" else ""
        s""""ok":true,"rows":${rows.length}$hash"""
      } catch { case e: Throwable =>
        stop(i) = now()
        (i + 1 until 3).foreach { j => start(j) = stop(i); stop(j) = stop(i) }
        error(e)
      }
      if (tracing) {
        sc.setLocalProperty(Meter.Label, null)
        names.indices.foreach(j => unread += ((names(j), id, start(j), stop(j))))
      }
      val secs = names.indices.map(j => stop(j) - start(j))
      // Store tables this key resolved itself (none once set-up resolved them).
      val stores = Warehouse.drainHits(spark).map { case (t, hit) =>
        s"${q(t.takeWhile(_ != '@'))}:${if (hit) "\"hit\"" else "\"built\""}" }
      emit(s"""{"kind":"op","phase":"$phase","pass":$pass,"key":${q(key)},""" +
        s""""construct_s":${secs(0)},"plan_s":${secs(1)},"exec_s":${secs(2)},""" +
        s""""wall_s":${secs.sum},"stores":{${stores.mkString(",")}},$res}""")
    }

    /** Every key once, in an order drawn from the seed and the pass. */
    def pass(spark: SparkSession, meter: Meter, dir: String, phase: String, p: Int,
             check: Boolean): Unit = {
      val order = new Random(seed * 1000003L + p).shuffle(keys)
      val sc = spark.sparkContext
      val w0 = meter.snap(sc)
      val a = now()
      val self0 = traceSelf
      order.foreach(runKey(spark, dir, _, phase, p, check))
      val b = now()
      val w = meter.snap(sc).since(w0)
      emit(s"""{"kind":"window","name":"$phase","pass":$p,"wall_s":${b - a},""" +
        s""""trace_self_s":${traceSelf - self0},${w.json}}""")
      unread.foreach { case (name, id, start, stop) =>
        span(name, id, start, stop, meter.take(s"$id.$name")) }
      unread.clear()
    }

    /** Resolve every family once, each in its own metered window, and
      * record which warehouse lane each took. */
    def resolve(spark: SparkSession, meter: Meter, dir: String, phase: String,
                tag: String): Unit = {
      val sc = spark.sparkContext
      Warehouse.drainHits(spark)
      Warehouse.drainLanes(spark)
      val w0 = meter.snap(sc)
      val a0 = now()
      families.foreach { case (family, build) =>
        val c0 = meter.snap(sc)
        val a = now()
        val res = try { build(spark, dir); """"ok":true""" } catch { case e: Throwable => error(e) }
        val b = now()
        val c = meter.snap(sc).since(c0)
        val lanes = Warehouse.drainLanes(spark).values.groupBy(identity)
          .map { case (l, v) => s""""$l":${v.size}""" }.mkString(",")
        val hits = Warehouse.drainHits(spark).values.toSeq
        emit(s"""{"kind":"op","phase":"$phase","tag":"$tag","key":${q(family)},""" +
          s""""wall_s":${b - a},"lanes":{$lanes},"tables_hit":${hits.count(identity)},""" +
          s""""tables_built":${hits.count(!_)},$res,${c.json}}""")
        span(s"$phase.$family", tag, a, b, c)
      }
      val w = meter.snap(sc).since(w0)
      emit(s"""{"kind":"window","name":"$phase","tag":"$tag","wall_s":${now() - a0},${w.json}}""")
    }

    // ---------------------------------------------------------------- //
    // One warm session. With store families, set-up first runs the store
    // lifecycle on a private copy of the corpus: cold builds into an
    // empty warehouse, an append, and re-resolution in a new session
    // (the merge lanes); the keys are then served from the grown stores.
    // Set-up ends with a check pass and a warm-up pass over every key;
    // timed passes follow until `seconds` is spent.
    // ---------------------------------------------------------------- //

    def serve(coldcheck: Boolean): Unit = {
      val setupStart = now()
      val dir = if (families.isEmpty) data else grow()
      val (spark, meter) = session(cores, work, s"$work/warehouse")
      if (families.nonEmpty) resolve(spark, meter, dir, "merge", "setup")
      pass(spark, meter, dir, "check", 0, check = true)
      // One more untimed pass: the check pass leaves the JIT still warming.
      pass(spark, meter, dir, "warm", 0, check = false)
      gauge("setup_s", now() - setupStart)
      memo(spark, "warm")
      heap()
      val timedStart = now()
      var p = 1
      while (p == 1 || now() - timedStart < seconds) {
        pass(spark, meter, dir, "timed", p, check = false)
        p += 1
      }
      memo(spark, "end")
      storeBytes(spark, dir)
      spark.stop()
      if (coldcheck) {
        // Every store rebuilt cold from the grown corpus, to confirm the
        // merged stores serve the same results.
        val (s3, m3) = session(cores, work, s"$work/cold")
        pass(s3, m3, dir, "coldcheck", 0, check = true)
        s3.stop()
      }
    }

    /** The store lifecycle up to the append, in a session of its own:
      * stage a multi-part copy of the corpus (tools.MergeStage), build
      * every family cold, then append +5% documents and events and +2%
      * embeddings (tools.MergeStage.append). Returns the grown corpus. */
    private def grow(): String = {
      val corpus = s"$work/corpus"
      val (s1, m1) = session(cores, work, s"$work/warehouse")
      new File(corpus).mkdirs()
      new File(data).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val table = f.getName.stripSuffix(".parquet")
        if (Growing.exists(_._1 == table)) graft.tools.MergeStage.stage(s1, data, corpus, table)
        else java.nio.file.Files.copy(f.toPath, new File(corpus, f.getName).toPath)
      }
      resolve(s1, m1, corpus, "build", "setup")
      val w0 = m1.snap(s1.sparkContext)
      val a = now()
      val rows = Growing.map { case (t, id, stride) =>
        s""""rows_$t":${graft.tools.MergeStage.append(s1, corpus, t, id, stride)}""" }
      val w = m1.snap(s1.sparkContext).since(w0)
      emit(s"""{"kind":"window","name":"append","tag":"setup","wall_s":${now() - a},""" +
        s"""${w.json},${rows.mkString(",")}}""")
      span("append", "setup", a, now(), w)
      // The serving session is a new one: Warehouse.countMax memoizes
      // corpus stats per session, so only a new one sees the growth.
      s1.stop()
      corpus
    }
  }

  /** Tables the append grows: (table, id column, stride — every
    * stride-th row is copied, so 20 → +5% and 50 → +2%). */
  private val Growing = Seq(("documents", "doc_id", 20), ("events", "event_id", 20),
    ("embeddings", "vec_id", 50))

  // ------------------------------------------------------------------ //
  // Gauges.
  // ------------------------------------------------------------------ //

  /** Persistent RDDs the session memoizes, and their stored bytes. */
  private def memo(spark: SparkSession, at: String): Unit = {
    val sc = spark.sparkContext
    gauge(s"memo_rdds_$at", sc.getPersistentRDDs.size.toDouble)
    gauge(s"memo_bytes_$at", sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum.toDouble)
  }

  /** JVM heap still live after explicit full GCs: the least of three
    * readings, 250 ms apart, so that blocks Spark's ContextCleaner frees
    * asynchronously after the first GC are not counted. */
  private def heap(): Unit = {
    val rt = Runtime.getRuntime
    val live = (1 to 3).map { _ =>
      System.gc()
      val v = rt.totalMemory - rt.freeMemory
      Thread.sleep(250)
      v
    }.min
    gauge("heap_live_mb", live / 1048576.0)
  }

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(treeBytes).sum
    else f.length

  /** Warehouse bytes and corpus bytes, for bytes stored per corpus byte. */
  private def storeBytes(spark: SparkSession, corpus: String): Unit = {
    gauge("store_bytes", treeBytes(new File(new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir")).toUri.getPath)).toDouble)
    gauge("corpus_bytes", treeBytes(new File(corpus)).toDouble)
  }

}
