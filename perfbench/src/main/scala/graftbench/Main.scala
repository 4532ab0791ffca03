package graftbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, Pins, SparkEntry}
import graft.operators.{AnnIndex, NearDupIndex}
import graft.sources.{IncrementalView, SnapshotTable}
import graft.streaming.Streams

/** One measured operation of a pass. */
final case class OpSample(name: String, pass: Int, traced: Boolean, wall: Double,
                          build: Double, action: Double, cpu: Double, rows: Long,
                          hash: Long, storageMb: Double, cachedMb: Double,
                          pinsPending: Int, releaseS: Double, error: String)

/** The JVM side of the benchmark: runs one workload on inputs that
  * run.py generated, from graft's public API only, and writes the raw
  * samples (and, traced, the spans) as JSON.  run.py turns them into
  * metrics and checks the outputs.
  *
  * Usage: Main <workload> <inputDir> <workDir> <seconds> <trace 0|1>
  *             <seed> <resultFile> */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, inputs, work, secondsArg, traceArg, seedArg, out) = args.take(7)
    new Bench(workload, inputs, work, secondsArg.toDouble, traceArg == "1",
      seedArg.toLong).run(out)
  }
}

final class Bench(workload: String, inputs: String, work: String, seconds: Double,
                  traced: Boolean, seed: Long) {
  private val nproc = Runtime.getRuntime.availableProcessors()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var loadMax = osBean.getSystemLoadAverage
  private val loadStart = loadMax

  private def now(): Double = System.nanoTime() / 1e9
  private def cpu(): Double = osBean.getProcessCpuTime / 1e9
  private def gc(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  // session: fresh warehouse, Spark local dirs and checkpoints under work/
  private val sessionStart = ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
  val spark: SparkSession = GraftSession.builder(nproc)
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.local.dir", s"$work/local")
    .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sessionS = System.currentTimeMillis() / 1e3 - sessionStart

  private val trace = new Trace(spark, traced)
  private val samples = ArrayBuffer[OpSample]()
  private val passes = ArrayBuffer[Map[String, Double]]()
  private val extra = ArrayBuffer[(String, String)]() // pre-rendered JSON fields

  private def storage(): (Double, Double) = {
    val sc = spark.sparkContext
    val used = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum
    val cached = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (used / 1048576.0, cached / 1048576.0)
  }

  /** Run one operation: build the frame (the operator call), act on it,
    * read storage, then release pins and caches as graft.Bench does. */
  private def op(name: String, pass: Int, tracedPass: Boolean)
                (build: () => DataFrame)(act: DataFrame => (Long, Long)): Unit = {
    val t0 = now(); val c0 = cpu()
    var tb = t0; var rows = -1L; var hash = 0L; var err = ""
    def body(id: String): Unit =
      try {
        val df = trace.span(id, "build", name)(_ => build())
        trace.phasesOf(df)
        tb = now()
        val r = trace.span(id, "action", name)(_ => act(df))
        rows = r._1; hash = r._2
      } catch { case e: Throwable => err = e.toString.take(300) }
    if (tracedPass) trace.span("", "op", name)(body) else body("")
    val t1 = now(); val c1 = cpu()
    val (st, cached) = storage()
    val pending = Pins.pending
    val r0 = now()
    Pins.release()
    spark.catalog.clearCache()
    val rel = now() - r0
    loadMax = math.max(loadMax, osBean.getSystemLoadAverage)
    val s = OpSample(name, pass, tracedPass, t1 - t0, tb - t0, t1 - tb, c1 - c0, rows,
      hash, st, cached, pending, rel, err)
    samples += s
    System.err.println(f"[graftbench] $name pass $pass%d ${s.wall}%.3f s $err")
  }

  private def sink(df: DataFrame): (Long, Long) = {
    df.write.format(ChecksumSink.Format).mode("overwrite").save()
    ChecksumSink.take()
  }

  /** Rows of the latest lookup of each name, kept for the checks. */
  private val lastRows = scala.collection.mutable.Map[String, Array[org.apache.spark.sql.Row]]()

  /** Collect a lookup's rows; (rows, order-free fingerprint). */
  private def collect(name: String)(df: DataFrame): (Long, Long) = {
    val rows = df.collect()
    lastRows(name) = rows
    (rows.length.toLong, rows.map(_.mkString("\u0001").hashCode.toLong).sum)
  }

  // ---------------------------------------------------------------- passes

  /** One pass: every op once, in an order seeded by (seed, pass). */
  private def pass(p: Int, tracedPass: Boolean,
                   ops: Seq[(String, () => DataFrame, DataFrame => (Long, Long))]): Unit = {
    val c0 = cpu(); val g0 = gc(); val t0 = now()
    new scala.util.Random(seed * 1000 + p).shuffle(ops).foreach { case (name, b, act) =>
      op(name, p, tracedPass)(b)(act)
    }
    passes += Map("pass" -> p.toDouble, "traced" -> (if (tracedPass) 1.0 else 0.0),
      "wall_s" -> (now() - t0), "cpu_s" -> (cpu() - c0), "gc_s" -> (gc() - g0))
  }

  /** The timed passes.  Untraced runs loop whole passes while another
    * one, as long as the last, would still end within `seconds` of
    * `since` (at least one), so the number of passes does not flip
    * between runs when a pass takes about `seconds`.  Traced runs make
    * three, untraced-traced-untraced: the traced pass gives the
    * per-layer numbers, and the untraced one after it the base of
    * `trace.overhead_frac`. */
  private def timedPasses(ops: Seq[(String, () => DataFrame, DataFrame => (Long, Long))],
                          first: Int, since: Double): Unit = {
    var p = first
    if (traced) Seq(false, true, false).foreach { t =>
      if (t) trace.attach() else trace.detach()
      pass(p, t, ops)
      p += 1
    }
    else {
      var last = 0.0
      while (p == first || now() - since + last <= seconds) {
        val t = now(); pass(p, false, ops); last = now() - t; p += 1
      }
    }
  }

  /** A second untimed warm-up pass, through the sink the timed passes
    * use (the pass after the dump still runs about a fifth slower, with
    * the JIT compiling beside it), then the timed passes.  `warm` is the
    * dump pass's time; warmup_s is both. */
  private def timedQueries(ops: Seq[(String, () => DataFrame)], warm: Double): Unit = {
    val sinkOps = ops.map { case (n, b) => (n, b, sink _) }
    val t0 = now()
    pass(-1, tracedPass = false, sinkOps)
    samples.clear(); passes.clear()
    extra += "warmup_s" -> Json.num(warm + now() - t0)
    heapPools.foreach(_.resetPeakUsage())
    timedPasses(sinkOps, 0, now())
  }

  /** Untimed warm-up pass that also dumps every result for the oracle
    * check (the graft.Verify layout: one parquet dir per query plus
    * oracle_sql.json) and fingerprints each dumped result through the
    * sink the timed passes use, so that run.py can require every timed
    * pass to give the result the oracle checked. */
  private def warmupDump(ops: Seq[(String, () => DataFrame)],
                         oracle: Map[String, String]): Double = {
    val t0 = now()
    val dump = s"$work/dump"
    val fps = ArrayBuffer[(String, String)]()
    ops.foreach { case (name, b) =>
      val t = now()
      try {
        b().write.mode("overwrite").parquet(s"$dump/$name")
        val (rows, hash) = sink(spark.read.parquet(s"$dump/$name"))
        fps += name -> s"[${Json.num(rows.toDouble)}, ${Json.str(hash.toString)}]"
      } catch { case e: Throwable => System.err.println(s"[graftbench] warm-up $name: $e") }
      System.err.println(f"[graftbench] warm-up $name ${now() - t}%.3f s")
      Pins.release()
      spark.catalog.clearCache()
    }
    extra += "warmup_fingerprints" -> Json.obj(fps.toSeq)
    val json = oracle.filter { case (k, _) => ops.exists(_._1 == k) }
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",\n", "}")
    Files.writeString(Paths.get(s"$dump/oracle_sql.json"), json)
    now() - t0
  }

  // ------------------------------------------------------------ workloads

  private def entry(name: String): (String, () => DataFrame) =
    name -> (() => SparkEntry.queries(name)(spark, inputs))

  /** The §2a/§2b families: joins, aggregates, rollup/cube, windows,
    * sessionize, as-of/range/interval joins. */
  private val warehouseQueries = Seq(
    "q01_agg", "q03_join_agg", "q04_semijoin", "q05_multijoin", "q07_antijoin",
    "q10_topk", "q14_in_subquery", "q17_rollup", "q18_cube", "q19_grouping_sets",
    "q30_window_rank", "q31_window_running", "q33_window_ntile", "q34_sessionize",
    "q36_event_funnel", "q39_session_window", "q60_asof_join", "q136_range_join",
    "q142_retention", "q61_interval_join")

  /** The same queries as SQL text over the tables graft.Sql registers;
    * each is checked against the oracle of the query it restates.
    * (graft.Sql.run also registers every pipeline view on each call,
    * about 40 s on a 4-core VM, so the tables are registered once in
    * set-up.) */
  private val sqlText = Seq(
    "sql_q06_selective_agg" -> "q06_selective_agg",
    "sql_q10_topk" -> "q10_topk")

  /** Dedup and pins (q184, which runs the q41 and q162 kernels), graph
    * rounds (q154), media codec plus terminal sort (q51, q212) and text
    * kernels (q47, q48, q113). */
  private val corpusQueries = Seq(
    "q184_sketch_eval", "q154_domain_pagerank", "q51_multimodal_meta", "q212_video_scrub",
    "q47_langid", "q48_quality_score", "q113_bpe_encode")

  private def warehouse(): Unit = {
    val oracle = SparkEntry.oracleSql
    graft.Sql.registerTables(spark, inputs)
    val sqlOps = sqlText.map { case (name, q) => name -> (() => spark.sql(oracle(q))) }
    val ops = warehouseQueries.map(entry) ++ sqlOps
    val warm = warmupDump(ops, oracle ++ sqlText.map { case (n, q) => n -> oracle(q) })
    extra += "fit_s" -> "[]"
    timedQueries(ops, warm)
  }

  private def corpus(): Unit = {
    val ops = corpusQueries.map(entry)
    extra += "fit_s" -> "[]"
    timedQueries(ops, warmupDump(ops, SparkEntry.oracleSql))
  }

  // ingest_serve: a lake-resident near-dup index, an ANN index and an
  // incremental view, grown by two streams, then served
  private val ix = "gb_neardup"
  private val ann = "gb_ann"
  private val base = s"$work/lake/events"
  private val mv = s"$work/lake/events_by_user"
  private val admittedDir = s"$work/lake/admitted"

  /** Fit the indexes (bucketed by core count, as graft's docs advise for
    * a production fit) and create the view; returns seconds per part. */
  private def fitLake(): Seq[(String, Double)] = {
    def timed(name: String)(body: => Unit): (String, Double) = {
      val t0 = now(); body; name -> (now() - t0)
    }
    Seq(
      timed("neardup_index")(NearDupIndex.fit(
        spark.read.parquet(s"$inputs/documents.parquet"), ix, nproc)),
      timed("ann_index")(AnnIndex.fit(
        spark.read.parquet(s"$inputs/embeddings.parquet"), ann, nproc)),
      timed("view")(IncrementalView.create(spark, mv, {
        SnapshotTable.create(spark, base, spark.read.parquet(s"$inputs/events.parquet"))
        base
      }, Seq("user_id"), Seq(
        IncrementalView.Agg("count", "", "n"), IncrementalView.Agg("sum", "event_id", "id_sum"),
        IncrementalView.Agg("min", "value", "v_min"),
        IncrementalView.Agg("max", "value", "v_max")))))
  }

  private def files(dir: String): Seq[File] = {
    val d = new File(dir)
    if (!d.exists) Nil
    else if (d.isFile) Seq(d)
    else Option(d.listFiles).toSeq.flatten.flatMap(f => files(f.getPath))
  }

  private def lakeFiles(): Seq[File] =
    (Seq(NearDupIndex.digestsTable(ix), NearDupIndex.bandsTable(ix),
      NearDupIndex.gramsTable(ix)).map(t => s"$work/warehouse/$t") ++
      Seq(admittedDir, base, mv)).flatMap(files)

  private type Progress = org.apache.spark.sql.streaming.StreamingQueryProgress

  /** Drain a backlog through a started stream (one file per
    * micro-batch, until none is left); returns its progress events. */
  private def drain(start: => org.apache.spark.sql.streaming.StreamingQuery): Seq[Progress] = {
    val q = start
    try q.processAllAvailable() finally q.stop()
    q.recentProgress.toSeq.filter(_.numInputRows > 0)
  }

  private def stream(table: String, dir: String): DataFrame =
    spark.readStream.schema(spark.read.parquet(s"$inputs/$table.parquet").schema)
      .option("maxFilesPerTrigger", 1).parquet(dir)

  /** Drain the document backlog through the near-dup gate and the event
    * backlog through the incremental-view sink. */
  private def drainOps(suffix: String, tracedPass: Boolean, pass: Int): Seq[Progress] = {
    val progress = ArrayBuffer[Progress]()
    def run(name: String)(start: => org.apache.spark.sql.streaming.StreamingQuery): Unit =
      op(name, pass, tracedPass)(() => spark.emptyDataFrame) { _ =>
        val p = drain(start)
        progress ++= p
        (p.size.toLong, 0L)
      }
    run("drain_docs")(Streams.startNearDupGate(
      stream("documents", s"$inputs/stream_docs$suffix"), ix, admittedDir,
      s"$work/checkpoints/gate$suffix"))
    run("drain_events")(Streams.startIncrementalViewSink(
      stream("events", s"$inputs/stream_events$suffix"), base, mv,
      s"$work/checkpoints/view$suffix"))
    progress.toSeq
  }

  /** (name, frame) for every lookup batch. */
  private def lookupOps(): Seq[(String, () => DataFrame)] = {
    val docs = files(s"$inputs/lookup_docs").map(_.getPath).sorted
    val vecs = files(s"$inputs/lookup_vecs").map(_.getPath).sorted
    docs.zipWithIndex.map { case (f, i) =>
      (f"lookup_dedup_$i%02d", () => NearDupIndex.dedup(spark.read.parquet(f), ix)
        .select("doc_id", "status"))
    } ++ vecs.zipWithIndex.map { case (f, i) =>
      (f"lookup_ann_$i%02d", () => AnnIndex.searchHnsw(spark.read.parquet(f), ann, 5)
        .select("qid", "nid", "rk"))
    }
  }

  private def ingest(): Unit = {
    val parts = fitLake()
    extra += "fit_s" -> s"[${Json.num(parts.map(_._2).sum)}]"
    extra += "fit_parts_s" -> Json.obj(parts.map { case (k, v) => k -> Json.num(v) })
    // warm-up: the first file of each backlog and one lookup round
    val w0 = now()
    drainOps("_warmup", tracedPass = false, -1)
    lookupOps().foreach { case (name, b) =>
      op(name, -1, tracedPass = false)(b)(collect(name))
    }
    samples.clear()
    extra += "warmup_s" -> Json.num(now() - w0)

    val before = lakeFiles()
    heapPools.foreach(_.resetPeakUsage())
    trace.attach()
    val c0 = cpu(); val g0 = gc(); val t0 = now()
    val progress = drainOps("", traced, 0)
    passes += Map("pass" -> 0.0, "traced" -> (if (traced) 1.0 else 0.0),
      "wall_s" -> (now() - t0), "cpu_s" -> (cpu() - c0), "gc_s" -> (gc() - g0),
      "drain" -> 1.0)
    val after = lakeFiles()
    // the serving session must re-list the index tables the stream's own
    // session appended to; without this its lookups miss every doc the
    // drain admitted (they read the file listing cached in warm-up)
    op("refresh_index", 0, traced)(() => spark.emptyDataFrame) { _ =>
      Seq(NearDupIndex.digestsTable(ix), NearDupIndex.bandsTable(ix),
        NearDupIndex.gramsTable(ix)).foreach(spark.catalog.refreshTable)
      (0L, 0L)
    }
    // lookup rounds for `seconds` after the drain: the drain happens once,
    // and the median round leaves out the first, which re-lists the grown
    // index tables
    timedPasses(lookupOps().map { case (n, b) => (n, b, collect(n) _) }, 1, now())

    // observations outside the timed region
    val inBytes = Seq("stream_docs", "stream_events")
      .flatMap(d => files(s"$inputs/$d")).map(_.length).sum
    val beforeSet = before.map(_.getPath).toSet
    extra += "lake" -> Json.obj(Seq(
      "input_bytes" -> Json.num(inBytes.toDouble),
      "bytes_added" -> Json.num(after.map(_.length).sum.toDouble - before.map(_.length).sum),
      "files_added" -> Json.num(after.count(f => !beforeSet(f.getPath)).toDouble),
      "versions" -> Json.num((SnapshotTable.history(spark, base).size +
        SnapshotTable.history(spark, mv).size).toDouble)))
    extra += "streaming" -> progress.map { p =>
      Json.obj(Seq("batch" -> Json.num(p.batchId.toDouble),
        "rows" -> Json.num(p.numInputRows.toDouble)) ++
        p.durationMs.asScala.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v.toDouble) })
    }.mkString("[", ",\n", "]")
    // each micro-batch's progress event becomes a span; run.py places it
    // under the drain op whose interval contains it
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.toMap
      trace.add("", "batch", s"batch ${p.batchId}", start,
        start + d.getOrElse("triggerExecution", 0.0), d)
    }
    val admitted = spark.read.parquet(admittedDir)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    extra += "admitted" -> admitted.mkString("[", ",", "]")
    val view = IncrementalView.read(spark, mv)
      .select(col("user_id"), col("n").cast("long"), col("id_sum").cast("long"),
        col("v_min").cast("double"), col("v_max").cast("double"))
    val full = SnapshotTable.read(spark, base).groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"), sum("event_id").cast("long").as("id_sum"),
        min("value").cast("double").as("v_min"), max("value").cast("double").as("v_max"))
    extra += "view_rows" -> Json.num(view.count().toDouble)
    extra += "view_diff_rows" -> Json.num(
      view.exceptAll(full).union(full.exceptAll(view)).count().toDouble)
    // the last round's rows, for the verdict and recall checks
    extra += "lookup_status" -> lastRows.toSeq.collect { case (n, rows) if n.contains("dedup") =>
      rows.map(r => s"[${r.getLong(0)},${Json.str(r.getString(1))}]")
    }.flatten.mkString("[", ",", "]")
    extra += "lookup_ann" -> lastRows.toSeq.collect { case (n, rows) if n.contains("ann") =>
      rows.map(r => s"[${r.getLong(0)},${r.getLong(1)},${r.get(2)}]")
    }.flatten.mkString("[", ",", "]")
  }

  // ------------------------------------------------------------- results

  def run(out: String): Unit = {
    val heapMax = Runtime.getRuntime.maxMemory / 1048576.0
    val t0 = now()
    try workload match {
      case "warehouse_sql" => warehouse()
      case "corpus_curation" => corpus()
      case "ingest_serve" => ingest()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    } finally {
      val heapPeak = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      val spans = trace.spans()
      val fields = Seq(
        "workload" -> Json.str(workload), "seed" -> Json.num(seed.toDouble),
        "nproc" -> Json.num(nproc.toDouble), "heap_max_mb" -> Json.num(heapMax),
        "heap_peak_mb" -> Json.num(heapPeak),
        "loadavg_start" -> Json.num(loadStart), "loadavg_max" -> Json.num(loadMax),
        "session_s" -> Json.num(sessionS), "total_s" -> Json.num(now() - t0),
        "traced" -> (if (traced) "true" else "false"),
        "passes" -> passes.map(p => Json.obj(p.toSeq.map { case (k, v) => k -> Json.num(v) }))
          .mkString("[", ",\n", "]"),
        "ops" -> samples.map(s => Json.obj(Seq(
          "name" -> Json.str(s.name), "pass" -> Json.num(s.pass.toDouble),
          "traced" -> (if (s.traced) "true" else "false"),
          "wall_s" -> Json.num(s.wall), "build_s" -> Json.num(s.build),
          "action_s" -> Json.num(s.action), "cpu_s" -> Json.num(s.cpu),
          "rows" -> Json.num(s.rows.toDouble), "hash" -> Json.str(s.hash.toString),
          "storage_mb" -> Json.num(s.storageMb), "cached_mb" -> Json.num(s.cachedMb),
          "pins_pending" -> Json.num(s.pinsPending.toDouble),
          "release_s" -> Json.num(s.releaseS), "error" -> Json.str(s.error))))
          .mkString("[", ",\n", "]"),
        "spans" -> spans.map(s => Json.obj(Seq(
          "id" -> Json.str(s.id), "parent" -> Json.str(s.parent), "kind" -> Json.str(s.kind),
          "name" -> Json.str(s.name), "start" -> Json.num(s.start), "end" -> Json.num(s.end),
          "attrs" -> Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) }))))
          .mkString("[", ",\n", "]")) ++ extra
      Files.writeString(Paths.get(out), Json.obj(fields))
      spark.stop()
    }
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
