package perfbench

import graft.Engine
import graft.drivers.{ParquetDestinationDriver, ParquetSourceDriver}
import graft.exec.{CurationPipeline, KeepOrphans, Migration, TransformContext}
import graft.spec.{IdField, LongId, MigrationSpec}
import graft.streaming.StreamingCuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one fresh JVM.
  *
  * {{{
  * Main --workload W --corpus DIR --inputs DIR --root DIR --cores N
  *      --seconds S --trace 0|1 [--iterations K] [--twin 1] --out FILE
  * }}}
  *
  * Prints `READY` once the session is up with the engine's functions and
  * planner strategy attached (the caller times JVM start to that line as
  * set-up), runs the workload against the program's public entry points,
  * and writes its raw figures, the trace (when on) and the artifacts of
  * the correctness gate to FILE as JSON. The caller derives every metric
  * from that file.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val root = o("root")
    val cores = o("cores")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"$root/spark-local")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Engine.attach(spark)
    println("READY")
    System.out.flush()

    val traced = o("trace") == "1"
    val run = new Run(spark, o, traced)
    val out = try run.go() finally spark.stop()
    Files.writeString(Paths.get(o("out")), Json(out))
  }
}

final class Run(spark: SparkSession, o: Map[String, String], traced: Boolean) {
  private val sc = spark.sparkContext
  // the facade's views over the corpus, registered after set-up is timed
  private lazy val engine = Engine(spark, o("corpus"), attach = false)
  // the untraced twin of a traced run: same workload, nothing else
  private val twin = o.get("twin").contains("1")
  private val root = o("root")
  private val inputs = o("inputs")
  private val seconds = o("seconds").toDouble
  private val fixedIterations = o.get("iterations").map(_.toInt)
  private val errors = mutable.ArrayBuffer.empty[String]
  private val mappingRoots = new java.util.concurrent.CopyOnWriteArrayList[String]()

  private val jobs = new JobListener(() => mappingRoots.asScala.toSeq,
    if (o("workload") == "query_mix") "queries" else "streaming")
  private val triggers = new TriggerListener

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, secs(t0))
  }
  private def more(done: Int, t0: Long): Boolean = fixedIterations match {
    case Some(k) => done < k
    case None => done == 0 || secs(t0) < seconds
  }

  /** Id of a one-task marker job; jobs between two markers are the
    * workload's. The same marker runs traced and untraced.
    */
  private def jobMark(): Int = {
    val f = sc.submitJob(sc.parallelize(Seq(1), 1), (_: Iterator[Int]) => (),
      Seq(0), (_: Int, _: Unit) => (), ())
    scala.concurrent.Await.ready(f, scala.concurrent.duration.Duration.Inf)
    f.jobIds.head
  }

  /** graft.Bench's host-calibration probe, verbatim: min of three runs of a
    * fixed CPU+shuffle job. A diagnostic beside each run, not a metric.
    * The twin of a traced run skips it.
    */
  private def calibration(): Double = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    spark.range(8000000L)
      .selectExpr("id % 10007 AS k", "id AS v")
      .groupBy("k").sum("v").selectExpr("sum(`sum(v)`)").collect()
    secs(t0)
  }.min

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def go(): Map[String, Any] = {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var tp = System.nanoTime()
    def phase(name: String): Unit = { phases(name) = secs(tp); tp = System.nanoTime() }
    if (o("workload") != "curate_stream") engine.names
    phase("views")
    if (traced) {
      Trace.enable(spark)
      sc.addSparkListener(jobs)
      spark.streams.addListener(triggers)
    }
    val gc0 = gcMs
    val mark0 = jobMark()
    val t0 = Trace.nowMs
    val work = o("workload") match {
      case "migrate_dag" => migrateDag()
      case "curate_stream" => curateStream()
      case "query_mix" => queryMix()
    }
    val t1 = Trace.nowMs
    val mark1 = jobMark()
    phase("workload")
    val gcS = (gcMs - gc0) / 1e3
    val held = heldStorage()
    phase("held")
    // after the workload, so the cold figures include the JVM's own warm-up
    val calibrationS = if (twin) Double.NaN else calibration()
    phase("calibration")
    val maintenance = if (traced) work.maintain() else Map.empty
    phase("maintenance")
    val check = if (twin) Map.empty else work.check()
    phase("check")
    // every listener event up to the closing marker has been delivered
    // once the marker's end is seen (one shared listener queue)
    if (traced) {
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (Option(jobs.jobs.get(mark1)).forall(_.endMs == 0) && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    Map(
      "workload" -> o("workload"),
      "iterations" -> work.iterations,
      "jobs" -> (mark1 - mark0 - 1),
      "calibration_s" -> calibrationS,
      "phases_s" -> phases.toMap,
      "gc_s" -> gcS,
      "window_ms" -> Seq(t0, t1),
      "figures" -> work.figures,
      "maintenance" -> maintenance,
      "held" -> held,
      "check" -> check,
      "failures" -> errors.toSeq,
      "trace" -> (if (!traced) Map.empty else traceDump(mark0, mark1)))
  }

  /** Cached-block storage still held, plus the driver heap that survives
    * a full GC (in local mode the in-memory blocks live on that heap, so
    * disk blocks are added separately and memory blocks are not).
    */
  private def heldStorage(): Map[String, Any] = {
    // Spark's context cleaner drops the blocks, shuffles and broadcasts of
    // what a GC found unreachable on its own thread, so collect until the
    // heap stops shrinking (at most ten rounds)
    def heapAfterGc(): Long = {
      System.gc(); Thread.sleep(250)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    val heaps = mutable.ArrayBuffer(heapAfterGc())
    while (heaps.size < 10 && (heaps.size < 2 || heaps(heaps.size - 2) - heaps.last > (1L << 20)))
      heaps += heapAfterGc()
    val heap = heaps.last
    val infos = sc.getRDDStorageInfo
    val disk = infos.map(_.diskSize).sum
    Map("persisted_rdds" -> sc.getPersistentRDDs.size,
      "block_mem_bytes" -> infos.map(_.memSize).sum, "block_disk_bytes" -> disk,
      "heap_bytes" -> heap, "gc_heap_bytes" -> heaps.toSeq,
      "held_storage_mb" -> (heap + disk) / 1048576.0)
  }

  private def traceDump(mark0: Int, mark1: Int): Map[String, Any] = Map(
    "spans" -> Trace.spans.asScala.toSeq.map(s =>
      Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "thread" -> s.thread,
        "start" -> s.startMs, "end" -> s.endMs)),
    "jobs" -> jobs.jobs.values.asScala.toSeq.filter(j => j.id > mark0 && j.id < mark1)
      .sortBy(_.id).map(j => Map("id" -> j.id, "span" -> j.span, "execution" -> j.execution,
        "start" -> j.startMs, "end" -> j.endMs, "tasks" -> j.tasks,
        "tasks_failed" -> j.tasksFailed, "cpu_ns" -> j.cpuNs, "shuffle_read" -> j.shuffleRead,
        "shuffle_write" -> j.shuffleWrite, "spill" -> j.spill, "peak_mem" -> j.peakMem,
        "call_site" -> j.callSite)),
    "writes" -> jobs.writes.asScala.toSeq.map(w => Map("execution" -> w.execution,
      "layer" -> w.layer, "path" -> w.path, "rows" -> w.rows, "bytes" -> w.bytes,
      "files" -> w.files, "start" -> w.startMs, "end" -> w.endMs)),
    "batches" -> triggers.batches.asScala.toSeq.map { case (id, start, d) =>
      Map("batch" -> id, "start" -> start, "durations" -> d) })

  trait Work {
    def iterations: Int
    def figures: Map[String, Any]
    /** Traced runs only, after the workload's job window. */
    def maintain(): Map[String, Any] = Map.empty
    def check(): Map[String, Any]
  }

  // ---- migrate_dag ----------------------------------------------------

  /** customer -> orders -> lineitem, ids generated through the mapping. */
  private def dag(srcDir: String, base: String): Seq[Migration] = {
    def spec(name: String, table: String, src: Seq[String], dest: String, deps: Seq[String]) =
      MigrationSpec(name, source = s"$srcDir/$table.parquet", sourceDriver = "parquet",
        destination = s"$base/dest/$table", destinationDriver = "parquet",
        sourceIds = src.map(IdField(_, LongId)), destinationIds = Seq(IdField(dest, LongId)),
        depends = deps)
    def mig(s: MigrationSpec)(f: (DataFrame, TransformContext) => DataFrame) = new Migration {
      def spec: MigrationSpec = s
      def transform(src: DataFrame, ctx: TransformContext): DataFrame = f(src, ctx)
    }
    Seq(
      mig(spec("m_customer", "customer", Seq("c_custkey"), "cid", Nil))((src, _) => src),
      mig(spec("m_orders", "orders", Seq("o_orderkey"), "oid", Seq("m_customer"))) { (src, ctx) =>
        ctx.references.resolve(src, "m_customer", Map("o_custkey" -> "c_custkey"),
          Seq("cid" -> "o_cid"))
      },
      mig(spec("m_lineitem", "lineitem", Seq("l_orderkey", "l_linenumber"), "lid",
          Seq("m_orders"))) { (src, ctx) =>
        ctx.references.resolve(src, "m_orders", Map("l_orderkey" -> "o_orderkey"),
          Seq("oid" -> "l_oid"))
      })
  }

  private def migrateDag(): Work = {
    val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    while (more(i, t0)) {
      val base = s"$root/migrate/$i"
      mappingRoots.add(s"$base/map")
      val dest = new ParquetDestinationDriver
      val dests = (_: Migration) => if (traced) new TracedDestination(dest) else dest
      val sources = (_: Migration) =>
        if (traced) new TracedSource(new ParquetSourceDriver) else new ParquetSourceDriver
      def phase(name: String, srcDir: String): (Map[String, Any], Double) = {
        val (r, s) = timed(Trace.span(s"exec.migrate.$name") {
          engine.migrate(dag(srcDir, base), sources, dests, s"$base/map", KeepOrphans, 1)
        })
        val out = r.results.map { case (k, v) =>
          k -> Map("migrated" -> v.migrated, "orphans" -> v.orphanCount) }
        r.executor.release()
        r.references.release()
        (out, s)
      }
      val (load, loadS) = phase("load", o("corpus"))
      val (rerun, rerunS) = phase("rerun", s"$inputs/migrate/rerun")
      rows += Map("dir" -> base, "load_s" -> loadS, "rerun_s" -> rerunS,
        "load" -> load, "rerun" -> rerun)
      i += 1
    }
    new Work {
      def iterations: Int = rows.size
      def figures: Map[String, Any] = Map("cycles" -> rows.toSeq)
      def check(): Map[String, Any] = Map("dirs" -> rows.map(_("dir")).toSeq)
    }
  }

  // ---- curate_stream --------------------------------------------------

  private def curateStream(): Work = {
    val dir = s"$inputs/curate/in"
    val schema = spark.read.parquet(o("corpus") + "/documents.parquet").schema
    val streams = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var i = 0
    var lastBase = ""
    while (more(i, t0)) {
      val base = s"$root/curate/$i"
      lastBase = base
      mappingRoots.add(s"$base/map")
      val docs = spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(dir)
      val dest = new ParquetDestinationDriver
      val dests: Migration => graft.drivers.DestinationDriver =
        if (traced) _ => new TracedDestination(dest) else null
      val (q, streamS) = timed(Trace.span("streaming.run") {
        val q = StreamingCuration.start(docs, base, s"$root/curate_ckpt/$i",
          Trigger.AvailableNow(), dests)
        try q.awaitTermination() finally q.stop()
        q
      })
      q.exception.foreach(e => errors += s"stream: ${e.getMessage}")
      val batches = q.recentProgress.filter(_.numInputRows > 0).sortBy(_.batchId)
        .map(p => p.durationMs.get("triggerExecution").longValue / 1e3).toSeq
      streams += Map("stream_s" -> streamS, "batch_s" -> batches)
      i += 1
    }
    new Work {
      def iterations: Int = streams.size
      def figures: Map[String, Any] = Map("streams" -> streams.toSeq)
      /** One full read of each per-document stage's merge-on-read view of
        * the last stream, then compaction of those stages.
        */
      override def maintain(): Map[String, Any] = {
        val dest = new ParquetDestinationDriver
        val stages = CurationPipeline.incrementalMigrations(s"$lastBase/stages").init.map(_.spec)
        val morRows = sc.longAccumulator("mor_rows")
        val segments = stages.map(s => dest.deltaSegments(spark, s).size).sum
        val (_, morS) = timed(Trace.span("drivers.mor_read") {
          stages.foreach(s => dest.morSnapshot(spark, s).get.queryExecution.toRdd
            .foreach(_ => morRows.add(1)))
        })
        val (_, compactS) = timed(Trace.span("drivers.compact") {
          stages.foreach(s => dest.compactDeltas(spark, s))
        })
        Map("mor_segments" -> segments, "mor_read_s" -> morS, "compact_s" -> compactS,
          "mor_rows" -> morRows.value,
          "compacted_rows" -> stages.map(s => dest.snapshot(spark, s).get.count()).sum)
      }
      def check(): Map[String, Any] = {
        // the gate's rollup of the curated snapshot, for the DuckDB oracle
        val out = s"$root/check/curate_rollup"
        StreamingCuration.curated(spark, lastBase).get
          .groupBy(col("source"), col("predicted_lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
            min(col("did")).as("min_did"), max(col("did")).as("max_did"))
          .coalesce(1).write.parquet(out)
        val metrics = StreamingCuration.batchMetrics(spark, lastBase).collect().map(r =>
          Map("batch" -> r.getAs[Long]("batch_id"), "stage" -> r.getAs[String]("stage"),
            "input_rows" -> r.getAs[Long]("input_rows"),
            "output_rows" -> r.getAs[Long]("output_rows"))).toSeq
        Map("rollup" -> out, "landed" -> s"$lastBase/landed", "stage_rows" -> metrics,
          "oracle" -> engine.referenceSql("stream_llm_pipeline").orNull)
      }
    }
  }

  // ---- query_mix ------------------------------------------------------

  private def queryMix(): Work = {
    val orders = org.json4s.jackson.JsonMethods.parse(
      new String(Files.readAllBytes(Paths.get(s"$inputs/query/order.json")), "UTF-8"))
      .values.asInstanceOf[Map[String, List[String]]]
    // Each result is consumed through its executed plan's RDD, as
    // graft.Bench does; the rows are copied to the driver so the gate
    // needs no third pass. Results here are small (aggregates, top-k).
    val results = mutable.LinkedHashMap.empty[String, (StructType, Array[InternalRow])]
    def pass(label: String): Seq[(String, Double)] = orders(label).map { name =>
      name -> timed(Trace.span(s"queries.$label.$name") {
        try {
          val df = engine.run(name)
          results(name) = (df.schema, df.queryExecution.toRdd.map(_.copy()).collect())
        } catch { case e: Exception => errors += s"$label $name: ${e.getMessage}" }
      })._2
    }
    val t0 = System.nanoTime()
    val cold = pass("cold")
    val warm = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    while (more(warm.size, t0)) warm += pass("warm")
    new Work {
      def iterations: Int = warm.size
      def figures: Map[String, Any] = Map(
        "cold" -> cold.toMap, "warm" -> warm.map(_.toMap).toSeq)
      def check(): Map[String, Any] = {
        val out = s"$root/check/query"
        results.foreach { case (n, (schema, rows)) =>
          val toRow = ExpressionEncoder(RowEncoder.encoderFor(schema)).resolveAndBind()
            .createDeserializer()
          spark.createDataFrame(rows.map(toRow).toSeq.asJava, schema)
            .coalesce(1).write.parquet(s"$out/$n")
        }
        Map("dir" -> out,
          "oracle" -> results.keys.map(n => n -> engine.referenceSql(n).orNull).toMap)
      }
    }
  }
}

/** Minimal JSON rendering for the run's output file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case a: Array[_] => apply(a.toSeq)
    case other => quote(other.toString)
  }
  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
