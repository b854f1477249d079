package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, MapType, StructType}
import org.apache.spark.sql.types.{ArrayType => SparkArrayType}
import org.json4s.{JArray, JBool, JDouble, JLong, JNull, JObject, JString, JValue}
import org.json4s.jackson.JsonMethods.{compact, render}

import graft.SparkEntry
import graft.expressions.GraftFunctions
import graft.operators.{MemoLedger, Similarity, TextDedup}
import graft.tables.Tables

/** One timed client call. `kind` is the query name, or
  * `<family>.<phase>` / `serve` on `index_lifecycle`. */
final case class CallResult(name: String, kind: String, wallS: Double,
                            ok: Boolean, wrong: Boolean, error: String)

/** An order-insensitive fingerprint of a result: output schema, row count
  * and the exact sum of every row's xxhash64. It is computed by an
  * `observe` on the timed call itself, so checking costs no second run. */
object Fingerprint {
  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case SparkArrayType(e, _) => hasMap(e)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(cols: _*).cast(DecimalType(38, 0))).as("h"))
  }

  def of(schema: StructType, m: Map[String, Any]): String =
    s"${schema.simpleString}|n=${m("n")}|h=${m("h")}"
}

object Main {
  /** Nominal seconds of one pass of each query workload on 4 cores:
    * `--seconds` is turned into a fixed number of passes, so a run does the
    * same work on every commit and its makespan compares. An
    * `index_lifecycle` run is always one lifecycle. */
  private val nominalPassSeconds = Map(
    "legis_analyst" -> 12.0, "corpus_curate" -> 20.0, "index_lifecycle" -> 40.0)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val mode = opts("mode")
    val data = opts("data")
    val work = opts("work")
    val out = opts("out")
    val cpus = opts("cpus").toInt
    Files.createDirectories(Paths.get(work))
    val result = mode match {
      case "verify" => verify(opts("workload"), cpus, data, work)
      case "run" => run(opts("workload"), opts("seed").toLong, opts("seconds").toInt,
        opts("trace") == "1", cpus, data, work, opts("verified"), opts("launched-ms").toDouble)
    }
    Files.writeString(Paths.get(out), compact(render(result)))
  }

  private def num(d: Double): JValue = if (d.isNaN || d.isInfinite) JNull else JDouble(d)

  private def newSession(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.spillDir", s"$work/spill")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    GraftFunctions.register(spark)
    spark
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def epochMs(): Double = {
    val now = java.time.Instant.now()
    now.getEpochSecond * 1e3 + now.getNano / 1e6
  }

  /** Wall-clock time of the first timed call: set-up ends here. */
  private var firstCallMs = Double.NaN

  /** Starts a run's timed part and returns its `System.nanoTime` origin. */
  private def startTimedPart(): Long = {
    firstCallMs = epochMs()
    System.nanoTime()
  }

  // ---------------------------------------------------------------- verify

  /** Runs every distinct query of a query workload once and lands its
    * output (for the DuckDB oracle compare) with its fingerprint. */
  private def verify(workload: String, cpus: Int, data: String, work: String): JValue = {
    val spark = newSession(cpus, work)
    val entries = Workloads.queriesOf(workload).map { name =>
      val obs = new Observation(s"verify_$name")
      val fp: JValue = try {
        val df = Workloads.query(name)(spark, data)
        Fingerprint.observe(df, obs).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/verify/$name")
        JString(Fingerprint.of(df.schema, obs.get))
      } catch { case e: Throwable => System.err.println(s"[perfbench] $name failed: $e"); JNull }
      spark.catalog.clearCache()
      name -> JObject("fingerprint" -> fp, "oracle_sql" -> JString(SparkEntry.oracleSql(name)))
    }
    spark.stop()
    JObject(entries.toList)
  }

  // ------------------------------------------------------------------- run

  /** `launchedMs` is the wall-clock time at which the JVM was launched:
    * set-up runs from there to the first timed call. */
  private def run(workload: String, seed: Long, secs: Int, trace: Boolean, cpus: Int,
                  data: String, work: String, verifiedPath: String,
                  launchedMs: Double): JValue = {
    require(Workloads.names.contains(workload), s"unknown workload $workload")
    val spark = newSession(cpus, work)
    Workloads.inputFiles(data, workload).foreach(Files.readAllBytes)
    noop(Tables.load(spark, data, Workloads.mainTable(workload)))

    val tracer = new Tracer(trace)
    val counters = new Counters(tracer)
    if (trace) counters.register(spark)
    val passes = math.max(1, math.round(secs / nominalPassSeconds(workload)).toInt)

    val body = workload match {
      case "index_lifecycle" => new IndexRun(spark, data, work, seed, tracer).run()
      case w => queryRun(spark, data, readVerified(verifiedPath),
        Workloads.querySequence(Workloads.queriesOf(w), passes, seed), tracer)
    }

    val setupS = (firstCallMs - launchedMs) / 1e3
    val layers = if (trace) {
      counters.drain()
      Some(perLayer(spark, data, workload, tracer, counters))
    } else None
    spark.stop()

    JObject((List[(String, JValue)](
      "workload" -> JString(workload),
      "seed" -> JLong(seed),
      "trace" -> JBool(trace),
      "cpus" -> JLong(cpus),
      "xmx_mb" -> JLong(Runtime.getRuntime.maxMemory / (1 << 20)),
      "spark_version" -> JString(spark.version),
      "passes" -> JLong(passes),
      "setup_s" -> num(setupS)) ++
      body ++
      layers.toList.flatMap(l => List(
        "per_layer" -> l,
        "per_call_counters" -> counters.perCallJson,
        "spans" -> tracer.toJson))))
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  private def callsJson(calls: Seq[CallResult]): JValue = JArray(calls.toList.map { c =>
    JObject("name" -> JString(c.name), "kind" -> JString(c.kind), "wall_s" -> num(c.wallS),
      "ok" -> JBool(c.ok), "wrong" -> JBool(c.wrong), "error" -> JString(c.error))
  })

  /** Runs one call as the closed-loop client: under its job group, timed
    * from the call until its result is fully materialised. */
  private def timedCall(spark: SparkSession, tracer: Tracer, id: Long,
                        name: String, kind: String)(body: => Boolean): CallResult = {
    tracer.callId = id
    spark.sparkContext.setJobGroup(s"perfbench-$id", kind, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val res = try {
      val good = tracer.span("call")(body)
      CallResult(name, kind, seconds(t0), ok = true, wrong = !good, "")
    } catch {
      case e: Throwable =>
        CallResult(name, kind, seconds(t0), ok = false, wrong = false,
          Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
    }
    spark.sparkContext.clearJobGroup()
    // outside the timing window, as graft.Bench does: no call may read
    // another call's cached frames
    spark.catalog.clearCache()
    res
  }

  private def queryRun(spark: SparkSession, data: String, verified: Map[String, String],
                       sequence: Seq[String], tracer: Tracer): List[(String, JValue)] = {
    val t0 = startTimedPart()
    val calls = sequence.zipWithIndex.map { case (name, i) =>
      timedCall(spark, tracer, i + 1L, name, name) {
        if (tracer.enabled)
          tracer.span("sources.scan")(Workloads.inputs(spark, data, name).foreach(noop))
        val df = tracer.span("construct")(Workloads.query(name)(spark, data))
        val obs = new Observation(s"call_${i + 1}")
        val observed = Fingerprint.observe(df, obs)
        if (tracer.enabled) tracer.span("plan")(observed.queryExecution.executedPlan)
        tracer.span("execute")(noop(observed))
        verified.get(name).contains(Fingerprint.of(df.schema, obs.get))
      }
    }
    val makespan = seconds(t0)
    List("makespan_s" -> num(makespan), "peak_rss_mb" -> num(peakRssMb()),
      "calls" -> callsJson(calls))
  }

  /** name → verified fingerprint, written by the verify step. */
  private def readVerified(path: String): Map[String, String] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.split("\t", 2)).collect {
      case Array(k, v) => k -> v
    }.toMap
  }

  // ------------------------------------------------------------ per layer

  private val expressionNames = Seq("minhash_signature", "simhash60", "simhash16",
    "trigram_counts", "token_profile", "shingle_pos_hashes", "rolling_fingerprint",
    "deflate_ratio", "cos_top_cells", "pq_encode", "sorted_intersect_size")

  /** The memos the workloads' queries build. */
  private val memoNames = Seq("curate_near_drop", "winnow_prints")

  private def perLayer(spark: SparkSession, data: String, workload: String,
                       tracer: Tracer, counters: Counters): JValue = {
    val t = counters.total
    val self = tracer.selfSeconds
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("sources.scan_s") = tracer.totalSeconds("sources.scan")
    m("sources.input_bytes") = t.inputBytes.toDouble
    m("sources.input_rows") = t.inputRows.toDouble
    m("plans.analysis_s") = t.analysisMs / 1e3
    m("plans.optimize_s") = t.optimizeMs / 1e3
    m("plans.physical_s") = t.physicalMs / 1e3
    m("plans.exchange_nodes") = t.exchanges.toDouble
    m("plans.sort_nodes") = t.sorts.toDouble
    m("plans.window_nodes") = t.windows.toDouble
    m("plans.broadcast_nodes") = t.broadcasts.toDouble
    m("operators.construct_s") = self.getOrElse("construct", 0.0)
    m("operators.exec_cpu_s") = t.execCpuNs / 1e9
    m("operators.exec_run_s") = t.execRunMs / 1e3
    m("operators.gc_s") = t.gcMs / 1e3
    m("operators.shuffle_write_bytes") = t.shuffleWrite.toDouble
    m("operators.shuffle_read_bytes") = t.shuffleRead.toDouble
    m("operators.shuffle_fetch_wait_s") = t.fetchWaitMs / 1e3
    m("operators.spill_bytes") = t.spill.toDouble
    m("operators.stages") = t.stages.toDouble
    m("operators.tasks") = t.tasks.toDouble
    m("operators.task_sched_delay_s") = t.schedDelayMs / 1e3
    m("operators.task_skew") = counters.meanTaskSkew
    m("operators.peak_exec_mem_bytes") = t.peakExecMem.toDouble
    // the kernels run over the corpus inputs; the LegiScan/relational
    // workload does not call them
    val kernels: Map[String, (Double, Long)] =
      if (workload == "legis_analyst") Map.empty else expressionProbes(spark, data, tracer)
    expressionNames.foreach { f =>
      val (s, rows) = kernels.getOrElse(f, (0.0, 0L))
      m(s"expressions.$f.self_s") = s
      m(s"expressions.$f.rows") = rows.toDouble
    }
    val memos = MemoLedger.snapshot
    memoNames.foreach(k => m(s"memo.$k.build_s") = memos.getOrElse(k, 0.0))
    m("memo.builds") = memos.size.toDouble
    for (f <- Seq("dedup", "ivfpq", "cdc"); p <- Seq("build", "append", "delete", "probe", "compact")
         if !(f == "ivfpq" && p == "compact"))
      m(s"index.$f.${p}_s") = self.getOrElse(s"index.$f.$p", 0.0)
    m("streaming.batches") = counters.streamBatches.toDouble
    m("streaming.input_rows") = counters.streamRows.toDouble
    m("streaming.trigger_s") = counters.streamTriggerMs / 1e3
    m("streaming.list_s") = counters.streamListMs / 1e3
    JObject(m.toList.map { case (k, v) => k -> num(v) })
  }

  /** A span around a fixed projection of each native kernel over the
    * workload's corpus inputs, materialised from memory so the span holds
    * the kernel, not the scan. */
  private def expressionProbes(spark: SparkSession, data: String,
                               tracer: Tracer): Map[String, (Double, Long)] = {
    tracer.callId = 0L
    val docs = Tables.documents(spark, data)
      .select(col("doc_id"), col("text"),
        call_function("hashed_shingle_set", col("text"), lit(TextDedup.ShingleN)).as("hs"),
        graft.functions.tokens(lower(col("text"))).as("toks"))
      .cache()
    val pairs = docs.select(col("doc_id"), col("hs").as("ha"))
      .join(docs.select((col("doc_id") - 1).as("doc_id"), col("hs").as("hb")), "doc_id")
      .cache()
    val emb = Tables.embeddings(spark, data).select(col("vec_id"), col("embedding")).cache()
    val nDocs = docs.count(); val nPairs = pairs.count(); val nEmb = emb.count()
    val centRows = emb.orderBy(col("vec_id")).limit(64).collect()
    val cents = emb.filter(col("vec_id") < 64)
      .agg(collect_list(struct(col("vec_id").as("cid"), col("embedding").as("cv"))).as("_cents"))
    val (pm, pk, pd) = (Similarity.PqM, Similarity.PqK, Similarity.PqSubDim)
    // codewords: sub-vectors of the first PqK embeddings, micro-quantised
    val flat = Array.tabulate(pm * pk * pd) { i =>
      val (m, j, d) = (i / (pk * pd), (i / pd) % pk, i % pd)
      math.floor(centRows(j).getSeq[Float](1)(m * pd + d) * 1e6 + 0.5).toLong
    }
    val lens = Array.fill(pm * pk)(pd)
    val text = col("text")
    val probes: Seq[(String, DataFrame, Column, Long)] = Seq(
      ("minhash_signature", docs, call_function("minhash_signature", col("hs")), nDocs),
      ("simhash60", docs, call_function("simhash60", text), nDocs),
      ("simhash16", docs, call_function("simhash16", text), nDocs),
      ("trigram_counts", docs, call_function("trigram_counts", col("toks")), nDocs),
      ("token_profile", docs, call_function("token_profile", text, array(lit("the"), lit("a"))), nDocs),
      ("shingle_pos_hashes", docs, call_function("shingle_pos_hashes", text, lit(5)), nDocs),
      ("rolling_fingerprint", docs, call_function("rolling_fingerprint", text), nDocs),
      ("deflate_ratio", docs, call_function("deflate_ratio", text), nDocs),
      ("cos_top_cells", emb.crossJoin(broadcast(cents)),
        call_function("cos_top_cells", col("embedding"), col("_cents"), lit(4)), nEmb),
      ("pq_encode", emb, call_function("pq_encode", col("embedding"), lit(flat), lit(lens),
        lit(pm), lit(pk), lit(pd)), nEmb),
      ("sorted_intersect_size", pairs, call_function("sorted_intersect_size", col("ha"), col("hb")), nPairs))
    val out = probes.map { case (name, in, expr, rows) =>
      tracer.span(s"expressions.$name")(noop(in.select(expr.as("out"))))
      name -> (tracer.totalSeconds(s"expressions.$name"), rows)
    }.toMap
    spark.catalog.clearCache()
    out
  }

  // --------------------------------------------------------- index store

  /** Bytes and files written under one directory tree, tracked between
    * operations by comparing (size, mtime) listings. */
  final class DirTracker(root: Path) {
    private var seen = Map.empty[Path, (Long, Long)]
    var bytesWritten = 0L
    var filesWritten = 0L

    def listing(): Map[Path, (Long, Long)] =
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
          p -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toMap finally s.close()
      }

    def update(): Unit = {
      val now = listing()
      val fresh = now.filter { case (p, v) => !seen.get(p).contains(v) }
      bytesWritten += fresh.values.map(_._1).sum
      filesWritten += fresh.size
      seen = now
    }

    def bytesOnDisk: Long = listing().values.map(_._1).sum

    def batchDirs: Long =
      if (!Files.exists(root)) 0L
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.count(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("batch=")).toLong
        finally s.close()
      }
  }

  private def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val target = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(target) else Files.copy(p, target)
    } finally s.close()
  }

  final class IndexRun(spark: SparkSession, data: String, work: String, seed: Long,
                       tracer: Tracer) {
    private val families = Families.all(spark)
    private val docs = Tables.documents(spark, data)
    private val emb = Tables.embeddings(spark, data)
    private def base(f: Family): DataFrame = if (f.name == "ivfpq") emb else docs
    private def rows(f: Family, ids: Set[Long]): DataFrame =
      base(f).filter(col(f.ids).isin(ids.toSeq.sorted: _*))
    private def ids(df: DataFrame, c: String): Seq[Long] =
      df.select(col(c)).collect().map(_.getLong(0)).toSeq.sorted

    def run(): List[(String, JValue)] = {
      val docIds = ids(docs, "doc_id")
      val embIds = ids(emb, "vec_id")
      val plan = IndexPlan(Map("dedup" -> docIds, "cdc" -> docIds, "ivfpq" -> embIds), seed)
      val root = s"$work/index"
      val paths = families.map(f => f.name -> s"$root/${f.name}").toMap
      val trackers = families.map(f => f.name -> new DirTracker(Paths.get(paths(f.name)))).toMap
      val ivf = families.find(_.name == "ivfpq").get
      // micro-batch files for the serving stream, landed before timing
      val streamIn = s"$work/stream_in"
      plan.serveBatches.zipWithIndex.foreach { case (b, i) =>
        Families.asQueries(rows(ivf, b)).coalesce(1).write.mode("overwrite")
          .parquet(s"$work/stream_stage/$i")
        val part = Files.list(Paths.get(s"$work/stream_stage/$i")).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        Files.createDirectories(Paths.get(streamIn))
        Files.move(part, Paths.get(streamIn, f"batch-$i%02d.parquet"))
      }
      val querySchema = spark.read.parquet(streamIn).schema

      var id = 0L
      def op(f: Family, phase: String, input: Option[DataFrame] = None)(body: => Boolean): CallResult = {
        id += 1
        val r = timedCall(spark, tracer, id, f.name, s"${f.name}.$phase") {
          if (tracer.enabled) input.foreach(in => tracer.span("sources.scan")(noop(in)))
          tracer.span(s"index.${f.name}.$phase")(body)
        }
        trackers(f.name).update()
        r
      }

      val t0 = startTimedPart()
      val calls = mutable.ArrayBuffer.empty[CallResult]
      families.foreach { f =>
        val in = rows(f, plan.standing(f.name))
        calls += op(f, "build", Some(in)) { f.build(in, paths(f.name)); true }
      }
      plan.ops.foreach { case (fam, phase, i) =>
        val f = families.find(_.name == fam).get
        val p = paths(fam)
        val in = rows(f, (phase match {
          case "append" => plan.appends
          case "delete" => plan.deletes
          case "probe" => plan.probes
        })(fam)(i))
        calls += op(f, phase, Some(in)) {
          phase match {
            case "append" => f.append(in, p)
            case "delete" => f.delete(in, p)
            case "probe" => noop(f.probe(in, p))
          }
          true
        }
      }
      families.foreach { f =>
        f.compact.foreach(c => calls += op(f, "compact") { c(paths(f.name)); true })
      }
      // serve: the queries arrive as micro-batches through the streaming
      // twin of the IVF-PQ probe; each batch's result is collected
      val served = mutable.ArrayBuffer.empty[Row]
      id += 1
      tracer.callId = id
      val serveStart = System.nanoTime()
      // the triggerExecution seconds of each micro-batch that read input;
      // None when the stream failed
      val batchSeconds: Option[Seq[Double]] = try {
        val stream = spark.readStream.schema(querySchema).option("maxFilesPerTrigger", 1)
          .parquet(streamIn)
        val q = tracer.span("call")(tracer.span("index.ivfpq.serve") {
          val q = Similarity.streamingIvfPqSearch(spark, paths("ivfpq"), stream, k = 3, nprobe = 2,
            checkpoint = Some(s"$work/stream_checkpoint")) { (df, _) => served ++= df.collect(); () }
          q.awaitTermination()
          q
        })
        Some(q.recentProgress.toSeq.filter(_.numInputRows > 0)
          .map(_.durationMs.get("triggerExecution").longValue / 1e3))
      } catch {
        case e: Throwable =>
          calls += CallResult("ivfpq", "serve", seconds(serveStart), ok = false, wrong = false,
            Option(e.getMessage).getOrElse(e.getClass.getName).take(300))
          None
      }
      val serveS = seconds(serveStart)
      val makespan = seconds(t0)
      val rss = peakRssMb()
      spark.catalog.clearCache()

      // checks, untimed: each family's final probe answers equal those of
      // a one-shot build over the survivors
      val survivors = families.map { f =>
        f.name -> (plan.standing(f.name) ++ plan.appends(f.name).flatten -- plan.deletes(f.name).flatten)
      }.toMap
      val oneShot = families.map(f => f.name -> s"$root-oneshot/${f.name}").toMap
      families.foreach { f =>
        if (f.name == "ivfpq") {
          // IVF-PQ structures stay frozen at build time: the one-shot
          // build takes the same trained structures and lands the
          // survivors' codes
          Seq("coarse", "fmap", "codebook").foreach(d =>
            copyTree(Paths.get(paths(f.name), d), Paths.get(oneShot(f.name), d)))
          Similarity.landIvfPqCodes(spark, oneShot(f.name), rows(f, survivors(f.name)))
        } else f.build(rows(f, survivors(f.name)), oneShot(f.name))
      }
      def same(a: DataFrame, b: DataFrame): Boolean = {
        def rowsOf(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
        rowsOf(a) == rowsOf(b)
      }
      val familyOk = families.map { f =>
        val probeIds = plan.probes(f.name).flatten.toSet ++ plan.deletes(f.name).flatten ++
          (if (f.name == "ivfpq") plan.serveBatches.flatten else Nil)
        val probe = rows(f, probeIds)
        f.name -> same(f.probe(probe, paths(f.name)), f.probe(probe, oneShot(f.name)))
      }.toMap
      val servedOk = {
        val expected = Similarity.ivfPqProbeIndex(spark, oneShot("ivfpq"),
          Families.asQueries(rows(ivf, plan.serveBatches.flatten.toSet)), k = 3, nprobe = 2)
        served.map(_.toString).sorted.toSeq == expected.collect().map(_.toString).sorted.toSeq
      }
      // every served batch is wrong unless the stream served all of them
      // and their union equals the one-shot answers; a stream that served
      // nothing still counts as one wrong serve call
      val serveCalls = batchSeconds.toSeq.flatMap { secs =>
        val good = servedOk && familyOk("ivfpq") && secs.size == IndexPlan.ServeBatches
        val why = if (good) "" else
          s"served ${secs.size} of ${IndexPlan.ServeBatches} batches, answers match: $servedOk"
        if (secs.isEmpty) Seq(CallResult("ivfpq", "serve", serveS, ok = true, wrong = true, why))
        else secs.map(s => CallResult("ivfpq", "serve", s, ok = true, wrong = !good, why))
      }
      val checked = calls.map { c =>
        val stale = c.kind.endsWith(".probe") && !familyOk(c.name)
        c.copy(wrong = c.wrong || stale)
      } ++ serveCalls

      // parquet bytes of the admitted rows: the input table's parquet
      // bytes, pro rata to the rows admitted
      val admitted = families.map { f =>
        val table = if (f.name == "ivfpq") "embeddings" else "documents"
        val total = if (f.name == "ivfpq") embIds.size else docIds.size
        val n = (plan.standing(f.name) ++ plan.appends(f.name).flatten).size
        f.name -> (Files.size(Paths.get(s"$data/$table.parquet")) * n / total)
      }.toMap
      val oneShotBytes = families.map(f => new DirTracker(Paths.get(oneShot(f.name))).bytesOnDisk).sum
      val onDisk = families.map(f => trackers(f.name).bytesOnDisk).sum
      val written = families.map(f => trackers(f.name).bytesWritten).sum

      val famJson = families.toList.map { f =>
        val tr = trackers(f.name)
        f.name -> JObject("bytes_written" -> JLong(tr.bytesWritten),
          "files_written" -> JLong(tr.filesWritten), "batch_dirs" -> JLong(tr.batchDirs),
          "bytes_on_disk" -> JLong(tr.bytesOnDisk), "admitted_bytes" -> JLong(admitted(f.name)),
          "final_probe_matches_one_shot" -> JBool(familyOk(f.name)))
      }
      List("makespan_s" -> num(makespan), "peak_rss_mb" -> num(rss),
        "calls" -> callsJson(checked.toSeq),
        "write_amp" -> num(written.toDouble / admitted.values.sum),
        "space_amp" -> num(onDisk.toDouble / oneShotBytes),
        "families" -> JObject(famJson))
    }
  }
}
